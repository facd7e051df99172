package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.etl.{Pipelines, Snapshot}
import graft.sources.ParquetSource

/** Self-tests of the benchmark's generator and correctness checks.
  *
  * Usage: SelfTest <dataDir> <workDir>. Prints one line per test and exits
  * non-zero if any fails.
  */
object SelfTest {
  private var failed = 0

  private def test(name: String)(body: => Unit): Unit = {
    val ok = try { body; true } catch {
      case e: Throwable => System.out.println(s"  ${e.getMessage}"); false
    }
    if (!ok) failed += 1
    System.out.println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  private def assert(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  /** Content hashes of every data file under `dir`, keyed by path relative to
    * `dir` with the writer's random file-name part removed. */
  private def contents(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .filter(p => !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_"))
      .map { p =>
        val rel = root.relativize(p).toString
          .replaceAll("-[0-9a-f]{8}-[0-9a-f-]{27}", "")
        val h = MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
        rel -> h.map("%02x".format(_)).mkString
      }.toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(dataDir, workDir) = args
    val spark = Session.build(Main.Cpus, workDir)

    test("generator: the same seed gives identical bytes") {
      EtlWorkload.generate(spark, dataDir, s"$workDir/gen_a", 11)
      EtlWorkload.generate(spark, dataDir, s"$workDir/gen_b", 11)
      val a = contents(s"$workDir/gen_a")
      val b = contents(s"$workDir/gen_b")
      assert(a.nonEmpty, "generator wrote nothing")
      assert(a == b, s"files differ: ${(a.toSet diff b.toSet).map(_._1).mkString(", ")}")
    }

    test("generator: another seed gives other keys") {
      EtlWorkload.generate(spark, dataDir, s"$workDir/gen_c", 12)
      def ids(dir: String) = spark.read.parquet(s"$dir/source_0.parquet")
        .select(EtlWorkload.Pk)
      val shared = ids(s"$workDir/gen_a").intersect(ids(s"$workDir/gen_c")).count()
      val n = ids(s"$workDir/gen_a").count()
      assert(shared < n / 2, s"$shared of $n keys shared between seeds 11 and 12")
    }

    test("etl check: a clean commit passes, a corrupted commit fails") {
      val rec = new Recorder("etl", new Trace(false))
      val root = s"$workDir/snap"
      val src = s"$workDir/gen_a/source_0.parquet"
      Pipelines.seedPipeline(spark, ParquetSource(src), root)
      val want = Digest.exact(spark.read.parquet(src))
      EtlWorkload.expectDigest(rec, "clean", Some(Digest.exact(Snapshot.read(spark, root))), want)
      assert(rec.failures.isEmpty, s"clean commit rejected: ${rec.failures.mkString}")
      // corrupt one row through a committed delta
      val bad = Snapshot.read(spark, root).limit(1)
        .withColumn("l_quantity", col("l_quantity") + 1)
      Snapshot.commitDelta(bad, root, EtlWorkload.Pk)
      EtlWorkload.expectDigest(rec, "corrupted", Some(Digest.exact(Snapshot.read(spark, root))), want)
      assert(rec.failures.size == 1, s"corrupted commit accepted")
      assert(rec.attempted == 2 && rec.failures.size.toDouble / rec.attempted > 0,
        "failure not counted")
    }

    test("etl check: the expected states keep the newest version of a key") {
      import spark.implicits._
      val base = Seq((1L, 1.0, 10L), (2L, 2.0, 10L)).toDF("id", "v", "t")
        .withColumn(EtlWorkload.DeltaCol, timestamp_seconds(col("t"))).drop("t")
      val batches = Seq((2L, 5.0, 30L, 1), (2L, 4.0, 20L, 1), (3L, 3.0, 20L, 1),
        (1L, 7.0, 40L, 2)).toDF("id", "v", "t", "batch")
        .withColumn(EtlWorkload.DeltaCol, timestamp_seconds(col("t"))).drop("t")
      val st = EtlWorkload.states(base, batches, 3)
      def at(m: Int) = st.filter(col("batch") === m).select("id", "v")
        .as[(Long, Double)].collect().sorted.toSeq
      assert(at(1) == Seq((1L, 1.0), (2L, 5.0), (3L, 3.0)), s"state 1 is ${at(1)}")
      assert(at(2) == Seq((1L, 7.0), (2L, 5.0), (3L, 3.0)), s"state 2 is ${at(2)}")
      assert(at(3) == at(2), s"state 3 is ${at(3)}")
      val by = Digest.exactBy(st.drop(EtlWorkload.DeltaCol), "batch")
      (1 to 3).foreach { m =>
        val one = Digest.exact(st.filter(col("batch") === m).drop("batch", EtlWorkload.DeltaCol))
        assert(by(m.toLong) == one, s"exactBy gave ${by(m.toLong)} for state $m, exact $one")
      }
    }

    test("digest check: a wrong expected digest fails, the right one passes") {
      val q = "q80_argmax_agg"
      val right = Digest.consume(graft.SparkEntry.queries(q)(spark, dataDir))
      val rec = new Recorder("queries", new Trace(false))
      QueryWorkload.check(spark, rec, Seq(q), dataDir, 0, Map(q -> right))
      assert(rec.failures.isEmpty, s"right digest rejected: ${rec.failures.mkString}")
      QueryWorkload.check(spark, rec, Seq(q), dataDir, 0, Map(q -> ("1" + right)))
      assert(rec.failures.size == 1, "wrong digest accepted")
    }

    test("digests: row order does not matter, values do") {
      import spark.implicits._
      val a = Seq((1L, 0.1 + 0.2, "x"), (2L, 2.5, "y")).toDF("k", "d", "s")
      val b = Seq((2L, 2.5, "y"), (1L, 0.3, "x")).toDF("k", "d", "s").repartition(2)
      val c = Seq((1L, 0.3, "x"), (2L, 2.6, "y")).toDF("k", "d", "s")
      assert(Digest.consume(a) == Digest.consume(b), "order-dependent digest")
      assert(Digest.consume(a) != Digest.consume(c), "digest misses a changed value")
      val e = a.select("k", "s")
      assert(Digest.exact(e) == Digest.exact(b.select("s", "k")),
        "order-dependent exact digest")
      assert(Digest.exact(e) != Digest.exact(c.select("k", "s").withColumn("k", $"k" + 1)),
        "exact digest misses a changed value")
    }

    spark.stop()
    System.out.println(if (failed == 0) "all self-tests passed" else s"$failed self-tests failed")
    System.exit(if (failed == 0) 0 else 1)
  }
}
