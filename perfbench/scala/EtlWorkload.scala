package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.{Pipelines, Snapshot}
import graft.sources.ParquetSource

/** The write workload: a seeded table derived from the fixture's
  * `lineitem` goes through the reference library's pipelines in order:
  * tar/CSV ingest, seed, an update round, then streaming micro-batches that
  * stack deltas on the same destination. Every commit is followed by a
  * timed read-back aggregate over `Snapshot.read`, whose digest is checked
  * (untimed) against an independently computed expectation. The whole
  * pipeline is one pass; a run makes several passes over the same inputs,
  * each into fresh destinations, so every operation has several samples.
  */
object EtlWorkload {
  val Rounds = 1          // updatePipeline rounds per pass
  val Batches = 8         // micro-batches; the eighth compacts the stack
  val CsvMembers = 1      // tar members, one table each
  val TableShare = 24     // one lineitem row in this many joins the table
  val CsvShare = 5        // one table row in this many per member joins the export
  val Pk = "id"
  val DeltaCol = "updated_at"
  /** Fixed clock of the generated change history (2024-01-01T00:00:00Z). */
  val T0 = 1704067200L

  /** Generated ids stay below this; inserted rows are shifted above it. */
  val BaseIds = 1000000000L

  def asOf(round: Int): Long = T0 + 3600L * round

  /** `--seconds` per pass: 30 s give three passes. The count depends only on
    * the arguments, so every run does the same work. */
  val PassSeconds = 10.0

  def passes(seconds: Double): Int = math.max(1, math.round(seconds / PassSeconds).toInt)

  final case class Inputs(dir: String, rows: Long, csvRows: Long,
                          csvIdSum: Long, tarPath: String, tarBytes: Long,
                          changed: Seq[Column]) {
    def source(k: Int): String = s"$dir/source_$k.parquet"
    def batches: String = s"$dir/batches"
    def batch(m: Int): String = s"$batches/batch=$m"
  }

  private def h(parts: Column*): Column = pmod(xxhash64(parts: _*), lit(1000L))

  /** Generate every input from the seed: the base table, one full source
    * snapshot per update round, the micro-batches and the tar.gz CSV
    * export. The same seed gives the same bytes. */
  def generate(spark: SparkSession, dataDir: String, dir: String, seed: Long): Inputs = {
    val s = lit(seed)
    val base = spark.read.parquet(s"$dataDir/lineitem.parquet")
      // a unique key without a global sort: the row's input partition and
      // its place in it (the fixture and the core count fix both)
      .withColumn(Pk, spark_partition_id().cast("long") * 10000000L + 1L +
        (monotonically_increasing_id() - shiftleft(spark_partition_id().cast("long"), 33)))
      .filter(pmod(xxhash64(col(Pk), s), lit(TableShare.toLong)) === 0)
      .select(col(Pk), col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_returnflag"), col("l_shipdate"),
        timestamp_seconds(lit(T0 - 7200L) -
          pmod(xxhash64(col(Pk), s, lit("t")), lit(30L * 86400L))).as(DeltaCol))
    def write(df: DataFrame, path: String): DataFrame = {
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    var prev = write(base.repartition(4, col(Pk)), s"$dir/source_0.parquet")
    val rows = prev.count()
    val changed = (1 to Rounds).map { k =>
      val kk = lit(k)
      val bucket = h(col(Pk), s, kk)
      // inside the round's one-hour window: [asOf(k) - 1h, asOf(k))
      val inWindow = timestamp_seconds(lit(asOf(k) - 3599L) +
        pmod(xxhash64(col(Pk), s, kk, lit("w")), lit(3500L)))
      val updated = prev.filter(bucket < 10)
        .withColumn("l_quantity", col("l_quantity") + kk)
        .withColumn("l_discount", round(col("l_discount") + lit(0.01), 2))
        .withColumn(DeltaCol, inWindow)
      val inserted = prev.filter(bucket >= 12 && bucket < 17 && col(Pk) < BaseIds)
        .withColumn(Pk, col(Pk) + lit(BaseIds) * kk)
        .withColumn(DeltaCol, inWindow)
      val kept = prev.filter(bucket >= 12)  // 10..11 are deleted
      prev = write(kept.unionByName(updated).unionByName(inserted),
        s"$dir/source_$k.parquet")
      bucket < 17 // the round's updated, deleted and inserted rows
    }
    // all micro-batches in one pass: every row of the last round's source
    // is considered once per batch number
    val ex = prev.withColumn("batch", explode(sequence(lit(1), lit(Batches))))
    val bucket = h(col(Pk), s, lit("b"), col("batch"))
    val ts = timestamp_seconds(lit(asOf(Rounds)) + lit(60L) * col("batch") +
      pmod(xxhash64(col(Pk), s, col("batch")), lit(50L)))
    val upd = ex.filter(bucket < 5)
      .withColumn("l_quantity", col("l_quantity") + lit(100) * col("batch"))
      .withColumn(DeltaCol, ts)
    // an older second version of some keys in the same batch: the sink's
    // in-batch dedup must keep the newest
    val older = upd.filter(h(col(Pk), s, lit("o"), col("batch")) < 200)
      .withColumn("l_quantity", lit(-1.0))
      .withColumn(DeltaCol, col(DeltaCol) - expr("INTERVAL 30 SECONDS"))
    val ins = ex.filter(bucket === 5)
      .withColumn(DeltaCol, ts)
      .withColumn(Pk, col(Pk) + lit(BaseIds * 100L) * col("batch"))
    upd.unionByName(older).unionByName(ins).repartition(col("batch"))
      .write.partitionBy("batch").mode("overwrite").parquet(s"$dir/batches")
    // the tar.gz export: CSV members carved out of the base snapshot
    val src0 = spark.read.parquet(s"$dir/source_0.parquet")
    val member = pmod(xxhash64(col(Pk), s, lit("csv")), lit(CsvShare.toLong))
    val csv = src0.filter(member < CsvMembers)
      .select(member.as("member"),
        col(Pk), col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"), date_format(col("l_shipdate"), "yyyy-MM-dd").as("l_shipdate"),
        date_format(col(DeltaCol), "yyyy-MM-dd HH:mm:ss").as(DeltaCol))
      .orderBy("member", Pk).collect()
    val tarPath = s"$dir/export.tar.gz"
    val out = new TarArchiveOutputStream(new GZIPOutputStream(
      new BufferedOutputStream(new FileOutputStream(tarPath))))
    try (0 until CsvMembers).foreach { j =>
      val lines = csv.iterator.filter(_.getLong(0) == j).map { r =>
        (1 until r.length).map(i => String.valueOf(r.get(i))).mkString(",")
      }
      val body = (Iterator(Seq(Pk, "l_orderkey", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate", DeltaCol).mkString(",")) ++ lines)
        .mkString("", "\n", "\n").getBytes(UTF_8)
      val e = new TarArchiveEntry(s"export/part$j.csv")
      e.setSize(body.length.toLong)
      e.setModTime(T0 * 1000L)
      out.putArchiveEntry(e)
      out.write(body)
      out.closeArchiveEntry()
    } finally out.close()
    Inputs(dir, rows, csv.length.toLong, csv.map(_.getLong(1)).sum, tarPath,
      new File(tarPath).length(), changed)
  }

  /** The expected table after each micro-batch, with plain DataFrame
    * operations (independent of the sink and of Snapshot). `batches`
    * carries a `batch` column numbered 1..n and `base` is batch 0; a key's
    * newest row of batch b replaces the key's row from batch b on (latest
    * wins). Returns the rows of every state 1..n, each tagged with its
    * state's number in column `batch`. */
  def states(base: DataFrame, batches: DataFrame, n: Int): DataFrame = {
    val newest = batches
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(Pk), col("batch")).orderBy(col(DeltaCol).desc)))
      .filter(col("__rn") === 1).drop("__rn")
    val until = coalesce(lead(col("batch"), 1).over(
      Window.partitionBy(col(Pk)).orderBy(col("batch"))), lit(n + 1))
    base.withColumn("batch", lit(0)).unionByName(newest)
      .withColumn("__until", until)
      .withColumn("__from", greatest(col("batch"), lit(1)))
      .filter(col("__until") > col("__from"))
      .withColumn("batch", explode(sequence(col("__from"), col("__until") - 1)))
      .drop("__from", "__until")
  }

  /** The check made after every commit: the read-back digest must equal
    * the digest of the independently derived expectation. */
  def expectDigest(rec: Recorder, label: String, got: Option[String],
                   want: => String): Unit =
    rec.check(label) {
      got match {
        case None => Some("read-back failed")
        case Some(g) =>
          val w = want
          if (g == w) None else Some(s"read-back $g, expected $w")
      }
    }

  private def files(root: String): Seq[Path] =
    if (!new File(root).exists()) Nil
    else Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p)).toSeq

  def bytesUnder(root: String): Long = files(root).map(p => Files.size(p)).sum

  /** Data files under `root` written at or after `sinceMs`. */
  private def newDataFiles(root: String, sinceMs: Long): Int =
    files(root).count { p =>
      p.getFileName.toString.startsWith("part-") &&
        Files.getLastModifiedTime(p).toMillis >= sinceMs
    }

  /** Expected digest of every commit of a pass, keyed by the commit's
    * label, derived from the generated inputs with plain DataFrame
    * operations (independent of the pipelines, the sink and Snapshot).
    * Every pass starts from nothing and gets the same inputs, so one set
    * serves them all. */
  def expectations(spark: SparkSession, in: Inputs): Map[String, String] = {
    val rounds = (0 to Rounds).map { k =>
      (if (k == 0) "seed" else s"update/$k") -> Digest.exact(spark.read.parquet(in.source(k)))
    }
    val batches = Digest.exactBy(states(spark.read.parquet(in.source(Rounds)),
      spark.read.parquet(in.batches), Batches), "batch")
    (rounds ++ (1 to Batches).map(m => s"delta/$m" -> batches.getOrElse(m, "0:0"))).toMap
  }

  /** The timed passes, each into fresh destinations under `workDir`. */
  def run(spark: SparkSession, rec: Recorder, in: Inputs,
          expected: Map[String, String], workDir: String, passes: Int): Unit = {
    (1 to passes).foreach { p =>
      pass(spark, rec, in, expected, s"$workDir/pass$p", p)
      QueryWorkload.settle()
    }
    if (rec.trace.enabled) spaceStats(spark, rec.trace, in, s"$workDir/pass$passes", passes)
  }

  private def pass(spark: SparkSession, rec: Recorder, in: Inputs,
                   expected: Map[String, String], dir: String, p: Int): Unit = {
    val trace = rec.trace
    val sc = spark.sparkContext
    val dest = s"$dir/lineitem_snap"
    val ingestRoot = s"$dir/ingest"
    def group(op: String): Unit = sc.setJobGroup(s"etl/$op", s"etl/$op")
    def op[T](name: String, kind: String, attrs: (String, Any)*)(body: => T): Option[T] =
      rec.op(name, kind, ("pass" -> p) +: attrs: _*)(body)
    def expect(label: String, got: Option[String]): Unit =
      expectDigest(rec, s"$label/$p", got, expected(label))

    def commitStats(roots: Seq[String], sinceMs: Long): Unit = if (trace.enabled) {
      trace.add("etl.write_files", roots.map(newDataFiles(_, sinceMs)).sum.toDouble)
      val depth = Snapshot.currentDeltaCount(spark, dest).toDouble
      trace.max("etl.delta_depth", depth)
    }

    /** Timed read-back aggregate; returns the digest for the check. */
    def readBack(root: String, label: String): Option[String] = {
      group(s"read/$label")
      op(s"read/$label", "read") {
        trace.span(label, "etl.read") { Digest.exact(Snapshot.read(spark, root)) }
      }
    }

    // (1) tar.gz export -> one committed table per member
    group("ingest")
    val targets = ingestTargets
    val t1 = System.currentTimeMillis()
    op("ingest", "ingest", "rows" -> in.csvRows, "bytes" -> in.tarBytes) {
      trace.span("flatfilePipelineFromTar", "sources.ingest") {
        Pipelines.flatfilePipelineFromTar(spark, in.tarPath, targets, ingestRoot)
      }
    }
    commitStats(targets.map(t => s"$ingestRoot/$t"), t1)
    val ingested = targets.map { t =>
      val got = op(s"read/$t", "read") {
        trace.span(t, "etl.read") {
          Snapshot.read(spark, s"$ingestRoot/$t")
            .agg(count(lit(1)), sum(col(Pk))).collect()(0)
        }
      }
      got.map(r => (r.getLong(0), r.getLong(1)))
    }
    rec.check(s"ingest/$p") {
      val n = ingested.flatten.map(_._1).sum
      val ids = ingested.flatten.map(_._2).sum
      if (ingested.exists(_.isEmpty)) Some("read-back failed")
      else if (n != in.csvRows || ids != in.csvIdSum)
        Some(s"ingested $n rows (id sum $ids), exported ${in.csvRows} (${in.csvIdSum})")
      else None
    }

    // (2) seed
    group("seed")
    val t2 = System.currentTimeMillis()
    op("seed", "seed", "rows" -> in.rows) {
      trace.span("seedPipeline", "etl.seed") {
        Pipelines.seedPipeline(spark, ParquetSource(in.source(0)), dest)
      }
    }
    commitStats(Seq(dest), t2)
    expect("seed", readBack(dest, "seed"))

    // (3) update rounds, every change inside the one-hour window
    (1 to Rounds).foreach { k =>
      group(s"update/$k")
      val t = System.currentTimeMillis()
      op(s"update/$k", "update") {
        trace.span("updatePipeline", "etl.update") {
          Pipelines.updatePipeline(spark, ParquetSource(in.source(k)), dest,
            Pk, DeltaCol, timestamp_seconds(lit(asOf(k))), 1)
        }
      }
      commitStats(Seq(dest), t)
      expect(s"update/$k", readBack(dest, s"update/$k"))
    }

    // (4) micro-batches through the streaming upsert sink
    val schema = spark.read.parquet(in.batches).drop("batch").schema
    val streamIn = s"$dir/stream-in"
    Files.createDirectories(Paths.get(streamIn))
    (1 to Batches).foreach { m =>
      // the batch arrives: its file is copied into the watched directory
      files(in.batch(m)).filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(f => Files.copy(f, Paths.get(streamIn, s"batch$m-${f.getFileName}")))
      group(s"delta/$m")
      val before = Snapshot.currentDeltaCount(spark, dest)
      val t = System.currentTimeMillis()
      op(s"delta/$m", "delta") {
        trace.span("upsertSink", "streaming.trigger") {
          graft.streaming.StreamingOps.upsertSink(
            spark.readStream.schema(schema).parquet(streamIn), dest, Pk, DeltaCol)
            .option("checkpointLocation", s"$dir/stream-ckpt/upsert")
            .start().awaitTermination()
        }
      }
      commitStats(Seq(dest), t)
      if (trace.enabled && before > 0 && Snapshot.currentDeltaCount(spark, dest) == 0)
        trace.add("etl.compactions", 1)
      expect(s"delta/$m", readBack(dest, s"delta/$m"))
    }
    sc.clearJobGroup()
  }

  private val ingestTargets = (0 until CsvMembers).map(j => s"cb_part$j")

  /** Space and write-amplification figures of a traced run, from the last
    * pass's roots: bytes under the snapshot root against one compacted copy
    * of the table, and the bytes the user changed in all `passes`. */
  private def spaceStats(spark: SparkSession, trace: Trace, in: Inputs, dir: String,
                         passes: Int): Unit = {
    val dest = s"$dir/lineitem_snap"
    val compact = s"$dir/compacted"
    Snapshot.read(spark, dest).write.mode("overwrite").parquet(compact)
    val compactBytes = bytesUnder(compact).toDouble
    val compactRows = spark.read.parquet(compact).count().toDouble
    trace.add("space_amp", bytesUnder(dest) / compactBytes)
    val roots = dest +: ingestTargets.map(t => s"$dir/ingest/$t")
    trace.add("etl.bytes_on_disk", roots.map(bytesUnder).sum.toDouble)
    trace.add("etl.versions_retained", roots.map { r =>
      Option(new File(r).list()).toSeq.flatten.count(_.matches("_v\\d+")).toDouble
    }.sum)
    // rows the user changed in one pass: the export, the seed, each round's
    // updates, deletes and inserts, and every micro-batch row
    val changedRows = in.changed.zipWithIndex.map { case (c, k) =>
      spark.read.parquet(in.source(k)).filter(c).count()
    }.sum
    val batchRows = spark.read.parquet(in.batches).count()
    val userRows = in.csvRows + in.rows + changedRows + batchRows
    trace.add("etl.user_bytes", passes * userRows * compactBytes / compactRows)
    trace.drain()
    val (b, r, a, w) = trace.streamTotals
    trace.add("streaming.batches", b)
    trace.add("streaming.rows", r)
    trace.add("streaming.add_batch_s", a)
    trace.add("streaming.wal_s", w)
  }
}
