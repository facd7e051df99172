package perfbench

import org.apache.spark.sql.SparkSession

/** The read-only workload: declared queries run one at a time, in a seeded
  * order per sweep, each to its complete ordered result as under the `noop`
  * sink `graft.Bench` uses; the rows are digested on the way out
  * ([[Digest.consume]]).
  *
  * An untimed correctness pass comes first: every query's output digest is
  * compared with the digest stored with the benchmark. It is also the
  * warm-up (JIT and Spark's code-generation cache) of the exact plans the
  * timed sweeps run, so the sweeps measure warm execution.
  */
object QueryWorkload {

  /** Every fifth name, in sorted order starting at `q01_pricing_summary`,
    * of the 140 queries declared by `graft.ops.{Relational,Event,Scalar}
    * Queries` and `graft.etl.EtlQueries`, less six: q254 and q287 run the
    * program's own sketch aggregates (count-min, DDSketch), which this set
    * is meant to leave idle; q229 (candidate-key enumeration), q118, q193
    * and q210 would not fit the run next to the kernel. Frozen here so that
    * a query added to the program later does not change the workload. */
  val Olap: Seq[String] = Seq(
    "q01_pricing_summary", "q16_agg_distinct", "q48_range_join",
    "q80_argmax_agg")

  /** The CPU-heavy kernel: PPJoin near-duplicate clusters (skewed candidate
    * joins, then checkpointed rounds of connected components, each a driver
    * round trip). One query only: a second one would not fit the run. */
  val Kernels: Seq[String] = Seq("q71_dedup_clusters")

  /** The `queries` workload: the relational set and the kernel, one sweep. */
  val Queries: Seq[String] = Olap ++ Kernels

  /** `--seconds` per timed sweep: 30 s give three sweeps. The count depends
    * only on the arguments, so every run of a workload does the same work. */
  val SweepSeconds: Double = 10.0

  /** Query order of a sweep: a seeded shuffle, reversed on even sweeps, so
    * the query that ran just before another in one sweep runs just after it
    * in the next (which query ran before another moves its time). Sweep 0
    * is the correctness pass. */
  def order(names: Seq[String], seed: Long, sweep: Int): Seq[String] = {
    val shuffled = new scala.util.Random(seed * 7919L + (sweep + 1) / 2).shuffle(names)
    if (sweep > 0 && sweep % 2 == 0) shuffled.reverse else shuffled
  }

  /** Release the previous pass's broadcast and shuffle garbage outside every
    * timed operation: a full GC, then a pause for Spark's context cleaner
    * to delete what the GC freed. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(200)
  }

  /** One execution of a query through the timed path; returns its digest. */
  def execute(spark: SparkSession, q: String, dataDir: String, trace: Trace): String = {
    val sc = spark.sparkContext
    graft.Checkpoints.freeingAfter(spark) {
      val persisted = sc.getPersistentRDDs.keySet
      val df = trace.span(q, "query.build") { graft.SparkEntry.queries(q)(spark, dataDir) }
      val digest = trace.span(q, "query.exec") { Digest.consume(df) }
      if (trace.enabled) {
        val live = sc.getPersistentRDDs.keySet -- persisted
        trace.attr("checkpoint_rdds", live.size.toDouble)
        trace.attr("checkpoint_bytes", sc.getRDDStorageInfo
          .filter(i => live(i.id))
          .map(i => (i.memSize + i.diskSize).toDouble).sum)
      }
      digest
    }
  }

  def verdict(expected: Map[String, String], q: String, got: String): Option[String] =
    expected.get(q) match {
      case None => Some(s"no expected digest (got $got)")
      case Some(e) if e != got => Some(s"digest $got, expected $e")
      case _ => None
    }

  /** The correctness pass: one untimed execution of every query through the
    * timed path, its digest checked. It is also the warm-up of exactly the
    * plans the sweeps time. */
  def check(spark: SparkSession, rec: Recorder, names: Seq[String],
            dataDir: String, seed: Long, expected: Map[String, String]): Unit =
    order(names, seed, 0).foreach { q =>
      rec.check(q) { verdict(expected, q, execute(spark, q, dataDir, rec.trace)) }
    }

  /** Timed sweeps: one per `SweepSeconds` of `--seconds`, at least one.
    * Every sweep runs the whole query set, so the per-query medians always
    * cover the same queries; every timed execution's digest is checked too,
    * after its timer stops. */
  def run(spark: SparkSession, rec: Recorder, names: Seq[String], dataDir: String,
          seed: Long, seconds: Double, expected: Map[String, String]): Seq[Double] = {
    val sc = spark.sparkContext
    val sweeps = math.max(1, math.round(seconds / SweepSeconds).toInt)
    (1 to sweeps).map { sweep =>
      val t0 = System.nanoTime()
      val digests = order(names, seed, sweep).map { q =>
        sc.setJobGroup(s"${rec.workload}/$q", s"${rec.workload}/$q")
        val d = rec.op(q, "query", "sweep" -> sweep) {
          execute(spark, q, dataDir, rec.trace)
        }
        sc.clearJobGroup()
        q -> d
      }
      val secs = (System.nanoTime() - t0) / 1e9
      digests.foreach { case (q, d) =>
        d.foreach(got => rec.check(s"$q/$sweep") { verdict(expected, q, got) })
      }
      settle()
      secs
    }
  }
}
