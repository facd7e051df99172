package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set up, check, run the timed closed loop
  * (one client, one operation at a time), and write the raw record (op
  * latencies, set-up parts, memory, spans when traced) as JSON for the
  * harness to turn into metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir>
  *             <expectedDigests> <outFile>
  */
object Main {
  val Cpus = 4
  val SessionBuilds = 3

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def readDigests(path: String): Map[String, String] = {
    // {"q..": "count:sum", ...}: one flat object of strings
    val pair = "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r
    pair.findAllMatchIn(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, expectedPath,
      outFile) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val jvmS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    // set-up, measured several times: session build and first job
    val sessionS = (1 to SessionBuilds).map { i =>
      val t0 = System.nanoTime()
      val s = Session.build(Cpus, workDir)
      s.range(0, 1000, 1, Cpus).selectExpr("sum(id)").collect()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SessionBuilds) s.stop()
      dt
    }
    val spark = Session.build(Cpus, workDir)
    val trace = new Trace(traced)
    val rec = new Recorder(workload, trace)

    // inputs from the seed
    val tIn = System.nanoTime()
    // "train" is the build's class-loading pass (see build.py): a little of
    // every workload, nothing timed or checked
    val etlInputs = workload match {
      case "etl" | "train" =>
        Some(EtlWorkload.generate(spark, dataDir, s"$workDir/inputs", seed))
      case "queries" => None
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val inputsS = (System.nanoTime() - tIn) / 1e9

    // correctness pass of the read-only workloads, untimed; it also warms up
    val queryNames = workload match {
      case "queries" => QueryWorkload.Queries
      case "train" => Seq(QueryWorkload.Olap.head, QueryWorkload.Kernels.last)
      case _ => Nil
    }
    val expected = readDigests(expectedPath)
    if (queryNames.nonEmpty)
      QueryWorkload.check(spark, rec, queryNames, dataDir, seed, expected)
    // expected digest of every etl commit, untimed
    val etlExpected = etlInputs.filter(_ => workload == "etl").map { in =>
      val t0 = System.nanoTime()
      val e = EtlWorkload.expectations(spark, in)
      rec.checkSeconds += (System.nanoTime() - t0) / 1e9
      e
    }
    QueryWorkload.settle()

    val tTimed = System.nanoTime()
    trace.attach(spark)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val sweeps = trace.span(workload, "workload") {
      (workload, etlInputs) match {
        case ("train", _) => Nil
        case (_, Some(in)) =>
          EtlWorkload.run(spark, rec, in, etlExpected.get, workDir,
            EtlWorkload.passes(seconds))
          Nil
        case (_, None) =>
          QueryWorkload.run(spark, rec, queryNames, dataDir, seed, seconds, expected)
      }
    }
    trace.add("jvm.gc_s", (gcBeans.map(_.getCollectionTime).sum - gc0) / 1000.0)
    trace.add("jvm.heap_peak_mb",
      heapPools.map(_.getPeakUsage.getUsed.toDouble).sum / (1024 * 1024))
    trace.detach()

    val timedS = (System.nanoTime() - tTimed) / 1e9
    val record = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "cpus" -> Cpus,
      "spark_version" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "setup" -> Map("jvm_s" -> jvmS, "session_s" -> sessionS,
        "inputs_s" -> inputsS),
      "check_s" -> rec.checkSeconds,
      "timed_phase_s" -> timedS,
      "jvm_uptime_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1000.0,
      "sweeps_s" -> sweeps,
      "ops" -> rec.ops,
      "attempted" -> rec.attempted,
      "failed" -> rec.failures.size,
      "failures" -> rec.failures,
      "peak_rss_mb" -> vmHwmMb(),
      "counters" -> trace.counters,
      "spans" -> (if (traced) trace.spansJson else Nil))
    Files.write(Paths.get(outFile), Json(record).getBytes("UTF-8"))
    val tStop = System.nanoTime()
    spark.stop()
    System.err.println(f"[perfbench] stop ${(System.nanoTime() - tStop) / 1e9}%.2f s")
    System.exit(0)
  }
}
