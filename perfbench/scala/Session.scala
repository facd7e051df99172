package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's one session builder. The settings mirror the ones
  * `graft.Bench` applies (its `main`, the builder chain), with the core
  * count fixed by the harness instead of `SPARK_GRAFT_CPUS`, and every
  * scratch directory placed under the run's work directory. The program
  * has no shared session builder yet, so a configuration-only change to
  * the program is invisible here until it gets one this file can call.
  */
object Session {
  def build(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "8k")
      .config("spark.io.compression.codec", "lz4")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/stream-ckpt")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
