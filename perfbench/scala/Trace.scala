package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from outside the program: workload -> operation -> layer
  * call -> Spark job. Driver-side spans are opened around calls into the
  * program's public functions; job spans come from a SparkListener and are
  * parented through a local property that every job inherits from the
  * thread (or stream thread) that started it. Everything stays in memory
  * and is written once at the end of the run.
  *
  * When tracing is off, `span` only runs its body: no listener is
  * registered and nothing is recorded.
  */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[SpanRec] = Nil
  private var nextId = 1
  private var spark: SparkSession = _
  private var listener: Listener = _
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    listener = new Listener
    s.sparkContext.addSparkListener(listener)
    s.streams.addListener(listener.streaming)
    s.listenerManager.register(listener.executions)
  }

  /** Streaming progress totals: batches with input, rows, addBatch and
    * WAL-commit seconds. */
  def streamTotals: (Double, Double, Double, Double) =
    if (listener == null) (0.0, 0.0, 0.0, 0.0)
    else { val (b, r, a, w) = listener.streamTotals; (b, r, a / 1000, w / 1000) }

  def detach(): Unit = if (enabled && spark != null) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(listener.streaming)
    spark.listenerManager.unregister(listener.executions)
  }

  /** Wait until every queued listener event has been delivered. */
  def drain(): Unit = if (enabled && spark != null)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def add(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  def max(name: String, v: Double): Unit =
    if (enabled) counters(name) = math.max(counters.getOrElse(name, v), v)

  /** Attach an attribute to the innermost open span. */
  def attr(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach { s =>
      s.attrs(key) = s.attrs.getOrElse(key, 0.0) + v
    }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled || spark == null) body
    else {
      val rec = SpanRec(nextId, stack.headOption.fold(0)(_.id), name, layer,
        nowMs(), 0.0)
      nextId += 1
      spans += rec
      stack = rec :: stack
      if (layer == "op") listener.currentOp = rec.id
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, rec.id.toString)
      try body
      finally {
        rec.end = nowMs()
        if (layer == "op") { drain(); listener.currentOp = 0 }
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Every span, driver-side and job-level, as JSON records. */
  def spansJson: Seq[Map[String, Any]] = {
    val fanout = if (listener == null) Map.empty[Int, Int] else listener.fanoutBySpan
    val driver = spans.toSeq.map(s => Map[String, Any](
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "start" -> s.start, "end" -> s.end,
      "attrs" -> (s.attrs.toMap ++
        fanout.get(s.id).map(n => "fanout_exchanges" -> n.toDouble))))
    val jobs = if (listener == null) Nil else listener.jobSpans(nextId)
    driver ++ jobs
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class SpanRec(id: Int, parent: Int, name: String, layer: String,
                           start: Double, var end: Double) {
    val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }

  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same base as the listener's event timestamps. */
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs(): Double = (System.nanoTime() + offsetNs) / 1e6

  /** Per-stage task accumulator. */
  final class StageAcc {
    var tasks = 0L; var runMs = 0.0; var cpuNs = 0.0; var deserMs = 0.0
    var resultSerMs = 0.0; var schedDelayMs = 0.0; var retries = 0L
    var shuffleW = 0.0; var shuffleR = 0.0; var fetchWaitMs = 0.0
    var spill = 0.0; var inBytes = 0.0; var inRows = 0.0
    var outBytes = 0.0; var outRows = 0.0; var scanMs = 0.0
    val taskMs = mutable.ArrayBuffer.empty[Double]
  }

  final class JobAcc(val id: Int, val span: Int, val start: Double) {
    @volatile var end: Double = start
  }

  /** Counts fanout exchanges the loader adds right above a file scan
    * (`repartition(n, expr)` over a scan, AQE-aware). */
  object Fanout extends AdaptiveSparkPlanHelper {
    def count(plan: SparkPlan): Int = collect(plan) {
      case e: ShuffleExchangeExec
          if e.shuffleOrigin == REPARTITION_BY_NUM &&
            collectFirst(e.child) { case s: FileSourceScanExec => s }.isDefined => e
    }.size
  }

  final class Listener extends SparkListener {
    private val jobs = new ConcurrentHashMap[Int, JobAcc]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    private val stages = new ConcurrentHashMap[Int, StageAcc]()
    /** Span id of the timed operation running now; query executions that
      * finish while it is set are charged to it. The operation drains the
      * bus before it clears this, so no event is charged to the next one. */
    @volatile var currentOp = 0
    private val opFanout = new ConcurrentHashMap[Int, Integer]()
    private val streamProgress = mutable.ArrayBuffer.empty[(Long, Double, Double)]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp)))
        .flatMap(_.toIntOption).getOrElse(0)
      jobs.put(e.jobId, new JobAcc(e.jobId, span, e.time.toDouble))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val acc = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
      val info = e.taskInfo
      val m = e.taskMetrics
      acc.synchronized {
        acc.tasks += 1
        if (info != null && (info.attemptNumber > 0 || !info.successful))
          acc.retries += 1
        if (m != null) {
          val run = m.executorRunTime.toDouble
          acc.runMs += run
          acc.taskMs += run
          acc.cpuNs += m.executorCpuTime.toDouble
          acc.deserMs += m.executorDeserializeTime.toDouble
          acc.resultSerMs += m.resultSerializationTime.toDouble
          if (info != null) {
            val dur = (info.finishTime - info.launchTime).toDouble
            acc.schedDelayMs += math.max(0.0, dur - run -
              m.executorDeserializeTime - m.resultSerializationTime)
          }
          acc.shuffleW += m.shuffleWriteMetrics.bytesWritten.toDouble
          acc.shuffleR += m.shuffleReadMetrics.totalBytesRead.toDouble
          acc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime.toDouble
          acc.spill += (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
          val in = m.inputMetrics.bytesRead.toDouble
          acc.inBytes += in
          acc.inRows += m.inputMetrics.recordsRead.toDouble
          if (in > 0) acc.scanMs += run
          acc.outBytes += m.outputMetrics.bytesWritten.toDouble
          acc.outRows += m.outputMetrics.recordsWritten.toDouble
        }
      }
    }

    val streaming: StreamingQueryListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Double =
          if (d != null && d.containsKey(k)) d.get(k).doubleValue else 0.0
        streamProgress.synchronized {
          streamProgress += ((p.numInputRows, ms("addBatch"), ms("walCommit")))
        }
      }
    }

    val executions: QueryExecutionListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val op = currentOp
        if (op > 0) opFanout.merge(op, Fanout.count(qe.executedPlan), (a: Integer, b: Integer) => Integer.valueOf(a + b))
      }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }

    /** (batches with input, input rows, addBatch ms, walCommit ms). */
    def streamTotals: (Double, Double, Double, Double) =
      streamProgress.synchronized {
        val withRows = streamProgress.filter(_._1 > 0)
        (withRows.size.toDouble, streamProgress.map(_._1.toDouble).sum,
          streamProgress.map(_._2).sum, streamProgress.map(_._3).sum)
      }

    /** Fanout exchanges of the query executions of each operation. */
    def fanoutBySpan: Map[Int, Int] =
      opFanout.asScala.map { case (op, n) => op -> n.intValue }.toMap

    def jobSpans(firstId: Int): Seq[Map[String, Any]] = {
      val byJob = stages.asScala.toSeq.groupBy { case (sid, _) =>
        Option(stageJob.get(sid)).map(_.intValue).getOrElse(-1)
      }
      jobs.asScala.values.toSeq.sortBy(_.id).zipWithIndex.map { case (j, i) =>
        val accs = byJob.getOrElse(j.id, Nil).map(_._2)
        def sum(f: StageAcc => Double): Double = accs.map(f).sum
        val stageTimes = accs.filter(_.tasks > 0).map { a =>
          val ts = a.taskMs.sorted
          val med = if (ts.isEmpty) 0.0 else if (ts.size % 2 == 1) ts(ts.size / 2)
            else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2
          Seq(a.runMs / 1000, (if (ts.isEmpty) 0.0 else ts.last) / 1000, med / 1000)
        }
        Map[String, Any](
          "id" -> (firstId + i), "parent" -> j.span, "name" -> s"job ${j.id}",
          "layer" -> "spark.job", "start" -> j.start, "end" -> j.end,
          "attrs" -> Map[String, Double](
            "stages" -> accs.count(_.tasks > 0).toDouble,
            "tasks" -> sum(_.tasks.toDouble),
            "task_s" -> sum(_.runMs) / 1000,
            "cpu_s" -> sum(_.cpuNs) / 1e9,
            "overhead_s" -> (sum(_.deserMs) + sum(_.resultSerMs) +
              sum(_.schedDelayMs)) / 1000,
            "retries" -> sum(_.retries.toDouble),
            "shuffle_write_bytes" -> sum(_.shuffleW),
            "shuffle_read_bytes" -> sum(_.shuffleR),
            "fetch_wait_s" -> sum(_.fetchWaitMs) / 1000,
            "spill_bytes" -> sum(_.spill),
            "input_bytes" -> sum(_.inBytes),
            "input_rows" -> sum(_.inRows),
            "scan_task_s" -> sum(_.scanMs) / 1000,
            "output_bytes" -> sum(_.outBytes),
            "output_rows" -> sum(_.outRows)),
          "stage_times" -> stageTimes)
      }
    }
  }
}
