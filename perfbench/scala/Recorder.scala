package perfbench

import scala.collection.mutable

/** Per-run bookkeeping: timed operations (closed loop, one client), the
  * correctness checks made outside the timed region, and failures. */
final class Recorder(val workload: String, val trace: Trace) {
  val ops: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var attempted = 0
  var checkSeconds = 0.0

  /** Time one operation. A thrown exception is recorded as a failure and
    * yields None; the run goes on with the next operation. */
  def op[T](name: String, kind: String, attrs: (String, Any)*)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res =
      try Some(trace.span(s"$workload/$name", "op") {
        attrs.foreach {
          case (k, v: Long)   => trace.attr(k, v.toDouble)
          case (k, v: Int)    => trace.attr(k, v.toDouble)
          case (k, v: Double) => trace.attr(k, v)
          case _ => ()
        }
        body
      })
      catch { case scala.util.control.NonFatal(e) =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
      }
    val s = (System.nanoTime() - t0) / 1e9
    ops += (Map[String, Any]("op" -> name, "kind" -> kind, "s" -> s,
      "ok" -> res.isDefined) ++ attrs)
    res
  }

  /** An untimed correctness check; a mismatch or an exception counts as a
    * failed operation. */
  def check(name: String)(body: => Option[String]): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val problem =
      try trace.span(s"check/$name", "check") { body }
      catch { case scala.util.control.NonFatal(e) =>
        Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    checkSeconds += (System.nanoTime() - t0) / 1e9
    problem.foreach(p => failures += s"check $name: $p".take(500))
  }
}
