package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** One run's bookkeeping: per-kind latencies, attempted/failed counts,
  * correctness findings, and — in a traced cycle — one [[OpRecord]] per
  * operation, written to `traceOut` as a JSON line. */
final class Run(tracer: Option[Tracer], traceOut: Option[java.io.PrintWriter]) {
  val latMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val records = mutable.ArrayBuffer.empty[OpRecord]
  val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Whether the current cycle runs with the listeners attached. */
  var traced = false
  /** (traced, sum of operation wall ms) per cycle. */
  val cycles = mutable.ArrayBuffer.empty[(Boolean, Double)]
  private var cycleMs = 0.0

  def startCycle(trace: Boolean): Unit = {
    traced = trace
    tracer.foreach(t => if (trace) t.attach() else t.detach())
    cycleMs = 0.0
  }

  def endCycle(): Unit = cycles += ((traced, cycleMs))

  /** Time one operation of the workload. Only the body is timed; the
    * caller checks the result afterwards, outside the timed window. A
    * body that throws counts as failed. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val rec = if (traced) tracer.map(_.begin(kind)) else None
    val t0 = System.nanoTime()
    val out =
      try Some(body)
      catch {
        case NonFatal(e) =>
          failed += 1
          problems += s"$kind failed: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    cycleMs += ms
    if (out.isDefined) latMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
    for (t <- tracer; r <- rec) {
      r.wallMs = ms
      t.end(r)
      records += r
    }
    out
  }

  /** Attach the index's segment counts to the last traced record of this
    * operation, and write the record out. */
  def annotate(segments: => Seq[(String, Int)]): Unit =
    if (traced) records.lastOption.foreach { r =>
      if (r.segments.isEmpty) r.segments ++= segments
    }

  def flushRecords(): Unit = traceOut.foreach { w =>
    records.foreach(r => w.println(r.toJson))
    w.flush()
  }

  def check(found: Seq[String]): Unit = problems ++= found
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}
