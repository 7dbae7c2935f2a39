package graft.graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One timed operation: a job, a query serve or an ingest tick. `wallS`
  * is the op's own latency; the output check that follows it is not
  * timed. `error` holds the exception or the failed check, if any.
  */
final case class OpRecord(kind: String, wallS: Double, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

object Stats {

  /** Linear-interpolated quantile (the numpy/Excel "inclusive" rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least 10 of `n` samples beyond it,
    * and never below the median (fewer than 20 samples give the median).
    */
  def tailPercentile(n: Int): Double = math.max(0.5, 1.0 - 10.0 / math.max(1, n))

  /** (percentile, value) of the tail latency. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = tailPercentile(xs.size)
    (p, quantile(xs, p))
  }
}

/** Runs ops one after another (a closed loop with one client) and keeps
  * their records. `run` never throws: an exception inside the op, or a
  * failed check, marks the op failed.
  */
final class Recorder(trace: Option[OpTrace]) {
  val records = ArrayBuffer.empty[OpRecord]
  private var nextId = 0L

  /** Times `op`, then runs `check` on its result (untimed). `check`
    * returns an error message when the output is wrong. Returns the
    * result when both succeed.
    */
  def run[T](kind: String)(op: => T)(check: T => Option[String]): Option[T] = {
    nextId += 1
    trace.foreach(_.begin(nextId))
    val t0 = System.nanoTime()
    val res =
      try Right(op)
      catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    trace.foreach(_.end(nextId, wall))
    val err = res match {
      case Left(msg) => Some(msg)
      case Right(v) =>
        try check(v)
        catch { case NonFatal(e) => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    err.foreach(m => System.err.println(s"[graftbench] op $kind failed: ${m.take(500)}"))
    records += OpRecord(kind, wall, err)
    res.toOption.filter(_ => err.isEmpty)
  }

  def attempted: Int = records.size
  def failed: Int = records.count(!_.ok)
}
