package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One attempted operation: a query run through the noop sink, or one
  * micro-batch of a stream. `error` is set when the op threw or its output
  * check failed; a failed op keeps no latency. */
final case class OpRecord(name: String, latencyNs: Option[Long], error: Option[String])

/** Op accounting for one measured phase. Every attempt is recorded; only
  * ops that completed AND passed their output check add a latency sample,
  * so a throwing or wrong query can never read as a fast success. */
final class Ledger {
  private val recs = ArrayBuffer.empty[OpRecord]

  def records: Seq[OpRecord] = recs.toSeq
  def attempted: Int = recs.size
  def failures: Seq[OpRecord] = recs.filter(_.error.isDefined).toSeq
  def failed: Int = failures.size
  def samplesMs: Seq[Double] = recs.flatMap(r => r.latencyNs.map(_ / 1e6)).toSeq

  /** Record an op whose latency was measured elsewhere (a stream batch).
    * `checkError` is the op's output check: Some(reason) fails the op. */
  def record(name: String, latencyNs: Long, checkError: Option[String]): Unit =
    recs += (checkError match {
      case Some(e) => OpRecord(name, None, Some(e))
      case None    => OpRecord(name, Some(latencyNs), None)
    })

  /** Time `body` as one op. A throw fails the op with its message; so does
    * a failed output check (`checkError`, known before the op runs for
    * queries whose result digest was checked in the untimed pass). */
  def measure(name: String, checkError: Option[String])(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val thrown = try { body; None } catch { case NonFatal(e) => Some(Ledger.describe(e)) }
    val dt = System.nanoTime() - t0
    recs += ((thrown, checkError) match {
      case (Some(e), _)    => OpRecord(name, None, Some(s"threw: $e"))
      case (None, Some(e)) => OpRecord(name, None, Some(e))
      case (None, None)    => OpRecord(name, Some(dt), None)
    })
  }
}

object Ledger {
  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
    s"${e.getClass.getName}: ${msg.take(300)}"
  }
}

object Stats {
  /** Percentile (p in 0..100) of unsorted values, interpolating linearly
    * between the two nearest ranks (numpy's default), so a p90 over a few
    * samples is not simply their maximum. */
  def percentile(values: Seq[Double], p: Double): Double = {
    require(values.nonEmpty, "percentile of no samples")
    val s = values.sorted
    val pos = p / 100.0 * (s.size - 1)
    val lo = pos.toInt
    if (lo + 1 >= s.size) s.last else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
  }

  /** Geometric mean of positive values: every op weighs the same as a
    * ratio, so a heavy query does not outweigh a light one. */
  def geomean(values: Seq[Double]): Double = {
    require(values.nonEmpty, "geometric mean of no values")
    math.exp(values.map(math.log).sum / values.size)
  }

  def median(values: Seq[Double]): Double = {
    val s = values.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
