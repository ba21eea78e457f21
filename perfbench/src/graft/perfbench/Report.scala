package graft.perfbench

import scala.collection.mutable

final case class Metric(value: Double, unit: String, n: Int)

/** Metrics and op outcomes of one run. An op that throws or answers wrong
  * is a failure: it is counted, named, and never enters a timing. */
final class Report {
  val metrics = mutable.LinkedHashMap[String, Metric]()
  var attempted = 0L
  val failures = mutable.ArrayBuffer[(String, String)]()
  /** Indexes of timed ops that failed; their latencies are dropped. */
  val failedOps = mutable.HashSet[Int]()

  def put(name: String, value: Double, unit: String, n: Int = 1): Unit =
    metrics(name) = Metric(value, unit, n)

  def fail(op: String, detail: String): Unit = {
    failures += ((op, detail))
    System.err.println(s"[perfbench] FAILED $op: $detail")
  }

  def failOp(i: Int, op: String, detail: String): Unit =
    if (failedOps.add(i)) fail(op, detail)

  /** Runs one op; an exception is recorded as its failure. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(name, e.toString.replace('\n', ' ').take(300)); None
    }
  }

  def failedOpRatio: Double = failures.size.toDouble / math.max(1L, attempted)
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile; NaN for no samples. */
  def percentile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }
}
