package perfbench

/** Order statistics and the result line every workload prints. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  def sum(xs: Seq[Double]): Double = xs.foldLeft(0.0)(_ + _)

  def secondsSince(t0Nanos: Long): Double = (System.nanoTime() - t0Nanos) / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, secondsSince(t0))
  }
}

final case class Metric(name: String, value: Double, unit: String)

/** What one run reports: operations attempted and failed, and its metrics.
  * `correct` is false as soon as any check failed. */
final case class RunResult(attempted: Long, failed: Long, checksOk: Boolean, metrics: Seq[Metric]) {
  def json: String = {
    val ms = metrics.map { m =>
      require(!m.value.isNaN && !m.value.isInfinite, s"metric ${m.name} is ${m.value}")
      s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": ${checksOk && failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Tally of timed operations and the checks made on their outputs. A failed
  * check is printed to stderr with its reason so a red run explains itself. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  def op(label: String)(problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      System.err.println(s"perfbench: FAILED $label: ${problems.take(5).mkString("; ")}" +
        (if (problems.size > 5) s" (+${problems.size - 5} more)" else ""))
    }
  }
}
