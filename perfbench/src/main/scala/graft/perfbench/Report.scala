package graft.perfbench

import scala.collection.mutable

/** What one run measured. `spec` is the metric set the result object
  * carries, as (name, unit) in BENCHMARK.json's order: the end-to-end set
  * on untraced runs, the per-layer set on traced runs. A listed metric of
  * a layer this workload does not touch reads 0. `notes` are extra
  * human-readable figures (printed, never part of the result object).
  */
final class Report(spec: Seq[(String, String)]) {
  private val measured = mutable.Map[String, Double]()
  private val notes = mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0L
  var failed = 0L

  def metric(name: String, v: Double): Unit = measured(name) = v
  def note(name: String, v: Double, unit: String): Unit = notes(name) = (v, unit)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Human-readable lines, then the result object as the last line. */
  def print(): Unit = {
    val shown = spec.map { case (k, u) => k -> (measured.getOrElse(k, 0.0), u) }
    val frac = if (attempted == 0) 1.0 else failed.toDouble / attempted
    (shown ++ notes ++ Seq("failed_frac" -> (frac, "fraction"))).foreach {
      case (k, (v, u)) => println(f"  $k%-36s ${num(v)}%s $u")
    }
    val metrics = shown.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    val correct = attempted > 0 && failed == 0 &&
      shown.forall { case (_, (v, _)) => !v.isNaN && !v.isInfinite }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$metrics}}""")
  }
}
