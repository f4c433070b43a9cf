package perfbench

final case class Metric(name: String, value: Double, unit: String)

/** What one workload run reports. `failed` counts operations that failed or
  * returned a wrong result; `endToEnd` carries the BENCHMARK.json end-to-end
  * metrics, `named` the same figures under workload-specific names, and
  * `layer` the per-layer metrics (filled in the traced run only).
  */
final case class Outcome(
    attempted: Long, failed: Long, checks: Seq[(String, Boolean)],
    endToEnd: Seq[Metric], named: Seq[Metric], layer: Seq[Metric]) {
  def correct: Boolean = failed == 0 && checks.forall(_._2)
}
