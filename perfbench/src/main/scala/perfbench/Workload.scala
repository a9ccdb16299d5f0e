package perfbench

/** One benchmark workload. [[Main]] calls, in order: [[inputs]],
  * [[build]] `buildReps` times (each from scratch; the last one's state
  * is used), [[warmup]], then [[measure]], and [[check]] after every
  * timing has ended. */
trait Workload {
  /** What a unit's `items` counts, for the throughput metric. */
  def itemName: String

  /** How many times set-up builds the base state. */
  def buildReps: Int

  /** Write the generated input files. */
  def inputs(): Unit

  /** Build the base state the measured units run against, from scratch. */
  def build(): Unit

  /** Run the warm-up units; returns how many ran. */
  def warmup(): Int

  /** The measured region. In a traced run `tracer` is set and every
    * other unit is traced; `baseline` is the persistent-RDD count before
    * the region. */
  def measure(seconds: Double, tracer: Option[Tracer], baseline: Int): Region

  /** Items per second. A serial workload's rate at its median unit (a
    * median, like the latency: one slow unit of a handful would move a
    * mean by more than any bound); a concurrent one overrides it. */
  def throughput(r: Region): Double =
    r.units.head.items / Stats.median(r.units.map(_.latencyNs / 1e9))

  /** Output checks, run after the timed region: failures as
    * (unit id, message). Set-up and warm-up units have negative ids;
    * [[Workload.WholeRegion]] fails every measured unit. */
  def check(): Seq[(Int, String)]

  /** Per-layer metrics from the traced units, by name. */
  def perLayer(tracer: Tracer): Seq[(String, Double)]

  /** This workload's end-to-end figures under the names the design notes
    * use (`etl_pass_s`, `serve_p50_ms`, …), for the `detail` line. */
  def named(r: Region): Seq[(String, Any)]

  def close(): Unit = ()
}

object Workload {
  val WholeRegion: Int = Int.MinValue
}
