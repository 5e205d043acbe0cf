package graft.perfbench

import org.apache.spark.sql.SparkSession

/** An output check: `ok` false counts one failed operation. */
final case class Check(name: String, ok: Boolean, detail: String)

/** One benchmark workload. The harness (Main) owns sessions, timing, the
  * live-heap readings and tracers; a workload only knows how to make its
  * inputs, run one pass of its operations, trace one pass layer by layer,
  * and check its outputs.
  */
trait Workload {

  /** Session settings (AQE, whole-stage codegen, shuffle partitions);
    * the defaults are graft.Bench's headline session.
    */
  def aqe: Boolean = true
  def codegen: Boolean = true
  def shufflePartitions(threads: Int): Int = threads

  /** Per-layer values the traced run also measures in a local[1] phase
    * (reported with a `_1t` suffix); empty means no local[1] phase.
    */
  def oneThreadLayers: Seq[String] = Nil

  /** Input generation; part of set-up. */
  def prepare(spark: SparkSession): Unit

  /** Untimed warm pass at the workload's own size; part of set-up. */
  def warm(spark: SparkSession): Unit = pass(spark)

  /** One untraced pass of the workload's operations. */
  def pass(spark: SparkSession): PassResult

  /** One traced pass: per-layer values for this pass, named as in
    * BENCHMARK.json (the harness adds the `_1t` suffix in a local[1]
    * phase where the name asks for it), plus the pass outcome.
    */
  def traced(spark: SparkSession, tracer: Tracer): (PassResult, Map[String, Double])

  /** Output checks, run after the timed section. */
  def check(spark: SparkSession): Seq[Check]

  /** Per-layer values derived from the untraced passes of a traced run,
    * given the median pass seconds at 4 threads and (if measured) at one.
    */
  def derived(sec4: Double, sec1: Option[Double]): Map[String, Double] = Map.empty
}
