package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What one traced or untraced timed region hands to an operation. */
final class Trace(val spans: Spans, val spark: Option[SparkCounters]) {
  def enabled: Boolean = spans.enabled
}

/** One closed-loop operation (a task or a query). `ok = false` is a
  * failed operation: counted in `failed`, left out of latencies.
  * `correct = false` is an output that disagrees with the generator's
  * expectation.
  */
final case class Outcome(ok: Boolean, correct: Boolean)

final case class Op(id: String, run: Trace => Outcome)

final case class Metric(name: String, value: Double, unit: String)

/** A timed region's raw results. */
final case class Region(
    latencies: Seq[Double], attempted: Int, failed: Int, correct: Boolean,
    elapsed: Double, heapMb: Double) {
  def opsPerS: Double = latencies.size / elapsed
  def endToEnd: Seq[Metric] = Seq(
    Metric("op_s_p50", Stats.pct(latencies, 0.5), "s"),
    Metric("op_s_p75", Stats.pct(latencies, 0.75), "s"),
    Metric("ops_per_s", opsPerS, "1/s"),
    Metric("heap_live_mb", heapMb, "MB"))
}

trait Workload {
  /** Seed the run's corpus (and start any servers) under `dir`, on a
    * fresh session.
    */
  def setUp(spark: SparkSession, dir: File): Unit

  /** Stop what [[setUp]] started. */
  def close(): Unit

  /** The operations of cycle `c`, in the seed's order. A timed region
    * runs whole cycles, so every run measures the same multiset of
    * operations whatever the seed.
    */
  def cycle(c: Int): Seq[Op]

  /** The untimed warm-up that ends set-up. */
  def warmUpOps: Seq[Op]

  /** Called once the warm-up has run. */
  def afterWarmUp(): Unit = ()

  /** Output checks that run once, after the timed regions. */
  def finalChecks(): Boolean = true

  /** Zero the layer counters before the traced region. */
  def resetCounters(): Unit = ()

  /** Per-layer metrics of the traced region. */
  def layers(tr: Trace, region: Region): Seq[Metric]
}

/** Several workloads as one: each set-up and warm-up runs all parts, and
  * a cycle is every part's cycle, interleaved in the seed's order.
  */
final class Interleaved(seed: Long, parts: Seq[Workload]) extends Workload {
  override def setUp(spark: SparkSession, dir: File): Unit = parts.foreach(_.setUp(spark, dir))
  override def close(): Unit = parts.foreach(_.close())
  override def warmUpOps: Seq[Op] = parts.flatMap(_.warmUpOps)
  override def cycle(c: Int): Seq[Op] =
    new scala.util.Random(seed * 131 + c).shuffle(parts.flatMap(_.cycle(c)))
  override def finalChecks(): Boolean = parts.map(_.finalChecks()).forall(identity)
  override def resetCounters(): Unit = parts.foreach(_.resetCounters())
  override def layers(tr: Trace, region: Region): Seq[Metric] = parts.flatMap(_.layers(tr, region))
}
