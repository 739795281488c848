package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

object Stats {
  /** Linear-interpolated percentile (numpy's default) of `xs`, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (h - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def now(): Double = System.nanoTime() / 1e9
}

/** One traced interval. `id` is the task or query it belongs to;
  * `parent` the enclosing span's name ("" at top level). Wall-clock
  * milliseconds ride along so Spark listener events (stamped in wall
  * time) can be attributed to the span they fell in.
  */
final case class Span(
    name: String, id: String, parent: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def contains(ms: Long): Boolean = ms >= startMs && ms <= endMs
}

/** In-memory span recorder; written out once, at the end of a run. A
  * disabled recorder runs the body and records nothing.
  */
final class Spans(val enabled: Boolean) {
  private val buf = ArrayBuffer.empty[Span]

  def apply[T](name: String, id: String, parent: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally record(name, id, parent, s0, m0)
    }

  def record(name: String, id: String, parent: String, startNs: Long, startMs: Long): Unit =
    if (enabled) buf.synchronized {
      buf += Span(name, id, parent, startNs, System.nanoTime(), startMs, System.currentTimeMillis())
    }

  def add(s: Span): Unit = if (enabled) buf.synchronized { buf += s; () }

  def all: Seq[Span] = buf.synchronized(buf.toVector)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def writeJsonLines(path: java.io.File, t0Ns: Long): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json.obj(Seq(
        "name" -> Json.str(s.name), "id" -> Json.str(s.id), "parent" -> Json.str(s.parent),
        "start_s" -> Json.num((s.startNs - t0Ns) / 1e9), "end_s" -> Json.num((s.endNs - t0Ns) / 1e9))))
    } finally w.close()
  }
}

/** Spark-side layer counters, fed by a listener the benchmark registers
  * on traced runs only. Job submission times are kept so jobs can be
  * attributed to spans afterwards.
  */
final class SparkCounters extends SparkListener {
  private val jobTimes = ArrayBuffer.empty[Long]
  val stages = new AtomicLong()
  val tasks = new AtomicLong()
  val inputBytes = new AtomicLong()
  val shuffleWriteBytes = new AtomicLong()
  val spillBytes = new AtomicLong()
  val gcMs = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobTimes.synchronized { jobTimes += e.time; () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  def jobs: Seq[Long] = jobTimes.synchronized(jobTimes.toVector)
  def jobsIn(s: Span): Int = jobs.count(s.contains)
}

/** Just enough JSON writing for the result line and the trace files. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
