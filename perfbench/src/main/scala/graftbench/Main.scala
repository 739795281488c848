package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (driven by `run.py`):
  * {{{
  *  graftbench.Main --workload W --seed N --seconds S --trace 0|1 --work-dir D --corpus-dir C [--trace-dir T]
  *  graftbench.Main --write-expected FILE --corpus-dir C   (the query mix's expected results)
  * }}}
  * A run sets up once (fresh session, fresh state directory, corpus
  * seeding) and runs the workload's warm-up; `setup_s` is the time from
  * JVM start to the end of the warm-up. It then runs whole cycles
  * closed-loop from one thread until `seconds` have passed. With
  * `--trace 1` it then runs a traced region and another untraced one over
  * the same cycles, and reports the per-layer metrics plus the tracing
  * overhead: traced cost / mean untraced cost - 1, the untraced regions
  * on either side cancelling the JVM's warm-up. The last stdout line is
  * the JSON result.
  */
object Main {

  /** Fixed table sizes of the two reindex paths (six tables each). */
  val ParquetSizes: Seq[Long] = Seq(4000, 7000, 12000, 20000, 32000, 50000)
  val HttpSizes: Seq[Long] = Seq(1000, 1500, 2500, 4000, 6000, 9000)

  final case class Opts(args: Map[String, String]) {
    def get(k: String): Option[String] = args.get(k)
    def apply(k: String): String =
      args.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  }

  def main(argv: Array[String]): Unit = {
    val opts = Opts(argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap)
    val code =
      try {
        opts.get("write-expected") match {
          case Some(file) => writeExpected(new File(file), opts("corpus-dir"))
          case None => run(opts)
        }
        0
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  def session(dir: File): SparkSession = {
    // picked up by SparkConf at context creation; keeps every byte the
    // session writes under the run's own directory
    System.setProperty("spark.local.dir", new File(dir, "spark-local").getPath)
    System.setProperty("spark.sql.warehouse.dir", new File(dir, "warehouse").getPath)
    val s = graft.GraftSession.local(cores = 4, shufflePartitions = 4)
    s.sparkContext.setLogLevel("ERROR")
    s.conf.set("spark.graft.index.dir", new File(dir, "graft_index").getPath)
    s
  }

  private def workload(name: String, seed: Long, corpusDir: String): Workload = name match {
    case "reindex" => new Interleaved(seed, Seq(
      new Reindex(seed, http = false, ParquetSizes), new Reindex(seed, http = true, HttpSizes)))
    case "query_mix" => new QueryMix(seed, corpusDir)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Used heap after full collections: the lowest of three readings,
    * each after a GC and a pause for Spark's context cleaner.
    */
  def heapLiveMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  /** Whole cycles from cycle 1 until `seconds` have passed. */
  def timed(w: Workload, seconds: Double, tr: Trace): Region = {
    val t0 = Stats.now()
    var c = 0
    runOps(Iterator.continually { c += 1; c }.takeWhile(_ => Stats.now() - t0 < seconds)
      .flatMap(w.cycle), tr, t0)
  }

  def runOps(ops: Iterator[Op], tr: Trace, t0: Double, measureHeap: Boolean = true): Region = {
    val lat = ArrayBuffer.empty[Double]
    var attempted, failed = 0
    var correct = true
    ops.foreach { op =>
      attempted += 1
      val s = Stats.now()
      try {
        val out = op.run(tr)
        if (out.ok) {
          lat += Stats.now() - s
          if (!out.correct) {
            correct = false
            System.err.println(s"output check failed: ${op.id}")
          }
        } else {
          failed += 1
          System.err.println(s"operation failed: ${op.id}")
        }
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"operation failed: ${op.id}: $e")
      }
    }
    val elapsed = Stats.now() - t0
    Region(lat.toVector, attempted, failed, correct, elapsed, if (measureHeap) heapLiveMb() else 0.0)
  }

  def run(o: Opts): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workDir = new File(o("work-dir"))
    val trace = o("trace") == "1"
    val seconds = o("seconds").toDouble
    val seed = o("seed").toLong
    val w = workload(o("workload"), seed, o("corpus-dir"))
    var spark: SparkSession = null
    try {
      workDir.mkdirs()
      spark = session(workDir)
      w.setUp(spark, workDir)
      val untraced = new Trace(new Spans(false), None)
      val warm = runOps(w.warmUpOps.iterator, untraced, Stats.now(), measureHeap = false)
      w.afterWarmUp()
      val setup = Metric("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1000.0, "s")
      System.err.println(s"set-up: ${setup.value} s, of which warm-up ${warm.elapsed} s")
      val plain = timed(w, seconds, untraced)
      val (regions, metrics) =
        if (!trace) (Seq(warm, plain), setup +: plain.endToEnd)
        else {
          w.resetCounters()
          val counters = new SparkCounters
          spark.sparkContext.addSparkListener(counters)
          val tr = new Trace(new Spans(true), Some(counters))
          val t0Ns = System.nanoTime()
          val traced = timed(w, seconds, tr)
          org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
          spark.sparkContext.removeSparkListener(counters)
          // read before the next region moves the workload's counters
          val own = w.layers(tr, traced)
          val plain2 = timed(w, seconds, untraced)
          val kernels = w match {
            case q: QueryMix => Kernels.metrics(Kernels.run(spark, q.corpusDir, copies = 40, reps = 3))
            case _ => Nil
          }
          val traceDir = new File(o.get("trace-dir").getOrElse(workDir.getPath))
          traceDir.mkdirs()
          tr.spans.writeJsonLines(new File(traceDir, s"${o("workload")}-seed$seed.spans.jsonl"), t0Ns)
          (Seq(warm, plain, traced, plain2),
            layerMetrics(tr, counters, own ++ kernels, Seq(plain, plain2), traced))
        }
      val attempted = regions.map(_.attempted).sum
      val failed = regions.map(_.failed).sum
      val correct = regions.forall(_.correct) && w.finalChecks()
      println(Json.obj(Seq(
        "correct" -> correct.toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.map(m =>
          m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))))))
    } finally {
      w.close()
      if (spark != null) spark.stop()
      Files.deleteTree(workDir)
    }
  }

  private def layerMetrics(
      tr: Trace, c: SparkCounters, own: Seq[Metric], plain: Seq[Region], traced: Region): Seq[Metric] = {
    // a layer the workload does not exercise reports 0
    val idle = (Reindex.layerNames("parquet") ++ Reindex.layerNames("http") ++ QueryMix.LayerNames)
      .filterNot { case (n, _) => own.exists(_.name == n) }
      .map { case (n, unit) => Metric(n, 0.0, unit) }
    val spark = Seq(
      Metric("spark.jobs", c.jobs.size.toDouble, "count"),
      Metric("spark.stages", c.stages.get.toDouble, "count"),
      Metric("spark.tasks", c.tasks.get.toDouble, "count"),
      Metric("spark.input_bytes", c.inputBytes.get.toDouble, "bytes"),
      Metric("spark.shuffle_write_bytes", c.shuffleWriteBytes.get.toDouble, "bytes"),
      Metric("spark.spill_bytes", c.spillBytes.get.toDouble, "bytes"),
      Metric("spark.gc_s", c.gcMs.get / 1000.0, "s"))
    // traced cost / mean untraced cost - 1, so positive is what tracing
    // costs (throughput's cost is its inverse)
    def cost(m: Metric) = if (m.name == "ops_per_s") 1 / m.value else m.value
    val overhead = traced.endToEnd.zipWithIndex.map { case (t, i) =>
      val pc = plain.map(r => cost(r.endToEnd(i))).sum / plain.size
      Metric(s"trace.overhead.${t.name}", if (pc == 0 || pc.isInfinite) 0.0 else cost(t) / pc - 1, "ratio")
    }
    val all = plain :+ traced
    val run = Seq(
      Metric("run.failed_ratio", all.map(_.failed).sum.toDouble / math.max(all.map(_.attempted).sum, 1), "ratio"),
      Metric("run.ops_timed", plain.head.latencies.size.toDouble, "count"),
      Metric("trace.spans", tr.spans.all.size.toDouble, "count"))
    own ++ idle ++ spark ++ overhead ++ run
  }

  private def writeExpected(out: File, corpusDir: String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(out.getAbsoluteFile.getParentFile.toPath, "expected").toFile
    val spark = session(dir)
    val mix = new QueryMix(0L, corpusDir)
    try {
      mix.setUp(spark, dir)
      QueryMix.writeExpected(mix, out)
    } finally { spark.stop(); Files.deleteTree(dir) }
  }
}
