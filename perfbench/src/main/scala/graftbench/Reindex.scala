package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, not}

import graft.Graft
import graft.api.HttpApi
import graft.model.{ActionRef, ObjectId, TaskSpec}
import graft.sources.{DocConnector, ParquetConnector}
import graft.transform.ExprMutators

/** One reindex path: a stream of seeded tasks, each planning 3 size
  * buckets per table and running a drop + enrich mutator pair.
  * `http = false` drives the `Graft` facade over parquet; `http = true`
  * drives `HttpApi` over HTTP with `http://` source and dest roots on a
  * [[DocStore]]. Task ids and metric names carry the path
  * (`p…`/`parquet.`, `h…`/`http.`).
  *
  * Six tables with fixed sizes (`sizes`, ascending) and seeded contents.
  * One cycle is five tasks — the four smallest tables alone, then the
  * pair (4,5) — in the seed's order, so with both paths interleaved the
  * middle of the latency distribution is the eight single-table tasks.
  */
final class Reindex(seed: Long, http: Boolean, sizes: Seq[Long]) extends Workload {
  require(sizes.size == 6, "six tables")

  private val Groups = Seq(Seq(0), Seq(1), Seq(2), Seq(3), Seq(4, 5))
  val path: String = if (http) "http" else "parquet"
  private val Mutators = Seq(ObjectId("bench", "dropcat"), ObjectId("bench", "enrich"))

  private var spark: SparkSession = _
  private var dir: File = _
  private var tables: IndexedSeq[Corpus.IndexTable] = IndexedSeq.empty
  private var plain: Graft = _
  private var traced: Graft = _
  private var store: DocStore = _
  private var api: HttpApi = _
  private var apiUrl: String = _
  private var taskSeq = 0
  private var digestTask: Option[(String, Seq[Corpus.IndexTable])] = None

  // traced-region layer accounting
  private val subtaskCounts = ArrayBuffer.empty[Int]
  private var docsIn = 0L
  private var rowsOut = 0L
  private var scanNs = 0L
  private var bulkNs = 0L

  private def srcRoot = if (http) s"${store.baseUrl}/src" else new File(dir, "src").getPath
  private def dstRoot(task: String) =
    if (http) s"${store.baseUrl}/dst/$task" else new File(dir, s"dst/$task").getPath
  private def dstPrefix(task: String) = s"/dst/$task\u0000"

  override def setUp(spark: SparkSession, dir: File): Unit = {
    this.spark = spark
    this.dir = dir
    tables = sizes.zipWithIndex.map { case (n, i) =>
      Corpus.indexTable(seed, f"logs_$i%02d", n) }.toIndexedSeq
    if (http) {
      store = new DocStore()
      tables.foreach { t =>
        val docs = Corpus.indexFrame(spark, seed, t, 4).toJSON.collect()
        store.load("/src", t.name, docs.iterator)
      }
      plain = new Graft(spark)
      api = new HttpApi(plain).start()
      apiUrl = s"http://127.0.0.1:${api.boundPort}"
      post(s"/mutators/bench/dropcat",
        s"""{"type": "drop", "predicate": "${Corpus.DropPredicate}"}""")
      post(s"/mutators/bench/enrich",
        s"""{"type": "withColumn", "column": "${Corpus.EnrichColumn}", "expr": "${Corpus.EnrichExpr}"}""")
    } else {
      tables.foreach { t =>
        Corpus.indexFrame(spark, seed, t, 4).write.parquet(new File(dir, s"src/${t.name}").getPath)
      }
      plain = new Graft(spark)
      traced = new Graft(spark, spec => (timedConnector(spec.sourceDir), timedConnector(spec.destDir)))
      Seq(plain, traced).foreach { g =>
        g.mutators.add(Mutators(0), ExprMutators.drop(Mutators(0), Corpus.DropPredicate))
        g.mutators.add(Mutators(1),
          ExprMutators.withColumn(Mutators(1), Corpus.EnrichColumn, Corpus.EnrichExpr))
      }
    }
  }

  override def close(): Unit = {
    if (api != null) { api.close(); api = null }
    if (store != null) { store.close(); store = null }
  }

  /** One task over a mid-size table; its destination is kept for the
    * content digest.
    */
  override def warmUpOps: Seq[Op] = Seq(op(Seq(tables(2)), keepForDigest = true))

  override def cycle(c: Int): Seq[Op] =
    new scala.util.Random(seed * 31 + c).shuffle(Groups).map(g => op(g.map(tables), keepForDigest = false))

  private def op(ts: Seq[Corpus.IndexTable], keepForDigest: Boolean): Op = {
    taskSeq += 1
    val name = f"${path.head}$taskSeq%05d"
    if (keepForDigest) digestTask = Some(name -> ts)
    Op(name, tr => if (http) httpTask(tr, name, ts, keepForDigest) else parquetTask(tr, name, ts, keepForDigest))
  }

  // ------------------------------------------------------------- parquet

  /** Parquet connector whose scan/bulk calls are timed (traced runs). */
  private def timedConnector(root: String): DocConnector = new DocConnector {
    private val inner = new ParquetConnector(root)
    override def scan(s: SparkSession, table: String): DataFrame = {
      val t0 = System.nanoTime()
      try inner.scan(s, table) finally scanNs += System.nanoTime() - t0
    }
    override def bulk(df: DataFrame, table: String): Long = {
      val t0 = System.nanoTime()
      try inner.bulk(df, table) finally bulkNs += System.nanoTime() - t0
    }
    override def listTables(pattern: String): Seq[String] = inner.listTables(pattern)
    override def location(table: String): Option[String] = inner.location(table)
  }

  private def parquetTask(tr: Trace, name: String, ts: Seq[Corpus.IndexTable], keep: Boolean): Outcome = {
    val g = if (tr.enabled) traced else plain
    val spec = TaskSpec(name, srcRoot, dstRoot(name), ts.map(_.name),
      mutators = Mutators.map(ActionRef(_)))
    val backlog = tr.spans("planner.plan", name) {
      g.addTask(spec, ts.map(_.name -> Corpus.SizeCol).toMap)
    }
    var markNs = System.nanoTime()
    var markMs = System.currentTimeMillis()
    val results = tr.spans("transfer.run", name) {
      g.runTask(name, onComplete = (_, _) => {
        tr.spans.record("transfer.subtask", name, "transfer.run", markNs, markMs)
        markNs = System.nanoTime(); markMs = System.currentTimeMillis()
      })
    }
    val errors = g.errors.getErrors(name)
    g.removeTask(name)
    if (!keep) Files.deleteTree(new File(dstRoot(name)))
    val written = results.map(_.rowsWritten).sum
    if (tr.enabled) {
      subtaskCounts += backlog.size
      docsIn += ts.map(_.rows).sum
      rowsOut += written
    }
    Outcome(ok = errors.isEmpty && results.size == backlog.size,
      correct = written == ts.map(_.keep).sum)
  }

  // ---------------------------------------------------------------- http

  private def post(path: String, body: String): Http.Resp = {
    val r = Http.call("POST", apiUrl + path, body)
    require(r.status / 100 == 2, s"POST $path -> ${r.status} ${r.body}")
    r
  }

  /** Poll `GET /tasks/{id}/_run` every 2 ms while it reports `busy`. */
  private def pollRun(tr: Trace, name: String, busy: String): Http.Resp = {
    var r: Http.Resp = null
    while ({
      Thread.sleep(2)
      r = tr.spans("api.poll", name)(Http.call("GET", s"$apiUrl/tasks/$name/_run"))
      r.status == 200 && r.json.path("state").asText() == busy
    }) ()
    r
  }

  private def httpTask(tr: Trace, name: String, ts: Seq[Corpus.IndexTable], keep: Boolean): Outcome = {
    val body = Json.obj(Seq(
      "sourceDir" -> Json.str(srcRoot),
      "destDir" -> Json.str(dstRoot(name)),
      "tables" -> ts.map(t => Json.str(t.name)).mkString("[", ", ", "]"),
      "mutators" -> Mutators.map(m => Json.str(m.toString)).mkString("[", ", ", "]"),
      "sizeCols" -> Json.obj(ts.map(t => t.name -> Json.str(Corpus.SizeCol)))))
    val planNs = System.nanoTime()
    val planMs = System.currentTimeMillis()
    tr.spans("api.submit", name)(post(s"/tasks/$name", body))
    // 404 = planned (the planning marker is gone and no run exists yet)
    val planned = pollRun(tr, name, "planning")
    tr.spans.record("api.plan_wait", name, "", planNs, planMs)
    if (planned.status != 404) return Outcome(ok = false, correct = true)
    val runNs = System.nanoTime()
    val runMs = System.currentTimeMillis()
    post(s"/tasks/$name/_run", "")
    val done = pollRun(tr, name, "running")
    tr.spans.record("transfer.run", name, "", runNs, runMs)
    val state = done.json.path("state").asText()
    val rowsWritten = done.json.path("rowsWritten").asLong()
    val errors = Http.call("GET", s"$apiUrl/tasks/$name/errors").json.size()
    if (tr.enabled) {
      // subtask spans from the API's own per-subtask progress stamps
      val task = Http.call("GET", s"$apiUrl/tasks/$name").json
      subtaskCounts += task.path("status").path("total").asInt()
      val stamps = task.path("progress").elements().asScala
        .map(p => java.time.Instant.parse(p.path("lastModified").asText()).toEpochMilli).toSeq.sorted
      (runMs +: stamps).sliding(2).filter(_.size == 2).foreach { case Seq(a, b) =>
        tr.spans.add(Span("transfer.subtask", name, "transfer.run",
          runNs + (a - runMs) * 1000000L, runNs + (b - runMs) * 1000000L, a, b))
      }
      docsIn += ts.map(_.rows).sum
      rowsOut += rowsWritten
    }
    val stored = store.tablesUnder(dstPrefix(name)).map(_._2.size.toLong).sum
    Http.call("DELETE", s"$apiUrl/tasks/$name")
    if (!keep) store.dropUnder(dstPrefix(name))
    val expected = ts.map(_.keep).sum
    Outcome(ok = state == "done" && errors == 0,
      correct = rowsWritten == expected && stored == expected)
  }

  // -------------------------------------------------------------- checks

  /** Content digest of the warm-up task's destination against the
    * generator's source with the mutators applied by plain Spark.
    */
  override def finalChecks(): Boolean = digestTask.forall { case (name, ts) =>
    val ok = ts.forall { t =>
      val (src, dst) =
        if (http) {
          def json(docs: Seq[String]) =
            spark.read.json(spark.createDataset(docs)(org.apache.spark.sql.Encoders.STRING))
          val srcDocs = store.tablesUnder("/src\u0000").find(_._1 == t.name).get._2
          val dstDocs = store.tablesUnder(dstPrefix(name))
            .filter(_._1.startsWith(t.name + "/")).flatMap(_._2)
          (json(srcDocs), json(dstDocs))
        } else {
          val slices = Option(new File(dstRoot(name), t.name).listFiles()).toSeq.flatten
            .filter(_.isDirectory).map(_.getPath)
          (spark.read.parquet(new File(dir, s"src/${t.name}").getPath), spark.read.parquet(slices: _*))
        }
      val want = src.where(not(expr(Corpus.DropPredicate)))
        .withColumn(Corpus.EnrichColumn, expr(Corpus.EnrichExpr))
      val w = Corpus.digest(want)
      val d = Corpus.digest(dst)
      if (w != d) System.err.println(s"digest mismatch on $name/${t.name}: want $w got $d")
      w == d && w._1 == t.keep
    }
    if (http) store.dropUnder(dstPrefix(name)) else Files.deleteTree(new File(dstRoot(name)))
    ok
  }

  // -------------------------------------------------------------- layers

  override def layers(tr: Trace, region: Region): Seq[Metric] = {
    val mine = tr.spans.all.filter(_.id.startsWith(path.take(1)))
    def named(n: String) = mine.filter(_.name == n)
    val plans = named(if (http) "api.plan_wait" else "planner.plan")
    val runs = named("transfer.run")
    val subtasks = named("transfer.subtask")
    val jobsIn = (ss: Seq[Span]) => tr.spark.map(c => ss.map(c.jobsIn).sum.toDouble).getOrElse(0.0)
    val nTasks = math.max(plans.size, 1).toDouble
    val nSub = math.max(subtasks.size, 1).toDouble
    val sourceDocs = math.max(docsIn, 1L).toDouble
    val busy = (plans ++ runs).map(_.seconds).sum
    val own =
      if (http) Seq(
        Metric("sources.scan_s_sum", store.scanNanos.get / 1e9, "s"),
        Metric("sources.bulk_s_sum", store.bulkNanos.get / 1e9, "s"),
        Metric("sources.scan_amplification", store.docsServed.get / sourceDocs, "ratio"),
        Metric("sources.requests", store.requests.get.toDouble, "count"),
        Metric("sources.bulk_retries", store.docsReposted.get.toDouble, "count"),
        Metric("docstore.docs_posted", store.docsPosted.get.toDouble, "count"),
        Metric("docstore.busy_s", store.busyNanos.get / 1e9, "s"),
        Metric("api.submit_ms_p50", Stats.median(named("api.submit").map(_.seconds * 1000)), "ms"),
        Metric("api.poll_ms_p50", Stats.median(named("api.poll").map(_.seconds * 1000)), "ms"),
        Metric("api.plan_wait_s_p50", Stats.median(plans.map(_.seconds)), "s"))
      else Seq(
        Metric("sources.scan_s_sum", scanNs / 1e9, "s"),
        Metric("sources.bulk_s_sum", bulkNs / 1e9, "s"))
    (Seq(
      Metric("planner.plan_s_p50", Stats.median(plans.map(_.seconds)), "s"),
      Metric("planner.jobs_per_task", jobsIn(plans) / nTasks, "count"),
      Metric("planner.subtasks_per_task", subtaskCounts.sum / math.max(subtaskCounts.size, 1).toDouble, "count"),
      Metric("transfer.subtask_s_p50", Stats.median(subtasks.map(_.seconds)), "s"),
      Metric("transfer.jobs_per_subtask", jobsIn(runs) / nSub, "count"),
      Metric("transfer.rows_written", rowsOut.toDouble, "count"),
      Metric("transfer.docs_per_s", if (busy > 0) docsIn / busy else 0.0, "1/s"),
      Metric("transform.rows_out_per_in", rowsOut / sourceDocs, "ratio")
    ) ++ own).map(m => m.copy(name = s"$path.${m.name}"))
  }

  override def resetCounters(): Unit = {
    subtaskCounts.clear(); docsIn = 0; rowsOut = 0; scanNs = 0; bulkNs = 0
    if (store != null) store.resetCounters()
  }
}

object Reindex {
  /** Every per-layer metric a reindex path reports, with its unit. */
  def layerNames(path: String): Seq[(String, String)] = (Seq(
    "planner.plan_s_p50" -> "s", "planner.jobs_per_task" -> "count",
    "planner.subtasks_per_task" -> "count",
    "transfer.subtask_s_p50" -> "s", "transfer.jobs_per_subtask" -> "count",
    "transfer.rows_written" -> "count", "transfer.docs_per_s" -> "1/s",
    "transform.rows_out_per_in" -> "ratio",
    "sources.scan_s_sum" -> "s", "sources.bulk_s_sum" -> "s") ++ (if (path != "http") Nil else Seq(
    "sources.scan_amplification" -> "ratio", "sources.requests" -> "count",
    "sources.bulk_retries" -> "count", "docstore.docs_posted" -> "count", "docstore.busy_s" -> "s",
    "api.submit_ms_p50" -> "ms", "api.poll_ms_p50" -> "ms", "api.plan_wait_s_p50" -> "s")))
    .map { case (n, u) => s"$path.$n" -> u }
}
