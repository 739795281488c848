package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** One long-lived session running a fixed mix of registered
  * `SparkEntry.queries` over the repo's sf0.01 corpus (a byte copy kept
  * in `corpus/sf0.01` beside this harness; the queries only read it) into
  * the `noop` sink. A cycle is three passes over the mix, each in the
  * seed's order. The warm-up pass is cold (it builds the durable assets)
  * and checks every query's row count and order-insensitive digest
  * against the expected file; timed passes check row counts.
  */
final class QueryMix(seed: Long, val corpusDir: String) extends Workload {
  import QueryMix._

  private var spark: SparkSession = _
  private var dir: File = _
  private val expected: Map[String, (Long, String)] = loadExpected()
  private var assetsAfterSetup = 0L

  def indexDir: File = new File(dir, "graft_index")

  override def setUp(spark: SparkSession, dir: File): Unit = {
    this.spark = spark
    this.dir = dir
    require(new File(corpusDir, "documents.parquet").isFile, s"no query corpus in $corpusDir")
  }

  override def warmUpOps: Seq[Op] = Mix.map { q =>
    Op(q, _ => {
      val (rows, dg) = runDigest(q)
      val good = expected.get(q).contains((rows, dg.toString))
      if (!good) System.err.println(s"$q: got rows=$rows digest=$dg, expected ${expected.get(q)}")
      Outcome(ok = true, correct = good)
    })
  }

  override def afterWarmUp(): Unit = assetsAfterSetup = assetCount(indexDir)

  override def close(): Unit = ()

  private def query(q: String): DataFrame = graft.SparkEntry.queries(q)(spark, corpusDir)

  /** Run one query into `noop`, observing its row count and digest. */
  def runDigest(q: String): (Long, java.math.BigDecimal) = {
    val df = query(q)
    val obs = Observation()
    val aggs = Corpus.digestAggs(df)
    df.observe(obs, aggs.head, aggs.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long],
      Option(m("h")).map(_.asInstanceOf[java.math.BigDecimal]).getOrElse(java.math.BigDecimal.ZERO))
  }

  override def cycle(c: Int): Seq[Op] =
    (0 until PassesPerCycle)
      .flatMap(p => new scala.util.Random(seed * 31 + c * PassesPerCycle + p).shuffle(Mix))
      .map { q =>
        Op(q, tr => {
          val obs = Observation()
          tr.spans("operators.query", q) {
            query(q).observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
          }
          Outcome(ok = true, correct = expected.get(q).exists(_._1 == obs.get("n").asInstanceOf[Long]))
        })
      }

  override def layers(tr: Trace, region: Region): Seq[Metric] = {
    val perQuery = Mix.map { q =>
      Metric(s"operators.$q.s_p50",
        Stats.median(tr.spans.named("operators.query").filter(_.id == q).map(_.seconds)), "s")
    }
    perQuery ++ Seq(
      Metric("assets.published_setup", assetsAfterSetup.toDouble, "count"),
      Metric("assets.published_timed", (assetCount(indexDir) - assetsAfterSetup).toDouble, "count"),
      Metric("assets.bytes", Files.bytes(indexDir).toDouble, "bytes"))
  }
}

object QueryMix {
  /** The ROADMAP's round-21/22 targets (q_rfm, doc_annotate,
    * embed_dim_corr_top, q_approx_stats), its named anti-scalers
    * (dedup_cdc_incremental_bloom, graph_neighbor_jaccard, winnow_pairs),
    * and two parity queries (text_perplexity,
    * dedup_cdc_incremental_bloom_disk) whose warm latencies, about
    * 1.1-1.5 s on 4 cores, sit among the targets'. Several build durable
    * assets during the warm-up. Other registered queries are left out to
    * keep a run within its time budget. Nine queries put the median (4.5 of 9)
    * and the 75th percentile (6.75 of 9) inside one query's samples
    * rather than on the edge between two, where a seed's order or host
    * noise flips which query the percentile reads.
    */
  val Mix: Seq[String] = Seq(
    "q_rfm", "doc_annotate", "embed_dim_corr_top", "q_approx_stats",
    "dedup_cdc_incremental_bloom", "graph_neighbor_jaccard", "winnow_pairs",
    "text_perplexity", "dedup_cdc_incremental_bloom_disk")

  /** Every per-layer metric the query mix can report, with its unit. */
  val LayerNames: Seq[(String, String)] =
    Mix.map(q => s"operators.$q.s_p50" -> "s") ++ Kernels.LayerNames ++
      Seq("assets.published_setup" -> "count", "assets.published_timed" -> "count",
        "assets.bytes" -> "bytes")

  val PassesPerCycle = 3

  val ExpectedResource = "/expected_query_mix.json"

  /** `{query: {"rows": n, "digest": "<decimal>"}}`. */
  def loadExpected(): Map[String, (Long, String)] = {
    val in = getClass.getResourceAsStream(ExpectedResource)
    if (in == null) Map.empty
    else try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      Mix.flatMap { q =>
        Option(root.get(q)).map(n => q -> (n.path("rows").asLong(), n.path("digest").asText()))
      }.toMap
    } finally in.close()
  }

  /** Committed assets in a warehouse: one store-level marker each. */
  def assetCount(root: File): Long =
    if (root.isDirectory) Option(root.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) assetCount(f) else if (f.getName == "_GRAFT_COMMITTED") 1L else 0L
    }.sum
    else 0L

  /** Write the expected-results file from a run over the corpus. */
  def writeExpected(mix: QueryMix, out: File): Unit = {
    val lines = Mix.map { q =>
      val (rows, dg) = mix.runDigest(q)
      s"""  ${Json.str(q)}: {"rows": $rows, "digest": ${Json.str(dg.toString)}}"""
    }
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.print(lines.mkString("{\n", ",\n", "\n}\n")) finally w.close()
  }
}
