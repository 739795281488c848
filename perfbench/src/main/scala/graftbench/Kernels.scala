package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Microbench of the engine's registered SQL kernels over fixed input:
  * rows/s of each kernel alone, and whether its operator ran inside
  * whole-stage codegen (read from the executed plan).
  */
object Kernels {

  /** (function name, expression class, SQL over the cached input). */
  val All: Seq[(String, String, String)] = Seq(
    ("graft_minhash", "MinHashSignature", "graft_minhash(split(text, ' '), 64)"),
    ("graft_simhash", "SimHash64", "graft_simhash(split(text, ' '))"),
    ("graft_shingles", "ShingleSet", "graft_shingles(split(text, ' '), 3)"),
    ("graft_token_shingles", "TokenShingleSet", "graft_token_shingles(text, 3)"),
    ("graft_winnow", "WinnowFingerprint", "graft_winnow(text, 5, 4)"),
    ("graft_token_count", "TokenCountExpr", "graft_token_count(text)"),
    ("graft_langid", "LangIdGuess", "graft_langid(text)"),
    ("graft_vec_sum", "VecSumLong", "graft_vec_sum(ivec)"),
    ("graft_cosine", "VecCosine", "graft_cosine(embedding, embedding2)"))

  final case class Result(name: String, rowsPerS: Double, codegen: Int)

  /** `documents` and `embeddings` frames of the query corpus, each
    * replicated `copies` times.
    */
  def run(spark: SparkSession, corpusDir: String, copies: Int, reps: Int): Seq[Result] = {
    graft.functions.Register.registerAll(spark)
    val docs = spark.read.parquet(s"$corpusDir/documents.parquet").select("text")
      .crossJoin(spark.range(copies)).select("text").repartition(4).cache()
    val vecs = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .crossJoin(spark.range(copies))
      .selectExpr("embedding", "reverse(embedding) AS embedding2",
        "transform(embedding, x -> CAST(x * 1000 AS BIGINT)) AS ivec")
      .repartition(4).cache()
    val nDocs = docs.count().toDouble
    val nVecs = vecs.count().toDouble
    try All.map { case (name, cls, sql) =>
      val (input, n) = if (sql.contains("text")) (docs, nDocs) else (vecs, nVecs)
      // untimed: compiles and warms the kernel; running the frame also
      // finalizes the adaptive plan [[codegen]] reads
      val probe = input.selectExpr(s"$sql AS r")
      probe.queryExecution.toRdd.foreach(_ => ())
      // each rep plans and runs a fresh frame, so every stage (for
      // graft_vec_sum the per-row partial aggregation too) runs in the
      // timed interval rather than being reused from an earlier run
      val times = (0 until reps).map { _ =>
        val t0 = Stats.now()
        input.selectExpr(s"$sql AS r").write.format("noop").mode("overwrite").save()
        Stats.now() - t0
      }
      Result(name, n / Stats.median(times), codegen(probe, cls))
    } finally { docs.unpersist(); vecs.unpersist(); () }
  }

  /** The per-layer metrics of a microbench run; a kernel missing from
    * `results` reports 0.
    */
  def metrics(results: Seq[Result]): Seq[Metric] = All.flatMap { case (name, _, _) =>
    val r = results.find(_.name == name)
    Seq(Metric(s"functions.$name.rows_per_s", r.map(_.rowsPerS).getOrElse(0.0), "1/s"),
      Metric(s"functions.$name.codegen", r.map(_.codegen.toDouble).getOrElse(0.0), "flag"))
  }

  val LayerNames: Seq[(String, String)] =
    metrics(Nil).map(m => m.name -> m.unit)

  /** 1 when the operator evaluating an instance of `cls` sits inside a
    * whole-stage-codegen subtree and the expression is not a codegen
    * fallback; else 0.
    */
  def codegen(df: DataFrame, cls: String): Int = {
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def visit(p: SparkPlan, inStage: Boolean): Option[Boolean] = {
      val hits = p.expressions.flatMap(_.collect { case e if e.getClass.getSimpleName == cls => e })
      if (hits.nonEmpty) Some(inStage && !hits.exists(_.isInstanceOf[CodegenFallback]))
      else {
        val nextIn = p match {
          case _: WholeStageCodegenExec => true
          case _: InputAdapter => false
          case _ => inStage
        }
        // an adaptive plan's query stages hold their subtree as `plan`, not as a child
        val below = p match {
          case q: QueryStageExec => Seq(q.plan)
          case _ => p.children
        }
        below.iterator.map(visit(_, nextIn)).collectFirst { case Some(b) => b }
      }
    }
    if (visit(root, inStage = false).getOrElse(false)) 1 else 0
  }
}
