// spark-shell script: plan one parquet reindex task (3 size buckets), run
// its first subtask, and print the Spark jobs of the task's job group and
// the executed SQL plans. Writes its table and output under $PROBE_DIR.
//   PROBE_DIR=<dir> spark-shell --master 'local[4]' \
//     --driver-class-path target/scala-2.13/classes -i plans/r23/reindex_subtask_probe.scala
import org.apache.spark.scheduler._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution
import graft._
import graft.model._
import graft.transform.ExprMutators

val root = sys.env("PROBE_DIR")
spark.range(40000).selectExpr("id", "cast(pmod(id * 7919, 8000) as int) as body_bytes",
  "cast(pmod(id * 31, 7) as int) as category", "concat('tag', cast(pmod(id, 50) as string)) as tag")
  .repartition(4).write.mode("overwrite").parquet(s"$root/src/logs_00")

val g = new Graft(spark)
val drop = ObjectId("bench", "dropcat")
val enrich = ObjectId("bench", "enrich")
g.mutators.add(drop, ExprMutators.drop(drop, "category = 3"))
g.mutators.add(enrich, ExprMutators.withColumn(enrich, "body_kb", "body_bytes / 1024.0"))
val spec = TaskSpec("probe", s"$root/src", s"$root/dst", Seq("logs_00"),
  mutators = Seq(ActionRef(drop), ActionRef(enrich)))
val backlog = g.addTask(spec, Map("logs_00" -> "body_bytes"))

val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
val jl = new SparkListener {
  override def onJobStart(js: SparkListenerJobStart): Unit =
    if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == "graft-task-probe"))
      jobs.add(s"job ${js.jobId}: stages=${js.stageInfos.size} tasks=${js.stageInfos.map(_.numTasks).sum} " +
        s"callSite=${js.stageInfos.map(_.name).mkString(" | ")}")
}
val ql = new QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add(s"-- $funcName\n" + qe.executedPlan.treeString)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
spark.sparkContext.addSparkListener(jl)
spark.listenerManager.register(ql)
// one subtask: stop the run flag after the first completes
val results = g.runTask("probe", onComplete = (_, _) => g.stop())
Thread.sleep(3000)
import scala.jdk.CollectionConverters._
val sub = backlog.head
println("PROBE_BEGIN")
println(s"subtask: ${sub.subtaskId} (count=${sub.count}); rows written: ${results.map(_.rowsWritten).sum}")
println(s"spark jobs in the subtask: ${jobs.size}")
jobs.asScala.foreach(j => println("  " + j))
println("executed SQL plans:")
plans.asScala.foreach(println)
println("PROBE_END")
sys.exit(0)
