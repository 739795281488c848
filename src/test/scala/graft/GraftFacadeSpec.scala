package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.model._
import graft.transform._

/** Full task lifecycle through the embedding facade (SURVEY §2.8, §3):
  * register transforms, submit, run, status, resume, errors, remove.
  */
class GraftFacadeSpec extends SparkSpec {

  test("task lifecycle: add -> run -> status -> resume -> remove") {
    val g = new Graft(spark)
    val dest = Files.createTempDirectory("graft_facade").toString

    // register a namespaced mutator; reference validates existence at add
    g.mutators.add(
      ObjectId("job1", "dropLow"),
      DropMutator(ObjectId("job1", "dropLow"), col("l_quantity") < 10)
    )

    val spec = TaskSpec(
      name = "job1", sourceDir = sf, destDir = dest,
      tables = Seq("lineitem"),
      mutators = Seq(ActionRef(ObjectId("job1", "dropLow")))
    )

    // unknown mutator reference fails the add (tasks.js:79-80)
    intercept[NoSuchElementException] {
      g.addTask(spec.copy(mutators = Seq(ActionRef(ObjectId("job1", "nope")))))
    }

    val backlog = g.addTask(spec, sizeCols = Map("lineitem" -> "l_extendedprice"))
    assert(backlog.size == 3)
    assert(g.status("job1") == g.TaskStatus(3, 0, 3, 0.0))

    val results = g.runTask("job1")
    assert(results.size == 3)
    val st = g.status("job1")
    assert(st.completed == 3 && st.backlog == 0 && st.percentComplete == 100.0)

    // output is the mutated table, sliced
    val written = spark.read.parquet(results.map(_.outputPath): _*)
    assert(written.filter(col("l_quantity") < 10).count() == 0)
    assert(written.count() ==
      Tables.lineitem(spark, sf).filter(col("l_quantity") >= 10).count())

    // resume: re-add the same task -> nothing left to do
    val backlog2 = g.addTask(spec, sizeCols = Map("lineitem" -> "l_extendedprice"))
    assert(backlog2.isEmpty, s"resume must skip completed subtasks, got $backlog2")
    assert(g.status("job1").percentComplete == 100.0)

    // failures are recorded, not thrown (worker.js:106-111)
    val badSpec = TaskSpec("job2", sourceDir = "/nonexistent", destDir = dest,
      tables = Seq("lineitem"))
    intercept[Exception](g.addTask(badSpec)) // planning hits the missing path

    // remove drops task + namespace
    g.removeTask("job1")
    assert(g.listTasks.isEmpty)
    assert(g.mutators.list("job1").isEmpty)
  }

  test("a parquet subtask runs exactly one Spark job: the planned frame is reused, not re-read") {
    val g = new Graft(spark)
    val dest = Files.createTempDirectory("graft_facade_jobs").toString
    val spec = TaskSpec("jobs1", sourceDir = sf, destDir = dest, tables = Seq("lineitem"))
    val backlog = g.addTask(spec, sizeCols = Map("lineitem" -> "l_extendedprice"))
    assert(backlog.size == 3)
    // count only the jobs of this task's run (the facade's job group)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == "graft-task-jobs1"))
          jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val results = g.runTask("jobs1")
      assert(results.size == 3)
      // listener delivery is async: wait until the count is stable
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 5000000000L
      while (stable < 3 && System.nanoTime() < deadline) {
        val now = jobs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
        Thread.sleep(100)
      }
      assert(jobs.get() == results.size,
        s"each subtask must cost exactly its write job; saw ${jobs.get()} jobs for ${results.size}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("type-kind stored filters referenced by a task prune mapping types in metadata transfer (F2)") {
    val g = new Graft(spark)
    val dest = Files.createTempDirectory("graft_facade_types").toString
    g.filters.add(
      ObjectId("job4", "logsOnly"),
      StoredFilter(ObjectId("job4", "logsOnly"), StoredFilter.Type, "logs.*"))
    val spec = TaskSpec("job4", sourceDir = sf, destDir = dest,
      tables = Seq("region"),
      indexFilters = Seq(ActionRef(ObjectId("job4", "logsOnly"))))
    g.addTask(spec)

    val src = new graft.engine.Catalog
    src.createIndex(IndexConfig(
      "idx1",
      mappings = Map("logs2024" -> "doc", "metrics" -> "doc", "logs2025" -> "doc")))
    val dst = new graft.engine.Catalog
    val (ics, _) = g.transferTaskMetadata(
      "job4", src, dst, tolerateMissingTemplates = true)
    // only mapping types matching the stored type filter cross over
    assert(ics.map(_.mappings.keySet) == Seq(Set("logs2024", "logs2025")))
    assert(dst.getIndices("idx1").head.mappings.keySet == Set("logs2024", "logs2025"))
  }

  test("runTask records subtask errors and continues (P8)") {
    val g = new Graft(spark)
    val dest = Files.createTempDirectory("graft_facade_err").toString
    // a mutator referencing a column that exists in lineitem but not region
    g.mutators.add(
      ObjectId("job3", "badcol"),
      WithColumnMutator(ObjectId("job3", "badcol"), "x", col("l_quantity") * 2)
    )
    val spec = TaskSpec("job3", sourceDir = sf, destDir = dest,
      tables = Seq("region", "lineitem"),
      mutators = Seq(ActionRef(ObjectId("job3", "badcol"))))
    g.addTask(spec)
    val results = g.runTask("job3")
    // lineitem succeeds, region fails but is logged, run continues
    assert(results.size == 1)
    val errs = g.errors.getErrors("job3")
    assert(errs.size == 1 && errs.head.subtask.contains("region"))
    assert(g.status("job3").completed == 1 && g.status("job3").backlog == 1)
  }
}
