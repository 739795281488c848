package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.transform._

/** The end-to-end transfer pipeline (`SURVEY.md` §3.2 data path):
  * scan -> metadata filter -> size-range predicate -> mutator fold ->
  * idempotent sink. The reference's whole worker/queue control plane
  * collapses into Spark's scheduler; what remains is a declarative plan
  * per table.
  *
  * Scale shape: the read is split by parquet row-groups, predicates and
  * projections push to the scan, the mutator fold is one codegen'd
  * projection, and the only shuffle (if any) is the upsert dedup or a
  * `_index` re-route repartition before a partitioned write.
  */
object Transfer {

  final case class TableResult(table: String, rowsWritten: Long, outputPath: String)

  /** Mutators registered for data transfer, in application order. */
  final case class Pipeline(
      columnMutators: Seq[ColumnMutator] = Seq.empty,
      indexMutators: Seq[IndexConfig => IndexConfig] = Seq.empty,
      templateMutators: Seq[Template => Template] = Seq.empty
  )

  /** Transfer one table: read parquet, apply the column-mutator fold,
    * write parquet. If the pipeline produced a `_index` routing column,
    * the write partitions by it (the reference's dynamic index rename —
    * rows re-route to their computed destination table).
    *
    * Idempotence (the reference's `doc_as_upsert`, K1): `upsertKeys`
    * dedups last-write-wins by key before an overwrite — replays are
    * safe, matching `transfer.js:175-189`.
    */
  def transferTable(
      spark: SparkSession,
      sourcePath: String,
      destPath: String,
      pipeline: Pipeline,
      upsertKeys: Seq[String] = Seq.empty,
      versionCols: Seq[Column] = Seq.empty,
      tableName: Option[String] = None
  ): TableResult = {
    // a keyed upsert with no version order would build a row_number
    // window with an empty ORDER BY — an AnalysisException at run time
    // and, worse, a nondeterministic "latest" if it ever analyzed
    require(upsertKeys.isEmpty || versionCols.nonEmpty,
      "upsertKeys without versionCols: last-write-wins needs an ordering")
    val src = spark.read.parquet(sourcePath)
    val mutated = MutatorPipeline.applyColumnar(src, pipeline.columnMutators)
    val deduped =
      if (upsertKeys.nonEmpty)
        graft.operators.Relational.upsertLatest(mutated, upsertKeys, versionCols)
      else mutated

    // rows counted as an observe metric of the write job itself — never
    // a second scan of the written output (at scale that re-read costs
    // as much as the write)
    val written = graft.sources.WriteMetrics.countingWrite(deduped) { d =>
      val writer = d.write.mode(SaveMode.Overwrite)
      val finalWriter =
        if (d.columns.contains("_index")) writer.partitionBy("_index") else writer
      finalWriter.parquet(destPath)
    }
    // `table` carries the logical name when the caller has one — the
    // other overloads put subtaskId here, and a caller correlating
    // results to task.tables must not have to match on a file path
    TableResult(tableName.getOrElse(sourcePath), written, destPath)
  }

  /** The subtask's size-range predicate, pushed into the scan.
    *
    * Bucket 0 (unbounded below) also owns null-size rows: Bounds.plan
    * counts them there, and `col >= min` would silently drop them — the
    * subtask union must equal the whole-table transfer. The last bucket
    * (maxSize sentinel) must be open above, or +Infinity and NaN sizes
    * would vanish from every slice: under Spark SQL ordering NaN is
    * GREATER than any value (not incomparable as in Java), so both the
    * planner's when-chain and `>= min` place NaN in the last bucket.
    */
  def sizeRangePred(subtask: SubtaskSpec, sizeCol: String): Column = {
    val upperPred =
      if (subtask.maxSize == Double.MaxValue) lit(true)
      else col(sizeCol) < subtask.maxSize
    if (subtask.minSize.isNegInfinity)
      col(sizeCol).isNull || upperPred
    else
      col(sizeCol) >= subtask.minSize && upperPred
  }

  /** Sanitized per-subtask output directory name. */
  def subtaskDirName(subtask: SubtaskSpec): String =
    subtask.subtaskId.replaceAll("[^a-zA-Z0-9._-]", "_")

  /** Execute ONE planned subtask (the reference worker's unit of work,
    * `worker.js:125-144` + `subtask.js:50-77`): the subtask's size range
    * becomes an F5 predicate pushed into the scan, the mutator fold
    * applies, and the slice lands in its own output partition dir —
    * so subtasks are independently retryable and resumable, and the
    * union of all subtask outputs equals the whole-table transfer.
    */
  def transferSubtask(
      spark: SparkSession,
      sourcePath: String,
      destRoot: String,
      subtask: SubtaskSpec,
      sizeCol: String,
      pipeline: Pipeline
  ): TableResult = {
    val src = spark.read.parquet(sourcePath).filter(sizeRangePred(subtask, sizeCol))
    val mutated = MutatorPipeline.applyColumnar(src, pipeline.columnMutators)
    val dest = s"$destRoot/${subtaskDirName(subtask)}"
    val written = graft.sources.WriteMetrics.countingWrite(mutated)(
      _.write.mode(SaveMode.Overwrite).parquet(dest))
    TableResult(subtask.subtaskId, written, dest)
  }

  /** Connector-based subtask transfer: filter the table's planned
    * frame (scanned once, for [[Planner.expand]]) to the subtask's size
    * range, bulk into `sink` under `<table>/<subtaskDir>`, and report a
    * per-subtask [[graft.model.Progress]] record (`progress.js:6-32` —
    * the reference emits one per flush; a Spark slice is one atomic
    * bulk, so tick == transferred).
    */
  def transferSubtask(
      planned: DataFrame,
      sink: graft.sources.DocConnector,
      subtask: SubtaskSpec,
      sizeCol: Option[String],
      pipeline: Pipeline,
      worker: String = "driver",
      onProgress: Progress => Unit = _ => ()
  ): TableResult = {
    val src = sizeCol.fold(planned)(c => planned.filter(sizeRangePred(subtask, c)))
    val mutated = MutatorPipeline.applyColumnar(src, pipeline.columnMutators)
    val dest = s"${subtask.table}/${subtaskDirName(subtask)}"
    val written = sink.bulk(mutated, dest)
    onProgress(Progress(
      tick = written, transferred = written, total = subtask.count,
      worker = worker, lastModified = java.time.Instant.now()))
    TableResult(subtask.subtaskId, written, dest)
  }

  /** Run a [[graft.model.TaskSpec]]: metadata-filter the table list
    * (F1 source pruning — whole tables dropped before any data read),
    * then transfer each. Returns per-table results.
    */
  def runTask(
      spark: SparkSession,
      task: TaskSpec,
      pipeline: Pipeline,
      indexConfigs: Seq[IndexConfig],
      indexFilters: Seq[MetadataFilters.IndexPred] = Seq.empty
  ): Seq[TableResult] = {
    // no metadata catalog = keep everything (MetadataFilters' own
    // convention): an empty indexConfigs must not silently prune every
    // table into a vacuous "success"
    val kept =
      if (indexConfigs.isEmpty) task.tables
      else {
        val keptConfigs = MetadataFilters.applyIndexFilters(indexConfigs, indexFilters)
        task.tables.filter(t => keptConfigs.exists(_.name == t))
      }
    kept.map { t =>
      transferTable(
        spark,
        s"${task.sourceDir}/$t.parquet",
        s"${task.destDir}/$t",
        pipeline,
        tableName = Some(t)
      )
    }
  }

  /** Metadata transfer (M3/M4 + K3/K4): apply index/template mutators and
    * replay DDL into the destination catalog, mirroring
    * `transfer.js:290-296` + `putIndices`/`putTemplates`.
    *
    * S4 semantics: a template pattern matching NOTHING is an error in the
    * reference (`transfer.js:402-405`) and propagates here — a silent
    * empty result would hide a typo'd pattern from the caller. Pass
    * `tolerateMissingTemplates = true` to opt into empty-is-fine.
    */
  def transferMetadata(
      source: Catalog,
      dest: Catalog,
      pipeline: Pipeline,
      indexPattern: String = "*",
      templatePattern: String = "*",
      tolerateMissingTemplates: Boolean = false,
      typeFilters: Seq[graft.transform.MetadataFilters.TypePred] = Seq.empty
  ): (Seq[IndexConfig], Seq[Template]) = {
    // F2: type filters prune which mapping TYPES (mapping keys) each
    // index carries across — OR-combined, none = keep all
    // (`subtasks.js:165`'s getTypesFromMappings + predicate)
    def pruneTypes(ic: IndexConfig): IndexConfig =
      if (typeFilters.isEmpty) ic
      else {
        val kept = graft.transform.MetadataFilters
          .applyTypeFilters(ic.mappings.keys.toSeq, typeFilters).toSet
        ic.copy(mappings = ic.mappings.view.filterKeys(kept).toMap)
      }
    val ics = source.getIndices(indexPattern).map { ic =>
      dest.createIndex(pipeline.indexMutators.foldLeft(pruneTypes(ic))((acc, f) => f(acc)))
    }
    // tolerance covers ONLY the pattern-matched-nothing lookup: a
    // NoSuchElementException thrown by a template MUTATOR (Map#apply on
    // a missing key) or by createTemplate must propagate, not vanish as
    // "no templates" after earlier templates were already written
    val found =
      try source.getTemplates(templatePattern)
      catch {
        case _: NoSuchElementException if tolerateMissingTemplates =>
          Seq.empty[graft.model.Template]
      }
    val tps = found.map { t =>
      dest.createTemplate(pipeline.templateMutators.foldLeft(t)((acc, f) => f(acc)))
    }
    (ics, tps)
  }
}
