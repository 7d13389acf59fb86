package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.io.{AtomicPublish, CowTable, LocalParquet}

/** DELTA-BASED row-level SQL over a [[graft.io.CowTable]] — the
  * merge-on-read half of the SQL DML surface, serving `UPDATE` and
  * non-metadata `DELETE` (`MERGE INTO` routes group-based instead —
  * [[CowGroupMergeOperation]] — because only group-based plans get
  * Spark's runtime target-file pruning). Spark's row-level framework
  * rewrites the statement against a [[SupportsDelta]] operation into a
  * stream of per-row actions identified by `rowId`; here the row id is
  * the table's CLUSTERING KEY, so:
  *
  *   - a DELETE action is a doomed key → committed as deletion-vector
  *     entries (O(deleted rows) bytes, ZERO data files rewritten);
  *   - an INSERT action is a new row → staged once, committed as new
  *     pool files (nothing read);
  *   - an UPDATE is represented as DELETE + INSERT
  *     (`representUpdateAsDeleteAndInsert`), which is exactly the
  *     copy-row-forward semantics the API [[graft.io.CowTable.merge]]
  *     has.
  *
  * Executors stage actions as parquet under `base/.delta-<query>`,
  * encoded by Spark's own `ParquetWriteSupport` (so every Catalyst type
  * the table holds stages and reads back exactly) with
  * task-attempt-unique file names (only COMMITTED tasks' files are
  * read — a retried task's partial file is never picked up); the driver
  * commit turns them into one [[graft.io.CowTable.applyDelta]] version,
  * whose CAS loop REDISCOVERS key positions against the current
  * manifest on conflict — positions never carry across a competing
  * commit.
  *
  * Scale note (read side): row-level `UPDATE`/`DELETE` predicates push
  * into this scan at planning, so their target read is footer-pruned to
  * the files that may match, and the write is O(deleted rows) in vector
  * bytes — the right trade for scattered predicates. Key-identity
  * contract: the key is the row identity and must be unique across the
  * addressed rows; [[graft.io.CowTable.applyDelta]] refuses (loudly,
  * pre-commit) when a delete key addresses more live rows than the
  * statement matched.
  */
private[sources] class CowRowLevelOperation(base: String, key: String,
                                            tableSchema: StructType,
                                            cmd: RowLevelOperation.Command)
  extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd

  /** The snapshot the rewrite plans against: the same DV-aware,
    * footer-pruned manifest scan every other read path uses. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    val v = AtomicPublish.committed(spark, base)
    require(v >= 0, s"no committed version under $base")
    new ArtifactScanBuilder(base, "manifest", None, cow = true,
      s"$base/v$v/manifest", tableSchema)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new CowDeltaWrite(base, key, info, cmd)
    }

  /** The row identity: EVERY clustering-key column (composite keys —
    * the reference's SCD2/fact grains — delete by the full tuple). */
  override def rowId(): Array[NamedReference] =
    CowTable.splitKeys(key).map(Expressions.column).toArray

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def description(): String = s"cow-delta $cmd on $base (rowId=$key)"
}

private[sources] class CowDeltaWrite(base: String, key: String,
                                     info: LogicalWriteInfo,
                                     cmd: RowLevelOperation.Command)
  extends DeltaWrite {
  override def toBatch: DeltaBatchWrite =
    new CowDeltaBatchWrite(base, key, info, cmd)
  override def description(): String = s"cow-delta write to $base"
}

/** GROUP-BASED `MERGE INTO` — the copy-on-write half of the SQL
  * row-level surface. A delta MERGE's write is O(delta), but Spark 4.1
  * runtime-prunes target files only for group-based plans
  * (`RowLevelOperationRuntimeGroupFiltering` matches `ReplaceData`, not
  * `WriteDelta`), so the delta MERGE read the WHOLE table. This
  * operation takes the group route instead, the same shape as the API
  * [[graft.io.CowTable.merge]]:
  *
  *   1. the target scan declares `_file` as its runtime filter
  *     attribute; Spark's own rule plans a dynamic subquery
  *     (target ⋈ source on the merge condition, projected to `_file`,
  *     key-column-pruned) and [[ArtifactScan.filter]] drops every file
  *     holding no matched row;
  *   2. the rewrite reads ONLY those matched files (through their
  *     deletion vectors) plus the source — carry-over rows, updates and
  *     inserts stream back as the replacement content;
  *   3. [[graft.io.CowTable.replaceFiles]] swaps exactly the scanned
  *     (file, dv) entries for the new pool files in one CAS commit,
  *     failing on a conflicting rewrite of an affected file.
  *
  * Target read cost: one key-column scan for discovery + the matched
  * files. A range-local MERGE on a 100 TB table reads megabytes of
  * data pages, not the table. Rewriting whole matched files also makes
  * MERGE safe on duplicate-key tables (file grain, not key grain).
  * DELETE/UPDATE stay delta-based ([[CowRowLevelOperation]]): their
  * predicates push into the scan statically, and a scattered DELETE is
  * O(deleted rows) as vectors instead of a file rewrite.
  */
private[sources] class CowGroupMergeOperation(base: String, key: String,
                                              tableSchema: StructType)
  extends RowLevelOperation {

  /** The scan instance the rewrite plans against — after runtime group
    * filtering it knows the exact (file, dv) set being replaced, which
    * the write's commit swaps out. One scan per operation instance
    * (Spark builds one rewrite plan per MERGE statement). */
  @volatile private[sources] var configuredScan: Option[ArtifactScan] = None

  /** The committed version the target scan planned against — the
    * snapshot the statement's match set is valid for. The commit
    * requires landing at exactly this + 1 (serializable MERGE: a
    * concurrent append of matched keys is a conflict, not a carry-over).
    */
  @volatile private[sources] var scanVersion: Option[Long] = None

  override def command(): RowLevelOperation.Command =
    RowLevelOperation.Command.MERGE

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    val v = AtomicPublish.committed(spark, base)
    require(v >= 0, s"no committed version under $base")
    scanVersion = Some(v)
    new ArtifactScanBuilder(base, "manifest", None, cow = true,
      s"$base/v$v/manifest", tableSchema) {
      override def build(): org.apache.spark.sql.connector.read.Scan = {
        val s = super.build().asInstanceOf[ArtifactScan]
        configuredScan = Some(s)
        s
      }
    }
  }

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(ArtifactScan.FileCol))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new CowReplaceWrite(base, info, CowGroupMergeOperation.this)
    }

  override def description(): String =
    s"cow-group MERGE on $base (runtime file pruning via ${ArtifactScan.FileCol})"
}

private[sources] class CowReplaceWrite(base: String, info: LogicalWriteInfo,
                                       op: CowGroupMergeOperation)
  extends Write {
  override def toBatch: BatchWrite = new CowReplaceBatchWrite(base, info, op)
  override def description(): String = s"cow-group replace write to $base"
}

private[sources] case class CowReplaceMessage(files: Seq[String])
  extends WriterCommitMessage

private[sources] class CowReplaceBatchWrite(base: String,
                                            info: LogicalWriteInfo,
                                            op: CowGroupMergeOperation)
  extends BatchWrite {

  private val staging = s"$base/.replace-${info.queryId()}"
  private val stagedSchema = info.schema()

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DataWriterFactory =
    new CowReplaceWriterFactory(staging, stagedSchema,
      new SerializableConfiguration(LocalParquet.writeConf(SparkSession.active)))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val staged = messages.collect { case m: CowReplaceMessage => m }
      .flatMap(_.files).toSeq
    try {
      val replaced = op.configuredScan.map(_.resolvedFiles).getOrElse(
        sys.error(s"group MERGE on $base committed without a configured " +
          "target scan"))
      // the replacement content in the TABLE's columns (the staged rows
      // may carry metadata attributes the rewrite required, e.g. _file)
      val tableCols = graft.io.CowTable.meta(spark, base)
        .map(m => org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
          .asInstanceOf[StructType].fieldNames.toSeq)
        .getOrElse(sys.error(s"no cow-table meta under $base"))
      val rows =
        if (staged.isEmpty)
          spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            StructType(stagedSchema.fields.filter(f =>
              tableCols.contains(f.name))))
        else spark.read.schema(
          StructType(stagedSchema.fields.map(_.copy(nullable = true))))
          .parquet(staged: _*)
      CowTable.replaceFiles(spark, base, replaced,
        rows.select(tableCols.map(col): _*), scanVersion = op.scanVersion,
        opName = "MERGE")
      ()
    } finally cleanup()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = cleanup()

  private def cleanup(): Unit = {
    val p = new Path(staging)
    val fs = p.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }
}

private[sources] class CowReplaceWriterFactory(staging: String,
                                               schema: StructType,
                                               conf: SerializableConfiguration)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CowReplaceTaskWriter(staging, schema, conf, partitionId, taskId)
}

/** Executor-side replacement-row writer: rows stream into a
  * task-attempt-unique parquet file through Spark's own
  * `ParquetWriteSupport` ([[graft.io.LocalParquet.writer]]), opened
  * lazily so an empty task stages nothing; only COMMITTED tasks' files
  * are read. */
private[sources] class CowReplaceTaskWriter(staging: String,
                                            schema: StructType,
                                            conf: SerializableConfiguration,
                                            partitionId: Int, taskId: Long)
  extends DataWriter[InternalRow] {

  private val path = s"$staging/rows/part-$partitionId-$taskId.parquet"
  private var writer: ParquetWriter[InternalRow] = _

  override def write(row: InternalRow): Unit = {
    if (writer == null)
      writer = LocalParquet.writer(new Path(path), schema, conf.value)
    writer.write(row)
  }

  override def commit(): WriterCommitMessage = {
    if (writer != null) { writer.close(); CowReplaceMessage(Seq(path)) }
    else CowReplaceMessage(Seq.empty)
  }

  override def abort(): Unit = close()

  override def close(): Unit = if (writer != null) writer.close()
}

/** Per-task staged files, listed EXPLICITLY (never by directory scan):
  * a failed/retried task attempt's partial files are simply never
  * referenced. */
private[sources] case class CowDeltaMessage(insertFiles: Seq[String],
                                            deleteFiles: Seq[String])
  extends WriterCommitMessage

private[sources] class CowDeltaBatchWrite(base: String, key: String,
                                          info: LogicalWriteInfo,
                                          cmd: RowLevelOperation.Command)
  extends DeltaBatchWrite {

  private val staging = s"$base/.delta-${info.queryId()}"
  private val dataSchema = info.schema()
  private val rowIdSchema: StructType =
    if (info.rowIdSchema().isPresent) info.rowIdSchema().get()
    else CowTable.splitKeys(key)
      .foldLeft(new StructType())((s, k) => s.add(k, LongType))

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DeltaWriterFactory =
    new CowDeltaWriterFactory(staging, dataSchema, rowIdSchema,
      new SerializableConfiguration(LocalParquet.writeConf(SparkSession.active)))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val msgs = messages.collect { case m: CowDeltaMessage => m }
    val ins = msgs.flatMap(_.insertFiles).toSeq
    val dels = msgs.flatMap(_.deleteFiles).toSeq
    try {
      if (ins.nonEmpty || dels.nonEmpty) {
        val inserts =
          if (ins.isEmpty) None
          else Some(spark.read.schema(dataSchema).parquet(ins: _*))
        val deleteKeys =
          if (dels.isEmpty)
            spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              StructType(rowIdSchema.fields.map(_.copy(nullable = true))))
          else spark.read.schema(
            StructType(rowIdSchema.fields.map(_.copy(nullable = true))))
            .parquet(dels: _*)
        CowTable.applyDelta(spark, base, deleteKeys, inserts,
          op = cmd.toString) // DELETE / UPDATE / MERGE, as issued
      }
    } finally cleanup()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = cleanup()

  private def cleanup(): Unit = {
    val spark = SparkSession.active
    val p = new Path(staging)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    ()
  }
}

private[sources] class CowDeltaWriterFactory(staging: String,
                                             dataSchema: StructType,
                                             rowIdSchema: StructType,
                                             conf: SerializableConfiguration)
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new CowDeltaTaskWriter(staging, dataSchema, rowIdSchema, conf,
      partitionId, taskId)
}

/** Executor-side action writer: inserts and deleted row ids stream into
  * task-attempt-unique parquet files through Spark's own
  * `ParquetWriteSupport` ([[graft.io.LocalParquet.writer]]; no Spark
  * write job inside a write job), opened lazily so a task with no
  * actions stages nothing. */
private[sources] class CowDeltaTaskWriter(staging: String,
                                          dataSchema: StructType,
                                          rowIdSchema: StructType,
                                          conf: SerializableConfiguration,
                                          partitionId: Int, taskId: Long)
  extends DeltaWriter[InternalRow] {

  private val insertPath = s"$staging/inserts/part-$partitionId-$taskId.parquet"
  private val deletePath = s"$staging/deletes/part-$partitionId-$taskId.parquet"
  private var insertWriter: ParquetWriter[InternalRow] = _
  private var deleteWriter: ParquetWriter[InternalRow] = _

  override def insert(row: InternalRow): Unit = {
    if (insertWriter == null)
      insertWriter = LocalParquet.writer(new Path(insertPath), dataSchema, conf.value)
    insertWriter.write(row)
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    if (deleteWriter == null)
      deleteWriter = LocalParquet.writer(new Path(deletePath), rowIdSchema, conf.value)
    deleteWriter.write(id)
  }

  /** Unreachable with `representUpdateAsDeleteAndInsert = true`; kept
    * semantically correct anyway. */
  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id)
    insert(row)
  }

  override def commit(): WriterCommitMessage = {
    val ins = if (insertWriter != null) { insertWriter.close(); Seq(insertPath) }
              else Seq.empty
    val del = if (deleteWriter != null) { deleteWriter.close(); Seq(deletePath) }
              else Seq.empty
    CowDeltaMessage(ins, del)
  }

  override def abort(): Unit = close()

  override def close(): Unit = {
    if (insertWriter != null) insertWriter.close()
    if (deleteWriter != null) deleteWriter.close()
  }
}
