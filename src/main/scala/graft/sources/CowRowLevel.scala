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
  * the row's POSITION — the virtual (`_file`, `_pos`) metadata columns
  * the scan already reads, as in Iceberg's position deltas — followed
  * by the clustering-key columns, so:
  *
  *   - a DELETE action is a doomed (file, position) → committed as
  *     deletion-vector entries, or the file's removal once it holds no
  *     live row (O(deleted rows) bytes, ZERO data files rewritten);
  *   - an INSERT action is a new row → staged once, committed as new
  *     pool files (nothing read);
  *   - an UPDATE is represented as DELETE + INSERT
  *     (`representUpdateAsDeleteAndInsert`), which is exactly how the
  *     API [[graft.io.CowTable.merge]] commits: position deletes plus
  *     new pool files.
  *
  * Executors stage actions as parquet under `base/.delta-<query>`,
  * encoded by Spark's own `ParquetWriteSupport` (so every Catalyst type
  * the table holds stages and reads back exactly) with
  * task-attempt-unique file names (only COMMITTED tasks' files are
  * read — a retried task's partial file is never picked up), and each
  * task reports the positions it deleted, by file. The driver
  * commit turns them into one [[graft.io.CowTable.applyDelta]] version.
  * While the table's head is still the version the scan read, the
  * staged positions are unioned into each file's vector as they are —
  * no row is looked up again, so a duplicate-key table updates exactly
  * the matched rows. Once any commit has landed after the scan, a
  * position may name a row that commit already replaced, so the
  * commit falls back to the staged KEYS: it rediscovers their live
  * rows against the current manifest and refuses (loudly, pre-commit)
  * a key that addresses more live rows than the statement matched.
  *
  * A table with a column named `_file` or `_pos` hides that metadata
  * column from Spark, which would bind the row id to the user's column
  * instead; such a table keeps the key-only row id and always commits
  * through the key path.
  *
  * Scale note (read side): row-level `UPDATE`/`DELETE` predicates push
  * into this scan at planning, so their target read is footer-pruned to
  * the files that may match, and the write is O(deleted rows) in vector
  * bytes — the right trade for scattered predicates.
  */
private[sources] class CowRowLevelOperation(base: String, key: String,
                                            tableSchema: StructType,
                                            cmd: RowLevelOperation.Command)
  extends RowLevelOperation with SupportsDelta {

  /** The committed version the target scan planned against: the
    * staged positions address rows of exactly this snapshot. */
  @volatile private[sources] var scanVersion: Option[Long] = None

  /** Whether rows are addressed by position: only when no table column
    * shadows `_file` or `_pos` (compared case-insensitively, as Spark's
    * default resolver does). */
  private[sources] val byPosition: Boolean =
    !tableSchema.fieldNames.exists(n =>
      ArtifactScan.FileCol.equalsIgnoreCase(n) ||
        ArtifactScan.PosCol.equalsIgnoreCase(n))

  override def command(): RowLevelOperation.Command = cmd

  /** The snapshot the rewrite plans against: the same DV-aware,
    * footer-pruned manifest scan every other read path uses. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    val v = AtomicPublish.committed(spark, base)
    require(v >= 0, s"no committed version under $base")
    scanVersion = Some(v)
    new ArtifactScanBuilder(base, "manifest", None, cow = true,
      s"$base/v$v/manifest", tableSchema)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new CowDeltaWrite(base, info, CowRowLevelOperation.this)
    }

  /** The row identity: the row's position (`_file`, `_pos`), then EVERY
    * clustering-key column — the keys serve only the commit's fallback
    * when another commit landed after the scan. Without [[byPosition]],
    * the key columns alone. */
  override def rowId(): Array[NamedReference] = {
    val pos =
      if (byPosition) Seq(ArtifactScan.FileCol, ArtifactScan.PosCol)
      else Seq.empty
    (pos ++ CowTable.splitKeys(key)).map(Expressions.column).toArray
  }

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def description(): String =
    s"cow-delta $cmd on $base (rowId=${rowId().mkString(", ")})"
}

private[sources] class CowDeltaWrite(base: String, info: LogicalWriteInfo,
                                     op: CowRowLevelOperation)
  extends DeltaWrite {
  override def toBatch: DeltaBatchWrite = new CowDeltaBatchWrite(base, info, op)
  override def description(): String = s"cow-delta write to $base"
}

/** GROUP-BASED `MERGE INTO` — the table's only copy-on-write row
  * writer (the API [[graft.io.CowTable.merge]] deletes by position). A
  * delta MERGE's write is O(delta), but Spark 4.1 runtime-prunes target
  * files only for group-based plans
  * (`RowLevelOperationRuntimeGroupFiltering` matches `ReplaceData`, not
  * `WriteDelta`), so the delta MERGE read the WHOLE table. This
  * operation takes the group route instead:
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
      CowTable.replaceFiles(spark, base, replaced.map(t => (t._1, t._2)),
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
  * referenced. `deleted` holds the task's deleted row positions
  * by pool file, so the commit needs no job to count or read them. */
private[sources] case class CowDeltaMessage(insertFiles: Seq[String],
                                            deleteFiles: Seq[String],
                                            deleted: Map[String, Array[Long]])
  extends WriterCommitMessage

private[graft] object CowDeltaBatchWrite {
  /** Runs in [[CowDeltaBatchWrite.commit]] between staging and
    * [[graft.io.CowTable.applyDelta]], with the table's base. A no-op;
    * tests set it to land a competing commit after the scan. */
  @volatile private[graft] var afterStage: String => Unit = _ => ()
}

private[sources] class CowDeltaBatchWrite(base: String,
                                          info: LogicalWriteInfo,
                                          op: CowRowLevelOperation)
  extends DeltaBatchWrite {

  private val staging = s"$base/.delta-${info.queryId()}"
  private val dataSchema = info.schema()
  private val rowIdSchema: StructType = info.rowIdSchema().get()

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DeltaWriterFactory =
    new CowDeltaWriterFactory(staging, dataSchema, rowIdSchema,
      if (op.byPosition) Some((rowIdSchema.fieldIndex(ArtifactScan.FileCol),
        rowIdSchema.fieldIndex(ArtifactScan.PosCol)))
      else None,
      new SerializableConfiguration(LocalParquet.writeConf(SparkSession.active)))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val msgs = messages.collect { case m: CowDeltaMessage => m }
    val ins = msgs.flatMap(_.insertFiles).toSeq
    val dels = msgs.flatMap(_.deleteFiles).toSeq
    val byFile = msgs.toSeq.flatMap(_.deleted)
      .groupMapReduce(_._1)(_._2)(_ ++ _)
    try {
      CowDeltaBatchWrite.afterStage(base)
      if (ins.nonEmpty || dels.nonEmpty) {
        val inserts =
          if (ins.isEmpty) None
          else Some(spark.read.schema(dataSchema).parquet(ins: _*))
        // the staged row ids: the key path reads their keys
        val staged = {
          val schema = StructType(rowIdSchema.fields.map(_.copy(nullable = true)))
          if (dels.isEmpty)
            spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
          else spark.read.schema(schema).parquet(dels: _*)
        }
        val (keys, positions) =
          if (!op.byPosition) (staged, None)
          else (staged.drop(ArtifactScan.FileCol, ArtifactScan.PosCol),
            op.scanVersion.map(CowTable.Positions(_, byFile)))
        CowTable.applyDelta(spark, base, keys, inserts,
          op = op.command().toString, // DELETE / UPDATE, as issued
          positions = positions)
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
                                             posOrds: Option[(Int, Int)],
                                             conf: SerializableConfiguration)
  extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new CowDeltaTaskWriter(staging, dataSchema, rowIdSchema, posOrds, conf,
      partitionId, taskId)
}

/** Executor-side action writer: inserts and deleted row ids stream into
  * task-attempt-unique parquet files through Spark's own
  * `ParquetWriteSupport` ([[graft.io.LocalParquet.writer]]; no Spark
  * write job inside a write job), opened lazily so a task with no
  * actions stages nothing. When rows are addressed by position, each
  * deleted row id's (`_file`, `_pos`), at `posOrds`, is gathered per
  * file as it streams past. */
private[sources] class CowDeltaTaskWriter(staging: String,
                                          dataSchema: StructType,
                                          rowIdSchema: StructType,
                                          posOrds: Option[(Int, Int)],
                                          conf: SerializableConfiguration,
                                          partitionId: Int, taskId: Long)
  extends DeltaWriter[InternalRow] {

  private val insertPath = s"$staging/inserts/part-$partitionId-$taskId.parquet"
  private val deletePath = s"$staging/deletes/part-$partitionId-$taskId.parquet"
  private val deleted = scala.collection.mutable.HashMap.empty[String,
    scala.collection.mutable.ArrayBuilder.ofLong]
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
    posOrds.foreach { case (f, p) =>
      deleted.getOrElseUpdate(id.getUTF8String(f).toString,
        new scala.collection.mutable.ArrayBuilder.ofLong) += id.getLong(p)
    }
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
    CowDeltaMessage(ins, del, deleted.map { case (f, b) => f -> b.result() }.toMap)
  }

  override def abort(): Unit = close()

  override def close(): Unit = {
    if (insertWriter != null) insertWriter.close()
    if (deleteWriter != null) deleteWriter.close()
  }
}
