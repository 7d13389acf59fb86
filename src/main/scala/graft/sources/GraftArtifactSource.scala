package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 `TableProvider` serving the engine's COMMITTED artifacts
  * (any [[graft.io.AtomicPublish]] base — the persisted ANN index, the
  * incremental MV, the IVF append state) as first-class tables:
  *
  * {{{
  *   spark.read.format("graft-artifact")
  *     .option("base", "/.../annindex").option("dataset", "assignments")
  *     .load()
  *   // or SQL:  CREATE TABLE ann_lists USING `graft-artifact`
  *   //          OPTIONS (base '...', dataset 'assignments')
  * }}}
  *
  * Version resolution goes through the commit pointer (optionally pinned
  * with `version` for time travel), so a read is always a consistent
  * committed snapshot. The scan supports COLUMN PRUNING and FILTER
  * PUSHDOWN: comparison/IN filters on primitive columns prune whole
  * files via footer min/max statistics on the driver, then ride into
  * Spark's own parquet reader ([[ArtifactReaderFactory]]) as row-group
  * predicates on the executors — for the range-laid-out inverted lists
  * (`assignments` sorted by `centroid_id`), a probe-set IN filter reads
  * only the files holding the probed lists, which at 100 TB is the
  * difference between a point lookup and a full index scan. Filters are
  * also RE-APPLIED by Spark above the scan (pushdown here is pruning,
  * not truth), so a stats edge case can never change results.
  */
class GraftArtifactSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-artifact"

  private def cow(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("cow")).exists(_.toBoolean)

  private def changeFeed(options: CaseInsensitiveStringMap): Boolean =
    Option(options.get("changeFeed")).exists(_.toBoolean)

  private def resolveDir(options: CaseInsensitiveStringMap): String = {
    val base = options.get("base")
    val ds = if (cow(options)) "manifest" else options.get("dataset")
    require(base != null && ds != null,
      "graft-artifact requires `base` and `dataset` options (or cow=true)")
    val spark = SparkSession.active
    val v = Option(options.get("version")).map(_.toLong)
      .getOrElse(graft.io.AtomicPublish.committed(spark, base))
    require(v >= 0, s"no committed version under $base")
    s"$base/v$v/$ds"
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val data =
      if (cow(options)) {
        // a COW table's version payload is its manifest; the DATA schema
        // comes from the table meta AT THE RESOLVED VERSION (so a
        // version-pinned read of a later-renamed column sees that
        // version's names, consistently with the scan's column mapping);
        // a pruned version fails here
        val base = options.get("base")
        val v = Option(options.get("version")).map(_.toLong)
          .getOrElse(graft.io.AtomicPublish.committed(spark, base))
        require(v >= 0, s"no committed version under $base")
        DataType.fromJson(graft.io.CowTable.metaAt(spark, base, v).schemaJson)
          .asInstanceOf[StructType]
      } else spark.read.parquet(resolveDir(options)).schema
    if (changeFeed(options))
      data.add(ArtifactScan.ChangeTypeCol, StringType)
        .add(ArtifactScan.CommitVersionCol, LongType)
    else data
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new ArtifactTable(opts.get("base"), opts.get("dataset"),
      Option(opts.get("startVersion")).map(_.toLong),
      cow(opts), changeFeed(opts),
      Option(opts.get("key")).getOrElse(""),
      resolveDir(opts), schema,
      skipChangeCommits =
        Option(opts.get("skipChangeCommits")).exists(_.toBoolean))
  }
}

private[sources] class ArtifactTable(base: String, dataset: String,
                                     startVersion: Option[Long],
                                     cow: Boolean,
                                     changeFeed: Boolean = false,
                                     keyCol: String = "",
                                     dir: String, tableSchema: StructType,
                                     skipChangeCommits: Boolean = false)
  extends Table with SupportsRead {
  override def name(): String = s"graft-artifact `$dir`"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ArtifactScanBuilder(base, dataset, startVersion, cow, changeFeed,
      keyCol, dir, tableSchema, skipChangeCommits)
}

private[sources] class ArtifactScanBuilder(base: String, dataset: String,
                                           startVersion: Option[Long],
                                           cow: Boolean,
                                           changeFeed: Boolean,
                                           keyCol: String,
                                           dir: String, full: StructType,
                                           skipChangeCommits: Boolean = false)
  extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  def this(base: String, dataset: String, startVersion: Option[Long],
           cow: Boolean, dir: String, full: StructType) =
    this(base, dataset, startVersion, cow, changeFeed = false, keyCol = "",
      dir, full)

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  private def primitive(name: String): Boolean =
    full.fields.find(_.name == name).exists(_.dataType match {
      case LongType | IntegerType | DoubleType | FloatType | StringType |
           DateType | BooleanType => true
      case _ => false
    })

  private def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _) => primitive(a)
    case In(a, _) => primitive(a)
    case GreaterThan(a, _) => primitive(a)
    case GreaterThanOrEqual(a, _) => primitive(a)
    case LessThan(a, _) => primitive(a)
    case LessThanOrEqual(a, _) => primitive(a)
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(supported)
    // everything is returned as residual: the source prunes by
    // statistics, Spark keeps the authoritative evaluation
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required =
      if (requiredSchema.isEmpty) StructType(full.fields.take(1))
      else requiredSchema
  override def build(): Scan =
    new ArtifactScan(base, dataset, startVersion, cow, changeFeed, keyCol,
      dir, full, required, pushed, skipChangeCommits)
}

/** One pool file; `drop` are the sorted row positions its deletion
  * vector voids, looked up at planning for this file alone — the reader
  * skips them (merge-on-read). A change-feed part served in place may
  * instead `keep` only the rows at its sorted positions, and carries its
  * `change` (change type, commit version) as constant columns. */
private[sources] case class ArtifactPartition(path: String,
                                              drop: Array[Long] = Array.emptyLongArray,
                                              keep: Option[Array[Long]] = None,
                                              change: Option[(String, Long)] = None)
  extends InputPartition

private[sources] class ArtifactScan(base: String, dataset: String,
                                    startVersion: Option[Long],
                                    cow: Boolean,
                                    changeFeed: Boolean,
                                    keyCol: String,
                                    dir: String, full: StructType,
                                    required: StructType,
                                    pushed: Array[Filter],
                                    skipChangeCommits: Boolean = false)
  extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** COLUMN MAPPING (cow tables only): logical → physical column names
    * from the scanned version's meta. Pool files and footer stats carry
    * PHYSICAL names; everything Spark sees here is logical. Resolved at
    * the scanned version (the `dir` pins it), so a time-travel read
    * before a rename maps with that version's names. */
  private lazy val physRename: Map[String, String] =
    if (!cow) Map.empty
    else {
      val spark = SparkSession.active
      val v = "/v(\\d+)/manifest$".r.findFirstMatchIn(dir).get.group(1).toLong
      graft.io.CowTable.metaAt(spark, base, v).physMap
    }

  private def physName(n: String): String = physRename.getOrElse(n, n)

  /** Pushed filters with attribute names translated to PHYSICAL — what
    * footer pruning and the parquet reader's row-group predicates
    * compare against. */
  private lazy val pushedPhys: Array[Filter] =
    if (physRename.isEmpty) pushed
    else pushed.map {
      case EqualTo(a, v) => EqualTo(physName(a), v)
      case In(a, vs) => In(physName(a), vs)
      case GreaterThan(a, v) => GreaterThan(physName(a), v)
      case GreaterThanOrEqual(a, v) => GreaterThanOrEqual(physName(a), v)
      case LessThan(a, v) => LessThan(physName(a), v)
      case LessThanOrEqual(a, v) => LessThanOrEqual(physName(a), v)
      case other => other
    }

  /** RUNTIME file filtering on the virtual `_file` column — what lets
    * Spark's own `RowLevelOperationRuntimeGroupFiltering` prune a
    * group-based MERGE's target scan to the files that actually hold a
    * matched row (the dynamic subquery joins target×source projected to
    * `_file`; this scan then drops every other file). Conservative by
    * construction: an unrecognized predicate filters nothing. */
  private var runtimeKept: Option[Set[String]] = None

  /** Only a scan that actually READS the `_file` metadata column (a
    * row-level rewrite that declared it via requiredMetadataAttributes,
    * on a table with no `_file` column of its own) is runtime-filterable
    * on it: Spark's generic dynamic-pruning rules probe filterAttributes
    * on EVERY join over the scan and fail resolving an attribute the
    * pruned relation doesn't carry. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (isVirtual(ArtifactScan.FileCol))
      Array(org.apache.spark.sql.connector.expressions.Expressions.column(
        ArtifactScan.FileCol))
    else Array.empty

  override def filter(predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
    predicates.foreach { p =>
      if (p.name() == "IN" && p.children().nonEmpty) {
        val onFile = p.children().head match {
          case r: NamedReference =>
            r.fieldNames().mkString(".") == ArtifactScan.FileCol
          case _ => false
        }
        if (onFile) {
          val vals: Set[String] = p.children().tail.collect {
            case l: Literal[_] if l.dataType() == StringType =>
              String.valueOf(l.value())
          }.toSet
          // IN over collected values is exhaustive: intersect (an empty
          // subquery result legitimately prunes every file)
          runtimeKept = Some(runtimeKept.fold(vals)(_ intersect vals))
        }
      }
    }
  }

  /** The files this scan will actually read — post footer pruning AND
    * post runtime filtering — as (file, dv, dvRows) manifest triples.
    * The group-based row-level commit replaces exactly this set. */
  private[sources] def resolvedFiles: Seq[(String, Array[Byte], Long)] =
    keptFiles.map(k => (k.path, k.dv, k.dvRows))
      .filter(f => runtimeKept.forall(_.contains(f._1)))

  /** Streaming over the COMMIT LOG: each committed [[graft.io.AtomicPublish]]
    * version is one exactly-once micro-batch — publish/subscribe on the
    * table's own transaction history, no side channel. Offsets are
    * version ids, so a restart from checkpoint resumes exactly after the
    * last version it processed (retention permitting — a pruned version
    * inside the requested range fails fast rather than silently
    * skipping data). */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    if (changeFeed) {
      require(cow && keyCol.nonEmpty,
        "changeFeed streaming requires cow=true and a `key` option " +
          "(the table's clustering key, for the row-level diff)")
      new CdfMicroBatchStream(base, keyCol, startVersion, required,
        checkpointLocation)
    } else if (cow) {
      // `spark.readStream.table("graft.t")`: the TABLE-SCHEMA feed — a
      // bootstrap snapshot batch, then each committed version's
      // insert/update POST-IMAGES. A version carrying DELETES (or
      // UPDATES, which an append-mode sink would double-count) FAILS
      // FAST by default — deletes are not representable in the table
      // schema, so serving the rest would silently diverge from the
      // table; `skipChangeCommits=true` opts into post-images-only,
      // and changeFeed=true carries full I/U/D fidelity.
      require(keyCol.nonEmpty,
        "streaming a cow table requires its clustering key (the catalog " +
          "passes it; raw format readers add .option(\"key\", ...))")
      new TableFeedMicroBatchStream(base, keyCol, startVersion, required,
        checkpointLocation, skipChangeCommits)
    } else {
      new ArtifactMicroBatchStream(base, dataset, startVersion, required)
    }
  }

  /** Footer-stats file pruning on the driver: a file survives iff every
    * pushed filter MAY match some row group (per-column min/max). For a
    * COW table the candidate list is the committed MANIFEST's file set
    * (pool files shared across versions), not a directory listing, and
    * each file carries its inline deletion vector — the reader
    * subtracts the vectored positions, so merge-on-read tables serve
    * directly (deletes only SHRINK a file's matches, so footer pruning
    * stays conservative unchanged). The same footer pass accumulates
    * each kept file's ROW COUNT and compressed byte size — the post-
    * pruning statistics [[estimateStatistics]] hands Catalyst. */
  /** The manifest's (file, dv, dvRows) via a distributed parquet read —
    * the large-manifest path (small ones serve from CowTable's cache). */
  private def readManifestTriples(dir: String): Seq[(String, Array[Byte], Long)] = {
    val m = SparkSession.active.read.parquet(dir)
      .select("file", "dv", "dvRows")
    // re-root stored paths to the CURRENT base (mirrors CowTable's
    // read-time re-rooting: basenames are the durable identity, so
    // a renamed/relocated table serves unchanged). Normalized with
    // the SAME Path-based form CowTable.reroot uses — raw string
    // concat over a scheme'd or doubled-slash base would spell the
    // same file two ways and break the group-MERGE commit's
    // replaceFiles join on `file`.
    val pool = new Path(new Path(base), "files").toUri.getPath
    def re(s: String): String = pool + s.substring(s.lastIndexOf('/'))
    m.collect()
      .map(r => (re(r.getString(0)), r.getAs[Array[Byte]](1), r.getLong(2)))
      .toSeq.sortBy(_._1)
  }

  private lazy val (allFiles, keptFiles): (Seq[String], Seq[ArtifactScan.Kept]) = {
    val p = new Path(dir)
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    val files =
      if (cow) {
        // small manifests serve from CowTable's collected cache (same
        // padded, re-rooted triples) — no parquet job per catalog scan;
        // large manifests keep the distributed read below
        val vOfDir = "/v(\\d+)/manifest/?$".r.findFirstMatchIn(dir)
          .map(_.group(1).toLong)
        val cached = vOfDir.flatMap(v =>
          graft.io.CowTable.manifestTriples(SparkSession.active, base, v))
        cached match {
          case Some(ts) => ts.sortBy(_._1)
          case None => readManifestTriples(dir)
        }
      }
      else fs.listStatus(p).toSeq.map(_.getPath)
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .map(f => (f.toString, Array.emptyByteArray, 0L)).sortBy(_._1)
    // footer reads are independent I/O — a sequential pass over a
    // 100k-file table costs minutes of driver wall; a bounded pool
    // keeps it tens of seconds (the order of `kept` is restored from
    // the listing so partition planning stays deterministic).
    // `pushedPhys` is FORCED here, on the initializing thread: lazy
    // vals of one object share the `this` monitor, so a future thread
    // touching an uninitialized lazy while this thread awaits inside
    // keptFiles' own initializer would deadlock.
    val pushedP = pushedPhys
    def evalOne(f: String, dv: Array[Byte], dvRows: Long): Option[ArtifactScan.Kept] = {
      val in = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f), conf))
      try {
        val blocks = in.getFooter.getBlocks.asScala
        val mayMatch = blocks.exists { b =>
          pushedP.forall { flt =>
            val colOf = ArtifactScan.filterColumn(flt)
            b.getColumns.asScala
              .find(_.getPath.toDotString == colOf)
              .forall { cm =>
                val st = cm.getStatistics
                if (st == null || !st.hasNonNullValue) true
                else ArtifactScan.mayMatch(flt, st.genericGetMin,
                  st.genericGetMax)
              }
          }
        }
        if (!mayMatch) None
        else Some(ArtifactScan.Kept(f, dv, dvRows,
          rows = math.max(0L, blocks.map(_.getRowCount).sum - dvRows),
          // UNCOMPRESSED page bytes, not on-disk: sizeInBytes gates
          // broadcast decisions against an IN-MEMORY threshold, and a
          // snappy'd array column (a 500k-row embedding table fits
          // ~10 MB on disk, ~300 MB hydrated) would flip large joins
          // to broadcast if the compressed figure were reported
          bytes = blocks.map(_.getTotalByteSize).sum))
      } finally in.close()
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, Runtime.getRuntime.availableProcessors())))
    val kept = try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(files.map { case (f, dv, dvRows) =>
          scala.concurrent.Future(evalOne(f, dv, dvRows))
        }), scala.concurrent.duration.Duration.Inf).flatten
    } finally pool.shutdown()
    (files.map(_._1), kept)
  }

  override def planInputPartitions(): Array[InputPartition] =
    ArtifactScan.partitions(resolvedFiles).toArray

  /** POST-PRUNING statistics from metadata the prune pass already holds
    * (manifest live-row counts minus deletion vectors, footer block
    * sizes) — exact rows, parquet-compressed bytes (the same figure
    * Spark's own file sources report). This is what lets Catalyst
    * auto-broadcast a small cow table or a filtered artifact slice in a
    * SQL join without a hint, and feeds the CBO's join reordering. */
  override def estimateStatistics(): Statistics = new Statistics {
    // sizeInBytes gates BROADCAST decisions against an in-memory
    // threshold, so it is floored at an UnsafeRow-overhead cost per
    // row: a row-many-but-byte-small scan (a 500k-row inverted-list
    // table is ~7 MB of uncompressed pages) must not flip a join to a
    // per-task 500k-entry hash build that a 10 MB threshold was never
    // meant to admit (measured 2.2x on the 10x serve path).
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(keptFiles.map(_.bytes).sum,
        keptFiles.map(_.rows).sum * 32L))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(keptFiles.map(_.rows).sum)
  }

  /** Whether `n` is a required METADATA column. A table column of that
    * name hides the metadata column from Spark, so `n` is then data. */
  private def isVirtual(n: String): Boolean =
    ArtifactScan.MetaCols(n) && required.fieldNames.contains(n) &&
      !full.fieldNames.contains(n)

  override def createReaderFactory(): PartitionReaderFactory =
    // the reader projects by PHYSICAL field name; output rows are
    // positional, so Spark still sees the logical `required` schema.
    // Metadata columns are marked by position, since a renamed data
    // column may carry `_file` or `_pos` as its physical name.
    ArtifactReaderFactory(
      StructType(required.fields.map(f => f.copy(name = physName(f.name)))),
      required.fieldNames.indices.filter(i => isVirtual(required(i).name)).toSet,
      pushedPhys.toSeq)

  override def description(): String =
    s"graft-artifact $dir pushed=[${pushed.mkString(", ")}] " +
      s"files=${keptFiles.size}/${allFiles.size}" +
      runtimeKept.fold("")(k => s" runtimeKept=${k.size}")
}

/** Offset = committed version id (the table's own transaction log). */
private[sources] case class VersionOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

private[sources] class ArtifactMicroBatchStream(base: String, dataset: String,
                                                startVersion: Option[Long],
                                                required: StructType)
  extends MicroBatchStream {

  private def spark = SparkSession.active
  private def fs = new Path(base)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** First version to EMIT defaults to the earliest still-readable one
    * (Kafka's `earliest`); `startVersion` skips history. The offset is
    * the version BEFORE the first emitted. */
  override def initialOffset(): Offset = VersionOffset(
    startVersion.map(_ - 1).getOrElse {
      val vs = graft.io.AtomicPublish.versions(spark, base)
      if (vs.isEmpty) -1L else vs.min - 1
    })

  /** Stops below a version a live publisher has claimed but not yet
    * committed, so planning never skips it as an orphan. */
  override def latestOffset(): Offset =
    VersionOffset(graft.io.AtomicPublish.settledHead(spark, base))

  override def deserializeOffset(json: String): Offset =
    VersionOffset("""-?\d+""".r.findFirstIn(json)
      .getOrElse(sys.error(s"bad offset: $json")).toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].version
    val e = end.asInstanceOf[VersionOffset].version
    ((s + 1) to e).flatMap { v =>
      // COMMITTED versions only: a sealed orphan (claimed by a crashed
      // writer, never committed) is skipped — its data was never made
      // visible and emitting it would be a dirty read. Anything else
      // missing fails fast: silently skipping a pruned committed batch
      // would be data loss the checkpoint can't see.
      if (graft.io.AtomicPublish.isOrphan(spark, base, v)) Seq.empty
      else {
        require(graft.io.AtomicPublish.isCommitted(spark, base, v),
          s"version $v under $base is not readable (pruned?); " +
            "increase the publisher's retain window for streaming readers")
        ArtifactScan.parquetParts(new Path(base, s"v$v/$dataset"))
          .map(ArtifactPartition(_))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ArtifactReaderFactory(required, Set.empty, Nil)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** CHANGE-DATA-FEED streaming source over a [[graft.io.CowTable]]: each
  * committed version becomes one exactly-once micro-batch of row-level
  * I/U/D changes (the data columns plus `_change_type` and
  * `_commit_version`) — how a downstream consumer (replica, index,
  * cache) actually subscribes to a lakehouse table. Offsets are version
  * ids; each batch serves the changes between CONSECUTIVE COMMITTED
  * versions (orphan ids are invisible, a pruned base fails fast —
  * pruning is prefix-by-id, so a readable base proves the span
  * complete), classified from commit structure by
  * [[graft.io.CowTable.changeSet]]:
  *   - a version whose changed rows are all inserts (`append`, SQL
  *     `INSERT`) or all deletes ([[graft.io.CowTable.deleteWhere]],
  *     [[graft.io.CowTable.dvDelete]], SQL `DELETE`) is served IN
  *     PLACE: its partitions read the pool files (whole, or only
  *     the rows its vector change names), and
  *     `_change_type` and `_commit_version` ride in as constant
  *     partition values. Planning launches no job and writes nothing;
  *     a replay re-derives the same partitions, since pool files and
  *     vectors are immutable;
  *   - a version with both sides (`merge`, SQL `UPDATE`/`MERGE`,
  *     `restore`) is key-joined over its changed rows only
  *     ([[graft.io.CowTable.changesOf]]) and materialized ONCE
  *     under the stream's checkpoint (`_graft_cdf/`), so a replayed
  *     batch re-serves identical files instead of recomputing.
  * A table with column mapping keeps the materialized path for every
  * version: its pool files carry physical names. */
private[sources] class CdfMicroBatchStream(base: String, key: String,
                                           startVersion: Option[Long],
                                           required: StructType,
                                           checkpointLocation: String)
  extends MicroBatchStream {

  private def spark = SparkSession.active
  private def fs = new Path(base)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The offset is the version whose SNAPSHOT the consumer already
    * holds: changes are emitted from the next committed version on.
    * Defaults to the earliest still-readable version (bootstrap:
    * `CowTable.readAt(earliest)` + this feed = the live table);
    * `startVersion` names the first version whose changes are wanted. */
  override def initialOffset(): Offset = VersionOffset(
    startVersion.map(_ - 1).getOrElse {
      val vs = graft.io.AtomicPublish.versions(spark, base)
      require(vs.nonEmpty, s"no committed versions under $base")
      vs.min
    })

  override def latestOffset(): Offset =
    VersionOffset(graft.io.AtomicPublish.committed(spark, base))

  override def deserializeOffset(json: String): Offset =
    VersionOffset("""-?\d+""".r.findFirstIn(json)
      .getOrElse(sys.error(s"bad offset: $json")).toLong)

  private val cdfCols = Set(ArtifactScan.ChangeTypeCol, ArtifactScan.CommitVersionCol)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].version
    val e = end.asInstanceOf[VersionOffset].version
    if (e <= s) return Array.empty
    val committed = graft.io.AtomicPublish.versions(spark, base)
    require(committed.contains(s),
      s"CDF base version $s under $base is pruned or was never " +
        "committed; increase the publisher's retain window for " +
        "streaming readers")
    val span = committed.filter(v => v > s && v <= e)
    def outDir(prev: Long, v: Long) =
      new Path(checkpointLocation, s"_graft_cdf/v$v-from-$prev")
    val dataCols = required.fieldNames.filterNot(cdfCols).toSeq
    // per span: Left = its one side, served in place; Right = its
    // materialized dir, already sealed by an earlier plan of this batch
    // (None) or to be joined and written below
    val plans = (s +: span).zip(span).map { case (p, v) =>
      val done = fs.exists(new Path(outDir(p, v), "_SUCCESS"))
      (p, v, (if (done) None
      else Some(graft.io.CowTable.changeSet(spark, base, p, v))) match {
        case Some(cs) if cs.oneSide.isDefined &&
          graft.io.CowTable.servesInPlace(spark, base, v, dataCols) =>
          Left(cs.oneSide.get)
        case other => Right(other)
      })
    }
    import org.apache.spark.sql.functions.lit
    plans.collect { case (p, v, Right(Some(cs))) => (p, v, cs) } match {
      case Seq() => () // every joined span already materialized
      case Seq((p, v, cs)) =>
        graft.io.CowTable.changesOf(spark, base, v, key, cs)
          .withColumn(ArtifactScan.CommitVersionCol, lit(v))
          .write.mode("overwrite").parquet(outDir(p, v).toString)
      case missing =>
        // independent diffs: union them (each tagged with a span label)
        // and materialize every missing span in ONE job, partitioned by
        // the label, then move each partition dir to its per-span
        // location and seal it with the _SUCCESS marker the replay path
        // checks. Per-span dirs stay the on-disk unit so replay and
        // [[commit]]'s cleanup are unchanged.
        val tmp = new Path(checkpointLocation, s"_graft_cdf/.span-$s-$e")
        fs.delete(tmp, true)
        missing.map { case (p, v, cs) =>
          graft.io.CowTable.changesOf(spark, base, v, key, cs)
            .withColumn(ArtifactScan.CommitVersionCol, lit(v))
            .withColumn("_gf_span", lit(s"v$v-from-$p"))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").partitionBy("_gf_span")
          .parquet(tmp.toString)
        missing.foreach { case (p, v, _) =>
          val dst = outDir(p, v)
          fs.delete(dst, true)
          val src = new Path(tmp, s"_gf_span=v$v-from-$p")
          // a span whose rows all join away as no-ops gets no
          // partition dir — seal an empty span dir instead
          if (!fs.exists(src) || !fs.rename(src, dst)) fs.mkdirs(dst)
          fs.create(new Path(dst, "_SUCCESS"), true).close()
        }
        fs.delete(tmp, true)
    }
    plans.flatMap {
      case (_, v, Left((parts, kind))) =>
        ArtifactScan.changePartitions(parts, Some((kind, v)))
      case (p, v, Right(_)) =>
        ArtifactScan.parquetParts(outDir(p, v)).map(ArtifactPartition(_))
    }.toArray
  }

  /** Materialized spans hold `_change_type` and `_commit_version` as
    * data; in-place parts take them as constant partition values. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val inPlace = ArtifactReaderFactory(required,
      required.fieldNames.indices.filter(i => cdfCols(required(i).name)).toSet,
      Nil)
    val materialized = ArtifactReaderFactory(required, Set.empty, Nil)
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        (if (p.asInstanceOf[ArtifactPartition].change.isDefined) inPlace
        else materialized).createReader(p)
    }
  }

  /** Reclaim materialized diff directories for batches at or below the
    * committed offset — same O(in-flight) checkpoint-storage contract as
    * the table feed's commit. Dir names are `v<to>-from-<prev>`. */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[VersionOffset].version
    val dir = new Path(checkpointLocation, "_graft_cdf")
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") &&
        n.drop(1).takeWhile(_ != '-').toLongOption.exists(_ <= e))
        fs.delete(st.getPath, true)
    }
  }
  override def stop(): Unit = ()
}

/** `spark.readStream.table("graft.t")` — the TABLE-SCHEMA subscription
  * to a [[graft.io.CowTable]]: the first batch is the earliest retained
  * snapshot (bootstrap), every later committed version becomes one
  * exactly-once micro-batch of its row-level insert POST-IMAGES, never
  * a re-scan. Versions are classified from commit structure
  * ([[graft.io.CowTable.changeSet]]):
  *   - the bootstrap and an insert-only version are served DIRECTLY
  *     from their immutable pool files (vectors applied by the reader),
  *     never copied; a replay re-derives the same partitions;
  *   - a delete-only version needs no row at all: it fails its guard
  *     (below) or, with `skipChangeCommits`, contributes nothing;
  *   - a version with both sides is key-joined over its changed rows
  *     and materialized once under the stream's checkpoint
  *     (`_graft_feed/`), so a replayed batch re-serves identical files;
  *     [[commit]] prunes those directories at or below the committed
  *     offset, so checkpoint storage is O(in-flight batches).
  * A table with column mapping keeps the materialized path: its pool
  * files carry physical names.
  *
  * DELETE- or UPDATE-bearing versions FAIL FAST by default: a delete
  * has no representation in the table schema and an update's post-image
  * double-counts in an append-mode sink, so serving either silently
  * diverges the subscriber from the table — at 100 TB an unfindable
  * drift (the same contract as Delta's `readStream.table`, which errors
  * on data-changing commits). The error names the two remedies:
  * `changeFeed=true` (the [[CdfMicroBatchStream]] twin, full I/U/D
  * fidelity) or the explicit `skipChangeCommits=true` opt-out, which
  * restores post-images-only (inserts + update post-images, deletes
  * omitted). */
private[sources] class TableFeedMicroBatchStream(base: String, key: String,
                                                 startVersion: Option[Long],
                                                 required: StructType,
                                                 checkpointLocation: String,
                                                 skipChangeCommits: Boolean = false)
  extends MicroBatchStream {

  private def spark = SparkSession.active
  private def fs = new Path(base)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Offset −1 = "nothing consumed": the next batch bootstraps from the
    * earliest retained snapshot. `startVersion` skips the bootstrap and
    * begins at that version's diff (the CDF cursor convention). */
  override def initialOffset(): Offset =
    VersionOffset(startVersion.map(_ - 1).getOrElse(-1L))

  override def latestOffset(): Offset =
    VersionOffset(graft.io.AtomicPublish.committed(spark, base))

  override def deserializeOffset(json: String): Offset =
    VersionOffset("""-?\d+""".r.findFirstIn(json)
      .getOrElse(sys.error(s"bad offset: $json")).toLong)

  /** Fails version `v` unless `kinds` is empty or the subscriber opted
    * out with `skipChangeCommits`. */
  private def guard(v: Long, kinds: Seq[String]): Unit =
    require(skipChangeCommits || kinds.isEmpty,
      s"version $v of $base carries ${kinds.mkString("/")} " +
        "changes, which the table-schema stream cannot " +
        "represent faithfully (deletes vanish, update " +
        "post-images double-count in append sinks): " +
        "subscribe with changeFeed=true for full I/U/D " +
        "fidelity, or set skipChangeCommits=true to " +
        "receive insert/update post-images only")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VersionOffset].version
    val e = end.asInstanceOf[VersionOffset].version
    if (e <= s) return Array.empty
    val committed = graft.io.AtomicPublish.versions(spark, base)
    // a consumer that has consumed THROUGH version s must diff FROM s:
    // if retention pruned it, re-bootstrapping would silently duplicate
    // rows the checkpoint already delivered — fail fast instead (the
    // CDF stream's contract)
    require(s < 0 || committed.contains(s),
      s"feed base version $s under $base is pruned or was never " +
        "committed; increase the writer's retain window for streaming " +
        "readers")
    val span = committed.filter(v => v > s && v <= e)
    span.flatMap { v =>
      val out = new Path(checkpointLocation, s"_graft_feed/v$v")
      val sealedOut = fs.exists(new Path(out, "_SUCCESS"))
      def materialized(batch: => org.apache.spark.sql.DataFrame) = {
        if (!sealedOut) batch.write.mode("overwrite").parquet(out.toString)
        ArtifactScan.parquetParts(out).map(ArtifactPartition(_))
      }
      committed.filter(_ < v).lastOption match {
        case None
          if graft.io.CowTable.metaAt(spark, base, v).physMap.isEmpty =>
          // bootstrap from the earliest retained version: the snapshot
          // IS its immutable pool files (DVs subtracted by the reader),
          // so serve them in place — a copy under the checkpoint would
          // be O(table) storage for nothing. A replay re-resolves the
          // same entries (fail-fast if retention pruned them).
          ArtifactScan.partitions(graft.io.CowTable
            .entriesAtVersion(spark, base, v).map(_.triple))
        case None => // mapped-table bootstrap: materialize once
          materialized(graft.io.CowTable.readAt(spark, base, v))
        case Some(p) if !sealedOut =>
          val cs = graft.io.CowTable.changeSet(spark, base, p, v)
          if (cs.post.isEmpty) {
            guard(v, if (cs.pre.isEmpty) Nil else Seq("delete"))
            Nil
          } else if (cs.pre.isEmpty && graft.io.CowTable.servesInPlace(
            spark, base, v, required.fieldNames.toSeq))
            ArtifactScan.changePartitions(cs.post, None)
          else materialized {
            import org.apache.spark.sql.functions.col
            val ch = graft.io.CowTable.changesOf(spark, base, v, key, cs)
              .localCheckpoint() // one diff: guard check + the write
            if (!skipChangeCommits)
              guard(v, ch.filter(col("_change_type").isin("delete", "update"))
                .select("_change_type").distinct()
                .collect().map(_.getString(0)).sorted.toSeq)
            ch.filter(col("_change_type") =!= "delete").drop("_change_type")
          }
        case Some(_) => // a replay of a joined version
          ArtifactScan.parquetParts(out).map(ArtifactPartition(_))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ArtifactReaderFactory(required, Set.empty, Nil)

  /** Batches at or below the committed offset are never replanned —
    * reclaim their materialized directories (a long-lived subscriber's
    * checkpoint must not grow O(history)). */
  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[VersionOffset].version
    val dir = new Path(checkpointLocation, "_graft_feed")
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("v") &&
        n.drop(1).toLongOption.exists(_ <= e))
        fs.delete(st.getPath, true)
    }
  }
  override def stop(): Unit = ()
}

private[sources] object ArtifactScan {

  /** The virtual metadata column naming each row's physical file (the
    * manifest's stored, scheme-stripped form) — selectable from SQL
    * (`SELECT _file, * FROM graft.\`…\``) and the grouping attribute
    * runtime group filtering prunes row-level rewrites on. */
  val FileCol = "_file"

  /** The virtual metadata column giving each row's position in its file
    * (the parquet row index, counted over the whole file whatever row
    * groups a pushed filter skips) — with `_file`, the row id of SQL
    * `UPDATE` and `DELETE`, and the address a deletion vector stores. */
  val PosCol = "_pos"

  /** The metadata columns a cow-table scan serves. */
  val MetaCols: Set[String] = Set(FileCol, PosCol)

  /** The change feed's columns beside the data: what a row's version
    * did to it, and that version. */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** A file surviving footer pruning with its manifest vector (`dv`,
    * `dvRows`), and the statistics the prune pass read for free: LIVE
    * rows (footer row count minus `dvRows`) and compressed bytes. */
  case class Kept(path: String, dv: Array[Byte], dvRows: Long, rows: Long,
                  bytes: Long)

  /** The parquet parts of directory `dir`. */
  def parquetParts(dir: Path): Seq[String] =
    dir.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
      .listStatus(dir).toSeq.map(_.getPath)
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(_.toString)

  /** One partition per (file, dv, dvRows) manifest triple, carrying
    * the positions that file's vector voids
    * ([[graft.io.CowTable.voided]]: decoded from the manifest row, no
    * file read). */
  def partitions(files: Seq[(String, Array[Byte], Long)]): Seq[ArtifactPartition] = {
    val voided = graft.io.CowTable.voided(files)
    files.map { case (f, _, _) =>
      ArtifactPartition(f, voided.getOrElse(f, Array.emptyLongArray))
    }
  }

  /** Change parts served in place from their pool files: a whole part
    * under its vector, a positional part keeping only its rows. Each
    * partition carries `change` as its constant columns. */
  def changePartitions(parts: Seq[graft.io.CowTable.ChangePart],
                       change: Option[(String, Long)]): Seq[ArtifactPartition] = {
    val (whole, at) = parts.partition(_.positions.isEmpty)
    partitions(whole.map(_.entry.triple))
      .map(_.copy(change = change)) ++
      at.map(p => ArtifactPartition(p.entry.file, keep = p.positions,
        change = change))
  }

  def filterColumn(f: Filter): String = f match {
    case EqualTo(a, _) => a
    case In(a, _) => a
    case GreaterThan(a, _) => a
    case GreaterThanOrEqual(a, _) => a
    case LessThan(a, _) => a
    case LessThanOrEqual(a, _) => a
    case _ => ""
  }

  private def integral(n: Number): Boolean = n match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
         _: java.lang.Byte => true
    case _ => false
  }

  /** Parquet stores DATE as INT32 epoch days, but a pushed Filter's
    * literal arrives as java.sql.Date / LocalDate — normalize to days. */
  private def epochDays(v: Any): Option[Long] = v match {
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y) if integral(x) && epochDays(y).isDefined =>
      java.lang.Long.compare(x.longValue(), epochDays(y).get)
    case (x, y: Number) if integral(y) && epochDays(x).isDefined =>
      java.lang.Long.compare(epochDays(x).get, y.longValue())
    // both integral: compare as longs — a double comparison collapses
    // values beyond 2^53 (max=2^53+1 vs GreaterThan(2^53) would compare
    // EQUAL and prune a file that contains matching rows: silent row
    // loss, since pruned files never reach Spark's residual filter)
    case (x: Number, y: Number) if integral(x) && integral(y) =>
      java.lang.Long.compare(x.longValue(), y.longValue())
    case (x: Number, y: Number) =>
      java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: org.apache.parquet.io.api.Binary, y: String) =>
      x.toStringUsingUTF8.compareTo(y)
    case (x: Comparable[_], y) =>
      x.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => 0
  }

  /** Conservative: true unless min/max PROVE the filter cannot match. */
  def mayMatch(f: Filter, min: Any, max: Any): Boolean = f match {
    case EqualTo(_, v) => cmp(min, v) <= 0 && cmp(max, v) >= 0
    case In(_, vs) => vs.exists(v => cmp(min, v) <= 0 && cmp(max, v) >= 0)
    case GreaterThan(_, v) => cmp(max, v) > 0
    case GreaterThanOrEqual(_, v) => cmp(max, v) >= 0
    case LessThan(_, v) => cmp(min, v) < 0
    case LessThanOrEqual(_, v) => cmp(min, v) <= 0
    case _ => true
  }
}

/** Spark's own parquet reader (`ParquetFileFormat`, vectorized where
  * the schema allows) serving every `graft-artifact` partition. The read
  * function is built ONCE per scan on the driver — building broadcasts
  * a fresh session Hadoop conf, so executors see the driver's
  * filesystem settings — and each partition applies it to its file:
  *
  *   - the data read projects the PHYSICAL required columns plus Spark's
  *     row-index column, with the pushed filters as row-group
  *     predicates; a column a file predates fills its `EXISTS_DEFAULT`
  *     (else NULL). The required fields at the `virtual` positions are
  *     metadata columns: `_pos` is the row index, and the others ride
  *     in as constant partition values — `_file` the file, and for a
  *     change-feed part served in place `_change_type` and
  *     `_commit_version` its change;
  *   - a partition that `keep`s positions serves only those rows, and
  *     one that has positions to `drop` skips them. Positions are
  *     Spark's row index, which stays the file position however many
  *     row groups the pushed filters skip, so vectored files keep their
  *     pushdown. */
private[sources] class ArtifactReaderFactory(required: StructType,
                                             virtual: Set[Int],
                                             constants: Seq[String],
                                             read: ArtifactReaderFactory.Read)
  extends PartitionReaderFactory {

  import ArtifactReaderFactory._

  /** Applies the scan's read to this partition's file. A read row is
    * the data fields, the row index, then the constant columns; rows
    * outside the partition's `keep` positions or among its `drop`
    * positions are skipped, and the rest are projected to
    * `required` (`_pos` is the row index). */
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[ArtifactPartition]
    val nData = required.length - virtual.size
    var ord = -1
    val out = UnsafeProjection.create(required.fields.toSeq.zipWithIndex.map {
      case (f, i) if virtual(i) && f.name == ArtifactScan.PosCol =>
        BoundReference(nData, LongType, nullable = false)
      case (f, i) if virtual(i) =>
        BoundReference(nData + 1 + constants.indexOf(f.name), f.dataType,
          nullable = false)
      case (f, _) =>
        ord += 1
        BoundReference(ord, f.dataType, nullable = true)
    })
    val rows = read(partitioned(part.path, InternalRow.fromSeq(constants.map {
      case ArtifactScan.FileCol => UTF8String.fromString(part.path)
      case ArtifactScan.ChangeTypeCol => UTF8String.fromString(part.change.get._1)
      case _ => part.change.get._2 // the commit version
    })))
    val kept = part.keep.fold(rows)(k =>
      rows.filter(r => java.util.Arrays.binarySearch(k, r.getLong(nData)) >= 0))
    val live =
      if (part.drop.isEmpty) kept
      else kept.filter(r =>
        java.util.Arrays.binarySearch(part.drop, r.getLong(nData)) < 0)
    new PartitionReader[InternalRow] {
      private var current: InternalRow = _
      override def next(): Boolean = live.hasNext && {
        current = out(live.next())
        true
      }
      override def get(): InternalRow = current
      override def close(): Unit = rows match {
        case c: java.io.Closeable => c.close()
        case _ => ()
      }
    }
  }
}

private[sources] object ArtifactReaderFactory {

  type Read = PartitionedFile => Iterator[InternalRow]

  /** Built on the driver. `required` and `filters` carry PHYSICAL
    * names; `virtual` are the positions of `required`'s metadata
    * columns (`_file`, `_pos`, and a change-feed part's `_change_type`
    * and `_commit_version`), every other field is data. */
  def apply(required: StructType, virtual: Set[Int],
            filters: Seq[Filter]): ArtifactReaderFactory = {
    val data = StructType(required.fields.indices.filterNot(virtual)
      .map(required(_)))
    val rowIndex = StructField(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
      LongType)
    val constants = StructType(virtual.toSeq.sorted.map(required(_))
      .filter(_.name != ArtifactScan.PosCol).map(_.copy(nullable = false)))
    val spark = SparkSession.active
    val schema = data.add(rowIndex)
    new ArtifactReaderFactory(required, virtual, constants.fieldNames.toSeq,
      new ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
        constants, schema, filters,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf()))
  }

  /** The whole of `path` as one split. */
  private def partitioned(path: String, values: InternalRow): PartitionedFile =
    PartitionedFile(values, SparkPath.fromPathString(path), 0L, Long.MaxValue)
}
