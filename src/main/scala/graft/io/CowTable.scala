package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ROW-LEVEL operations — MERGE (upsert+delete), predicate
  * DELETE, file compaction (OPTIMIZE) and VACUUM — over a manifest-based
  * versioned table. This is the lakehouse answer to the reference's
  * row-level UPDATE/DELETE statements (PostgreSQL rewrites pages inside
  * a transaction, e.g. the dimension upserts in
  * `/root/reference/data-pipeline/src/fill_dm_table.py`): on an
  * immutable object store there is no in-place page write, so a data
  * FILE is written once and never changed, and the version is METADATA.
  *
  * Layout under `base/`:
  *   - `files/<token>-<i>.parquet` — immutable pooled data files, written
  *     once, never modified, shared across versions;
  *   - `v<N>/manifest` — an [[AtomicPublish]] version whose ONLY payload
  *     is the manifest: one row per data file with its row count, key
  *     min/max and its deletion vector inline (`dv`, a serialized roaring
  *     bitmap of the file's deleted row positions; empty = none).
  *     Committing a version = committing a manifest.
  *
  * Consequences at 100 TB:
  *   - ONE row-level delete ([[deleteAt]]): [[merge]], [[deleteWhere]]
  *     and SQL `UPDATE`/`DELETE` ([[applyDelta]]) delete by (file, row
  *     position) — a deletion vector, or the file's removal once it
  *     holds no live row — and write new rows as new pool files. Only
  *     [[compact]] and SQL `MERGE` ([[replaceFiles]]) rewrite files.
  *   - a MERGE touching 0.1% of keys scans only the files whose key
  *     range intersects the source keys — found by a DISTRIBUTED
  *     interval-bucket join of source keys against the manifest kept
  *     as a DataFrame (no broadcast, no driver materialization, no
  *     file-count ceiling). Merge cost is O(affected files + source),
  *     not O(table).
  *   - serializability comes from ONE commit loop, [[commitChange]],
  *     that every writer goes through: an attempt computed against
  *     parent version P returns only what it changes, and the loop
  *     commits it through [[AtomicPublish.tryPublish]] only if it lands
  *     at P+1. A concurrent writer winning the slot — or pruning P under
  *     the attempt — forces a recompute against the new state, so no
  *     committed row change is ever silently dropped (the lost-update
  *     anomaly plain `publish` would allow). The losing attempt's
  *     pool files are garbage, reclaimed by [[vacuum]]; its deletion
  *     vectors were never written anywhere but its own manifest.
  *   - compaction repays the vectors and keeps the layout healthy:
  *     bin-pack undersized neighbors (by manifest row counts alone)
  *     into full files, reference the rest — the small-files problem
  *     cured without a table rewrite.
  *   - [[vacuum]] deletes pool files referenced by NO retained version.
  *     Like every lakehouse vacuum it must not race an in-flight writer
  *     (files are staged into the pool before their manifest commits);
  *     run it from the maintenance role, or pass a `graceMs` larger
  *     than the longest write.
  *
  * The clustering key is an ORDERED COLUMN LIST (comma-separated
  * wherever a key is named); the manifest prunes on the LEADING
  * column's ranges — the same contract as a z-order's first dimension —
  * while the ROW IDENTITY is the full tuple (the reference's grains are
  * composite: `(fact_id, customer_id, effective_from)` for the DQ
  * uniqueness check, `(user_id, effective_from)` for silver SCD2).
  * Leading keys are numeric (cast to long) or STRING. A string key (the
  * reference's VARCHAR UNIQUE natural keys
  * `customer_name`/`product_category`/`region_name`/`status_name` —
  * `/root/reference/sql/dds/s_sql_dds/table/t_dim_tables.sql:4,11,18,25`)
  * additionally records its natural min/max in the per-file stats maps;
  * discovery buckets on an order-preserving 7-byte encoding taken AFTER
  * the manifest-global common prefix (so `user_000…`-shaped keys still
  * spread across buckets) with EXACT string containment as the
  * post-condition. Overlapping key ranges after many merges degrade
  * pruning, never correctness ([[compact]] restores tight ranges by
  * re-sorting). SQL `UPDATE` and `DELETE` address rows by POSITION
  * (file, row index), so they need no unique key; only when a commit
  * lands between their scan and their commit does [[applyDelta]] fall
  * back to the key, and then it refuses a key that addresses more live
  * rows than the statement matched.
  *
  * Two more pieces complete the row-level story:
  *   - DELETION VECTORS: a delete — even one scattered across every
  *     file (GDPR purge, every-Nth-key retention) — writes NO file: the
  *     new manifest carries each affected file's cumulative vector
  *     inline, a roaring bitmap of its deleted row positions
  *     ([[encodeVector]]), with `dvRows` its cardinality. Reads decode
  *     each entry's own bytes ([[voided]], [[decodeVector]]) and
  *     subtract the positions: the API scan by an anti-join on
  *     position, broadcast whenever the manifest's dvRows total proves
  *     it small, the SQL scan per partition; [[compact]] materializes
  *     them back to clean files. The same design as Delta deletion
  *     vectors, always inlined in the log.
  *   - CHANGE DATA FEED ([[changes]]): the row-level diff between two
  *     committed versions, served from commit structure — never a
  *     two-snapshot scan. [[changeSet]] classifies each pool file by
  *     its two manifest entries: added files hold inserts, removed
  *     files deletes, and a changed deletion vector names its deleted
  *     (or, after a restore, revived) positions. Inserts-only and
  *     deletes-only versions need no join; only versions with both
  *     sides join them on the key, and rows co-located in a rewritten
  *     file but untouched compare struct-equal and drop out as no-ops.
  *     A compaction or z-order version changes no row, so its diff
  *     against its parent reads nothing.
  *
  * Commits can carry an idempotence TXN stamp (stream id → batch id,
  * carried forward across versions) so a Structured Streaming
  * foreachBatch writer gets exactly-once MERGE semantics across
  * checkpoint replays ([[exactlyOnceMerge]]).
  */
/** A serializability conflict on a cow-table commit: the statement
  * planned against a snapshot that a concurrent commit has since
  * invalidated. TYPED (not a bare require/IllegalArgumentException) so
  * callers can classify it as retryable and re-run the statement against
  * the new snapshot — the same contract as Delta's
  * ConcurrentModificationException family. The conflict test is
  * deliberately snapshot-strict (any intervening commit conflicts, not
  * just overlapping key ranges): the statement's match set was derived
  * from a discovery join against the WHOLE snapshot, so a concurrent
  * append can introduce newly-matched keys in files outside the replaced
  * set — committing anyway would be write skew. */
class ConcurrentWriteException(message: String)
  extends RuntimeException(message)

object CowTable {

  /** One pool file of a version. `dv` is its deletion vector inline
    * ([[encodeVector]]; empty = none), `dvRows` its cardinality. Entries
    * compare `dv` by content: an array's own `==` is identity. */
  case class Entry(file: String, rows: Long, kmin: Long, kmax: Long,
                   dv: Array[Byte] = Array.emptyByteArray, dvRows: Long = 0L,
                   smin: Map[String, String] = Map.empty,
                   smax: Map[String, String] = Map.empty) {
    override def equals(o: Any): Boolean = o match {
      case e: Entry => java.util.Arrays.equals(dv, e.dv) &&
        (file, rows, kmin, kmax, dvRows, smin, smax) ==
          (e.file, e.rows, e.kmin, e.kmax, e.dvRows, e.smin, e.smax)
      case _ => false
    }
    override def hashCode: Int = (file, rows, kmin, kmax, dvRows).##
    /** The (file, dv, dvRows) triple [[voided]] decodes. */
    def triple: (String, Array[Byte], Long) = (file, dv, dvRows)
  }

  /** Table-level metadata carried in every version's payload: the data
    * schema (so an EMPTIED table still reads back with the right
    * columns), the clustering key, the declared stats-column set
    * ([[writePool]] records per-file min/max for these so predicate
    * operations can prune their discovery scans from the manifest), and
    * COLUMN MAPPING — the lakehouse answer to `RENAME`/`DROP COLUMN`
    * without rewriting data: every column has an immutable PHYSICAL
    * name (what pool files and stats maps are written with; the logical
    * name at add time), `colMap` carries the logical→physical pairs
    * that differ, and `physUsed` every physical name ever occupied (so
    * re-adding a dropped/renamed name gets a FRESH physical name
    * instead of resurrecting stale values from old files). */
  /** `retain` is TABLE-LEVEL retention (how many committed versions every
    * write keeps readable — the time-travel/CDC depth), set at create
    * (`TBLPROPERTIES ('retain'='8')` on the SQL path) and honored as a
    * MINIMUM by every later write including SQL DML: without it a
    * `retain=1` UPDATE would silently collapse the history a change-feed
    * subscriber depends on. A per-call `retain` argument can only deepen
    * it. */
  private[graft] case class Meta(schemaJson: String, key: String,
                                 statsCols: Seq[String],
                                 colMap: Seq[(String, String)] = Nil,
                                 physUsed: Seq[String] = Nil,
                                 retain: Int = 1,
                                 checks: Seq[(String, String)] = Nil,
                                 idHwm: Long = Long.MinValue) {
    /** logical → physical; identity for unmapped columns. */
    def phys(name: String): String = colMap.toMap.getOrElse(name, name)
    def physMap: Map[String, String] = colMap.toMap
  }

  /** CHECK-constraint entries serialize base64-per-field (`name:pred`
    * pairs joined by `;`): a predicate is arbitrary SQL text, so unlike
    * column-mapping entries it cannot be separator-guarded — encoding
    * sidesteps the problem entirely. */
  private def encChecks(cs: Seq[(String, String)]): String = {
    val enc = java.util.Base64.getEncoder
    def b64(s: String) =
      enc.encodeToString(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    cs.map { case (n, p) => s"${b64(n)}:${b64(p)}" }.mkString(";")
  }

  private def decChecks(s: String): Seq[(String, String)] = {
    val dec = java.util.Base64.getDecoder
    def un(x: String) =
      new String(dec.decode(x), java.nio.charset.StandardCharsets.UTF_8)
    s.split(";").filter(_.contains(":")).toSeq.map { pair =>
      val i = pair.indexOf(':')
      (un(pair.substring(0, i)), un(pair.substring(i + 1)))
    }
  }

  /** Column-mapping entries serialize as `l=p;l=p` in the meta table —
    * a name carrying the separators would corrupt the parse. Enforced
    * only where mapping entries are MINTED (rename/add); identity
    * columns never enter the map. */
  private def requireMappableName(n: String): Unit =
    require(!n.contains(";") && !n.contains("=") && n.nonEmpty,
      s"column name `$n` cannot carry ';' or '=' (column-mapping " +
        "serialization)")

  /** A collision-free PHYSICAL name for a new logical column: taken =
    * every physical name ever used (dropped/renamed included) plus the
    * live schema's physical names (covers pre-mapping metas with an
    * empty physUsed). */
  private def freshPhys(m: Meta, schema: org.apache.spark.sql.types.StructType,
                        logical: String): String = {
    val taken = (m.physUsed ++ schema.fieldNames.map(m.phys)).toSet
    if (!taken.contains(logical)) logical
    else Iterator.from(2).map(i => s"${logical}__$i")
      .find(!taken.contains(_)).get
  }

  private val ManifestCols =
    Seq("file", "rows", "kmin", "kmax", "dv", "dvRows", "smin", "smax")

  /** Order-preserving key encodings for the manifest's long-typed
    * kmin/kmax and the bucketed discovery join. */
  private[graft] object KeyEnc {
    /** A string's first 7 UTF-8 bytes, big-endian, zero-right-padded —
      * a NON-NEGATIVE long that preserves Spark's binary string order
      * (7 bytes = 56 bits, so `conv`'s unsigned arithmetic is exact and
      * the sign bit never flips). Prefix-lossy: equal encodings do NOT
      * imply equal strings, so every use pairs it with an exact natural
      * comparison. All codegen'd builtins. */
    def string(c: Column): Column =
      coalesce(conv(hex(rpad(substring(encode(c, "UTF-8"), 1, 7), 7,
        Array[Byte](0))), 16, 10).cast("long"),
        when(c.isNotNull, lit(0L)))

    /** The manifest-stat encoding for a key column of type `dt`. */
    def of(c: Column, dt: org.apache.spark.sql.types.DataType): Column =
      dt match {
        case org.apache.spark.sql.types.StringType => string(c)
        case _ => c.cast("long")
      }
  }

  /** A clustering key is an ORDERED LIST of columns, written as a
    * comma-separated string everywhere a key is named (API parameters,
    * the meta table, the SQL `key` table property) — the reference's row
    * identities are composite (`(fact_id, customer_id, effective_from)`
    * in `fn_dq_checks_load.sql:125-134`, the silver SCD2 grain
    * `(user_id, effective_from)` in `01_init_all.sql:34-36`), so the row
    * identity must be the full tuple. The MANIFEST prunes on the
    * LEADING column's ranges (kmin/kmax — the same contract as a
    * z-order's first dimension); matching is exact on the full tuple at
    * scan time. A single-column key is the one-element list. */
  private[graft] def splitKeys(key: String): Seq[String] = {
    val ks = key.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(ks.nonEmpty, s"empty clustering key `$key`")
    ks
  }

  private def keyType(df: DataFrame, key: String): org.apache.spark.sql.types.DataType = {
    val lead = splitKeys(key).head
    require(df.columns.contains(lead),
      s"clustering key `$lead` is not a column of ${df.columns.mkString(", ")}")
    df.schema(lead).dataType
  }

  private def isStringKey(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == org.apache.spark.sql.types.StringType

  private def fsOf(spark: SparkSession, base: String) =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def norm(s: String): String = new Path(s).toUri.getPath

  /** Write `df` as `numFiles` range-partitioned, key-sorted pool files;
    * returns their manifest entries — row count, key min/max, and
    * per-file min/max for each declared stats column — computed INSIDE
    * the write job, per output file, as each row is written
    * ([[StatsWrite]]): nothing is read back, so a statement commits
    * after its data job alone. Stats are aggregated on the column's
    * NATURAL type (lexical min of a stringified numeric would be wrong)
    * and stored as strings; [[StatsPrune]] casts them back to the
    * predicate literal's type at prune time. Files are staged under
    * `base/.data-<token>/` and enter `files/` only once the whole write
    * succeeded and every key is non-null; the staging directory is
    * removed either way. */
  /** `colMap` (logical → physical) renames columns on the way INTO the
    * pool: files always carry PHYSICAL names, so a later logical
    * RENAME/DROP is metadata-only and old files stay valid. */
  /** `layout` overrides the physical ordering: files are range-split and
    * sorted by the given expression (a Morton code for OPTIMIZE ZORDER)
    * instead of the clustering key — the key stays the row identity and
    * the manifest still records its per-file ranges (which may then
    * overlap; stats columns carry the skipping value). `gathered` writes
    * ONE file from a materialized frame in one task: no range shuffle,
    * so no shuffle job. */
  /** Per-row CHECK-constraint enforcement fused into a write's own
    * projection — one pass, codegen'd, no extra job: the first column's
    * value is routed through `assert_true(pred OR pred IS NULL)` (SQL
    * CHECK semantics: UNKNOWN passes), so a violating row fails the
    * STATEMENT with the constraint's name before anything commits —
    * the Delta invariant-checker contract. Rewrite paths (compact,
    * zorder) skip the wrap: their rows were validated
    * when first written. */
  private def withChecks(df: DataFrame,
                         checks: Seq[(String, String)]): DataFrame =
    checks.foldLeft(df) { case (d, (n, p)) =>
      val ok = coalesce(expr(p).cast("boolean"), lit(true))
      val c0 = d.columns.head
      d.withColumn(c0, when(assert_true(ok, lit(
        s"CHECK constraint `$n` violated: ($p) is not satisfied by a " +
          "written row — the statement was rolled back")).isNull, col(c0)))
    }

  /** A table's `GENERATED ALWAYS AS` columns: (name, type, expression)
    * from the schema's field metadata. */
  private def gensOf(m: Meta): Seq[(String, org.apache.spark.sql.types.DataType, String)] = {
    val st = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    st.fields.toSeq.collect {
      case f if f.metadata.contains("GENERATION_EXPRESSION") =>
        (f.name, f.dataType, f.metadata.getString("GENERATION_EXPRESSION"))
    }
  }

  /** The table's identity column, if any: (name, start, step,
    * allowExplicitInsert) from the schema's field metadata. At most one
    * per table ([[graft.sources.GraftCatalog]] enforces it at CREATE),
    * BIGINT, never the clustering key. */
  private[graft] def identityOf(m: Meta): Option[(String, Long, Long, Boolean)] = {
    val st = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    st.fields.collectFirst {
      case f if f.metadata.contains("IDENTITY_START") =>
        (f.name, f.metadata.getLong("IDENTITY_START"),
          f.metadata.getLong("IDENTITY_STEP"),
          f.metadata.contains("IDENTITY_ALLOW_EXPLICIT") &&
            f.metadata.getBoolean("IDENTITY_ALLOW_EXPLICIT"))
    }
  }

  /** Assign identity values to the NULL-id rows of an append batch:
    * values are `hwm + step, hwm + 2·step, …` in the deterministic
    * partition-prefix order (the caller's frame is localCheckpointed, so
    * partition layout and per-partition row order are pinned — a task
    * retry recomputes the same values). Explicit non-NULL values are
    * refused for GENERATED ALWAYS (`allowExplicit = false`); for
    * GENERATED BY DEFAULT they pass through and, when they outrun the
    * high-water mark, advance it so later generated values never
    * collide. Returns (assigned frame, new hwm).
    *
    * ONE aggregate job replaces the old `rdd.zipWithIndex` +
    * `createDataFrame` + localCheckpoint + double count + explicit-hull
    * scan (≈5 jobs per attempt, re-paid on every CAS retry, and a
    * Tungsten→Row→Tungsten round-trip): per-partition NULL counts give
    * the prefix offsets, and each null row's dense index is
    * offset(partition) + its within-partition position (the low 33 bits
    * of `monotonically_increasing_id`, whose high bits are the partition
    * id) — all whole-stage-codegen expressions, no Scala closures. */
  private def assignIdentity(spark: SparkSession, df: DataFrame,
                             id: (String, Long, Long, Boolean),
                             hwm: Long): (DataFrame, Long) = {
    val (name, start, step, allowExplicit) = id
    val base0 = if (hwm == Long.MinValue) start - step else hwm
    val mg = (if (step >= 0) max(when(col(name).isNotNull, col(name)))
              else min(when(col(name).isNotNull, col(name)))).cast("long")
    val st = df.groupBy(spark_partition_id().as("_gf_pid")).agg(
      count(when(col(name).isNull, 1)).as("_gf_nn"),
      count(when(col(name).isNotNull, 1)).as("_gf_ng"),
      mg.as("_gf_mg")).collect() // partition-count bounded
    if (!allowExplicit)
      require(st.map(_.getLong(2)).sum == 0L,
        s"identity column `$name` is GENERATED ALWAYS: explicit values " +
          "are not accepted — omit the column (or declare it GENERATED " +
          "BY DEFAULT AS IDENTITY)")
    var acc = 0L
    val offMap = st.sortBy(_.getInt(0)).map { r =>
      val o = r.getInt(0) -> acc; acc += r.getLong(1); o
    }.toMap
    val nAssigned = acc
    val nulls = df.filter(col(name).isNull)
    val given = df.filter(col(name).isNotNull)
    val m = col("_gf_m")
    val assigned = nulls.withColumn("_gf_m", monotonically_increasing_id())
      .withColumn(name,
        lit(base0) + lit(step) *
          (element_at(typedLit(offMap), shiftright(m, 33).cast("int")) +
            m.bitwiseAND(lit((1L << 33) - 1)) + 1L))
      .drop("_gf_m")
    val out = given.unionByName(assigned)
    val afterGen = base0 + step * nAssigned
    val mgs = st.collect { case r if !r.isNullAt(3) => r.getLong(3) }
    val newHwm =
      if (mgs.isEmpty) afterGen
      else if (step >= 0) math.max(afterGen, mgs.max)
      else math.min(afterGen, mgs.min)
    (out, newHwm)
  }

  /** GENERATED ALWAYS AS semantics (the PostgreSQL stored-generated
    * contract): the column is RECOMPUTED from its expression on every
    * data-bearing write — whatever the incoming frame carried is
    * replaced, so an UPDATE that touches a source column can never
    * leave the generated value stale, and a user-provided value can
    * never diverge from the expression. One projection, codegen'd. */
  private def withGens(df: DataFrame,
                       gens: Seq[(String, org.apache.spark.sql.types.DataType, String)]
                      ): DataFrame =
    gens.foldLeft(df) { case (d, (n, dt, g)) =>
      d.withColumn(n, expr(g).cast(dt))
    }

  private def writePool(spark: SparkSession, base: String, df0: DataFrame,
                        key: String, numFiles: Int,
                        statsCols: Seq[String] = Nil,
                        colMap: Map[String, String] = Map.empty,
                        layout: Option[Column] = None,
                        checks: Seq[(String, String)] = Nil,
                        gens: Seq[(String, org.apache.spark.sql.types.DataType, String)] = Nil,
                        idNotNull: Option[String] = None,
                        gathered: Boolean = false
                       ): Seq[Entry] = {
    // a NULL identity value reaching a non-append write path means the
    // row was never assigned: only INSERT/append mints identity values
    // (v1 contract) — fail the statement, per-row, before it commits
    val guarded = idNotNull.foldLeft(df0) { (d, n) =>
      if (!d.columns.contains(n)) d
      else d.withColumn(n, when(assert_true(col(n).isNotNull, lit(
        s"identity column `$n` is NULL: identity values are minted by " +
          "INSERT/append — a MERGE insert must route new rows through " +
          "INSERT, or carry explicit values on a GENERATED BY DEFAULT " +
          "column")).isNull, col(n)).cast(
        d.schema(d.schema.fieldIndex(n)).dataType))
    }
    val df = withChecks(withGens(guarded, gens), checks)
    val ks = splitKeys(key)
    ks.foreach(k => require(df.columns.contains(k),
      s"clustering key column `$k` is not a column of " +
        df.columns.mkString(", ")))
    def ph(c: String): String = colMap.getOrElse(c, c)
    val fs = fsOf(spark, base)
    val token = java.util.UUID.randomUUID().toString
    val tmp = new Path(base, s".data-$token")
    val parted = layout match {
      case Some(z) => df.repartitionByRange(math.max(1, numFiles), z)
        .sortWithinPartitions(z)
      case None if gathered => df.coalesce(1)
        .sortWithinPartitions(ks.head, ks.tail: _*)
      case None => df.repartitionByRange(math.max(1, numFiles), ks.map(col): _*)
        .sortWithinPartitions(ks.head, ks.tail: _*)
    }
    val kDt = keyType(df, key)
    // the stats are taken on the WRITTEN rows, whose columns carry
    // PHYSICAL names; stats-map keys are physical too (stable across
    // logical renames)
    val ke = KeyEnc.of(col(ph(ks.head)), kDt)
    // a STRING leading key's natural (exact, full-string) min/max
    // always rides in the stats maps — discovery and predicate pruning
    // compare strings exactly there; the long kmin/kmax carry the
    // lossy order-preserving encoding for the bucket join. NON-LEADING
    // key columns always get stats too: the sort makes them locally
    // clustered within each leading range, so predicates on the rest
    // of the tuple (the SCD2 `effective_from`) prune for free.
    val sCols = (statsCols ++ (if (isStringKey(kDt)) Seq(ks.head) else Nil)
      ++ ks.tail)
      .distinct.filter(df.columns.contains)
    def statsMap(agg: Column => Column): Column =
      if (sCols.isEmpty) typedLit(Map.empty[String, String])
      else map(sCols.flatMap(c =>
        Seq(lit(ph(c)), agg(col(ph(c))).cast("string"))): _*)
    try {
      val stats = phase(spark, "pool write")(StatsWrite.parquet(
        parted.select(df.columns.map(c => col(c).as(ph(c))).toIndexedSeq: _*),
        tmp.toString,
        Seq(count(lit(1)), min(ke), max(ke), statsMap(min), statsMap(max),
          count(when(ks.map(k => col(ph(k)).isNull).reduce(_ || _) ||
            ke.isNull, 1)))))
        // a write of no rows still leaves one zero-row file (Spark's
        // first task always writes one); it holds nothing to reference
        .filter { case (_, r) => r.getLong(0) > 0L }
      // the clustering key is the row IDENTITY (manifest pruning, SQL
      // rowId): a null or non-encodable key would be silently
      // unaddressable — refuse the write before any file enters the pool
      val nullKeys = stats.values.map(_.getLong(5)).sum
      require(nullKeys == 0L,
        s"cow table key `$key` must be non-null" +
          (if (isStringKey(kDt)) "" else
            " (and the leading column castable to long)") +
          s"; $nullKeys violating rows")
      val pool = new Path(base, "files")
      fs.mkdirs(pool)
      stats.toSeq.sortBy(_._1).zipWithIndex.map { case ((name, r), i) =>
        val dst = new Path(pool, s"$token-$i.parquet")
        require(fs.rename(new Path(tmp, name), dst),
          s"pool move failed: $name -> $dst")
        Entry(norm(dst.toString), r.getLong(0), r.getLong(1), r.getLong(2),
          smin = Option(r.getMap[String, String](3)).map(_.toMap)
            .getOrElse(Map.empty),
          smax = Option(r.getMap[String, String](4)).map(_.toMap)
            .getOrElse(Map.empty))
      }.sortBy(_.kmin)
    } finally fs.delete(tmp, true) // also on a failed or refused write
  }

  private def entriesDf(spark: SparkSession, entries: Seq[Entry]): DataFrame = {
    import spark.implicits._
    entries.toDF().select(ManifestCols.map(col): _*)
  }

  /** RE-ROOT stored paths to the CURRENT base: every pool file lives
    * under `base/files/<globally-unique-name>`, so the basename is the
    * durable identity and the prefix is just where the table happens to
    * live — re-deriving it at read time makes the table RELOCATABLE
    * (`ALTER TABLE … RENAME TO`, a directory move, a mount change)
    * without rewriting any retained manifest. Idempotent for tables
    * that never moved. */
  private def reroot(df: DataFrame, base: String): DataFrame = {
    val pool = norm(new Path(base, "files").toString)
    df.withColumn("file",
      concat(lit(pool + "/"), regexp_extract(col("file"), "[^/]+$", 0)))
  }

  /** Collected-manifest cache. Every SQL statement reads the committed
    * manifest several times (discovery, untouched carry-over, in-band
    * requires), each read a Spark parquet job plus driver listing —
    * at statement cadence the dominant share of the per-commit
    * constant. A committed version's manifest is IMMUTABLE, and the
    * (base, version, writer-token) key is the same durable identity
    * [[metaCache]] uses (DROP + re-CREATE reuses ids, never tokens).
    * SCALE BOUND: only manifests whose parquet dataset is small
    * ([[ManifestCacheMaxBytes]] on disk, [[ManifestCacheMaxEntries]]
    * rows after the one read) are cached — a 100 TB table's
    * million-file manifest stays on the executors-only DataFrame path
    * below, so no file-count ceiling is introduced; the cache is a
    * fast path, never a requirement. Entries are stored re-rooted (the
    * served form). */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, String), Seq[Entry]]()
  private val ManifestCacheMaxBytes = 8L << 20
  private val ManifestCacheMaxEntries = 16384

  /** TEST SEAM: drop every immutable-version cache so a spec can force
    * the populate-on-read path and compare it against what the commit
    * path primed. Production code never calls this. */
  private[graft] def dropVersionCachesForTest(): Unit = {
    manifestCache.clear()
    metaCache.clear()
    txnCache.clear()
  }

  /** TEST SEAM: the currently cached entries of the committed version,
    * WITHOUT populating on miss — lets a spec assert the commit path
    * primed the cache and inspect exactly what it primed. */
  private[graft] def primedEntriesForTest(spark: SparkSession,
                                          base: String): Option[Seq[Entry]] = {
    val v = AtomicPublish.committed(spark, base)
    Option(manifestCache.get(new Snapshot(spark, base, v).key))
  }

  /** The (file, dv, dvRows) triples of a version's manifest in served
    * (re-rooted) form — the DSv2 scan's candidate list, from the cache
    * when the manifest is small; None = stay on the parquet read. */
  private[graft] def manifestTriples(spark: SparkSession, base: String,
                                     version: Long): Option[Seq[(String, Array[Byte], Long)]] =
    new Snapshot(spark, base, version).cached
      .map(_.map(_.triple))

  private def collectEntries(df: DataFrame): Seq[Entry] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.as[Entry].collect().toSeq
  }

  private def entriesAt(spark: SparkSession, base: String,
                        version: Long): Seq[Entry] =
    new Snapshot(spark, base, version).entries

  /** Manifest entries of version `v` — what lets the table-feed stream
    * serve a bootstrap batch DIRECTLY from the version's immutable pool
    * files (with their vectors) instead of copying the snapshot. */
  private[graft] def entriesAtVersion(spark: SparkSession, base: String,
                                      v: Long): Seq[Entry] =
    entriesAt(spark, base, v)

  private def metaDf(spark: SparkSession, m: Meta): DataFrame = {
    import spark.implicits._
    Seq((m.schemaJson, m.key, m.statsCols.mkString(","),
      m.colMap.map { case (l, p) => s"$l=$p" }.mkString(";"),
      m.physUsed.mkString(";"), m.retain, encChecks(m.checks), m.idHwm))
      .toDF("schemaJson", "key", "statsCols", "colMap", "physUsed",
        "retain", "checks", "idHwm")
  }

  /** Parsed-Meta cache. A committed version's meta is IMMUTABLE, but a
    * (base, version) pair is not a durable identity — DROP TABLE +
    * re-CREATE reuses v0 — so entries key on the version's writer TOKEN
    * ([[AtomicPublish.Seal]]), unique per version creation. The hit path
    * replaces a Spark parquet job with the seal read the [[Snapshot]]
    * makes anyway; every SQL statement consults the meta several times
    * (schema, key, mapping, retention), so the constant matters at
    * statement cadence. Bounded by wholesale clear — the entries are a
    * few hundred bytes, the bound is a leak guard, not an eviction
    * policy. */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, String), Meta]()

  /** The table metadata of committed version `v`. Fails with
    * [[VersionNotPublishedException]] when `v` is pruned or was never
    * sealed. */
  private[graft] def metaAt(spark: SparkSession, base: String, v: Long): Meta =
    new Snapshot(spark, base, v).meta

  private def readMeta(df: DataFrame): Meta = {
    val r = df.head()
    Meta(r.getAs[String]("schemaJson"), r.getAs[String]("key"),
      r.getAs[String]("statsCols").split(",").filter(_.nonEmpty).toSeq,
      colMap = r.getAs[String]("colMap").split(";").filter(_.contains("="))
        .map { kv =>
          val i = kv.indexOf('=')
          (kv.substring(0, i), kv.substring(i + 1))
        }.toSeq,
      physUsed = r.getAs[String]("physUsed").split(";")
        .filter(_.nonEmpty).toSeq,
      retain = r.getAs[Int]("retain"),
      checks = decChecks(r.getAs[String]("checks")),
      idHwm = r.getAs[Long]("idHwm"))
  }

  /** The EFFECTIVE retention for a write: the per-call argument deepened
    * to the table-level floor ([[Meta.retain]]). */
  private def effRetain(m: Meta, retain: Int): Int = math.max(retain, m.retain)

  /** The committed table metadata (schema / key / stats columns); None
    * when nothing is committed under `base` or its head is not a cow
    * table version (it holds no `meta`). */
  private[graft] def meta(spark: SparkSession, base: String): Option[Meta] = {
    val v = AtomicPublish.committed(spark, base)
    if (v < 0) None
    else {
      val head = new Snapshot(spark, base, v)
      if (head.seal.members.contains("meta")) Some(head.meta) else None
    }
  }

  /** Distributed interval-containment discovery: the manifest rows whose
    * [kmin, kmax] range MAY contain one of `keys` (a one-column frame,
    * cast to long). This replaces the broadcast range join that capped
    * the table at `Bcast.SafeRows` files: both sides are bucketed on a
    * width derived from the manifest's own coverage (span statistics —
    * one O(files) distributed aggregate, four scalars back), the join is
    * a plain shuffled EQUI-join on the bucket id with the exact range
    * containment as a post-condition, and the manifest never leaves the
    * executors. Entries spanning pathologically many buckets (possible
    * only after heavy uncompacted range overlap) are kept as candidates
    * unconditionally — spurious candidates cost a scan, never
    * correctness; [[compact]] restores tight ranges. */
  private def intervalCandidates(mDf: DataFrame, keys: DataFrame): DataFrame =
    bucketCandidates(mDf, col("kmin"), col("kmax"),
      keys.select(col(keys.columns.head).cast("long").as("_gf_kb"),
        col(keys.columns.head).cast("long").as("_gf_kx")),
      exact = (kx, lo, hi) => kx >= lo && kx <= hi,
      exactLo = col("kmin"), exactHi = col("kmax"))

  /** String-key discovery: the same bucket equi-join, but bucketed on an
    * order-preserving 7-byte encoding taken AFTER the manifest-global
    * COMMON PREFIX (computed from the global natural min/max — every key
    * lies between them, so a shared prefix there is shared by all keys;
    * stripping it makes `user_000…`-shaped keys spread across buckets
    * instead of collapsing into one), with EXACT natural-string
    * containment against each file's stored min/max as the
    * post-condition. Files without the key's stats entry are kept
    * unconditionally — spurious candidates cost a scan, never
    * correctness. */
  private def stringCandidates(mDf: DataFrame, keys: DataFrame,
                               key: String): DataFrame = {
    val sLo = element_at(col("smin"), lit(key))
    val sHi = element_at(col("smax"), lit(key))
    val g = mDf.filter(sLo.isNotNull && sHi.isNotNull)
      .agg(min(sLo), max(sHi)).head()
    if (g.isNullAt(0)) // no string stats anywhere: every file a candidate
      return mDf.dropDuplicates("file")
    val lcp = (g.getString(0), g.getString(1)) match {
      case (a, b) =>
        val raw0 = a.zip(b).takeWhile { case (x, y) => x == y }.length
        // never cut inside a surrogate pair: an unpaired high surrogate
        // would UTF-8-encode as a replacement char and break the
        // encoding's order preservation
        val raw =
          if (raw0 > 0 && Character.isHighSurrogate(a.charAt(raw0 - 1)))
            raw0 - 1
          else raw0
        // `raw` counts UTF-16 code units, but Spark's substring counts
        // CODE POINTS: a supplementary char inside the shared prefix
        // would make substring strip past it, breaking the encoding's
        // order preservation (and so discovery's completeness). Convert.
        a.codePointCount(0, raw)
    }
    def encOf(c: Column): Column = KeyEnc.string(substring(c, lcp + 1, 7))
    val unstated = mDf.filter(sLo.isNull || sHi.isNull)
      .select(ManifestCols.map(col): _*)
    bucketCandidates(mDf.filter(sLo.isNotNull && sHi.isNotNull),
      encOf(sLo), encOf(sHi),
      keys.select(col(keys.columns.head).cast("string").as("_gf_kx"))
        .withColumn("_gf_kb", encOf(col("_gf_kx"))),
      exact = (kx, lo, hi) => kx >= lo && kx <= hi,
      exactLo = sLo, exactHi = sHi)
      .unionByName(unstated)
      .dropDuplicates("file")
  }

  /** Manifest rows whose LEADING-key range MAY contain one of `keys` (a
    * one-column frame carrying leading-key values in their NATURAL
    * type) — dispatches on the leading key's type. `statKey` is the
    * leading key's PHYSICAL name (what the stats maps are keyed by). */
  private def discoverCandidates(mDf: DataFrame, keys: DataFrame,
                                 statKey: String,
                                 kDt: org.apache.spark.sql.types.DataType): DataFrame =
    if (isStringKey(kDt)) stringCandidates(mDf, keys, statKey)
    else intervalCandidates(mDf, keys)

  /** TAIL-KEY candidate narrowing: the manifest filter keeping files
    * whose non-leading key-column stats MAY intersect the given bounds.
    * Discovery buckets on the LEADING key's ranges, which is useless
    * when the leading key is low-cardinality (the SCD2 grain
    * `(user_id, effective_from)` — one user, many versions: every file
    * holding the user is a leading-range candidate). But [[writePool]]
    * records per-file min/max for every non-leading key column, and a
    * file whose tail range cannot intersect the SOURCE's tail hull
    * cannot hold a row matching any source tuple — the full-tuple row
    * identity proves it. Each entry is (physical stats-map name, natural
    * type, source lo, source hi); a missing stats entry keeps the file —
    * conservative, never correctness. A current file can lack one: the
    * stats set grows ([[compactZorder]] adds its columns, [[addColumns]]
    * adds columns), and files written before keep their old maps. */
  private def tailMayIntersect(
      bounds: Seq[(String, org.apache.spark.sql.types.DataType, Any, Any)]): Column =
    bounds.collect { case (pn, dt, lo, hi) if lo != null && hi != null =>
      coalesce(element_at(col("smax"), lit(pn)).cast(dt) >= lit(lo) &&
        element_at(col("smin"), lit(pn)).cast(dt) <= lit(hi), lit(true))
    }.reduceOption(_ && _).getOrElse(lit(true))

  /** The source's tail-column hull: one aggregate over the (checkpointed)
    * key frame, min/max per non-leading key column in its natural type.
    * `nameOf` maps a key column to the frame's column carrying it. */
  private def tailBoundsOf(frame: DataFrame, ks: Seq[String],
                           nameOf: String => String,
                           dtOf: String => org.apache.spark.sql.types.DataType,
                           phys: String => String
                          ): Seq[(String, org.apache.spark.sql.types.DataType, Any, Any)] =
    if (ks.size <= 1) Nil
    else {
      val aggs = ks.tail.flatMap(k => Seq(
        min(col(nameOf(k)).cast(dtOf(k))), max(col(nameOf(k)).cast(dtOf(k)))))
      val r = frame.agg(aggs.head, aggs.tail: _*).head()
      ks.tail.zipWithIndex.map { case (k, i) =>
        (phys(k), dtOf(k), r.get(2 * i), r.get(2 * i + 1))
      }
    }

  /** Distributed interval-containment discovery over LONG bounds
    * (`loC`/`hiC` evaluated per manifest row; `keys` carries `_gf_kb`,
    * the long bucket key, and `_gf_kx`, the exact-comparison key):
    * both sides are bucketed on a width derived from the manifest's own
    * coverage (span statistics — one O(files) distributed aggregate,
    * four scalars back), the join is a plain shuffled EQUI-join on the
    * bucket id with the exact range containment as a post-condition,
    * and the manifest never leaves the executors. Entries spanning
    * pathologically many buckets (possible only after heavy uncompacted
    * range overlap) are kept as candidates unconditionally — spurious
    * candidates cost a scan, never correctness; [[compact]] restores
    * tight ranges. */
  private def bucketCandidates(mDf: DataFrame, loC: Column, hiC: Column,
                               keys: DataFrame,
                               exact: (Column, Column, Column) => Column,
                               exactLo: Column, exactHi: Column): DataFrame = {
    val withB = mDf.withColumn("_gf_lo", loC).withColumn("_gf_hi", hiC)
      .withColumn("_gf_xlo", exactLo).withColumn("_gf_xhi", exactHi)
    val live = withB.filter(col("_gf_hi") >= col("_gf_lo"))
    // SMALL-MANIFEST fast path: when the manifest is already a local
    // relation (a [[manifestCache]] hit — ≤ ManifestCacheMaxEntries rows
    // by construction, and Catalyst's ConvertToLocalRelation folds the
    // Project/Filter above it, so `collect()` below launches NO job),
    // the span statistics + bucket-explode + shuffled equi-join below
    // collapse to ONE broadcast HASH join: the same bucket ids are
    // computed driver-side, each entry is exploded into its covered
    // buckets as a local relation, and the key side equi-joins on the
    // bucket id with the identical exact-containment post-condition —
    // a BroadcastHashJoin (hash probe per key row), never a
    // BroadcastNestedLoopJoin (16k range checks per key row). The
    // bucket join remains the unbounded path for manifests too large to
    // cache — scale-adaptive, not a local-mode constant.
    val isLocal = mDf.queryExecution.logical.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    if (isLocal) {
      val rows = live.collect() // LocalRelation: served driver-side
      if (rows.isEmpty) return mDf.limit(0)
      val iLo = live.schema.fieldIndex("_gf_lo")
      val iHi = live.schema.fieldIndex("_gf_hi")
      var lo = Long.MaxValue; var hi = Long.MinValue; var cov = 0.0
      rows.foreach { r =>
        val l = r.getLong(iLo); val h = r.getLong(iHi)
        if (l < lo) lo = l
        if (h > hi) hi = h
        cov += (h - l).toDouble + 1.0
      }
      // the r15 behaviour for layouts the bucket scheme cannot handle
      // (span overflow / pathological overlap) stays available as the
      // bounded broadcast RANGE join — rows.length is the proven bound
      def rangeJoin(): DataFrame =
        keys.join(graft.Bcast.ifBounded(live, rows.length.toLong),
            exact(col("_gf_kx"), col("_gf_xlo"), col("_gf_xhi")))
          .select(ManifestCols.map(col): _*)
          .dropDuplicates("file")
      if (BigInt(hi) - BigInt(lo) >= BigInt(Long.MaxValue) / 2)
        return rangeJoin()
      val w = math.max(1L, math.ceil(cov / math.max(1, 8 * rows.length)).toLong)
      val wBits =
        if (w <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(w - 1)
      val (wideRows, narrowRows) = rows.partition { r =>
        ((r.getLong(iHi) - lo) >> wBits) - ((r.getLong(iLo) - lo) >> wBits) > 4096
      }
      val exploded = narrowRows.iterator.map { r =>
        ((r.getLong(iHi) - lo) >> wBits) - ((r.getLong(iLo) - lo) >> wBits) + 1
      }.sum
      if (exploded > graft.Bcast.SafeRows) return rangeJoin()
      val spark = mDf.sparkSession
      import scala.jdk.CollectionConverters._
      val explSchema = live.schema
        .add("_gfb", org.apache.spark.sql.types.LongType, nullable = false)
      val explRows = narrowRows.flatMap { r =>
        val bl = (r.getLong(iLo) - lo) >> wBits
        val bh = (r.getLong(iHi) - lo) >> wBits
        (bl to bh).map(b => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ b))
      }
      val nDf = spark.createDataFrame(explRows.toSeq.asJava, explSchema)
      val wideDf = spark
        .createDataFrame(wideRows.toSeq.asJava, live.schema)
        .select(ManifestCols.map(col): _*)
      val kDf = keys.withColumn("_gfb", shiftright(col("_gf_kb") - lit(lo), wBits))
      return kDf.join(graft.Bcast.ifBounded(nDf, exploded), Seq("_gfb"))
        .where(exact(col("_gf_kx"), col("_gf_xlo"), col("_gf_xhi")))
        .select(ManifestCols.map(col): _*)
        .unionByName(wideDf)
        .dropDuplicates("file")
    }
    val agg = live.agg(min("_gf_lo"), max("_gf_hi"), count(lit(1)),
      sum((col("_gf_hi") - col("_gf_lo")).cast("double") + 1.0)).head()
    if (agg.isNullAt(0)) return mDf.limit(0)
    val lo = agg.getLong(0)
    val hi = agg.getLong(1)
    val n = agg.getLong(2)
    val cov = agg.getDouble(3)
    require(BigInt(hi) - BigInt(lo) < BigInt(Long.MaxValue) / 2,
      s"key span [$lo, $hi] too wide for interval bucketing")
    // bucket width: a power of two near coverage/(8·files), so a tight
    // layout explodes each entry into ~9 buckets (O(files) exploded
    // rows) and the bucket id is an exact integer shift — no double
    // division anywhere near 2^53
    val w = math.max(1L, math.ceil(cov / math.max(1L, 8L * n)).toLong)
    val wBits = if (w <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(w - 1)
    def bucketOf(c: Column): Column = shiftright(c - lit(lo), wBits)
    val b = live
      .withColumn("_gfb_lo", bucketOf(col("_gf_lo")))
      .withColumn("_gfb_hi", bucketOf(col("_gf_hi")))
    val wide = b.filter(col("_gfb_hi") - col("_gfb_lo") > 4096)
      .select(ManifestCols.map(col): _*)
    val narrow = b.filter(col("_gfb_hi") - col("_gfb_lo") <= 4096)
      .withColumn("_gfb", explode(sequence(col("_gfb_lo"), col("_gfb_hi"))))
    // the shuffled join pays per key row, so dedup the keys first (the
    // broadcast probe above pays one hash lookup per key row)
    val kDf = keys.distinct().withColumn("_gfb", bucketOf(col("_gf_kb")))
    narrow.join(kDf, Seq("_gfb"))
      .where(exact(col("_gf_kx"), col("_gf_xlo"), col("_gf_xhi")))
      .select(ManifestCols.map(col): _*)
      .unionByName(wide)
      .dropDuplicates("file")
  }

  /** `_metadata.file_path` with the scheme stripped — the row's physical
    * file in the manifest's stored form, paired with `row_index` to
    * address a row without any table-level id. */
  private def lineageCols(df: DataFrame): DataFrame = df
    .withColumn("_gf_file",
      regexp_replace(col("_metadata.file_path"), "^file:/+", "/"))
    .withColumn("_gf_pos", col("_metadata.row_index"))

  /** A deletion vector inline: `ps`, a file's sorted deleted row
    * positions, as a portable roaring bitmap. This and [[decodeVector]]
    * are the only code that knows the format; everything else sees
    * positions. */
  private def encodeVector(ps: Array[Long]): Array[Byte] = {
    val b = org.roaringbitmap.longlong.Roaring64NavigableMap.bitmapOf(ps: _*)
    b.runOptimize()
    val out = new java.io.ByteArrayOutputStream()
    b.serializePortable(new java.io.DataOutputStream(out)) // unbuffered
    out.toByteArray
  }

  /** The sorted positions `dv` holds, checked against the entry's
    * `dvRows` (bytes read from disk: a mismatch is a corrupt manifest). */
  private def decodeVector(file: String, dv: Array[Byte],
                           dvRows: Long): Array[Long] = {
    val b = new org.roaringbitmap.longlong.Roaring64NavigableMap()
    b.deserializePortable(
      new java.io.DataInputStream(new java.io.ByteArrayInputStream(dv)))
    require(b.getLongCardinality == dvRows,
      s"deletion vector of $file holds ${b.getLongCardinality} positions, " +
        s"its manifest entry says $dvRows")
    b.toArray
  }

  /** The sorted row positions each (file, dv, dvRows) manifest triple's
    * vector voids, by file; vector-free files are absent. No I/O: each
    * vector is its entry's own bytes. */
  private[graft] def voided(
      files: Seq[(String, Array[Byte], Long)]): Map[String, Array[Long]] =
    files.collect { case (f, dv, n) if dv.nonEmpty =>
      f -> decodeVector(f, dv, n)
    }.toMap

  /** Runs `body` with its Spark jobs described `cow: <name>`: the
    * phases (discovery, lineage scan, positions, pool write, commit) of
    * the row-level writers. */
  private def phase[T](spark: SparkSession, name: String)(body: => T): T =
    graft.JobLabel(spark, s"cow: $name")(body)

  /** Each file's positions among `hits` (`file`, `pos`), in ONE job:
    * each task gathers its rows' positions per file and the driver
    * concatenates the per-task arrays — no shuffle stage, which costs a
    * `groupBy` a second job. */
  private def positionsOf(hits: DataFrame): Map[String, Array[Long]] =
    phase(hits.sparkSession, "positions") {
      import hits.sparkSession.implicits._
      hits.select("file", "pos").as[(String, Long)].mapPartitions { rows =>
        val by = scala.collection.mutable.HashMap.empty[String,
          scala.collection.mutable.ArrayBuilder.ofLong]
        rows.foreach { case (f, p) =>
          by.getOrElseUpdate(f, new scala.collection.mutable.ArrayBuilder.ofLong) += p
        }
        by.iterator.map { case (f, b) => (f, b.result()) }
      }.collect().groupMapReduce(_._1)(_._2)(_ ++ _)
    }

  /** The one row-level delete, as an [[Edit]]: `byFile` holds the newly
    * deleted live positions of the parent entries `cand`, by file. A
    * file losing every live row (`rows − dvRows`) leaves the manifest.
    * Each kept file gets a new inline vector ([[encodeVector]]) of its
    * old positions ([[voided]]) plus its new ones. No job and no I/O:
    * the positions are already on the driver. */
  private def deleteAt(cand: Seq[Entry],
                       byFile: Map[String, Array[Long]]): Edit = {
    val (emptied, kept) = cand.filter(e => byFile.contains(e.file))
      .partition(e => byFile(e.file).length == e.rows - e.dvRows)
    val old = voided(kept.map(_.triple)).withDefaultValue(Array.emptyLongArray)
    Edit(removed = emptied.map(_.file).toSet, vectors = kept.map { e =>
      val ps = (old(e.file) ++ byFile(e.file)).sorted
      e.file -> NewVector(encodeVector(ps), ps.length.toLong)
    }.toMap)
  }

  /** The live rows of `p` whose FULL key tuple `ks` equals a row of
    * `keys` (`_gfk_0`, `_gfk_1`, … in the key columns' types): the
    * candidates of the leading-key discovery ([[keyCandidates]]) narrowed
    * by the tail hull ([[tailMayIntersect]]), and the rows of one lineage
    * scan of them, left-semi joined on the tuple, as (`file`, `pos`,
    * `_gfk_*`). None (and no scan) when nothing is a candidate. */
  private def livePositions(spark: SparkSession, p: Snapshot, ks: Seq[String],
                            keys: DataFrame): Option[(Seq[Entry], DataFrame)] = {
    val gfk = ks.indices.map(i => s"_gfk_$i")
    def dtOf(k: String) = p.schema(k).dataType
    val cand = phase(spark, "discovery")(collectEntries(
      keyCandidates(p, keys, ks.head).filter(tailMayIntersect(tailBoundsOf(
        keys, ks, k => gfk(ks.indexOf(k)), dtOf, p.meta.phys))))) // footprint-bounded
    Option.when(cand.nonEmpty)((cand, scanEntries(spark, cand, lineage = true,
        schema = p.schema, colMap = p.colMap)
      .select(col("_gf_file").as("file") +: col("_gf_pos").as("pos") +:
        ks.zip(gfk).map { case (k, g) => col(k).cast(dtOf(k)).as(g) }: _*)
      .join(keys.select(gfk.map(col): _*), gfk, "left_semi")))
  }

  /** Live rows of `entries`: the raw pool scan minus each file's
    * voided positions ([[voided]]), anti-joined as a local frame of
    * (file, pos) — exactly the manifest's dvRows total, so it is
    * broadcast whenever that total proves it bounded. With `lineage` the
    * (file, position) address columns are kept for callers that find
    * positions to delete or files to discover. `schema` (the table
    * meta's, made nullable) makes the scan SCHEMA-EVOLUTION-aware: pool files
    * written before a column was added simply yield NULL for it — a
    * footer-inferred read of a mixed-schema file list would silently
    * adopt one file's footer. */
  private def scanEntries(spark: SparkSession, entries: Seq[Entry],
                          lineage: Boolean = false,
                          schema: org.apache.spark.sql.types.StructType,
                          colMap: Map[String, String]): DataFrame = {
    require(entries.nonEmpty, "scanEntries on an empty manifest")
    // pool files carry PHYSICAL column names; the caller's schema is
    // LOGICAL — read physical, rename back (identity when unmapped)
    val mapped = schema.fields.exists(f => colMap.contains(f.name))
    val reader = spark.read.schema(
      org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        f.copy(name = colMap.getOrElse(f.name, f.name), nullable = true))))
    val raw0 = lineageCols(reader.parquet(entries.map(_.file): _*))
    val raw =
      if (!mapped) raw0
      else raw0.select(schema.fields.map(f =>
        col(colMap.getOrElse(f.name, f.name)).as(f.name)).toIndexedSeq ++
        Seq(col("_gf_file"), col("_gf_pos")): _*)
    val dvd = entries.filter(_.dv.nonEmpty)
    val live =
      if (dvd.isEmpty) raw
      else {
        import spark.implicits._
        val dv = voided(dvd.map(_.triple)).toSeq
          .flatMap { case (f, ps) => ps.map(f -> _) }.toDF("file", "pos")
        raw.join(graft.Bcast.ifBounded(dv, dvd.map(_.dvRows).sum),
          raw("_gf_file") === dv("file") && raw("_gf_pos") === dv("pos"),
          "left_anti")
      }
    if (lineage) live else live.drop("_gf_file", "_gf_pos")
  }

  /** Create the table from `df` as version 0. `statsCols` declares the
    * columns [[writePool]] records per-file min/max for — the manifest
    * statistics that let predicate operations ([[deleteWhere]],
    * [[dvDelete]]) prune their discovery scans instead of reading the
    * whole table. */
  def create(spark: SparkSession, base: String, df: DataFrame, key: String,
             numFiles: Int, retain: Int = 1,
             statsCols: Seq[String] = Nil): Long = {
    // every column name may later enter the mapping's `physUsed`
    // reservation (dropColumn appends the physical name verbatim), so
    // the separator guard applies at BIRTH, not just when entries mint
    df.schema.fieldNames.foreach(requireMappableName)
    val entries = writePool(spark, base, df, key, numFiles, statsCols)
    publishFirst(spark, base, entries,
      Meta(df.schema.json, key, statsCols, retain = retain), Nil, "CREATE")
  }

  /** DDL-style creation of an EMPTY table: version 0 is a zero-entry
    * manifest carrying only the meta (schema / clustering key / stats
    * columns). Backs the SQL `CREATE TABLE` path of
    * [[graft.sources.GraftCatalog]] — the first `INSERT INTO` / merge
    * populates it. */
  def createEmpty(spark: SparkSession, base: String,
                  schema: org.apache.spark.sql.types.StructType, key: String,
                  statsCols: Seq[String] = Nil, retain: Int = 1): Long = {
    splitKeys(key).foreach(k => require(schema.fieldNames.contains(k),
      s"clustering key column `$k` is not a column of the table schema"))
    schema.fieldNames.foreach(requireMappableName) // see create
    // exclusive: fails once another creator has committed or even just
    // claimed v0, so two racing CREATE TABLEs cannot both succeed
    publishFirst(spark, base, Nil,
      Meta(schema.json, key, statsCols, retain = retain), Nil, "CREATE",
      exclusive = true)
  }

  /** The committed head as a [[Snapshot]]. */
  private def headSnapshot(spark: SparkSession, base: String): Snapshot = {
    val v = AtomicPublish.committed(spark, base)
    require(v >= 0, s"no committed version under $base")
    new Snapshot(spark, base, v)
  }

  /** The live rows of `s` in its data schema — the version's `meta`
    * preserves the schema even when every row (and so every pool file)
    * is gone. */
  private def scan(spark: SparkSession, s: Snapshot): DataFrame =
    if (s.entries.isEmpty) spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), s.schema)
    else scanEntries(spark, s.entries, schema = s.schema, colMap = s.colMap)

  /** Scan of the committed snapshot (manifest-resolved file list). */
  def read(spark: SparkSession, base: String): DataFrame =
    scan(spark, headSnapshot(spark, base))

  /** Manifest of the committed snapshot. */
  def manifest(spark: SparkSession, base: String): Seq[Entry] =
    entriesAt(spark, base, AtomicPublish.committed(spark, base))

  /** Time-travel snapshot: the table AS OF `version`, read through that
    * version's deletion vectors. Only retained versions are readable: a
    * pruned or partial version fails fast with
    * [[VersionNotPublishedException]].
    */
  def readAt(spark: SparkSession, base: String, version: Long): DataFrame =
    scan(spark, new Snapshot(spark, base, version))

  /** The discovery join of `keys` (first column) against `s`'s manifest:
    * the manifest entries whose key range MAY contain one of them. */
  private def keyCandidates(s: Snapshot, keys: DataFrame,
                            key: String): DataFrame = {
    val lead = splitKeys(key).head
    val kDt = s.schema.fields.find(_.name == lead).map(_.dataType)
      .getOrElse(keyType(keys, keys.columns.head))
    discoverCandidates(s.frame, keys.select(col(keys.columns.head).cast(kDt)),
      s.colMap.getOrElse(lead, lead), kDt)
  }

  /** The DISCOVERY frame itself, un-collected — the exact subtree
    * merge/applyDelta/readForKeys evaluate to find affected files — for
    * plan-evidence tooling ([[graft.tools.ExplainDiscovery]]): the
    * committed-manifest cache decides whether the plan is the broadcast
    * hash fast path (cache hit) or the distributed bucket join. */
  private[graft] def discoveryFrame(spark: SparkSession, base: String,
                                    keys: DataFrame, key: String): DataFrame =
    keyCandidates(headSnapshot(spark, base), keys, key)

  /** Point-lookup read: snapshot rows whose key range MAY contain one of
    * `keys` (first column, cast long) — the merge discovery reused as a
    * reader, so a k-key probe scans only the intersecting files, never
    * the table (and, via [[intervalCandidates]], never broadcasts or
    * driver-materializes the manifest). */
  def readForKeys(spark: SparkSession, base: String, keys: DataFrame,
                  key: String): DataFrame = {
    val s = headSnapshot(spark, base)
    val hit = collectEntries(keyCandidates(s, keys, key)) // probe footprint
    if (hit.isEmpty) scan(spark, s).limit(0) // schema-only frame
    else scanEntries(spark, hit, schema = s.schema, colMap = s.colMap)
  }

  /** Txn-stamp cache — same immutable-version identity as [[metaCache]]
    * (writer token), same reason: every commit re-reads the PARENT's txn
    * table to carry the stamps forward, a parquet job per commit that
    * the committing JVM already holds in memory ([[commitChange]]
    * primes the version it just wrote). */
  private val txnCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, String), Seq[(String, Long)]]()

  /** Highest batch id the named stream committed into this table, −1 if
    * none — the replay-idempotence stamp of [[exactlyOnceMerge]]. */
  def lastTxn(spark: SparkSession, base: String, stream: String): Long = {
    val v = AtomicPublish.committed(spark, base)
    if (v < 0) -1L else stampOf(new Snapshot(spark, base, v), stream)
  }

  private def stampOf(s: Snapshot, stream: String): Long =
    s.txns.collect { case (x, b) if x == stream => b }.foldLeft(-1L)(math.max)

  /** The datasets of one version: the manifest (a DataFrame — never
    * materialized on the driver), the meta table and, once any stream
    * has stamped the table, the txn table. The txn table is O(streams):
    * collected and rewritten wholesale each version. */
  private def versionDatasets(spark: SparkSession, manifest: DataFrame,
                              meta: Meta, txns: Seq[(String, Long)]
                             ): Seq[(String, DataFrame)] = {
    import spark.implicits._
    Seq("manifest" -> manifest, "meta" -> metaDf(spark, meta)) ++
      (if (txns.isEmpty) Seq.empty
       else Seq("txn" -> txns.toDF("stream", "batch")))
  }

  /** Publish a new table's version 0 and prime its caches — the
    * bootstrap of [[create]], [[createEmpty]] and [[exactlyOnceMerge]].
    * An `exclusive` bootstrap claims `v0` only, and fails when another
    * writer has committed or claimed it. */
  private def publishFirst(spark: SparkSession, base: String,
                           entries: Seq[Entry], m: Meta,
                           txns: Seq[(String, Long)], op: String,
                           exclusive: Boolean = false): Long = {
    val token = java.util.UUID.randomUUID().toString
    val v = AtomicPublish.publishAs(spark, base,
      versionDatasets(spark, entriesDf(spark, entries), m, txns),
      m.retain, Some(op), token, first = exclusive).getOrElse(
      throw new IllegalArgumentException(s"cow table already exists under $base"))
    prime(base, v, token, Some(entries), m, txns)
    v
  }

  private def putBounded[V](cache: java.util.concurrent.ConcurrentHashMap[(String, Long, String), V],
                            k: (String, Long, String), v: V, max: Int): Unit = {
    if (cache.size > max) cache.clear()
    cache.put(k, v)
  }

  /** WRITE-THROUGH cache priming for version `v`, which this JVM just
    * committed sealed with `token`: the committing statement already
    * holds the version's manifest entries (when it built them as a local
    * list), its parsed meta and its txn stamps — re-reading any of them
    * later as a parquet job is pure re-derivation of in-memory state
    * (guide §1.2). Keys are the same durable (base, version,
    * writer-token) identity the read-side caches populate on miss, and
    * the writer minted the token, so priming reads nothing. Entries stay
    * bounded by the manifest-cache ceiling, so no driver-memory ceiling
    * is introduced at 100 TB. */
  private def prime(base: String, v: Long, token: String,
                    entries: Option[Seq[Entry]], meta: Meta,
                    txns: Seq[(String, Long)]): Unit = {
    val k = (norm(base), v, token)
    putBounded(metaCache, k, meta, 4096)
    putBounded(txnCache, k, txns, 4096)
    entries.filter(_.size <= ManifestCacheMaxEntries)
      .foreach(putBounded(manifestCache, k, _, 1024))
  }

  /** One committed version, resolved from its seal: the seal is read
    * once and names the version's writer token (the key of the
    * immutable-version caches) and its members. Each other part is
    * resolved lazily and at most once, so a reader or writer pays only
    * for what it reads. `cached` is the entry list when the manifest is
    * small enough to cache ([[ManifestCacheMaxBytes]] on disk,
    * [[ManifestCacheMaxEntries]] rows); `frame` is the manifest as a
    * DataFrame either way — a local relation over `cached`, else the
    * distributed parquet scan, never enumerated on the driver. A
    * version that is pruned or was never sealed fails on its first use
    * with [[VersionNotPublishedException]]. */
  private final class Snapshot(spark: SparkSession, base: String,
                               val version: Long) {
    lazy val seal: AtomicPublish.Seal = AtomicPublish.seal(spark, base, version)
    def key: (String, Long, String) = (norm(base), version, seal.token)
    private def member(name: String): DataFrame =
      spark.read.parquet(s"$base/v$version/$name")
    lazy val cached: Option[Seq[Entry]] =
      Option(manifestCache.get(key)).orElse {
        val small = try fsOf(spark, base)
          .listStatus(new Path(base, s"v$version/manifest"))
          .map(_.getLen).sum <= ManifestCacheMaxBytes
        catch { case scala.util.control.NonFatal(_) => false }
        if (!small) None
        else {
          val es = collectEntries(reroot(member("manifest"), base))
          if (es.size > ManifestCacheMaxEntries) None
          else {
            putBounded(manifestCache, key, es, 1024)
            Some(es)
          }
        }
      }
    lazy val frame: DataFrame = cached match {
      case Some(es) => entriesDf(spark, es)
      case None => reroot(member("manifest"), base)
    }
    lazy val entries: Seq[Entry] = cached.getOrElse(collectEntries(frame))
    lazy val meta: Meta = Option(metaCache.get(key)).getOrElse {
      val m = readMeta(member("meta"))
      putBounded(metaCache, key, m, 4096)
      m
    }
    /** (stream id, last applied batch id) stamps; none unless the seal
      * lists a `txn` member. */
    lazy val txns: Seq[(String, Long)] =
      if (!seal.members.contains("txn")) Nil
      else Option(txnCache.get(key)).getOrElse {
        val ts = member("txn").select("stream", "batch")
          .collect() // stream-count bounded
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        putBounded(txnCache, key, ts, 4096)
        ts
      }
    lazy val schema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.DataType.fromJson(meta.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    def colMap: Map[String, String] = meta.physMap
  }

  /** A pool file's new inline deletion vector ([[deleteAt]]) and its
    * cardinality, the entry's new `dvRows`. */
  private case class NewVector(dv: Array[Byte], dvRows: Long)

  /** What one commit attempt changes against its parent. */
  private sealed trait Change

  /** Nothing: the statement's result is the parent version. */
  private case object Unchanged extends Change

  /** The parent's entries without the `removed` files, each file in
    * `vectors` under its new vector, plus `added`. `meta` replaces the
    * parent's meta; `txn` stamps the commit. */
  private case class Edit(removed: Set[String] = Set.empty,
                          added: Seq[Entry] = Nil,
                          vectors: Map[String, NewVector] = Map.empty,
                          meta: Option[Meta] = None,
                          txn: Option[(String, Long)] = None) extends Change

  /** A whole replacement manifest (`entries` when it is a local list);
    * `meta` replaces the parent's meta. */
  private case class Replace(manifest: DataFrame, entries: Option[Seq[Entry]],
                             meta: Option[Meta]) extends Change

  /** Runs in [[commitChange]] once per attempt, right after the parent is
    * resolved, with (base, parent). A no-op; tests set it to land a
    * competing commit inside an attempt. */
  @volatile private[graft] var afterParent: (String, Long) => Unit =
    (_, _) => ()

  /** The commit loop of every cow writer: optimistic concurrency over
    * [[AtomicPublish.tryPublish]]. Each attempt takes the committed head
    * as its parent and runs `attempt` against it, which returns only what
    * it changes. The loop then carries the untouched entries over
    * ([[carryOver]]), carries the parent's txn stamps forward (a
    * compaction or another stream's merge must never erase a writer's
    * idempotence marker), publishes at exactly parent + 1 and primes the
    * new version's caches. A lost CAS re-runs `attempt` against the new
    * head, so no committed change is ever silently dropped; the lost
    * attempt's pool files are left to [[vacuum]].
    *
    * A PRUNE RACE is a conflict too: with `retain = 1` the winner's commit
    * prunes the parent out from under the loser's reads, which then fail
    * before the CAS could report the conflict. Such a failure — a
    * version or file that vanished, told by type ([[vanished]]) — retries
    * when the head has moved past the parent. Any other failure (a CHECK
    * or identity `require`, a [[ConcurrentWriteException]]) propagates at
    * once, so a failing statement never retries forever. Returns the
    * committed version, or the parent when `attempt` changes nothing. */
  @annotation.tailrec
  private def commitChange(spark: SparkSession, base: String, op: String,
                           retain: Int)(attempt: Snapshot => Change): Long = {
    val p = headSnapshot(spark, base)
    val parent = p.version
    afterParent(base, parent)
    def publish(manifest: DataFrame, entries: Option[Seq[Entry]],
                newMeta: Option[Meta],
                txn: Option[(String, Long)]): Option[Long] = {
      val txns = txn.fold(p.txns) { case (s, b) =>
        p.txns.filterNot(_._1 == s) :+ ((s, b))
      }
      val meta = newMeta.getOrElse(p.meta)
      val token = java.util.UUID.randomUUID().toString
      val v = AtomicPublish.tryPublish(spark, base,
        versionDatasets(spark, manifest, meta, txns),
        effRetain(meta, retain), parent, Some(op), token)
      v.foreach(prime(base, _, token, entries, meta, txns))
      v
    }
    val committed =
      try {
        attempt(p) match {
          case Unchanged => Some(parent)
          case e: Edit =>
            val (manifest, entries) = carryOver(spark, p, e)
            publish(manifest, entries, e.meta, e.txn)
          case r: Replace => publish(r.manifest, r.entries, r.meta, None)
        }
      } catch {
        case scala.util.control.NonFatal(e)
            if vanished(e) && AtomicPublish.committed(spark, base) != parent =>
          None
      }
    committed match {
      case Some(v) => v
      case None => commitChange(spark, base, op, retain)(attempt)
    }
  }

  /** The parent's entries under `e`: the removed files dropped, each
    * vectored file under its new vector, the added entries appended.
    * A cached entry list makes this a driver pass and the result an
    * entry list (which primes the new version's cache); a manifest too
    * large to cache is carried by joins, never enumerated on the
    * driver. */
  private def carryOver(spark: SparkSession, p: Snapshot,
                        e: Edit): (DataFrame, Option[Seq[Entry]]) = {
    import spark.implicits._
    p.cached match {
      case Some(es) =>
        val all = es.filterNot(x => e.removed.contains(x.file)).map(x =>
          e.vectors.get(x.file).fold(x)(v =>
            x.copy(dv = v.dv, dvRows = v.dvRows))) ++
          e.added
        (entriesDf(spark, all), Some(all))
      case None =>
        val kept =
          if (e.removed.isEmpty) p.frame
          else p.frame.join(e.removed.toSeq.toDF("file"), Seq("file"),
            "left_anti")
        val vectored =
          if (e.vectors.isEmpty) kept
          else kept.join(e.vectors.toSeq.map { case (f, v) =>
              (f, v.dv, v.dvRows)
            }.toDF("file", "_gf_dv", "_gf_n"), Seq("file"), "left")
            .withColumn("dv", coalesce(col("_gf_dv"), col("dv")))
            .withColumn("dvRows", coalesce(col("_gf_n"), col("dvRows")))
            .select(ManifestCols.map(col): _*)
        (if (e.added.isEmpty) vectored
         else vectored.unionByName(entriesDf(spark, e.added)), None)
    }
  }

  /** Whether `e`, or one of its causes, says a version or a file
    * vanished — the shape of a retention prune race. Told by type only:
    * [[VersionNotPublishedException]], `FileNotFoundException`, or
    * Spark's `PATH_NOT_FOUND` condition. */
  private def vanished(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).exists {
      case _: VersionNotPublishedException |
           _: java.io.FileNotFoundException => true
      case t: org.apache.spark.SparkThrowable =>
        t.getCondition == "PATH_NOT_FOUND"
      case _ => false
    }

  /** MERGE: `source` carries full-width rows plus a boolean `_delete`
    * column (absent ⇒ all upserts). Every live row matching a source row
    * on the FULL key tuple is deleted by position ([[livePositions]],
    * [[deleteAt]]) — vectored, or its file removed once it holds no
    * live row — and the upserts land in one new pool file; no live row
    * is read and written back. Each attempt of [[commitChange]] finds
    * the matches against its own parent, so a lost commit recomputes
    * against the new head.
    *
    * `beforeCommit` is a test seam (fires once per attempt, before the
    * CAS) — production callers leave the default no-op.
    */
  def merge(spark: SparkSession, base: String, source: DataFrame,
            key: String, retain: Int = 1,
            beforeCommit: () => Unit = () => (),
            txn: Option[(String, Long)] = None): Long = {
    val src = (if (source.columns.contains("_delete")) source
               else source.withColumn("_delete", lit(false)))
      // LAZY: evaluated once across retries and scans — the first
      // attempt's discovery (a parallel pass over the source keys)
      // materializes it, so no separate eager-checkpoint job is paid
      .localCheckpoint(eager = false)
    phase(spark, "commit")(commitChange(spark, base, "MERGE", retain) { p =>
      // a replayed batch — the parent already carries its stream's stamp
      // at or past it — changes nothing; read inside the attempt, so a
      // parent pruned under the read retries instead of reading no stamp
      if (txn.exists { case (s, b) => stampOf(p, s) >= b }) Unchanged
      else {
        // ADDITIVE schema evolution: a source carrying columns the table
        // lacks widens the schema — old pool files stay untouched and
        // read back NULL for the new columns (the scan is meta-schema
        // driven), new files carry them, and the committed meta records
        // the widened shape. A source MISSING table columns is rejected
        // (a full-row MERGE replace would silently null existing data).
        val ts = p.schema
        val srcSchema = org.apache.spark.sql.types.StructType(
          src.schema.fields.filterNot(_.name == "_delete"))
        val missing = ts.fieldNames.filterNot(srcSchema.fieldNames.contains)
        require(missing.isEmpty,
          s"merge source is missing table columns ${missing.mkString(", ")}" +
            " — schema evolution only ADDS columns")
        val parentMeta = p.meta
        val extra = srcSchema.fields
          .filterNot(f => ts.fieldNames.contains(f.name))
          .map(_.copy(nullable = true))
        val evolved = org.apache.spark.sql.types.StructType(ts.fields ++ extra)
        // evolution under column mapping: each NEW column gets a fresh
        // PHYSICAL name (a dropped/renamed predecessor's physical name
        // must not be resurrected from old files)
        val evolvedMeta: Option[Meta] =
          if (extra.isEmpty) None
          else Some(extra.foldLeft(parentMeta) { (m2, f) =>
            requireMappableName(f.name)
            val p0 = freshPhys(m2, ts, f.name)
            m2.copy(
              colMap = if (p0 == f.name) m2.colMap
                       else m2.colMap :+ (f.name -> p0),
              physUsed = (m2.physUsed :+ p0).distinct)
          }.copy(schemaJson = evolved.json))
        // every live row a source row matches, on the full key tuple —
        // replaced (an upsert) or dropped (`_delete`) alike
        val ks = splitKeys(key)
        val matched = livePositions(spark, p, ks,
          src.select(ks.zipWithIndex.map { case (k, i) =>
            col(k).cast(ts(k).dataType).as(s"_gfk_$i")
          }: _*))
        // the upserts before any vector, so a CHECK or identity refusal
        // fails the statement with nothing else written; one task gathers
        // them from the checkpoint discovery materialized (an empty table
        // has no discovery, and the task computes the source itself)
        val newEntries = writePool(spark, base,
          src.filter(!col("_delete")).drop("_delete"), key, numFiles = 1,
          parentMeta.statsCols, colMap = evolvedMeta.getOrElse(parentMeta).physMap,
          checks = parentMeta.checks, gens = gensOf(parentMeta),
          idNotNull = identityOf(parentMeta).map(_._1), gathered = true)
        val deleted = matched.fold(Edit()) { case (cand, rows) =>
          deleteAt(cand, positionsOf(rows))
        }
        beforeCommit()
        deleted.copy(added = newEntries, meta = evolvedMeta, txn = txn)
      }
    })
  }

  /** INSERT-style append: `df` becomes `numFiles` new pool files added
    * to the manifest; no existing file is read or touched, and the pool
    * write happens ONCE — only the manifest commit retries on conflict
    * (an append conflicts with nothing row-wise, so no recompute is
    * needed, unlike [[merge]]). Backs the SQL `INSERT INTO` path of
    * [[graft.sources.GraftCatalog]]. */
  def append(spark: SparkSession, base: String, df: DataFrame,
             numFiles: Int = 1, retain: Int = 1): Long = {
    val m = meta(spark, base).getOrElse(sys.error(
      s"no table meta under $base — append needs a created cow table"))
    if (identityOf(m).isDefined)
      return appendWithIdentity(spark, base, df, numFiles, retain)
    val newEntries = writePool(spark, base, df, m.key, numFiles, m.statsCols,
      colMap = m.physMap, checks = m.checks, gens = gensOf(m))
    commitChange(spark, base, "APPEND", retain)(_ => Edit(added = newEntries))
  }

  /** Append to a table with an IDENTITY column: generated values derive
    * from the committed meta's high-water mark, so — unlike the plain
    * append, whose pool files are written once outside the commit loop —
    * assignment AND the pool write are part of each attempt: a concurrent
    * commit invalidates the reserved range (two writers reading the same
    * hwm would mint the same ids), the loser re-reads the new mark and
    * re-assigns. A lost attempt's pool files are unreferenced and
    * reclaimed by vacuum. The new hwm commits atomically WITH the rows
    * (same meta payload, same CAS) — no window where values are visible
    * but the mark is stale. */
  private def appendWithIdentity(spark: SparkSession, base: String,
                                 df: DataFrame, numFiles: Int,
                                 retain: Int): Long = {
    val src = df.localCheckpoint() // one evaluation across retries
    commitChange(spark, base, "APPEND", retain) { p =>
      val m = p.meta
      val id = identityOf(m).get
      val (assigned, newHwm) = assignIdentity(spark, src, id, m.idHwm)
      val newEntries = writePool(spark, base, assigned, m.key, numFiles,
        m.statsCols, colMap = m.physMap, checks = m.checks,
        gens = gensOf(m))
      Edit(added = newEntries, meta = Some(m.copy(idHwm = newHwm)))
    }
  }

  /** DELETE WHERE: deletes the live rows `pred` holds TRUE for by
    * position ([[deleteAt]]); a NULL-evaluating row survives, as in SQL.
    * Discovery is PRUNED from the manifest before any data is read:
    * [[StatsPrune]] translates the predicate into a manifest-level
    * may-contain filter over the per-file kmin/kmax and the declared
    * stats columns, so a range-correlated delete (a date window on a
    * time-clustered table) scans only the files whose statistics admit
    * a match. `onDiscovery(candidates, total)` reports the prune (a test
    * seam / observability hook); `key` is unused. Returns the committed
    * version (the parent when nothing matched). */
  def deleteWhere(spark: SparkSession, base: String, pred: Column,
                  key: String, retain: Int = 1,
                  onDiscovery: (Long, Long) => Unit = (_, _) => ()): Long =
    deleteMatching(spark, base, pred, retain, Some(onDiscovery))

  /** OPTIMIZE: bin-pack adjacent (by key range) undersized files into
    * ~`targetRows` files. Files already at target — and any group of
    * one — are referenced untouched; only multi-file groups rewrite.
    * Decided entirely from manifest row counts: no data is read to
    * PLAN the compaction, only the rewritten groups are read to DO it.
    *
    * With `zorder` (an ordered column list) the compaction is OPTIMIZE
    * ZORDER BY: every file rewrites, re-clustered along the Morton curve
    * of the named columns ([[graft.ops.Layout.morton]] — each column
    * normalized to the grid via its exact integer table-wide bounds), so
    * per-file min/max stats bound a RECTANGLE in the z-space and a 2-D
    * predicate prunes on both columns (a key-sorted layout prunes on the
    * key alone). The z-columns join the meta's stats set, so the new
    * manifest — and every later write — records their per-file ranges;
    * the clustering KEY stays the row identity (its kmin/kmax ranges may
    * now overlap, degrading key-range pruning in favor of the 2-D
    * skipping — the trade OPTIMIZE ZORDER is). Deletion vectors
    * materialize as in plain compaction.
    */
  def compact(spark: SparkSession, base: String, targetRows: Long,
              key: String, retain: Int = 1,
              zorder: Seq[String] = Nil): Long = {
    if (zorder.nonEmpty) return compactZorder(spark, base, targetRows, key,
      retain, zorder)
    commitChange(spark, base, "COMPACT", retain) { p =>
      // compaction PLANNING is global bin-packing over the sorted entry
      // list — inherently a driver-side pass over O(files) manifest
      // rows (the same metadata every lakehouse OPTIMIZE planner holds;
      // ~100 bytes/entry, so even a 1M-file table plans in ~100 MB).
      // The DOING reads only the rewritten groups.
      val entries = p.entries.sortBy(e => (e.kmin, e.file))
      def liveRows(e: Entry): Long = e.rows - e.dvRows // logical size
      val groups = entries.foldLeft(List.empty[List[Entry]]) {
        case (acc, e) if acc.nonEmpty &&
          acc.head.map(liveRows).sum + liveRows(e) <= targetRows =>
          (e :: acc.head) :: acc.tail
        case (acc, e) => List(e) :: acc
      }.map(_.reverse).reverse
      // rewrite multi-file groups AND any deletion-vectored file:
      // compaction is where merge-on-read debt is repaid, leaving every
      // surviving file vector-free (the DSv2 serving contract)
      val (rewrite, keep) = groups.partition(g =>
        g.size > 1 || g.exists(_.dvRows > 0))
      if (rewrite.isEmpty) Unchanged // already compact
      else {
        // one range-partitioned job over every rewritten group: the write
        // parallelizes across the output files (a per-group loop would
        // serialize on the biggest group) and the re-sort restores tight,
        // non-overlapping key ranges for future manifest pruning
        // meta-schema-driven scan: compaction also MATERIALIZES schema
        // evolution, rewriting old-shape files into the current shape
        val newEntries = writePool(spark, base,
          scanEntries(spark, rewrite.flatten, schema = p.schema,
            colMap = p.colMap), key,
          numFiles = rewrite.size,
          statsCols = p.meta.statsCols,
          colMap = p.colMap)
        val all = keep.flatten ++ newEntries
        Replace(entriesDf(spark, all), Some(all), None)
      }
    }
  }

  /** OPTIMIZE ZORDER BY: rewrite the WHOLE table (re-clustering is
    * global by nature) into ~targetRows files ordered by the Morton code
    * of `zorder`, with those columns' per-file min/max recorded in the
    * manifest and committed into the meta's stats set. One CAS commit;
    * conflicts recompute against the new state. */
  private def compactZorder(spark: SparkSession, base: String,
                            targetRows: Long, key: String, retain: Int,
                            zorder: Seq[String]): Long =
    commitChange(spark, base, "ZORDER", retain) { p =>
      zorder.foreach(c => require(
        p.schema.fieldNames.contains(c),
        s"zorder column `$c` is not a column of the table"))
      val entries = p.entries
      if (entries.isEmpty) Unchanged // nothing to lay out
      else {
        val data = scanEntries(spark, entries, schema = p.schema,
          colMap = p.colMap)
          .localCheckpoint() // one scan: bounds + the rewrite
        // exact integer bounds per z-column (one tiny aggregate) — the
        // normalization every production z-order does first
        val aggExprs = zorder.flatMap(c =>
          Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
        val bRow = data.agg(aggExprs.head, aggExprs.tail: _*).head()
        val bounds = zorder.indices.map { i =>
          require(!bRow.isNullAt(2 * i),
            s"zorder column `${zorder(i)}` is all-null or not castable " +
              "to long: nothing to cluster on")
          (bRow.getLong(2 * i), bRow.getLong(2 * i + 1))
        }
        val z = graft.ops.Layout.morton(zorder.map(col), bounds)
        val liveRows = entries.map(e => e.rows - e.dvRows).sum
        val nFiles = math.max(1L,
          (liveRows + targetRows - 1) / math.max(1L, targetRows)).toInt
        val statsCols =
          (p.meta.statsCols ++ zorder).distinct
        val newEntries = writePool(spark, base, data, key, nFiles,
          statsCols, colMap = p.colMap, layout = Some(z))
        // the widened stats set becomes table metadata: every LATER write
        // keeps recording the z-columns' per-file ranges
        Replace(entriesDf(spark, newEntries), Some(newEntries),
          Some(p.meta.copy(statsCols = statsCols)))
      }
    }

  /** Reclaim pool files referenced by NO retained version's manifest
    * (superseded rewrites, losers of commit races). Returns the number
    * deleted. Must not race an in-flight writer — stage-then-commit
    * means a writer's new files are unreferenced until its manifest
    * lands; `graceMs` skips files younger than the longest write as the
    * standard guard. */
  def vacuum(spark: SparkSession, base: String, graceMs: Long = 0L): Int = {
    val fs = fsOf(spark, base)
    val referenced = AtomicPublish.versions(spark, base)
      .flatMap(v => entriesAt(spark, base, v)
        .map(_.file)).toSet
    val pool = new Path(base, "files")
    if (!fs.exists(pool)) return 0
    val now = System.currentTimeMillis()
    val doomed = fs.listStatus(pool).toSeq
      .filter(st => !referenced.contains(norm(st.getPath.toString)) &&
        now - st.getModificationTime >= graceMs)
    doomed.foreach(st => fs.delete(st.getPath, false)) // every entry is a file
    doomed.size
  }

  /** TIME-BASED VACUUM — the Delta/Iceberg `VACUUM … OLDER THAN <ts>`
    * retention idiom, possible because every commit marker carries a
    * durable instant ([[AtomicPublish.commitInstant]]): prune versions
    * committed before `tsMillis` (prefix-by-id, never the current head),
    * then reclaim the pool files no retained version references.
    * `TIMESTAMP AS OF` inside the kept window still serves; beyond it
    * the read fails fast (no silent fallback to a younger snapshot).
    * Returns (versions pruned, pool files reclaimed). The same
    * in-flight-writer caveat as [[vacuum]] applies — `graceMs` guards
    * staged-but-uncommitted files. */
  def vacuumOlderThan(spark: SparkSession, base: String, tsMillis: Long,
                      graceMs: Long = 0L): (Int, Int) = {
    val pruned = AtomicPublish.pruneOlderThan(spark, base, tsMillis)
    (pruned.size, vacuum(spark, base, graceMs))
  }

  /** RESTORE the table to retained version `toVersion` as a NEW commit —
    * the lakehouse rollback idiom: the restored state lands at head+1 (a
    * forward-moving commit, so concurrent readers, the CAS discipline
    * and the CDC cursor are all undisturbed; the change feed emits the
    * INVERSE delta of everything being rolled back, and a `startVersion`
    * subscriber past the bad commit heals without re-bootstrapping).
    * METADATA-ONLY: the new version re-references `toVersion`'s
    * immutable pool files and deletion vectors — no data is read or
    * written, whatever the table size — and carries `toVersion`'s meta,
    * so schema changes (added/renamed/dropped columns) roll back with
    * the rows and the column mapping stays consistent with the restored
    * schema. Serializable via the same commit loop as every row-level
    * commit. No-op (parent returned) when the head already equals the
    * restored state's manifest version. */
  def restore(spark: SparkSession, base: String, toVersion: Long,
              retain: Int = 1): Long =
    commitChange(spark, base, s"RESTORE v$toVersion", retain) { p =>
      if (p.version == toVersion) Unchanged
      else {
        require(AtomicPublish.isCommitted(spark, base, toVersion),
          s"cannot RESTORE $base to v$toVersion: not a readable committed " +
            "version (pruned by retention, an orphan, or never committed) " +
            "— raise the table's `retain` property to keep deeper history")
        val target = new Snapshot(spark, base, toVersion)
        Replace(target.frame, target.cached, Some(target.meta))
      }
    }

  /** [[deleteWhere]] without its discovery report: the same body, so
    * the same vectors, removed files and jobs. */
  def dvDelete(spark: SparkSession, base: String, pred: Column,
               retain: Int = 1): Long =
    deleteMatching(spark, base, pred, retain, None)

  /** The body of [[deleteWhere]] and [[dvDelete]]. */
  private def deleteMatching(spark: SparkSession, base: String, pred: Column,
                             retain: Int,
                             onDiscovery: Option[(Long, Long) => Unit]): Long =
    phase(spark, "commit")(commitChange(spark, base, "DELETE", retain) { p =>
      val cm = p.colMap
      val keyName = splitKeys(p.meta.key).head
      val sk = p.schema.fields.find(_.name == keyName)
        .exists(f => isStringKey(f.dataType))
      // stats-pruned discovery: only files whose statistics admit a
      // matching row are scanned for positions
      val cand = phase(spark, "discovery") {
        val c = collectEntries(
          p.frame.filter(StatsPrune.mayContain(pred, keyName, sk, cm)))
        onDiscovery.foreach(_(c.size.toLong,
          p.cached.map(_.size.toLong).getOrElse(p.frame.count())))
        c
      }
      if (cand.isEmpty) Unchanged // stats prove nothing matches
      else {
        // `filter` keeps TRUE rows only: a NULL-evaluating row survives
        val byFile = positionsOf(scanEntries(spark, cand, lineage = true,
          schema = p.schema, colMap = cm)
          .filter(pred)
          .select(col("_gf_file").as("file"), col("_gf_pos").as("pos")))
        if (byFile.isEmpty) Unchanged // no-op: nothing matches
        else deleteAt(cand, byFile)
      }
    })

  /** One side's share of a version pair's changed rows in one pool
    * file: every live row of `entry` (under its own vector) when
    * `positions` is None, else exactly the rows at those sorted
    * positions, read without the vector (they are live on this side
    * and voided on the other). */
  private[graft] case class ChangePart(entry: Entry,
                                       positions: Option[Array[Long]])

  /** A version pair's changed rows by where they live: `pre` parts hold
    * the rows only `from` sees, `post` parts the rows only `to` sees.
    * `probe` is any entry of either version, to plan an empty side. */
  private[graft] case class ChangeSet(pre: Seq[ChangePart],
                                      post: Seq[ChangePart], probe: Entry) {
    /** The only side and its change type when every changed row is a
      * delete or every one an insert — no join; None = both sides. */
    def oneSide: Option[(Seq[ChangePart], String)] =
      if (post.isEmpty) Some((pre, "delete"))
      else if (pre.isEmpty) Some((post, "insert"))
      else None
  }

  /** Classify the version pair (`fromV`, `toV`) from commit structure,
    * per pool file, with no job and no data file read:
    *   - a file only in `to`: its live rows are post-images;
    *   - a file only in `from`: its live rows are pre-images;
    *   - a file in both whose vector differs: the rows at positions in
    *     the new vector but not the old are pre-images (deletes), those
    *     in the old but not the new are post-images (a `restore`
    *     revives them). Vectors are compared by content and decoded
    *     on the driver.
    * A LAYOUT-ONLY version (`COMPACT` / `ZORDER`, which rewrite live
    * rows and nothing else) against the committed version just before
    * it changes no row: both sides are empty. */
  private[graft] def changeSet(spark: SparkSession, base: String, fromV: Long,
                               toV: Long): ChangeSet = {
    require(fromV <= toV, s"changes: from $fromV > to $toV")
    val to = entriesAt(spark, base, toV)
    val layoutOnly = to.nonEmpty &&
      AtomicPublish.commitOp(spark, base, toV).exists(Set("COMPACT", "ZORDER")) &&
        AtomicPublish.versions(spark, base).filter(_ < toV).lastOption
          .contains(fromV)
    val from = if (layoutOnly) Nil else entriesAt(spark, base, fromV)
    val probe = (to ++ from).headOption
      .getOrElse(sys.error(s"changes: no entries in either version of $base"))
      .copy(dv = Array.emptyByteArray, dvRows = 0L)
    if (layoutOnly) return ChangeSet(Nil, Nil, probe)
    val fromBy = from.map(e => e.file -> e).toMap
    val toFiles = to.map(_.file).toSet
    // by content: a restore between two deletes can give one file two
    // different vectors of equal cardinality
    val moved = to.flatMap(t => fromBy.get(t.file)
      .filterNot(f => java.util.Arrays.equals(f.dv, t.dv)).map((_, t)))
    def positions(es: Seq[Entry]) =
      voided(es.map(_.triple)).withDefaultValue(Array.emptyLongArray)
    val (was, is) = (positions(moved.map(_._1)), positions(moved.map(_._2)))
    def whole(es: Seq[Entry]) =
      es.filter(e => e.rows > e.dvRows).map(ChangePart(_, None))
    // the sorted positions in `a` and not in `b`, still sorted
    def minus(a: Array[Long], b: Array[Long]) =
      a.filter(java.util.Arrays.binarySearch(b, _) < 0)
    def at(e: Entry, ps: Array[Long]) =
      Option.when(ps.nonEmpty)(ChangePart(e, Some(ps)))
    ChangeSet(
      whole(from.filterNot(e => toFiles(e.file))) ++
        moved.flatMap { case (f, _) => at(f, minus(is(f.file), was(f.file))) },
      whole(to.filterNot(e => fromBy.contains(e.file))) ++
        moved.flatMap { case (_, t) => at(t, minus(was(t.file), is(t.file))) },
      probe)
  }

  /** CHANGE DATA FEED: the row-level diff between two committed
    * versions, served from commit structure ([[changeSet]]) — never a
    * two-snapshot scan. When every changed row is on one side (an
    * `append` or SQL `INSERT`: inserts only; a [[deleteWhere]],
    * [[dvDelete]] or SQL `DELETE`: deletes only) the rows are read and
    * tagged, with no join. Otherwise ([[merge]], SQL `UPDATE`/`MERGE`,
    * [[restore]]) the two sides full-outer-join on the key: a key on
    * both sides is an `update`, and a row co-located in a file SQL
    * `MERGE` rewrote but itself untouched compares struct-equal and
    * drops out as a no-op. Cost is O(rows of the added and removed
    * files + rows a vector change names): a vector change reads its
    * file's named rows only.
    * A layout-only version diffed against its parent reads nothing.
    *
    * Output: the data columns (post-image; pre-image for deletes) plus
    * `_change_type` ∈ insert / update / delete. Both sides are read
    * with the TO-version's schema, so under additive evolution a
    * pre-image null-fills the new columns. The key identifies a row
    * only where the two sides are joined: on a table with duplicate
    * keys a one-sided version emits each vectored or appended row
    * exactly, while a joined version pairs every pre and post row of
    * a key. Requires both versions readable (`retain` ≥ the travel
    * distance). */
  def changes(spark: SparkSession, base: String, fromV: Long, toV: Long,
              key: String): DataFrame =
    changesOf(spark, base, toV, key, changeSet(spark, base, fromV, toV))

  /** Whether version `v`'s changed rows can be served from its pool
    * files as written, by a reader projecting `cols`: the version maps
    * no column (pool files carry physical names), and its schema has
    * every one of `cols` (a dropped column's stale values stay in the
    * files). */
  private[graft] def servesInPlace(spark: SparkSession, base: String, v: Long,
                                   cols: Seq[String]): Boolean = {
    val s = new Snapshot(spark, base, v)
    s.colMap.isEmpty && cols.forall(s.schema.fieldNames.contains)
  }

  /** The change rows of `cs`, a classification ending at `toV`. */
  private[graft] def changesOf(spark: SparkSession, base: String, toV: Long,
                               key: String, cs: ChangeSet): DataFrame = {
    val to = new Snapshot(spark, base, toV)
    val schema = to.schema
    val cm = to.colMap
    val dataCols = schema.fieldNames.toSeq
    def side(parts: Seq[ChangePart]): DataFrame = {
      val (whole, at) = parts.partition(_.positions.isEmpty)
      val wholeRows = Some(whole.map(_.entry)).filter(_.nonEmpty)
        .map(scanEntries(spark, _, schema = schema, colMap = cm))
      val atRows = Some(at).filter(_.nonEmpty).map { ps =>
        import spark.implicits._
        val keep = ps.flatMap(p => p.positions.get.toSeq.map(p.entry.file -> _))
          .toDF("_gf_file", "_gf_pos")
        scanEntries(spark, ps.map(_.entry.copy(dv = Array.emptyByteArray,
            dvRows = 0L)),
          lineage = true, schema = schema, colMap = cm)
          .join(graft.Bcast.ifBounded(keep, ps.map(_.positions.get.length.toLong).sum),
            Seq("_gf_file", "_gf_pos"), "left_semi")
          .drop("_gf_file", "_gf_pos")
      }
      (wholeRows ++ atRows).reduceOption(_ unionByName _)
        .getOrElse(scanEntries(spark, Seq(cs.probe), schema = schema,
          colMap = cm).limit(0)) // an empty side plans without a job
        .select(dataCols.map(col): _*)
    }
    cs.oneSide match {
      case Some((rows, kind)) => side(rows).withColumn("_change_type", lit(kind))
      case None =>
        // NATURAL key type (both sides read with the TO-schema, so the
        // join type always agrees; string keys diff the same way). A
        // composite key joins as the full tuple — the row identity.
        val ks = splitKeys(key)
        def keyed(parts: Seq[ChangePart], name: String) = side(parts)
          .select(struct(ks.map(col): _*).as("_gf_k"),
            struct(dataCols.map(col): _*).as(name))
        val img = coalesce(col("_post"), col("_pre"))
        keyed(cs.pre, "_pre").join(keyed(cs.post, "_post"), Seq("_gf_k"), "full_outer")
          .withColumn("_change_type",
            when(col("_pre").isNull, "insert")
              .when(col("_post").isNull, "delete")
              .when(!(col("_pre") <=> col("_post")), "update")
              .otherwise("noop"))
          .filter(col("_change_type") =!= "noop")
          .select(dataCols.map(c => img.getField(c).as(c)) :+
            col("_change_type"): _*)
    }
  }

  /** CDC CURSOR: every row-level change committed AFTER `sinceV`, each
    * tagged with its commit version — what a downstream consumer polls
    * between syncs. Cost is the sum of the per-version [[changes]]
    * diffs: O(churn since the cursor), never a snapshot. The span must
    * be retained (`retain` ≥ distance at write time); a pruned version
    * inside the span fails fast rather than silently skipping commits —
    * the same contract as the commit-log stream. */
  def changesSince(spark: SparkSession, base: String, sinceV: Long,
                   key: String): DataFrame = {
    // consecutive COMMITTED versions only: a sealed orphan id (claimed
    // by a crashed writer, never committed) must neither be emitted nor
    // serve as a diff's pre-image — its data was never visible. Pruning
    // is prefix-by-id, so "sinceV itself still readable" proves no
    // committed version inside the span was pruned; orphan gaps are
    // fine (there is nothing to emit for them).
    val vs = AtomicPublish.versions(spark, base).filter(_ > sinceV)
    require(vs.nonEmpty, s"no committed versions after $sinceV under $base")
    require(AtomicPublish.isCommitted(spark, base, sinceV),
      s"cursor base v$sinceV under $base is pruned or was never " +
        "committed; the cursor cannot skip commits — retain a window " +
        "covering the poll interval")
    (sinceV +: vs).sliding(2).map { case Seq(prev, v) =>
      changes(spark, base, prev, v, key)
        .withColumn("_commit_version", lit(v))
    }.reduce(_ unionByName _)
  }

  /** Exactly-once MERGE for a Structured Streaming foreachBatch writer:
    * the commit is stamped (stream, batchId) and a replay of an
    * already-applied batch — checkpoint recovery re-delivers the last
    * uncommitted-at-crash batch — is detected from the stamp and
    * SKIPPED, so the merge applies exactly once no matter how many
    * times the sink retries. Bootstraps the table from the first batch.
    */
  def exactlyOnceMerge(spark: SparkSession, base: String, source: DataFrame,
                       key: String, stream: String, batchId: Long,
                       retain: Int = 1): Long = {
    if (!AtomicPublish.exists(spark, base)) {
      val upserts = (if (source.columns.contains("_delete"))
        source.filter(!col("_delete")).drop("_delete") else source)
      val entries = writePool(spark, base, upserts, key, numFiles = 1)
      publishFirst(spark, base, entries,
        Meta(upserts.schema.json, key, Nil, retain = retain),
        Seq((stream, batchId)), "MERGE")
    } else { // a replay is detected inside the merge's commit attempt
      merge(spark, base, source, key, retain, txn = Some((stream, batchId)))
    }
  }

  /** Deletes addressed by POSITION: the row positions a row-level scan
    * of committed version `scanVersion` staged, by file. */
  case class Positions(scanVersion: Long, byFile: Map[String, Array[Long]])

  /** MERGE-ON-READ delta commit: apply a set of DELETES (by position,
    * [[deleteAt]] — zero data files rewritten) plus a set of INSERT rows
    * (new pool files — nothing read) in ONE committed version. This is
    * the commit half of the SQL delta-based `UPDATE` / row-level
    * `DELETE` ([[graft.sources.GraftCatalog]]): Spark's rewrite
    * identifies each row by its position (`_file`, `_pos`) plus its
    * clustering key, an UPDATE arrives as delete+insert, and this method
    * turns the two sets into vectors, removed files and appends.
    *
    * With `positions`, while the head is still the version the
    * statement scanned, the staged positions are committed as they are
    * — pool files are immutable and the scan subtracted every vector,
    * so each names one live row; nothing is looked up again. Once any
    * commit has landed after the scan (that attempt and every retry), or
    * without `positions` (the API callers), `deleteKeys` is the delete
    * set: the keys' live rows are REDISCOVERED against the parent of
    * each [[commitChange]] attempt ([[livePositions]], as [[merge]]
    * finds its matches), and a key tuple addressing more live rows than
    * it has delete actions is refused as not unique. A per-file split
    * would be wrong: a concurrent key update can leave a staged row's
    * file in the manifest with that row vectored and its replacement in
    * another file.
    *
    * Cost: O(inserts) write + O(deleted rows) vector bytes; the key path
    * adds a scan of the files that may hold a deleted key.
    */
  def applyDelta(spark: SparkSession, base: String, deleteKeys: DataFrame,
                 inserts: Option[DataFrame], retain: Int = 1,
                 txn: Option[(String, Long)] = None,
                 beforeCommit: () => Unit = () => (),
                 op: String = "WRITE DELTA",
                 positions: Option[Positions] = None): Long =
    phase(spark, "commit") {
      import spark.implicits._
      val m = meta(spark, base).getOrElse(sys.error(
        s"no table meta under $base — applyDelta needs a created cow table"))
      val key = m.key
      // inserts become pool files ONCE — only the manifest CAS retries
      val newEntries = inserts.map { df =>
        writePool(spark, base, df, key, numFiles = 1, m.statsCols,
          colMap = m.physMap, checks = m.checks, gens = gensOf(m),
          idNotNull = identityOf(m).map(_._1))
      }.getOrElse(Seq.empty)
      val ks = splitKeys(key)
      val tblSchema = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      def dtOf(k: String): org.apache.spark.sql.types.DataType =
        tblSchema.fields.find(_.name == k).map(_.dataType)
          .getOrElse(org.apache.spark.sql.types.LongType)
      // the delete-key frame carries the FULL key tuple: by name for a
      // composite key (Spark's rowIdSchema), positionally for a
      // single-column key
      val gfk = ks.indices.map(i => s"_gfk_$i")
      val keyedCols: Seq[Column] =
        if (ks.size == 1)
          Seq(col(deleteKeys.columns.head).cast(dtOf(ks.head)).as(gfk.head))
        else ks.zipWithIndex.map { case (k, i) =>
          require(deleteKeys.columns.contains(k),
            s"delete-key frame is missing key column `$k` of composite " +
              s"key `$key` (has ${deleteKeys.columns.mkString(", ")})")
          col(k).cast(dtOf(k)).as(gfk(i))
        }
      // per-key-TUPLE delete-ACTION counts: Spark emits one delete action
      // per target ROW, so for a key-unique table every tuple carries
      // count 1, and an UPDATE touching all n duplicates carries n.
      // LAZY, like everything the key path needs: a position commit never
      // evaluates it. The checkpoint is evaluated once across retries.
      lazy val keyActions = deleteKeys
        .select(keyedCols: _*)
        .groupBy(gfk.map(col): _*).agg(count(lit(1)).as("_gf_actions"))
        .localCheckpoint(eager = false)
      // positions know their delete count from the writers' reports; the
      // key path's count() also materializes the checkpoint
      val anyDeletes = positions.fold(
        phase(spark, "discovery")(keyActions.count()) > 0)(_.byFile.nonEmpty)
      // pure no-op delta (nothing deleted, nothing inserted): nothing
      // to write, nothing to commit — the parent version IS the result
      // (a txn-stamped no-op still commits, to record its batch id)
      if (!anyDeletes && newEntries.isEmpty && txn.isEmpty)
        AtomicPublish.committed(spark, base)
      else commitChange(spark, base, op, retain) { p =>
        val deleted =
          if (!anyDeletes) Edit()
          else if (positions.exists(_.scanVersion == p.version)) {
            // the head is the scanned snapshot: every staged position
            // names a live row of a file still in this manifest
            val pos = positions.get
            val touched = p.cached match {
              case Some(es) => es.filter(e => pos.byFile.contains(e.file))
              case None => collectEntries(p.frame.join(
                pos.byFile.keys.toSeq.toDF("file"), Seq("file")))
            }
            require(touched.size == pos.byFile.size,
              s"staged delete positions name files missing from " +
                s"v${p.version} of $base: " +
                s"${pos.byFile.keySet -- touched.map(_.file)}")
            deleteAt(touched, pos.byFile)
          }
          else livePositions(spark, p, ks, keyActions) match {
            case Some((cand, rows)) =>
              // lazy: the row-identity guard below materializes the
              // checkpoint as part of its own (required) job, so the
              // position scan runs once without paying a separate
              // eager-checkpoint job
              val hitRows = rows.localCheckpoint(eager = false)
              // ROW-IDENTITY GUARD: this path deletes by key tuple, so a
              // tuple matching MORE live rows than it has delete actions
              // would silently vector out rows the statement never
              // touched (the duplicate-key UPDATE data-loss anomaly).
              // Refuse — the table violates the clustering-key-as-row-
              // identity contract the key path requires.
              val over = phase(spark, "lineage scan")(hitRows
                .groupBy(gfk.map(col): _*).agg(count(lit(1)).as("n"))
                .join(keyActions, gfk)
                .filter(col("n") > col("_gf_actions"))
                .limit(1).collect())
              require(over.isEmpty, {
                val r = over.head
                val tuple = gfk.indices.map(r.get).mkString("(", ", ", ")")
                s"clustering key `$key` is not unique under $base: key " +
                  s"$tuple has ${r.getLong(gfk.size)} live rows but only " +
                  s"${r.getLong(gfk.size + 1)} delete action(s) address " +
                  "it — a key-identified delete would drop rows the " +
                  "statement never matched; deduplicate the table (or " +
                  "merge by key) before deleting by key"
              })
              deleteAt(cand, positionsOf(hitRows))
            case None => Edit()
          }
        beforeCommit() // test seam (fires once per attempt, before the CAS)
        // deletes that hit nothing and no inserts: an identical manifest —
        // the parent is the result (dvDelete's no-op contract) instead of
        // an empty version
        if (deleted == Edit() && newEntries.isEmpty && txn.isEmpty) Unchanged
        else deleted.copy(added = newEntries, txn = txn)
      }
    }

  /** DDL-style ADDITIVE schema evolution: widen the committed data
    * schema by `fields` (forced nullable — existing pool files are NOT
    * rewritten and read back NULL for the new columns on every path)
    * in one metadata-only commit. Backs `ALTER TABLE … ADD COLUMN(S)`
    * of [[graft.sources.GraftCatalog]]; the write-side twin is
    * [[merge]]'s source-driven evolution. Cost: O(1) data I/O — the
    * manifest is carried forward untouched. */
  def addColumns(spark: SparkSession, base: String,
                 fields: Seq[org.apache.spark.sql.types.StructField],
                 retain: Int = 1): Long = {
    require(fields.nonEmpty, "addColumns: no columns given")
    commitChange(spark, base, "ADD COLUMNS", retain) { p =>
      val m = p.meta
      val schema = p.schema
      fields.foreach { f =>
        require(!schema.fieldNames.contains(f.name),
          s"column `${f.name}` already exists under $base")
        requireMappableName(f.name)
      }
      val widened = org.apache.spark.sql.types.StructType(
        schema.fields ++ fields.map(_.copy(nullable = true)))
      // column mapping: a new column whose name was EVER used physically
      // (a dropped or renamed predecessor) gets a fresh physical name —
      // old files must serve NULL for it, not the predecessor's values
      var m2 = m
      fields.foreach { f =>
        val p0 = freshPhys(m2, schema, f.name)
        m2 = m2.copy(
          colMap = if (p0 == f.name) m2.colMap
                   else m2.colMap :+ (f.name -> p0),
          physUsed = (m2.physUsed :+ p0).distinct)
      }
      Edit(meta = Some(m2.copy(schemaJson = widened.json)))
    }
  }

  /** DDL `ALTER TABLE … RENAME COLUMN` as one metadata-only commit:
    * the logical name changes, the PHYSICAL name in every pool file
    * stays — reads map through the meta's column mapping on all paths
    * (API scan, DSv2, CDF). Key columns are refused (the key is table
    * identity: manifests, vectors and row ids are derived from it). */
  def renameColumn(spark: SparkSession, base: String, from: String,
                   to: String, retain: Int = 1): Long = {
    commitChange(spark, base, "RENAME COLUMN", retain) { p =>
      val m = p.meta
      val schema = p.schema
      require(schema.fieldNames.contains(from),
        s"column `$from` does not exist under $base")
      require(!schema.fieldNames.contains(to),
        s"column `$to` already exists under $base")
      requireMappableName(to)
      requireMappableName(from)
      require(!splitKeys(m.key).contains(from),
        s"column `$from` is part of the clustering key (the row " +
          "identity): key columns cannot be renamed")
      m.checks.filter(c => checkReferences(spark, c._2, from)).foreach { c =>
        sys.error(s"column `$from` is referenced by CHECK constraint " +
          s"`${c._1}` (${c._2}): DROP CONSTRAINT first, rename, re-add")
      }
      gensOf(m).filter(g => checkReferences(spark, g._3, from)).foreach { g =>
        sys.error(s"column `$from` is referenced by generated column " +
          s"`${g._1}` (${g._3}): a rename would orphan the expression")
      }
      val phys = m.phys(from)
      val renamed = org.apache.spark.sql.types.StructType(schema.fields.map(
        f => if (f.name == from) f.copy(name = to) else f))
      val m2 = m.copy(schemaJson = renamed.json,
        colMap = m.colMap.filterNot(_._1 == from) :+ (to -> phys),
        physUsed = (m.physUsed :+ phys).distinct,
        statsCols = m.statsCols.map(c => if (c == from) to else c))
      Edit(meta = Some(m2))
    }
  }

  /** DDL `ALTER TABLE … DROP COLUMN` as one metadata-only commit: the
    * column leaves the logical schema and the mapping; its physical
    * data stays in old files (never projected again) and its physical
    * name stays RESERVED so a later re-add cannot resurrect stale
    * values. Key columns are refused. */
  def dropColumn(spark: SparkSession, base: String, name: String,
                 retain: Int = 1): Long = {
    commitChange(spark, base, "DROP COLUMN", retain) { p =>
      val m = p.meta
      val schema = p.schema
      require(schema.fieldNames.contains(name),
        s"column `$name` does not exist under $base")
      require(!splitKeys(m.key).contains(name),
        s"column `$name` is part of the clustering key (the row " +
          "identity): key columns cannot be dropped")
      val phys = m.phys(name)
      // the physical name joins physUsed, whose serialization splits on
      // ';': refuse one carrying a separator rather than corrupt it
      requireMappableName(phys)
      m.checks.filter(c => checkReferences(spark, c._2, name)).foreach { c =>
        sys.error(s"column `$name` is referenced by CHECK constraint " +
          s"`${c._1}` (${c._2}): DROP CONSTRAINT first")
      }
      gensOf(m).filter(g => g._1 != name &&
        checkReferences(spark, g._3, name)).foreach { g =>
        sys.error(s"column `$name` is referenced by generated column " +
          s"`${g._1}` (${g._3}): drop the generated column first")
      }
      val m2 = m.copy(
        schemaJson = org.apache.spark.sql.types.StructType(
          schema.fields.filterNot(_.name == name)).json,
        colMap = m.colMap.filterNot(_._1 == name),
        physUsed = (m.physUsed :+ phys).distinct,
        statsCols = m.statsCols.filterNot(_ == name))
      Edit(meta = Some(m2))
    }
  }

  /** `ALTER TABLE … ALTER COLUMN c SET DEFAULT v` / `DROP DEFAULT` as a
    * metadata-only commit: the default lives in the column's StructField
    * metadata inside the schema JSON (`CURRENT_DEFAULT` fills future
    * INSERTs that omit the column; `EXISTS_DEFAULT` makes files written
    * BEFORE the column existed read back v — the parquet reader honors
    * it from the read schema, so no data moves). The expression must be
    * a constant: it is validated by evaluating it once, cast to the
    * column's type, before anything commits. */
  def setColumnDefault(spark: SparkSession, base: String, name: String,
                       newDefault: Option[String],
                       retain: Int = 1): Long = {
    val op = newDefault.fold(s"DROP DEFAULT $name")(_ => s"SET DEFAULT $name")
    commitChange(spark, base, op, retain) { p =>
      val m = p.meta
      val schema = p.schema
      val f = schema.fields.find(_.name == name).getOrElse(sys.error(
        s"column `$name` does not exist under $base"))
      newDefault.foreach { sql =>
        require(spark.sessionState.sqlParser.parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a
        }.isEmpty, s"DEFAULT must be a constant expression, got: $sql")
        spark.range(1).select(expr(sql).cast(f.dataType)).head() // evaluates
      }
      // CURRENT_DEFAULT only: SET/DROP DEFAULT governs FUTURE inserts.
      // EXISTS_DEFAULT — what pre-column files read back — is fixed at
      // ADD COLUMN time and never changes retroactively (standard SQL /
      // Delta semantics: rows that existed before the column keep the
      // value they were given when it appeared).
      val md = newDefault match {
        case Some(sql) => new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString("CURRENT_DEFAULT", sql).build()
        case None => new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .remove("CURRENT_DEFAULT").build()
      }
      val m2 = m.copy(schemaJson = org.apache.spark.sql.types.StructType(
        schema.fields.map(x =>
          if (x.name == name) x.copy(metadata = md) else x)).json)
      Edit(meta = Some(m2))
    }
  }

  /** Whether CHECK predicate `p` references column `col` — parsed, not
    * substring-matched (a predicate on `total` must not pin `tot`). */
  private def checkReferences(spark: SparkSession, p: String,
                              colName: String): Boolean =
    scala.util.Try(spark.sessionState.sqlParser.parseExpression(p).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.last
    }.exists(_.equalsIgnoreCase(colName))).getOrElse(true) // unparsable: safe

  /** `ALTER TABLE … ADD CONSTRAINT name CHECK (pred)` as a metadata-only
    * commit — after VALIDATING the existing data (one pruned table scan,
    * fail-fast on the first violating row: a constraint that the table
    * already breaks must never be recorded, the Delta contract). From
    * then on every row entering the table through ANY write path (API
    * merge/append, SQL INSERT/UPDATE/MERGE — all data funnels through
    * [[writePool]]) is enforced per-row inside the write's own
    * projection; a violation fails the statement before its commit.
    * SQL CHECK semantics: a predicate evaluating to NULL passes. */
  def addCheck(spark: SparkSession, base: String, name: String,
               predicateSql: String, retain: Int = 1): Long = {
    require(name.nonEmpty, "constraint name must be non-empty")
    commitChange(spark, base, s"ADD CONSTRAINT $name", retain) { p =>
      val m = p.meta
      require(!m.checks.exists(_._1 == name),
        s"a CHECK constraint named `$name` already exists under $base")
      // the predicate must resolve against the table schema AND hold on
      // every existing row — evaluated through the same snapshot scan
      // (DV-aware, column-mapped) every reader uses
      val bad = readAt(spark, base, p.version)
        .filter(!coalesce(expr(predicateSql).cast("boolean"), lit(true)))
        .limit(1).count()
      require(bad == 0L,
        s"cannot ADD CONSTRAINT `$name`: ($predicateSql) is violated by " +
          s"existing rows of $base — fix the data first")
      Edit(meta = Some(m.copy(checks = m.checks :+ ((name, predicateSql)))))
    }
  }

  /** `ALTER TABLE … DROP CONSTRAINT name` — metadata-only. */
  def dropCheck(spark: SparkSession, base: String, name: String,
                retain: Int = 1): Long = {
    commitChange(spark, base, s"DROP CONSTRAINT $name", retain) { p =>
      val m = p.meta
      require(m.checks.exists(_._1 == name),
        s"no CHECK constraint named `$name` under $base")
      Edit(meta = Some(m.copy(checks = m.checks.filterNot(_._1 == name))))
    }
  }

  /** GROUP-REPLACE commit: swap an explicit set of (file, dv) entries
    * for the rewritten `rows` in one committed version — the commit half
    * of the GROUP-BASED SQL `MERGE INTO` ([[graft.sources.GraftCatalog]]):
    * Spark's runtime group filtering prunes the target scan to the files
    * holding a matched row, the rewrite reads exactly those groups
    * (through their deletion vectors), and this method publishes
    * replacement pool files for them. The table's one copy-on-write
    * row writer: the API [[merge]] deletes by position instead.
    *
    * Conflict discipline: the rewrite's row set was derived from a
    * DISCOVERY JOIN against the snapshot `scanVersion` — not just from
    * the replaced files — so ANY commit that lands after that snapshot
    * invalidates it: a concurrent append/merge could introduce rows with
    * MATCHED keys into files outside the replaced set, and committing
    * anyway would be non-serializable write skew (the case Delta's COW
    * MERGE raises ConcurrentAppendException for). When `scanVersion` is
    * given the commit therefore requires landing at exactly
    * `scanVersion + 1`; otherwise it falls back to validating that the
    * replaced (file, dv) pairs are unchanged (which still catches every
    * conflicting rewrite of an affected file). Rewritten groups drop
    * their vectors (debt repaid), so a replaced file's entry leaves the
    * manifest vector and all.
    */
  def replaceFiles(spark: SparkSession, base: String,
                   replaced: Seq[(String, Array[Byte])], rows: DataFrame,
                   retain: Int = 1, scanVersion: Option[Long] = None,
                   opName: String = "REPLACE FILES"): Long = {
    import spark.implicits._
    val m = meta(spark, base).getOrElse(sys.error(
      s"no table meta under $base — replaceFiles needs a created cow table"))
    // rewritten rows become pool files ONCE — only the manifest CAS retries
    val newEntries =
      if (rows.isEmpty) Seq.empty
      else writePool(spark, base, rows, m.key,
        numFiles = math.max(1, replaced.size), m.statsCols,
        colMap = m.physMap, checks = m.checks, gens = gensOf(m),
        idNotNull = identityOf(m).map(_._1))
    if (replaced.isEmpty && newEntries.isEmpty)
      return AtomicPublish.committed(spark, base) // no-op
    // the replaced set is statement-bounded (the rewrite's own file
    // group list) — as a Scala map for the cached-manifest fast path,
    // as a local frame for the large-manifest join
    val replacedDv = replaced.toMap
    lazy val replacedDf = replaced.toDF("file", "_gf_dv")
    commitChange(spark, base, opName, retain) { p =>
      // serializability: the statement's match set is a snapshot of
      // scanVersion — any later commit may hold newly-matched keys in
      // files OUTSIDE the replaced set, so it conflicts even if the
      // replaced entries themselves are untouched
      scanVersion.foreach(sv => if (p.version != sv)
        throw new ConcurrentWriteException(
          s"concurrent update conflict under $base: the statement planned " +
            s"against v$sv but v${p.version} has since committed — retry " +
            "the statement against the new snapshot"))
      val live = p.cached match {
        case Some(es) =>
          es.count(e => replacedDv.get(e.file)
            .exists(java.util.Arrays.equals(_, e.dv))).toLong
        case None => p.frame.join(replacedDf, Seq("file"))
          .filter(col("dv") === col("_gf_dv")).count()
      }
      if (live != replaced.size)
        throw new ConcurrentWriteException(
          s"concurrent update conflict under $base: ${replaced.size - live} " +
            s"of ${replaced.size} replaced files were rewritten or vectored " +
            "since the statement's scan — retry the statement")
      Edit(removed = replacedDv.keySet, added = newEntries)
    }
  }

  // -------------------------------------------------------------------
  // Registered checks (driver contract)
  // -------------------------------------------------------------------

  /** The deterministic merge batch both checks and both oracles share:
    * updates (+10.0 on every 97th key), deletes (every 101st key ≡ 3),
    * inserts (every 103rd key ≡ 5, re-keyed past max, status 'I'). */
  private def mergeBatch(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.orders(spark, dir)
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    val k = col("o_orderkey")
    val upd = orders.filter(k % 97 === 0 && !(k % 101 === 3))
      .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
      .withColumn("_delete", lit(false))
    val ins = orders.filter(k % 103 === 5)
      .withColumn("o_orderkey", k + lit(mx))
      .withColumn("o_orderstatus", lit("I"))
      .withColumn("_delete", lit(false))
    val del = orders.filter(k % 101 === 3).withColumn("_delete", lit(true))
    upd.unionByName(ins).unionByName(del)
  }

  private[graft] def statusAgg(df: DataFrame): DataFrame = df
    .groupBy(col("o_orderstatus"))
    .agg(count(lit(1)).as("n_orders"),
      // exact decimal arithmetic inside, ONE final cast: the driver
      // comparator hash-fails on DECIMAL output columns (ParitySpec)
      sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").cast("double").as("total"))
    .orderBy("o_orderstatus")

  /** MERGE end-to-end: build the table from orders, apply a RANGE-LOCAL
    * batch — updates/deletes confined to the lowest eighth of the key
    * space (`k*8 <= max`, integer math both engines share), inserts
    * re-keyed past max — and read the final snapshot back through the
    * manifest. Range-local is the representative production shape (a
    * late-arriving partition, a corrected tenant): the bench cost is
    * the ONE affected file plus the insert file, not the table, and an
    * in-band invariant holds the untouched files to their old pool
    * paths. The oracle replays the merge relationally, so the stored
    * table — not the in-flight computation — is what gets verified. */
  /** The RANGE-LOCAL batch [[mergeCheck]] and [[changesCheck]] share:
    * updates/deletes confined to the lowest eighth of the key space
    * (`k*8 <= max`, integer math both engines share), inserts re-keyed
    * past max with status 'I'. */
  private[graft] def rangeLocalBatch(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.orders(spark, dir)
    val mx = orders.agg(max("o_orderkey")).head().getLong(0)
    val k = col("o_orderkey")
    val lo = k * 8 <= lit(mx)
    val upd = orders.filter(lo && k % 7 === 0 && !(k % 11 === 3))
      .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
      .withColumn("_delete", lit(false))
    val ins = orders.filter(k % 103 === 5)
      .withColumn("o_orderkey", k + lit(mx))
      .withColumn("o_orderstatus", lit("I"))
      .withColumn("_delete", lit(false))
    val del = orders.filter(lo && k % 11 === 3)
      .withColumn("_delete", lit(true))
    upd.unionByName(ins).unionByName(del)
  }

  def mergeCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_merge", dir, "cow_merge") {
      val base = FsUtil.stateDir("cow_merge", dir)
      fsOf(spark, base).delete(new Path(base), true) // self-contained
      val orders = graft.Tables.orders(spark, dir)
      create(spark, base, orders, "o_orderkey", numFiles = 8)
      val pre = manifest(spark, base).map(_.file).toSet

      merge(spark, base, rangeLocalBatch(spark, dir), "o_orderkey")

      val referenced = manifest(spark, base).map(_.file).toSet.intersect(pre)
      require(referenced.size >= 5,
        s"a range-local merge must reference most files untouched, " +
          s"kept only ${referenced.size}/8")
      statusAgg(read(spark, base))
    }

  val mergeSql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
      |final AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey * 8 <= m AND o_orderkey % 7 = 0
      |              THEN o_totalprice + 10.0 ELSE o_totalprice
      |         END AS o_totalprice,
      |         o_orderstatus
      |  FROM orders, mx
      |  WHERE NOT (o_orderkey * 8 <= m AND o_orderkey % 11 = 3)
      |  UNION ALL
      |  SELECT o_orderkey + m, o_totalprice, 'I'
      |  FROM orders, mx WHERE o_orderkey % 103 = 5
      |)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM final GROUP BY 1 ORDER BY 1""".stripMargin

  /** The full row-level lifecycle on one table: create → MERGE →
    * DELETE WHERE (drops the inserted 'I' rows) → compact → vacuum.
    * In-band invariants: compaction must shrink the file count while
    * vacuum must reclaim the files it superseded, and the final
    * snapshot is read back through the compacted manifest. */
  def lifecycleCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_lifecycle", dir, "cow_life") {
      val base = FsUtil.stateDir("cow_life", dir)
      fsOf(spark, base).delete(new Path(base), true) // self-contained
      create(spark, base, graft.Tables.orders(spark, dir),
        "o_orderkey", numFiles = 8)
      merge(spark, base, mergeBatch(spark, dir), "o_orderkey")
      deleteWhere(spark, base, col("o_orderstatus") === "I", "o_orderkey")
      val m0 = manifest(spark, base)
      val before = m0.size
      // pack to quarter-table files: a multi-file parallel write at any
      // SF, unlike a pack-to-one target that serializes on one task
      compact(spark, base,
        targetRows = math.max(1L, m0.map(_.rows).sum / 4), "o_orderkey")
      val after = manifest(spark, base).size
      require(after < before, s"compact must shrink files: $before -> $after")
      val reclaimed = vacuum(spark, base)
      require(reclaimed > 0, "vacuum must reclaim superseded pool files")
      statusAgg(read(spark, base))
    }

  val lifecycleSql: String =
    """WITH final AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 97 = 0
      |              THEN o_totalprice + 10.0 ELSE o_totalprice
      |         END AS o_totalprice,
      |         o_orderstatus
      |  FROM orders WHERE o_orderkey % 101 <> 3
      |)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM final WHERE o_orderstatus <> 'I'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** PREDICATE DELETE with manifest-stats pruning, end-to-end: a cow
    * table over events clustered by event TIME (epoch seconds) with
    * per-file min/max recorded for the derived `event_date` — the
    * standard time-clustered fact layout — then
    * `DELETE WHERE event_date < cutoff`. [[StatsPrune]] turns the
    * predicate into a manifest filter, so discovery reads only the
    * head-of-timeline files (in-band require: strictly fewer files
    * scanned than the manifest lists — the 100 TB contract that a date
    * purge is NOT a full-table read), the delete vectors or removes
    * only files actually containing matches, and the snapshot is
    * aggregated back through the new manifest. The oracle replays the
    * delete relationally. */
  def deleteCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_delete", dir, "cow_delete") {
      val base = FsUtil.stateDir("cow_delete", dir)
      fsOf(spark, base).delete(new Path(base), true) // self-contained
      val ev = graft.Tables.events(spark, dir)
        .withColumn("_k", unix_timestamp(col("ts")))
        .withColumn("event_date", to_date(col("ts")))
      create(spark, base, ev, "_k", numFiles = 8,
        statsCols = Seq("event_date"))
      var scanned = -1L
      var total = -1L
      deleteWhere(spark, base,
        col("event_date") < lit(java.sql.Date.valueOf("2024-01-08")), "_k",
        onDiscovery = (s, t) => { scanned = s; total = t })
      require(total == 8 && scanned > 0 && scanned < total,
        s"stats pruning must skip non-matching files: scanned $scanned/$total")
      read(spark, base).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("total_value"))
        .orderBy("event_type")
    }

  val deleteSql: String =
    """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total_value
      |FROM events
      |WHERE NOT (CAST(ts AS DATE) < DATE '2024-01-08')
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** ADDITIVE SCHEMA EVOLUTION end-to-end: a MERGE whose source carries
    * a column the table lacks (`o_note`, stamped on every updated row)
    * widens the committed schema — untouched files are NOT rewritten
    * (in-band require) yet read back NULL for the new column, matched
    * rows carry the stamp, and the aggregate counts both. The oracle
    * derives the same shape relationally. */
  def evolveCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_evolve", dir, "cow_evolve") {
      val base = FsUtil.stateDir("cow_evolve", dir)
      fsOf(spark, base).delete(new Path(base), true) // self-contained
      val orders = graft.Tables.orders(spark, dir)
      create(spark, base, orders, "o_orderkey", numFiles = 8)
      val pre = manifest(spark, base).map(_.file).toSet
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      val k = col("o_orderkey")
      val batch = orders.filter(k * 8 <= lit(mx) && k % 7 === 0)
        .withColumn("o_note", lit("U"))
        .withColumn("_delete", lit(false))
      merge(spark, base, batch, "o_orderkey")
      val referenced = manifest(spark, base).map(_.file).toSet.intersect(pre)
      require(referenced.size >= 5,
        "evolution must not rewrite untouched files: " +
          s"kept only ${referenced.size}/8")
      read(spark, base).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          count(col("o_note")).as("n_noted"))
        .orderBy("o_orderstatus")
    }

  val evolveSql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(COUNT(CASE WHEN o_orderkey * 8 <= m AND o_orderkey % 7 = 0
      |                       THEN 1 END) AS BIGINT) AS n_noted
      |FROM orders, mx
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** DELETION-VECTOR end-to-end: two cumulative DV deletes — the first
    * scattered across EVERY file (`k % 13`), the worst case for a
    * file-rewriting delete — with an in-band invariant that ZERO data
    * files were rewritten; then the snapshot is
    * aggregated THROUGH the vectors, compaction materializes them
    * (invariant: no vector survives), vacuum reclaims the superseded
    * pool, and the post-compaction aggregate must equal the
    * merge-on-read one bit-for-bit. The oracle replays both deletes
    * relationally against the source table. */
  def dvCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_dv", dir, "cow_dv") {
      val base = FsUtil.stateDir("cow_dv", dir)
      fsOf(spark, base).delete(new Path(base), true) // self-contained
      create(spark, base, graft.Tables.orders(spark, dir),
        "o_orderkey", numFiles = 8)
      val pre = manifest(spark, base).map(_.file).toSet
      val k = col("o_orderkey")
      dvDelete(spark, base, k % 13 === 0)
      dvDelete(spark, base, col("o_orderstatus") === "O" && k % 17 === 3)
      val m = manifest(spark, base)
      require(m.map(_.file).toSet == pre,
        "a scattered DV delete must rewrite ZERO data files")
      require(m.forall(_.dvRows > 0),
        "every file holds multiples of 13 at any SF: all must be vectored")
      val onRead = statusAgg(read(spark, base)).collect().toSeq
      // the SQL-facing DSv2 path must serve the SAME merge-on-read
      // snapshot (row-position subtraction in the reader), not require
      // a compaction first
      val served = statusAgg(spark.read.format("graft-artifact")
        .option("base", base).option("cow", "true").load())
      require(served.collect().toSeq == onRead,
        "graft-artifact must serve a vectored manifest merge-on-read")
      compact(spark, base,
        targetRows = math.max(1L, m.map(e => e.rows - e.dvRows).sum / 4),
        "o_orderkey")
      val m2 = manifest(spark, base)
      require(m2.forall(_.dvRows == 0L),
        "compact must materialize every deletion vector")
      require(vacuum(spark, base) > 0,
        "vacuum must reclaim the superseded files")
      val materialized = statusAgg(read(spark, base))
      require(materialized.collect().toSeq == onRead,
        "merge-on-read and materialized snapshots must agree")
      materialized
    }

  val dvSql: String =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM orders
      |WHERE NOT (o_orderkey % 13 = 0)
      |  AND NOT (o_orderstatus = 'O' AND o_orderkey % 17 = 3)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** CHANGE DATA FEED end-to-end: create → range-local MERGE with the
    * table retaining both versions → [[changes]] between them, rolled
    * up by change type. Only the files present in exactly one manifest
    * are read (in-band: the diff itself proves it — co-located no-op
    * rows drop out by struct equality, so a full-snapshot diff and the
    * changed-file diff agree, but the cost is O(changed files)). The
    * oracle derives the same feed from the batch's arithmetic. */
  def changesCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_changes", dir, "cow_changes") {
      val base = FsUtil.stateDir("cow_changes", dir)
      fsOf(spark, base).delete(new Path(base), true) // self-contained
      val v0 = create(spark, base, graft.Tables.orders(spark, dir),
        "o_orderkey", numFiles = 8, retain = 3)
      val v1 = merge(spark, base, rangeLocalBatch(spark, dir),
        "o_orderkey", retain = 3)
      changes(spark, base, v0, v1, "o_orderkey")
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("image_total"))
        .orderBy("_change_type")
    }

  val changesSql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders)
      |SELECT * FROM (
      |  SELECT 'delete' AS _change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS image_total
      |  FROM orders, mx WHERE o_orderkey * 8 <= m AND o_orderkey % 11 = 3
      |  UNION ALL
      |  SELECT 'insert', CAST(COUNT(*) AS BIGINT),
      |         CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE)
      |  FROM orders WHERE o_orderkey % 103 = 5
      |  UNION ALL
      |  SELECT 'update', CAST(COUNT(*) AS BIGINT),
      |         CAST(CAST(SUM(CAST(o_totalprice + 10.0 AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE)
      |  FROM orders, mx
      |  WHERE o_orderkey * 8 <= m AND o_orderkey % 7 = 0
      |    AND NOT o_orderkey % 11 = 3
      |) AS feed ORDER BY 1""".stripMargin

  /** CDC REPLAY COMPLETENESS: a consumer that starts from the v0
    * snapshot ([[readAt]]) and folds [[changesSince]] version by version
    * — delete the deleted keys, upsert the insert/update images — must
    * reproduce the final table EXACTLY, across the three API row
    * writers (MERGE: position deletes plus an upsert file; [[dvDelete]];
    * DELETE WHERE). The in-band require compares the folded snapshot's
    * aggregate to the direct read bit-for-bit; the oracle replays the
    * same history relationally. This is the contract a downstream CDC
    * consumer (a replica, a search index, a cache) actually needs: no
    * missed row, no double-applied row, vectors and new files included.
    */
  def cdfReplayCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_cdf_replay", dir, "cow_cdf") {
      val base = FsUtil.stateDir("cow_cdf", dir)
      fsOf(spark, base).delete(new Path(base), true) // self-contained
      val v0 = create(spark, base, graft.Tables.orders(spark, dir),
        "o_orderkey", numFiles = 8, retain = 8)
      merge(spark, base, rangeLocalBatch(spark, dir),
        "o_orderkey", retain = 8) // v1: merge
      dvDelete(spark, base, col("o_orderkey") % 19 === 7,
        retain = 8) // v2: vector delete
      deleteWhere(spark, base, col("o_orderstatus") === "I",
        "o_orderkey", retain = 8) // v3: delete (drops the inserts)

      val feed = changesSince(spark, base, v0, "o_orderkey")
        .localCheckpoint() // one computation, sliced per version below
      var snap = readAt(spark, base, v0)
      AtomicPublish.versions(spark, base).filter(_ > v0).foreach { v =>
        val ch = feed.filter(col("_commit_version") === v)
        val ups = ch.filter(col("_change_type") =!= "delete")
          .drop("_change_type", "_commit_version")
        snap = snap
          .join(ch.select(col("o_orderkey")).distinct(),
            Seq("o_orderkey"), "left_anti")
          .unionByName(ups)
      }
      val folded = statusAgg(snap).collect().toSeq
      val direct = statusAgg(read(spark, base))
      require(direct.collect().toSeq == folded,
        "the folded change feed must reproduce the final snapshot")
      direct
    }

  /** STRING CLUSTERING KEY end-to-end — the reference's row-level
    * entities key on VARCHAR natural keys
    * (`/root/reference/sql/dds/s_sql_dds/table/t_dim_tables.sql:4,11,18,25`
    * — UNIQUE `customer_name`, `product_category`, …), so the cow table
    * must
    * cluster, discover and prune on strings. The fixture is adversarial
    * for a naive prefix encoding: every `c_name` shares the long
    * `Customer#0000…` prefix, so discovery's bucket join works only
    * because the encoding strips the manifest-global common prefix.
    * In-band requires: a range-local merge keeps ≥ 5 of 8 files
    * untouched (bucketed string discovery is LOCAL), a point lookup by
    * name returns exactly its row through [[readForKeys]], and a
    * predicate delete on the key prunes its discovery scan via the
    * stats maps (strictly fewer files scanned than listed). The oracle
    * replays the surviving state relationally. */
  def stringKeyCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_string_key", dir, "cow_strk") {
      val base = FsUtil.stateDir("cow_strk", dir)
      fsOf(spark, base).delete(new Path(base), true) // self-contained
      val cust = graft.Tables.customer(spark, dir)
      create(spark, base, cust, "c_name", numFiles = 8)
      val pre = manifest(spark, base).map(_.file).toSet

      val mx = cust.agg(max("c_custkey")).head().getLong(0)
      val k = col("c_custkey")
      val lo = k * 8 <= lit(mx)
      val upd = cust.filter(lo && k % 7 === 0 && !(k % 11 === 3))
        .withColumn("c_acctbal", col("c_acctbal") + lit(10.0))
        .withColumn("_delete", lit(false))
      val ins = cust.filter(k % 103 === 5)
        .withColumn("c_name", concat(lit("Xtra#"), col("c_name")))
        .withColumn("c_mktsegment", lit("NEW"))
        .withColumn("_delete", lit(false))
      val del = cust.filter(lo && k % 11 === 3)
        .withColumn("_delete", lit(true))
      merge(spark, base, upd.unionByName(ins).unionByName(del), "c_name")
      val referenced = manifest(spark, base).map(_.file).toSet.intersect(pre)
      require(referenced.size >= 5,
        "string-key discovery must keep non-intersecting files " +
          s"untouched: kept only ${referenced.size}/8")

      import spark.implicits._
      val probe = readForKeys(spark, base,
        Seq("Customer#000000001").toDF("c_name"), "c_name")
      require(probe.filter(col("c_name") === "Customer#000000001")
        .count() == 1L,
        "string-keyed point lookup must resolve its row")

      // 'Xtra#' sorts above every Customer# name: the stats maps must
      // confine discovery to the insert file(s)
      var scanned = -1L
      var total = -1L
      deleteWhere(spark, base, col("c_name") >= lit("Xtra#"), "c_name",
        onDiscovery = (s, t) => { scanned = s; total = t })
      require(scanned > 0 && scanned < total,
        s"string-key stats pruning must skip files: scanned $scanned/$total")

      read(spark, base).groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("c_acctbal").cast("decimal(18,2)"))
            .cast("decimal(18,2)").cast("double").as("total_bal"))
        .orderBy("c_mktsegment")
    }

  val stringKeySql: String =
    """WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer)
      |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |       CAST(CAST(SUM(CAST(CASE WHEN c_custkey * 8 <= m
      |                               AND c_custkey % 7 = 0
      |                               AND NOT c_custkey % 11 = 3
      |                          THEN c_acctbal + 10.0 ELSE c_acctbal
      |                          END AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total_bal
      |FROM customer, mx
      |WHERE NOT (c_custkey * 8 <= m AND c_custkey % 11 = 3)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val cdfReplaySql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
      |v1 AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey * 8 <= m AND o_orderkey % 7 = 0
      |              THEN o_totalprice + 10.0 ELSE o_totalprice
      |         END AS o_totalprice,
      |         o_orderstatus
      |  FROM orders, mx
      |  WHERE NOT (o_orderkey * 8 <= m AND o_orderkey % 11 = 3)
      |  UNION ALL
      |  SELECT o_orderkey + m, o_totalprice, 'I'
      |  FROM orders, mx WHERE o_orderkey % 103 = 5
      |),
      |v2 AS (SELECT * FROM v1 WHERE NOT o_orderkey % 19 = 7),
      |v3 AS (SELECT * FROM v2 WHERE o_orderstatus <> 'I')
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM v3 GROUP BY 1 ORDER BY 1""".stripMargin
}
