package graft.io

import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** M1 — the reference's signature write semantic: idempotent
  * delete-then-insert for a date window
  * (`/root/reference/sql/init/01_init_all.sql:72-73`:
  * `DELETE FROM target WHERE effective_from >= start AND effective_to <= end`
  * then `INSERT ... SELECT ... WHERE` the same window). Re-running for the
  * same window is a no-op on the final state.
  *
  * Parquet has no row deletes, so the reload is expressed as a
  * partition-level rewrite designed for 100 TB:
  *
  *  - the target is partitioned by `eff_part` = `effective_from` truncated
  *    to a granularity chosen from data density (see below) → the delete
  *    predicate's date bounds prune to the `[start, end]` partition range
  *    (the analog of the reference's `idx_structured_dates` index);
  *  - rows in those partitions that the delete predicate does NOT match
  *    ("carried rows", e.g. straddlers: `effective_from >= start` but
  *    `effective_to > end`) are read back (partition-pruned scan) and
  *    re-written alongside the new data — note the reference's quirk is
  *    preserved: a row straddling the window is never reloaded, only
  *    carried;
  *  - each reload writes its partitions into a fresh IMMUTABLE tree
  *    under `trees/` and commits a tiny MANIFEST (partition → tree)
  *    through the [[AtomicPublish]] pointer. Partitions outside
  *    `[start, end]` are never read, written, or copied — the new
  *    manifest simply re-references their existing tree.
  *
  * READER ISOLATION comes from the manifest commit: [[read]] resolves
  * the committed manifest once and assembles the table from the
  * immutable trees it names, so a reader racing a reload sees either
  * the old window or the new one, never a half-swapped partition — the
  * failure the previous in-place `partitionOverwriteMode=dynamic`
  * rewrite allowed (old files deleted before new files land). The
  * manifest history keeps `retain = 2` versions and tree garbage
  * collection spares anything referenced by a retained version or
  * younger than a grace period, so a reader holding the previous
  * manifest keeps a complete view through one concurrent reload.
  * Multi-writer reloads inherit [[AtomicPublish]]'s optimistic
  * concurrency (distinct versions, last manifest wins the pointer).
  *
  * Partition granularity scales with density, like every other knob in
  * this library (`AnnParams`): at production density (hundreds of MB per
  * day) daily partitions are right, but the same layout at test scale is a
  * 365-dir small-file pathology (75 KB files, metadata-bound writes and
  * listings). The first load picks the coarsest of day/month/year that
  * keeps partitions above a row floor and records it in a
  * `_graft_granularity` marker; later reloads honor the on-disk layout, so
  * the choice never flips mid-target and the reload stays idempotent.
  *
  * Incoming rows with `effective_from` outside `[start, end]` cannot match
  * the insert window (`from >= start AND to <= end` forces
  * `start <= from <= to <= end`), so every written partition is inside the
  * pruned range by construction.
  */
object WindowReload {

  /** Partition granularity of a reload target: truncation of
    * `effective_from` to the partition key, both as a Column (plan side)
    * and on LocalDate (purge side).
    */
  sealed abstract class Granularity(val name: String) {
    def trunc(c: Column): Column
    def trunc(d: LocalDate): LocalDate
    /** Inclusive last day covered by the partition starting at `d`. */
    def partEnd(d: LocalDate): LocalDate
  }
  case object Day extends Granularity("day") {
    def trunc(c: Column): Column = c
    def trunc(d: LocalDate): LocalDate = d
    def partEnd(d: LocalDate): LocalDate = d
  }
  case object Month extends Granularity("month") {
    def trunc(c: Column): Column = to_date(date_trunc("month", c))
    def trunc(d: LocalDate): LocalDate = d.withDayOfMonth(1)
    def partEnd(d: LocalDate): LocalDate = d.plusMonths(1).minusDays(1)
  }
  case object Year extends Granularity("year") {
    def trunc(c: Column): Column = to_date(date_trunc("year", c))
    def trunc(d: LocalDate): LocalDate = d.withDayOfYear(1)
    def partEnd(d: LocalDate): LocalDate = d.plusYears(1).minusDays(1)
  }
  private val granularities = Seq(Day, Month, Year)

  private val PartCol = "eff_part"
  private val Marker = "_graft_granularity"
  /** Coarsen until the mean partition holds at least this many rows
    * (~10 MB at ~100 B/row) — the same density-scaling policy as
    * `AnnParams`: day partitions at production volume, month/year at
    * test SFs where daily dirs would be a small-file pathology.
    */
  private val MinRowsPerPartition = 100 * 1000L

  private def autoGranularity(rows: Long, start: LocalDate,
                              end: LocalDate): Granularity = {
    import java.time.temporal.ChronoUnit
    val days = ChronoUnit.DAYS.between(start, end) + 1
    granularities.find { g =>
      val parts = math.max(1L, days / (g match {
        case Day => 1L; case Month => 30L; case Year => 365L
      }))
      rows / parts >= MinRowsPerPartition
    }.getOrElse(Year)
  }

  /** Estimate the incoming row count from plan statistics — NO Spark
    * job, unlike a `count()` (at 100 TB a full pre-scan on the write
    * path is a real cost). CBO row counts when available, else
    * `sizeInBytes / schema row width`. The estimate only picks the
    * day/month/year bucket against a 100k-row floor: parquet compression
    * makes `sizeInBytes`-derived counts err LOW, which errs COARSE —
    * fewer, larger partitions, the safe side of the small-file
    * trade-off. The choice is pinned by the on-disk marker afterwards,
    * so estimate noise can never flip a target's layout mid-life.
    */
  private def estimateRows(df: DataFrame): Long = {
    val stats = df.queryExecution.optimizedPlan.stats
    stats.rowCount.map(_.toLong).getOrElse {
      val width = math.max(8, df.schema.fields.map(_.dataType.defaultSize).sum)
      (stats.sizeInBytes / width).toLong
    }
  }

  private def readMarker(fs: org.apache.hadoop.fs.FileSystem,
                         target: Path): Granularity = {
    val mp = new Path(target, Marker)
    if (!fs.exists(mp)) Day // pre-marker layout: the old fixed granularity
    else {
      val in = fs.open(mp)
      val name = try scala.io.Source.fromInputStream(in).mkString.trim
      finally in.close()
      granularities.find(_.name == name).getOrElse(Day)
    }
  }

  private val TreesDir = "trees"
  private val ManifestBase = "_manifest"
  private val ManifestDs = "manifest"
  /** Unreferenced trees younger than this survive GC: a concurrent
    * reload stages its tree BEFORE committing the manifest that
    * references it.
    */
  private val GcGraceMs = 10 * 60 * 1000L

  /** Immutable-version cache of reload manifests — the same durable
    * (base, version, writer-token) identity CowTable's manifest cache
    * keys on (a version dir is immutable once sealed; the token is
    * unique per creation, so a dropped/re-created target can never serve
    * stale entries). Every [[read]]/[[reload]]/[[gcTrees]] resolved the
    * committed manifest as a collect JOB (manifests are tens of rows);
    * populate-on-read plus a write-through prime after each publish
    * makes the resolution job-free at statement cadence (guide §1.2). */
  private val manifestCache = scala.collection.concurrent.TrieMap
    .empty[(String, Long, String), Seq[(LocalDate, String)]]
  private val ManifestCacheMaxEntries = 16384

  private def cacheKey(mbase: String, v: Long,
                       token: String): (String, Long, String) =
    (new Path(mbase).toUri.getPath, v, token)

  private def manifestAt(spark: SparkSession, target: String,
                         v: Long): Seq[(LocalDate, String)] = {
    val mbase = s"$target/$ManifestBase"
    val k = cacheKey(mbase, v, AtomicPublish.seal(spark, mbase, v).token)
    manifestCache.getOrElse(k, {
      val es = spark.read.parquet(s"$mbase/v$v/$ManifestDs")
        .collect().map(r => (r.getDate(0).toLocalDate, r.getString(1)))
        .toSeq
      if (manifestCache.size > 1024) manifestCache.clear()
      if (es.size <= ManifestCacheMaxEntries) manifestCache.put(k, es)
      es
    })
  }

  /** The committed manifest: partition date → tree dir relative to the
    * target. Empty when no reload has committed under `target`. */
  private def manifestOf(spark: SparkSession,
                         target: String): Seq[(LocalDate, String)] = {
    val v = AtomicPublish.committed(spark, s"$target/$ManifestBase")
    if (v < 0) Nil else manifestAt(spark, target, v)
  }

  /** The partitions of the tree at `p`: its top-level `eff_part=` dirs. */
  private def partitionsOf(fs: org.apache.hadoop.fs.FileSystem,
                           p: Path): Seq[LocalDate] =
    fs.listStatus(p).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (!name.startsWith(s"$PartCol=")) None
      else scala.util.Try(
        LocalDate.parse(name.stripPrefix(s"$PartCol="))).toOption
    }

  /** Assemble the committed table state: one partition-pruned scan per
    * referenced immutable tree, unioned. Resolving the manifest is the
    * only pointer read, so the returned frame is a consistent SNAPSHOT —
    * a reload committing concurrently cannot tear it.
    */
  def read(spark: SparkSession, target: String): DataFrame = {
    val entries = manifestOf(spark, target)
    require(entries.nonEmpty, s"no partitions committed under $target")
    readEntries(spark, target, entries)
  }

  /** Exact row count of the committed table state, from parquet footer
    * metadata when the census is metadata-sized ([[FsUtil.footerRows]];
    * zero jobs — the report-phase `count()` jobs were pure per-job
    * round-trip at statement cadence), falling back to the distributed
    * count for large targets.
    */
  def countRows(spark: SparkSession, target: String): Long = {
    val dirs = manifestOf(spark, target).map { case (d, t) =>
      s"$target/$t/$PartCol=$d"
    }
    FsUtil.footerRows(spark, dirs).getOrElse(read(spark, target).count())
  }

  def reload(spark: SparkSession,
             targetPath: String,
             incoming: DataFrame,
             start: LocalDate,
             end: LocalDate,
             granularity: Option[Granularity] = None): Unit = {
    val s = lit(java.sql.Date.valueOf(start))
    val e = lit(java.sql.Date.valueOf(end))

    val windowed = incoming
      .filter(col("effective_from") >= s && col("effective_to") <= e)

    val p = new Path(targetPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = manifestOf(spark, targetPath)
    val existed = entries.nonEmpty
    // The layout on disk wins: a target written at one granularity must
    // never be overwritten at another (two truncation schemes would
    // interleave in one dir tree).
    val g: Granularity =
      if (existed) readMarker(fs, p)
      else granularity.getOrElse(autoGranularity(
        estimateRows(windowed), start, end))

    def intersects(d: LocalDate): Boolean =
      !g.partEnd(d).isBefore(start) && !d.isAfter(end)

    val base = {
      // every partition the delete window intersects gets rewritten, so
      // carry ALL its rows the delete predicate does not match (at day
      // granularity these are exactly the straddlers: from in-window,
      // to beyond it). Reading ONLY the intersecting entries is the
      // partition pruning.
      val inWindow = entries.filter { case (d, _) => intersects(d) }
      if (inWindow.isEmpty) windowed
      else {
        val carried = readEntries(spark, targetPath, inWindow)
          .filter(!(col("effective_from") >= s && col("effective_to") <= e))
          .select(windowed.columns.map(col).toIndexedSeq: _*)
        carried.union(windowed)
      }
    }
    val toWrite = base.withColumn(PartCol, g.trunc(col("effective_from")))

    // A fresh immutable tree per reload: no path is ever both read and
    // overwritten, and readers of the old manifest keep complete files.
    // REBALANCE on the partition column before partitionBy: without it
    // each of the N upstream tasks writes a file into every partition
    // dir it touches (N × partitions tiny files — at 1000 executors a
    // small-file explosion); the AQE rebalance shuffle yields ~one
    // right-sized file per partition.
    val tree = s"$TreesDir/t-${java.util.UUID.randomUUID()}"
    toWrite.hint("rebalance", col(PartCol)).write
      .mode("errorifexists")
      .partitionBy(PartCol)
      .parquet(s"$targetPath/$tree")
    if (!fs.exists(new Path(p, Marker))) {
      val out = fs.create(new Path(p, Marker), true)
      try out.write(g.name.getBytes("UTF-8")) finally out.close()
    }

    // Partitions this reload produced — a dir listing of the new tree,
    // bounded by the window's partition count, not data size.
    val written = partitionsOf(fs, new Path(p, tree))
    // New manifest: out-of-window partitions keep their old tree
    // (re-referenced, never copied); every in-window partition resolves
    // to the new tree — or to nothing, which IS the reference's DELETE
    // of a window that got no replacement rows.
    val newEntries = entries.filterNot { case (d, _) => intersects(d) } ++
      written.map(_ -> tree)
    import spark.implicits._
    val mbase = s"$targetPath/$ManifestBase"
    val token = java.util.UUID.randomUUID().toString
    val v = AtomicPublish.publishAs(spark, mbase, Seq(
      ManifestDs -> newEntries
        .map { case (d, t) => (java.sql.Date.valueOf(d), t) }
        .toDF("part_date", "tree")), retain = 2, op = None, token = token,
      first = false).get
    // write-through prime: the committing statement holds the manifest
    // it just published and the token it sealed it with — later reads
    // must not re-derive it as a job
    if (manifestCache.size > 1024) manifestCache.clear()
    manifestCache.put(cacheKey(mbase, v, token), newEntries)

    gcTrees(spark, fs, p)
  }

  /** Partition-dir counts up to this are enumerated DRIVER-side (one
    * listStatus per dir, milliseconds on any filesystem) instead of
    * letting the scan's InMemoryFileIndex spawn distributed listing
    * jobs — at bench scale those listing jobs cost more than the reads
    * they plan (measured: 0.6 s per listing job for ~30 dirs). Larger
    * reloads keep Spark's parallel discovery, which is what a 100k-
    * partition table needs. */
  private val DriverListMaxDirs = 64

  /** The committed partitions as one frame, a union of their trees.
    * Each tree is one reload's write, so one footer ([[FsUtil.footerSchema]])
    * gives its schema, plus `eff_part` as the DATE Spark's partition
    * inference reads it as: the read starts no schema-inference job. */
  private def readEntries(spark: SparkSession, target: String,
                          entries: Seq[(LocalDate, String)]): DataFrame =
    entries.groupBy(_._2).toSeq.sortBy(_._1).map { case (tree, parts) =>
      val root = s"$target/$tree"
      val dirs = parts.map { case (d, _) => s"$root/$PartCol=$d" }
      val fs = new Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def filesIn(d: String): Seq[Path] =
        fs.listStatus(new Path(d)).toSeq.map(_.getPath)
          .filter(f => f.getName.endsWith(".parquet") &&
            !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      val files = if (dirs.size > DriverListMaxDirs) Nil else dirs.flatMap(filesIn)
      val sample = files.headOption
        .orElse(dirs.iterator.map(filesIn).collectFirst { case f +: _ => f })
      // no file at all: let Spark report it
      val reader = sample.fold(spark.read)(f =>
        spark.read.schema(FsUtil.footerSchema(spark, f)
          .add(PartCol, org.apache.spark.sql.types.DateType)))
      reader.option("basePath", root)
        .parquet((if (files.isEmpty) dirs else files.map(_.toString)): _*)
    }.reduce(_.unionByName(_))

  /** Drop trees no retained manifest version references, sparing trees
    * younger than the grace period (a concurrent reload stages its tree
    * before its manifest commit).
    */
  private def gcTrees(spark: SparkSession,
                      fs: org.apache.hadoop.fs.FileSystem, p: Path): Unit = {
    val referenced = AtomicPublish.versions(spark, s"$p/$ManifestBase")
      .flatMap(v => manifestAt(spark, p.toString, v).map(_._2)).toSet
    val troot = new Path(p, TreesDir)
    if (fs.exists(troot)) fs.listStatus(troot).foreach { st =>
      val rel = s"$TreesDir/${st.getPath.getName}"
      if (!referenced.contains(rel) &&
        st.getModificationTime < System.currentTimeMillis() - GcGraceMs)
        fs.delete(st.getPath, true)
    }
  }

  /** M3 twin — DQ-results window purge + append
    * (`fn_dq_checks_load.sql:15-17`): delete results whose run date falls
    * in the window, insert this run's rows. Partitioned by `run_date`, so
    * the purge is a pure partition overwrite (no straddlers: the predicate
    * is on the partition column itself). Dynamic overwrite is set on this
    * write alone; the caller's session keeps its own mode.
    */
  def reloadResults(spark: SparkSession,
                    targetPath: String,
                    results: DataFrame,
                    runDate: LocalDate): Unit =
    results
      .withColumn("run_date", lit(java.sql.Date.valueOf(runDate)))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("run_date").parquet(targetPath)
}
