package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** A version that is not readable: pruned by retention, or never sealed.
  * Typed so a writer whose parent was pruned under it by a competing
  * commit can tell that race from a fault. */
class VersionNotPublishedException(message: String)
  extends IllegalArgumentException(message)

/** Atomic MULTI-dataset publish — the [[graft.streaming.VersionedState]]
  * marker protocol extended from one state table to a SET of datasets
  * exposed as one unit, with OPTIMISTIC MULTI-WRITER concurrency. All
  * members are written once into a writer-unique staging directory and
  * sealed there with a `_PUBLISHED` marker naming the members (and the
  * writer's token); the writer then CLAIMS a version id by renaming the
  * stage to `v<N>` WITHOUT overwrite — first writer wins the id, the
  * loser retries the rename at `N+1` (data is never rewritten, only the
  * directory rename repeats). A claim is verified by reading back the
  * writer token, which also defuses the local-filesystem rename corner
  * where `rename(src, existingDir)` nests `src` inside the winner's
  * directory instead of failing. Commit is a per-version marker file
  * under `_commits/` — written with its commit instant, made visible by
  * rename — so two concurrent publishers each end up with their own
  * readable version and the committed pointer (max marker) moves
  * monotonically: no
  * last-writer-wins clobber is possible, the failure PostgreSQL
  * transactions prevent for free in the reference and naive
  * pointer-overwrite protocols reintroduce. Readers always resolve
  * through [[committed]], so a crash ANYWHERE before the commit marker
  * leaves them on the previous complete version — no reader can ever
  * observe new dims with the old fact.
  *
  * This closes the reference's one transactional-semantics gap: the
  * star build writes 4 dims + fact inside a single PostgreSQL
  * transaction (`/root/reference/data-pipeline/src/fill_dm_table.py:18-23`),
  * while a naive parquet port writes five directories sequentially with
  * a crash window between each (SURVEY §7.5). One pointer swap restores
  * the all-or-nothing contract — the same mechanism lakehouse table
  * formats use (a version = a manifest, commit = pointer swap), applied
  * across datasets.
  *
  * The commit markers are the only record of what is committed: a
  * version is committed iff its `_commits/v<N>` marker exists, and the
  * head is the largest marked version (−1 when there is none). A sealed
  * version without a marker — a writer between its claim and its
  * marker, or one that died there — is never visible, not even as a
  * base's first version. Superseded versions are pruned after each
  * successful commit, so storage stays O(`retain`) versions.
  *
  * Claim lease: a claimed version carries a `_CLAIM` file (the claim
  * instant, epoch millis) from the claim rename until its writer's
  * commit marker exists. A sealed, unmarked version whose lease is
  * younger than [[ClaimLeaseMs]] belongs to a writer still between its
  * claim and its marker, so no other writer collects or prunes it and
  * no reader treats it as an orphan. Only an unleased or expired claim
  * is a dead writer's orphan.
  */
object AtomicPublish {

  private val VDir = "^v(\\d+)$".r

  private def fsOf(spark: SparkSession, base: Path) =
    base.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def publishedVersions(spark: SparkSession, base: Path): Seq[Long] = {
    val fs = fsOf(spark, base)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case VDir(n) if fs.exists(new Path(st.getPath, "_PUBLISHED")) =>
            Some(n.toLong)
          case _ => None
        }
    }.flatten
  }

  /** How long a claimed but uncommitted version is presumed to belong
    * to a live writer. The claim-to-marker step is a few metadata
    * operations; a writer that takes longer is treated as dead. */
  private val ClaimLeaseMs = 60000L

  /** True iff `dir` holds an unexpired claim lease. A lease removed
    * while it is read was released by a commit. Callers that act on a
    * `false` must re-check the commit marker afterwards: the writer
    * writes its marker before it releases the lease. */
  private def claimLive(fs: org.apache.hadoop.fs.FileSystem,
                        dir: Path): Boolean = {
    val f = new Path(dir, "_CLAIM")
    try {
      val in = fs.open(f)
      val since =
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().nextOption().flatMap(_.trim.toLongOption)
        finally in.close()
      since.exists(System.currentTimeMillis() - _ < ClaimLeaseMs)
    } catch { case _: java.io.FileNotFoundException => false }
  }

  /** The version ids that carry a `_commits/v<N>` marker. */
  private def markedVersions(fs: org.apache.hadoop.fs.FileSystem,
                             b: Path): Seq[Long] =
    try fs.listStatus(new Path(b, "_commits")).toSeq
      .map(_.getPath.getName).collect { case VDir(n) => n.toLong }
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** Sealed versions that are also COMMITTED (marked). A writer crashing
    * between the `v<N>` claim rename and the `_commits` marker leaves a
    * sealed but never-committed orphan; the next writer skips to N+1, so
    * the orphan sits forever BETWEEN committed ids. It must be invisible
    * to every consumer that iterates history (the CDC cursor, the
    * commit-log stream, vacuum's reference set) — emitting it would be
    * exactly the dirty read the marker protocol exists to prevent. */
  private def committedVersions(spark: SparkSession, b: Path): Seq[Long] = {
    val marked = markedVersions(fsOf(spark, b), b).toSet
    publishedVersions(spark, b).filter(marked.contains)
  }

  /** True iff `v` is committed AND still readable (not pruned). */
  def isCommitted(spark: SparkSession, base: String, v: Long): Boolean =
    committedVersions(spark, new Path(base)).contains(v)

  /** True iff `v` is a sealed-or-GC-tombstoned ORPHAN: claimed by a
    * writer that crashed before its commit marker (or a tombstone left
    * when the orphan's directory was collected). A claim under a live
    * lease is not an orphan: its writer may still commit it. Iterating
    * readers skip orphans; an id that is neither committed, orphaned,
    * nor beyond the head must have been PRUNED and is a fail-fast. */
  def isOrphan(spark: SparkSession, base: String, v: Long): Boolean = {
    val b = new Path(base)
    val fs = fsOf(spark, b)
    val dir = new Path(b, s"v$v")
    val tomb = new Path(b, s"_commits/.orphan-v$v")
    if (fs.exists(tomb)) true
    else if (!fs.exists(dir)) false
    else !claimLive(fs, dir) && !isCommitted(spark, base, v) &&
      committed(spark, base) > v // a later commit proves the claim dead
  }

  /** Last committed version under `base`: the largest `_commits/v<N>`
    * marker, −1 if there is none. A sealed version without a marker is
    * not committed, so a base's first version becomes visible only once
    * its writer has written its marker. */
  def committed(spark: SparkSession, base: String): Long = {
    val b = new Path(base)
    markedVersions(fsOf(spark, b), b).foldLeft(-1L)(math.max)
  }

  /** The head an ITERATING reader may advance to: [[committed]],
    * lowered to just below the oldest version a live writer has claimed
    * but not yet committed. Advancing past such an id would force the
    * reader to skip it (losing its rows once it commits) or to fail. */
  def settledHead(spark: SparkSession, base: String): Long = {
    val b = new Path(base)
    val fs = fsOf(spark, b)
    val head = committed(spark, base)
    val done = committedVersions(spark, b).toSet
    val inFlight = publishedVersions(spark, b).filter(v =>
      v < head && !done.contains(v) && claimLive(fs, new Path(b, s"v$v")))
    if (inFlight.isEmpty) head else inFlight.min - 1
  }

  /** True once any version has been committed. */
  def exists(spark: SparkSession, base: String): Boolean =
    committed(spark, base) >= 0

  /** The lines of version `v`'s commit marker, None when `v` has no
    * marker. Every marker is written with its payload before the rename
    * that makes it visible ([[commitAndPrune]]). */
  private def markerLines(spark: SparkSession, base: String,
                          v: Long): Option[Seq[String]] = {
    val b = new Path(base)
    try {
      val in = fsOf(spark, b).open(new Path(b, s"_commits/v$v"))
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** A version's COMMIT INSTANT (epoch millis): the timestamp persisted
    * INSIDE the marker payload at commit time — durable metadata that a
    * directory copy, an rsync'd relocation or a filesystem that rewrites
    * mtimes cannot disturb. */
  def commitInstant(spark: SparkSession, base: String,
                    v: Long): Option[Long] =
    markerLines(spark, base, v).flatMap(_.headOption)
      .flatMap(_.trim.toLongOption)

  /** The OPERATION recorded in version `v`'s commit marker (`op=` line
    * of the marker payload) — what `CALL graft.history` surfaces. None
    * for a commit made without an operation name. */
  def commitOp(spark: SparkSession, base: String, v: Long): Option[String] =
    markerLines(spark, base, v).flatMap(_.collectFirst {
      case l if l.startsWith("op=") => l.drop(3)
    })

  /** Latest version whose COMMIT INSTANT is at or before `tsMillis` —
    * the `TIMESTAMP AS OF` resolution. The instant is the epoch-millis
    * payload written into the per-version marker at commit time
    * ([[commitInstant]]), so history survives a directory copy/move
    * intact. −1 when nothing was committed by then.
    */
  def committedAsOf(spark: SparkSession, base: String,
                    tsMillis: Long): Long = {
    val b = new Path(base)
    markedVersions(fsOf(spark, b), b)
      .filter(v => commitInstant(spark, base, v).exists(_ <= tsMillis))
      .foldLeft(-1L)(math.max)
  }

  /** TIME-BASED retention (`VACUUM … OLDER THAN ts`): prune committed
    * versions whose commit instant predates `tsMillis` — never the
    * current head, which must stay readable no matter how old. Pruning
    * stays PREFIX-BY-ID (the invariant the CDC cursor and the streaming
    * sources rely on: a readable base version proves no committed
    * version inside a span was pruned): the cutoff is the LARGEST
    * non-head committed version with instant < ts, and every committed
    * version at or below it goes, regardless of instant skew. Returns
    * the pruned ids, ascending. */
  def pruneOlderThan(spark: SparkSession, base: String,
                     tsMillis: Long): Seq[Long] = {
    val b = new Path(base)
    val fs = fsOf(spark, b)
    val head = committed(spark, base)
    val cutoffV = committedVersions(spark, b)
      .filter(v => v != head &&
        commitInstant(spark, base, v).exists(_ < tsMillis))
      .foldLeft(-1L)(math.max)
    if (cutoffV < 0) return Seq.empty
    val doomed = committedVersions(spark, b)
      .filter(v => v <= cutoffV && v != head).sorted
    doomed.foreach { n =>
      fs.delete(new Path(b, s"v$n"), true)
      fs.delete(new Path(b, s"_commits/v$n"), false)
      fs.delete(new Path(b, s"_commits/.orphan-v$n"), false)
    }
    doomed
  }

  /** Read dataset `name` of the committed version. */
  def read(spark: SparkSession, base: String, name: String): DataFrame = {
    val v = committed(spark, base)
    require(v >= 0, s"no committed version under $base")
    spark.read.parquet(memberDir(base, v, name))
  }

  /** Time-travel read: dataset `name` AS OF `version`. Only versions a
    * `retain` window kept are readable; a pruned or never-sealed
    * version fails fast ([[VersionNotPublishedException]]) rather than
    * returning a partial directory. A caller that knows the dataset's
    * `schema` passes it, so the read infers none (no listing job).
    */
  def readVersion(spark: SparkSession, base: String, name: String,
                  version: Long,
                  schema: Option[StructType] = None): DataFrame = {
    seal(spark, base, version)
    schema.fold(spark.read)(spark.read.schema).parquet(memberDir(base, version, name))
  }

  /** The directory that holds dataset `name` of version `v` — for callers
    * that read a member's files themselves (footer statistics). */
  def memberDir(base: String, v: Long, name: String): String = s"$base/v$v/$name"

  /** All readable COMMITTED version ids under `base`, ascending. Sealed
    * orphans (claimed by a crashed writer, never committed) are excluded
    * — their data was never made visible and must stay that way. */
  def versions(spark: SparkSession, base: String): Seq[Long] =
    committedVersions(spark, new Path(base)).sorted

  /** Write all `datasets` as the next version and commit them with one
    * pointer swap; returns the committed version id. Each frame is
    * fully materialized into `v<next>` BEFORE the marker and swap, so
    * the commit point is a single metadata operation.
    */
  def publish(spark: SparkSession, base: String,
              datasets: Seq[(String, DataFrame)]): Long =
    publish(spark, base, datasets, retain = 1)

  /** As [[publish]], keeping the newest `retain` committed versions on
    * disk (a lakehouse-style retention window): readers still resolve
    * the pointer, but [[readVersion]] can time-travel to any retained
    * version. `retain = 1` is the storage-O(1) default.
    */
  def publish(spark: SparkSession, base: String,
              datasets: Seq[(String, DataFrame)], retain: Int,
              op: Option[String] = None): Long =
    commitNew(spark, base, datasets, retain, op, newToken(), None).get

  /** As [[publish]], sealing the caller's `token` — so the caller knows
    * the new version's identity ([[Seal.token]]) without reading it
    * back. With `first` the version must be the base's FIRST: the claim
    * is made at `v0` only, and None is returned (nothing committed) when
    * a version is already committed or another writer holds the `v0`
    * claim — even one that has not written its marker yet. */
  private[graft] def publishAs(spark: SparkSession, base: String,
                               datasets: Seq[(String, DataFrame)], retain: Int,
                               op: Option[String], token: String,
                               first: Boolean): Option[Long] =
    commitNew(spark, base, datasets, retain, op, token,
      if (first) Some(0L) else None)

  /** Runs in every publish between the claim of `v<N>` and its commit
    * marker, with (base, N). A no-op; tests set it to hold a writer
    * inside that window. */
  @volatile private[graft] var afterClaim: (String, Long) => Unit =
    (_, _) => ()

  /** Compare-and-swap publish: stage `datasets`, then commit ONLY if the
    * version lands at exactly `parent + 1` — i.e. no other writer
    * committed since the caller read `committed == parent`. Returns the
    * committed id, or None when the parent moved, in which case the
    * staged data is discarded and the caller must RECOMPUTE against the
    * new committed version before retrying.
    *
    * This is the serializable-commit primitive row-level operations
    * need. [[publish]]'s claim loop guarantees isolation (each writer
    * gets its own intact version id) but not serializability: two
    * MERGEs computed from the same parent would both commit, and the
    * later version would silently drop the earlier one's row changes.
    * With tryPublish the loser observes the conflict and re-derives —
    * the optimistic-concurrency discipline lakehouse table formats use
    * for row-level transactions.
    */
  def tryPublish(spark: SparkSession, base: String,
                 datasets: Seq[(String, DataFrame)], retain: Int,
                 parent: Long, op: Option[String] = None): Option[Long] =
    commitNew(spark, base, datasets, retain, op, newToken(), Some(parent + 1))

  /** As the public `tryPublish`, sealing the caller's `token` (see
    * [[publishAs]]). */
  private[graft] def tryPublish(spark: SparkSession, base: String,
                                datasets: Seq[(String, DataFrame)], retain: Int,
                                parent: Long, op: Option[String],
                                token: String): Option[Long] =
    commitNew(spark, base, datasets, retain, op, token, Some(parent + 1))

  private def newToken(): String = java.util.UUID.randomUUID().toString

  /** Stage, claim and commit one version sealed with `token`. With
    * `at = None` the claim takes the next free id: rename does NOT
    * overwrite a populated directory, so the first writer wins an id and
    * the loser retries at N+1 — the data never moves again, only this
    * metadata rename repeats. With `at = Some(n)` the version must land
    * at exactly `n`: the head must be `n − 1` (checked before anything
    * is written) and a lost claim discards the stage and returns None. */
  private def commitNew(spark: SparkSession, base: String,
                        datasets: Seq[(String, DataFrame)], retain: Int,
                        op: Option[String], token: String,
                        at: Option[Long]): Option[Long] = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val b = new Path(base)
    val fs = fsOf(spark, b)
    val head = committed(spark, base)
    if (at.exists(_ != head + 1)) return None // fail fast, no write
    val stage = stageDatasets(spark, b, token, datasets)
    var v = at.getOrElse(head + 1)
    var claimed = claim(fs, b, stage, token, v)
    while (!claimed && at.isEmpty) {
      v += 1
      claimed = claim(fs, b, stage, token, v)
    }
    if (!claimed) {
      fs.delete(stage, true)
      None
    } else {
      afterClaim(base, v)
      commitAndPrune(spark, b, token, v, retain, op)
      Some(v)
    }
  }

  /** One claim attempt: rename the sealed `stage` to `v<v>`. True iff
    * this writer now owns the id. The read-back token check catches the
    * local-FS corner where renaming onto an existing directory NESTS the
    * stage inside the winner's version (the FileSystem#rename
    * move-into-directory contract) instead of failing: the nested stage
    * is pulled back out, so no `v<N>` ever holds two writers' files. */
  private def claim(fs: org.apache.hadoop.fs.FileSystem, b: Path, stage: Path,
                    token: String, v: Long): Boolean = {
    val dst = new Path(b, s"v$v")
    if (fs.exists(dst) || !fs.rename(stage, dst)) false
    else if (sealOf(fs, dst).exists(_.token == token)) true
    else {
      val nested = new Path(dst, stage.getName)
      if (fs.exists(nested)) fs.rename(nested, stage)
      false
    }
  }

  /** Stage every member once into a writer-unique hidden directory and
    * seal it there — the version is complete before it can ever become
    * visible under a `v<N>` name. */
  private def stageDatasets(spark: SparkSession, b: Path, token: String,
                            datasets: Seq[(String, DataFrame)]): Path = {
    val fs = fsOf(spark, b)
    val stage = new Path(b, s".stage-$token")
    datasets.foreach { case (name, df) =>
      // a provably-local small frame (manifest/meta/txn of a cow
      // commit) is written by the driver in one parquet file — the
      // lakehouse metadata-file discipline; anything distributed keeps
      // the Spark write (see LocalParquet for the bound)
      LocalParquet.localRows(df) match {
        case Some((schema, rows)) =>
          val dir = new Path(stage, name)
          fs.mkdirs(dir)
          LocalParquet.write(spark,
            new Path(dir, s"part-00000-$token.snappy.parquet"), schema, rows)
        case None =>
          df.write.mode("overwrite").parquet(new Path(stage, name).toString)
      }
    }
    val marker = fs.create(new Path(stage, "_PUBLISHED"), true)
    try marker.write((token +: datasets.map(_._1)).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally marker.close()
    val lease = fs.create(new Path(stage, "_CLAIM"), true)
    try lease.write(String.valueOf(System.currentTimeMillis())
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally lease.close()
    stage
  }

  /** What a version's `_PUBLISHED` marker records: the writer `token`,
    * a UUID unique per version CREATION (a dropped and re-created table
    * reuses version IDS, never tokens), so it is the durable identity
    * immutable-version caches key on; and the `members`, the datasets
    * the version holds. */
  private[graft] case class Seal(token: String, members: Set[String])

  /** The seal of version `v` — one small FS read. Fails with
    * [[VersionNotPublishedException]] unless `v` is sealed under `base`
    * (pruned or never published). */
  private[graft] def seal(spark: SparkSession, base: String, v: Long): Seal = {
    val b = new Path(base)
    sealOf(fsOf(spark, b), new Path(b, s"v$v")).getOrElse(
      throw new VersionNotPublishedException(
        s"version $v under $base is not published (pruned or partial)"))
  }

  private def sealOf(fs: org.apache.hadoop.fs.FileSystem,
                     dir: Path): Option[Seal] =
    try {
      val in = fs.open(new Path(dir, "_PUBLISHED"))
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      Some(Seal(lines.headOption.getOrElse(""), lines.drop(1).toSet))
    } catch { case _: java.io.FileNotFoundException => None }

  /** Commit: a per-version marker made visible by rename, then the
    * claim lease is released. Markers are
    * append-only and version-named, so concurrent publishers each
    * commit their own version and [[committed]] (the max) moves
    * monotonically — no pointer clobber. Then prune versions (and
    * markers) older than the retention window, measured from the
    * now-committed maximum; unsealed version dirs at or below the
    * committed id are garbage (a partial write outside the stage
    * protocol, or a prune that stopped partway through deleting a
    * directory) and are collected so nothing parks on an id forever.
    * Neither step touches another writer's leased claim.
    */
  private def commitAndPrune(spark: SparkSession, b: Path, token: String,
                             v: Long, retain: Int,
                             op: Option[String] = None): Unit = {
    val fs = fsOf(spark, b)
    fs.mkdirs(new Path(b, "_commits"))
    val ctmp = new Path(b, s".commit-$token")
    // the marker PAYLOAD is the commit instant (epoch millis): durable
    // TIMESTAMP AS OF metadata that survives relocation — a directory
    // copy rewrites every mtime to the copy instant, which would
    // silently flatten the version history if mtime were the source of
    // truth. Later lines are `key=value` commit METADATA — today the
    // operation name ([[commitOp]], the history surface); the instant
    // parser reads only the first line, so the payload stays
    // forward-extensible.
    val out = fs.create(ctmp, true)
    try out.write((String.valueOf(System.currentTimeMillis()) +
      op.map(o => "\nop=" + o.replace('\n', ' ')).getOrElse(""))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(ctmp, new Path(b, s"_commits/v$v")) && fs.exists(ctmp))
      fs.delete(ctmp, false) // marker already present (crash-retry)
    fs.delete(new Path(b, s"v$v/_CLAIM"), false)

    val cur = committed(spark, b.toString)
    publishedVersions(spark, b).filter(n => n <= cur - retain &&
      !claimLive(fs, new Path(b, s"v$n"))).foreach { n =>
      fs.delete(new Path(b, s"v$n"), true)
      fs.delete(new Path(b, s"_commits/v$n"), false)
      fs.delete(new Path(b, s"_commits/.orphan-v$n"), false)
    }
    val committedNow = committedVersions(spark, b).toSet
    fs.listStatus(b).foreach { st =>
      st.getPath.getName match {
        case VDir(n) if st.isDirectory && n.toLong <= cur &&
          !fs.exists(new Path(st.getPath, "_PUBLISHED")) =>
          // unsealed directory parked on an id: garbage
          fs.delete(st.getPath, true)
        case VDir(n) if st.isDirectory && n.toLong < cur &&
          !committedNow.contains(n.toLong) &&
          !claimLive(fs, st.getPath) &&
          !fs.exists(new Path(b, s"_commits/v$n")) =>
          // sealed ORPHAN: claimed, never committed, a LATER commit
          // exists and the claim's lease is gone or expired — the
          // claiming writer is dead (a lost exact claim deletes its
          // stage; only a crash between claim and marker leaves this).
          // The marker is re-checked after the lease because a
          // committing writer releases its lease only once its marker
          // exists. A tombstone keeps the id distinguishable from a
          // PRUNED committed version for iterating readers (skip vs
          // fail-fast).
          val tomb = new Path(b, s"_commits/.orphan-v$n")
          fs.create(tomb, true).close()
          fs.delete(st.getPath, true)
        case _ => ()
      }
    }
  }
}
