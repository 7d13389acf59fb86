package graft

/** Registry-wide physical-plan lint: no query may plan a CartesianProduct
  * or BroadcastNestedLoopJoin unless it is on the explicit allowlist of
  * deliberate tiny-side broadcasts. Guards against a refactor silently
  * turning a keyed join into an O(n²) plan — locally invisible, fatal at
  * 100 TB.
  */
class PlanLintSpec extends SparkSpec {

  // run work inside their builders (streams / reload writes) — their plan
  // shape is covered by their own specs
  private val eager = Set("stream_hourly", "stream_dedup", "stream_sessions",
    "stream_enrich", "stream_join", "stream_upsert", "stream_hll",
    "stream_cdc", "silver_reloaded",
    "dq_reloaded", "export_reconcile", "purge_users", "io_formats",
    "compact_roundtrip")

  /** Deliberate nested-loop plans, all with a provably-small broadcast
    * side:
    *  - ann_topk: the QUERY subset (vec_id % 50) is broadcast by hint —
    *    the brute-force baseline's point;
    *  - ivf_*: the centroid table (≈ √(n/4) rows) is broadcast for the
    *    assignment / probe scoring cross joins;
    *  - dash_*: a ONE-ROW lookback threshold (scalar subquery) is
    *    broadcast against the results table — the standard scalar plan.
    */
  private val allowedNlj = Set(
    "ann_topk", "ivf_assign", "ivf_list_stats", "ivf_topk",
    "ivf_topk_filtered", // same probe stage: broadcast centroid cross join
    "ivf_append", // batch × broadcast √-law centroid table (assignment)
    "ann_recall", // composes ann_topk + ivf_topk, inherits their plans
    "emb_matryoshka", // truncated brute-force truth passes, query-side broadcast
    "pq_recall", // composes the ann_topk brute-force truth
    "ivfpq_topk", // IVF probe stage broadcasts the √-law centroid table
    "dim_customer_incremental", // upsertDim crossJoins a ONE-ROW max-id
    "events_kmv", // ONE-ROW global count × ONE-ROW merged-sketch k-th min
    "events_kmv_setops", // ONE-ROW exact counts × ONE-ROW sketch θ/k-th-min aggregates
    "events_cms", // ONE-ROW event total × the point-estimate rows
    "text_pmi", // ONE-ROW unigram/bigram totals × the frequent-pair set
    "zorder_layout", // ONE-ROW exact min/max bounds × the key stream
    "lm_score", // ONE-ROW (n_tokens, vocab) totals × the bigram stream
    "heavy_hitters", // ONE-ROW global count × the candidate exact counts
    "events_psi", // ONE-ROW time midpoint + ONE-ROW period totals
    "events_skew_report", // ONE-ROW totals × ONE-ROW top-10 aggregate
    "events_abtest", // ONE-ROW pooled z-statistic × the 2-row arm table
    "rater_agreement", // ONE-ROW kappa statistics × the 3-row rater card
    "olap_idle_customers", // ONE-ROW scalar average balance threshold
    "olap_part_value", // ONE-ROW global-total threshold (Q11 scalar subquery)
    "olap_top_supplier", // ONE-ROW scalar max revenue (Q15)
    "events_user_deciles", // ONE-ROW user-count total for NTILE arithmetic
    "orders_rfm", // same ONE-ROW totals, three quartile passes
    "sample_temperature", // ONE-ROW token/normalizer totals × source grain
    "ann_label_purity", // composes the ann_topk brute-force truth
    "entity_resolution", // ONE-ROW totals × ONE-ROW tier aggregates
    "dash_summary", "dash_by_type", "dash_trend",
    "dash_recent10", "dash_critical5")

  /** Every broadcast hint must pass through [[Bcast.ifBounded]] with a
    * declared row bound — a bare `functions.broadcast(df)` anywhere else
    * in main source is an unaudited hint that could pin a corpus-sized
    * frame into every executor at 100 TB. Source-level scan so a new
    * call site fails the build until its bound is stated.
    */
  test("broadcast hints only through Bcast.ifBounded") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val bare = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Bcast.scala")
      .flatMap { p =>
        java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i)
            if line.matches(""".*(?<![.\w])broadcast\(.*""") &&
              !line.trim.startsWith("*") && !line.trim.startsWith("//") =>
            s"$p:${i + 1}"
        }
      }.toList
    assert(bare.isEmpty, s"unaudited broadcast() hints: ${bare.mkString(", ")}")
  }

  /** A source file's code lines (comment lines dropped), each with its
    * 0-based line index. */
  private def code(p: java.nio.file.Path): Seq[(String, Int)] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.toSeq
      .filterNot { case (l, _) =>
        l.trim.startsWith("*") || l.trim.startsWith("//") ||
          l.trim.startsWith("/**")
      }
  }

  /** The top-level `def` of an object that holds code line `i`. */
  private def owner(lines: Seq[(String, Int)], i: Int): String = {
    val TopDef = """^  (?:private(?:\[\w+\])? )?def (\w+).*""".r
    lines.takeWhile(_._2 < i).reverse.collectFirst {
      case (TopDef(name), _) => name
    }.getOrElse("?")
  }

  /** Every cow writer commits through `CowTable.commitChange`: one CAS
    * publish site, no hand-written retry loop beside it, and failures in
    * the storage layer told apart by type, never by message text. */
  test("CAS publishes only through CowTable.commitChange; io/ never " +
    "classifies a failure by message") {
    import scala.jdk.CollectionConverters._
    val main = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    val publishers = main.flatMap { p =>
      val lines = code(p)
      lines.collect {
        case (l, i) if l.contains("tryPublish(") && !l.contains("def tryPublish") =>
          s"${p.getFileName}:${owner(lines, i)}"
      }
    }
    assert(publishers === List("CowTable.scala:commitChange"),
      "AtomicPublish.tryPublish must be called only from CowTable.commitChange")
    val cow = java.nio.file.Paths.get("src/main/scala/graft/io/CowTable.scala")
    assert(!code(cow).exists(_._1.contains("while (result < 0)")),
      "a hand-written CAS retry loop in CowTable: use commitChange")
    val byMessage = main.filter(_.toString.contains("/graft/io/")).flatMap { p =>
      code(p).collect { case (l, i) if l.contains("getMessage") =>
        s"${p.getFileName}:${i + 1}" }
    }
    assert(byMessage.isEmpty,
      s"io/ classifies failures by message text: ${byMessage.mkString(", ")}")
  }

  /** Every row-level writer deletes by position (`CowTable.deleteAt`):
    * none reads live rows and writes them back past a key anti-join, so
    * the table's only anti-joins subtract deletion vectors in a scan and
    * drop removed entries from a carried-over manifest. */
  test("CowTable anti-joins only in scanEntries and carryOver") {
    import scala.jdk.CollectionConverters._
    val cow = java.nio.file.Paths.get("src/main/scala/graft/io/CowTable.scala")
    val banner = java.nio.file.Files.readAllLines(cow).asScala
      .indexWhere(_.contains("Registered checks"))
    assert(banner > 0, "no Registered checks banner in CowTable.scala")
    val lines = code(cow).takeWhile(_._2 < banner)
    val owners = lines.collect {
      case (l, i) if l.contains("\"left_anti\"") => owner(lines, i)
    }
    assert(owners.nonEmpty && owners.toSet === Set("scanEntries", "carryOver"),
      s"left_anti in ${owners.mkString(", ")}: a row-level writer must " +
        "delete through deleteAt, not rewrite its survivors")
  }

  /** The deletion-vector format is known by one module: `io/CowTable`
    * encodes a vector ([[graft.io.CowTable]]'s `encodeVector`) and
    * decodes it (`decodeVector`), and every other reader, the SQL scan
    * included, gets positions. */
  test("one deletion-vector codec: only encodeVector and decodeVector " +
    "name org.roaringbitmap; sources/ sees positions only") {
    import scala.jdk.CollectionConverters._
    def sourcesUnder(dir: String) = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    val parts = sourcesUnder("src/main/scala/graft/sources").flatMap { p =>
      code(p).collect {
        case (l, i) if Seq("dvParts", "deletedPositions", "vectored")
          .exists(l.contains) => s"${p.getFileName}:${i + 1}"
      }
    }
    assert(parts.isEmpty,
      s"sources/ handles vector parts: ${parts.mkString(", ")}")
    val cowPath = java.nio.file.Paths.get("src/main/scala/graft/io/CowTable.scala")
    val codec = sourcesUnder("src/main").flatMap { p =>
      val lines = code(p)
      lines.collect { case (l, i) if l.contains("org.roaringbitmap") =>
        if (p.endsWith(cowPath)) owner(lines, i) else s"${p.getFileName}:${i + 1}"
      }
    }
    assert(codec.toSet === Set("encodeVector", "decodeVector"),
      s"org.roaringbitmap named in ${codec.mkString(", ")}")
  }

  /** The storage layer reads one table layout: the commit markers, the
    * sealed versions and inline vectors that current writers
    * produce. No fallback for an older layout may come back. */
  test("io/ and sources/ read one layout: no _committed pointer, no " +
    "_RELOC marker, no legacy branch") {
    import scala.jdk.CollectionConverters._
    val files = Seq("src/main/scala/graft/io", "src/main/scala/graft/sources")
      .flatMap(d => java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        .iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
    val lines = files.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex
        .map { case (l, i) => (s"${p.getFileName}:${i + 1}", l) }
    }
    val layouts = lines.collect {
      case (at, l) if l.contains("_committed") || l.contains("_RELOC") => at
    }
    assert(layouts.isEmpty, s"older-layout markers: ${layouts.mkString(", ")}")
    val legacy = lines.collect {
      case (at, l) if l.toLowerCase.contains("legacy") &&
        !l.contains("PARQUET_WRITE_LEGACY_FORMAT") => at
    }
    assert(legacy.isEmpty, s"legacy mentions: ${legacy.mkString(", ")}")
  }

  test("no unlisted query plans a cartesian or nested-loop join") {
    val offenders = SparkEntry.queries
      .filterNot(q => eager(q._1) || allowedNlj(q._1))
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
        if (plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"))
          Some(name)
        else None
      }
    assert(offenders.isEmpty, s"quadratic join plans in: ${offenders.mkString(", ")}")
  }
}
