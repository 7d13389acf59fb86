package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.io.{AtomicPublish, CowTable}
import perfbench.Data.Order

/** `lake_dml`: seeded row-level statements against a copy-on-write table
  * over `orders`, each changing about 1% of the rows, while a change-feed
  * subscriber folds every committed version into a replica table through
  * `CowTable.merge`. A round runs each of the ten statement kinds once, in
  * a fixed order; after each statement the subscriber drains the feed.
  *
  * The harness keeps an in-memory model of the table (key → row) and
  * replays every statement on it; the gate compares the final table to the
  * model and the replica to the table. */
final class Dml(spark: SparkSession, seed: Long) extends Workload {
  private val Rows = 100000L
  private val Files = 8
  /** Restores go back two versions; the subscriber drains after every
    * statement, so eight retained versions are ample. */
  private val Retain = 8
  private val Touch = 1000

  private var dir = ""
  private var base = ""
  private var replica = ""
  private var startVersion = 0L
  private var model = Map.empty[Long, Order]
  private val history = mutable.LinkedHashMap.empty[Long, Map[Long, Order]]
  private var nextKey = 0L
  /** version → (fold commit nanoTime, change rows) */
  private val folded = new ConcurrentHashMap[Long, (Long, Long)]()
  private val lags = mutable.ArrayBuffer.empty[Double]
  private val changed = mutable.ArrayBuffer.empty[(String, Long)]
  private val usedResidues = mutable.Set.empty[(Int, Int)]

  val traceRounds: Int = 2

  /** A round runs every kind once, in this order. The seed varies each
    * statement's rows, not the order, so every seed replays the same mix
    * against a table of the same shape. A restore goes back two versions,
    * so it needs two statements before it. */
  private val Kinds = Seq("merge", "append", "delete_where", "dv_delete",
    "sql_update", "restore", "sql_merge", "sql_insert", "sql_delete", "compact")

  def setup(d: String): Unit = {
    dir = d
    base = s"$d/orders"
    replica = s"$d/replica"
    folded.clear(); lags.clear(); changed.clear(); history.clear(); usedResidues.clear()
    val src = Data.orders(spark, Rows, seed)
    val v0 = CowTable.create(spark, base, src, "o_orderkey", numFiles = Files,
      retain = Retain, statsCols = Seq("o_orderdate"))
    CowTable.create(spark, replica, Data.orders(spark, Rows, seed), "o_orderkey",
      numFiles = Files)
    model = src.collect().iterator.map(Order.of).map(o => o.key -> o).toMap
    history(v0) = model
    nextKey = Rows + 1
    startVersion = v0 + 1
  }

  /** The subscriber's drain: an incremental run of the change-feed query
    * from its checkpoint up to the latest committed version. Running it
    * on demand, rather than as a continuously polling query, keeps its
    * work out of the statements' time and makes each run repeat the same
    * calls. */
  private def drain(): Unit =
    spark.readStream.format("graft-artifact")
      .option("base", base).option("cow", "true")
      .option("changeFeed", "true").option("key", "o_orderkey")
      .option("startVersion", startVersion.toString)
      .load()
      .writeStream
      .foreachBatch((batch: DataFrame, _: Long) => fold(batch))
      .option("checkpointLocation", s"$dir/checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** The subscriber: one by-key merge per committed version, in order.
    * The micro-batch is cached so the change rows are computed once. */
  private def fold(batch: DataFrame): Unit = Spans("cdc.fold", "streaming") {
    val changes = batch.persist()
    try {
      val counts = changes.groupBy("_commit_version").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      counts.foreach { case (v, n) =>
        CowTable.merge(spark, replica,
          changes.filter(col("_commit_version") === v)
            .withColumn("_delete", col("_change_type") === "delete")
            .drop("_change_type", "_commit_version"),
          "o_orderkey")
        folded.put(v, (System.nanoTime(), n))
      }
    } finally changes.unpersist()
  }

  private def head: Long = AtomicPublish.committed(spark, base)

  private def sql(statement: String): Long = { spark.sql(statement); -1L }

  private def sortedKeys: Array[Long] = model.keysIterator.toArray.sorted

  /** `n` adjacent live keys starting at fraction `at` of the key space:
    * late changes cluster on a key range, as they do in a table keyed in
    * arrival order. */
  private def pickRange(at: Double, n: Int): Seq[Long] = {
    val ks = sortedKeys
    val from = (at * math.max(1, ks.length - n)).toInt
    ks.slice(from, from + n).toSeq
  }

  private def fresh(rnd: SplittableRandom, n: Int): Seq[Order] =
    (0 until n).map { _ => nextKey += 1; Data.newOrder(nextKey - 1, rnd) }

  private def bumped(o: Order): Order = o.copy(price = o.price + 10.0,
    status = if (o.status == "F") "O" else "F")

  def round(r: Int): Seq[Op] = Kinds.zipWithIndex.map { case (kind, i) =>
    statement(kind, new SplittableRandom(seed * 104729L + r * 101L + i),
      new SplittableRandom(r * 101L + i).nextDouble())
  }

  /** One statement: its inputs, the timed call, and its replay. `rnd`
    * (seeded) draws the rows; `at` places a key or date range. `at`
    * depends on the round and kind only, so a statement touches the same
    * number of files under every seed, and the seed does not change the
    * statement's cost. */
  private def statement(kind: String, rnd: SplittableRandom, at: Double): Op = {
    var parent = -1L
    var returned = 0L
    // the API calls return the version they committed; SQL statements
    // return none (-1), and their guard is the jobs they launch
    var call: () => Long = () => -1L
    var replay: Map[Long, Order] => Map[Long, Order] = identity
    def prepare(): Unit = {
      parent = head
      kind match {
        case "merge" | "sql_merge" =>
          val hit = pickRange(at, Touch * 9 / 10)
          val (del, kept) =
            if (kind == "merge") hit.partition(_ % 9 == 0) else (Seq.empty[Long], hit)
          val upd = kept.map(k => bumped(model(k)))
          val ins = fresh(rnd, Touch - hit.size)
          val rows = upd ++ ins
          replay = m => m -- del ++ rows.map(o => o.key -> o)
          if (kind == "merge") {
            val src = Data.frame(spark, rows).withColumn("_delete", lit(false))
              .unionByName(Data.frame(spark, del.map(model)).withColumn("_delete", lit(true)))
            call = () => CowTable.merge(spark, base, src, "o_orderkey")
          } else {
            Data.frame(spark, rows).createOrReplaceTempView("perfbench_merge_src")
            call = () => sql(
              s"""MERGE INTO graft.`$base` t USING perfbench_merge_src s
                 |ON t.o_orderkey = s.o_orderkey
                 |WHEN MATCHED THEN UPDATE SET *
                 |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          }
        case "append" | "sql_insert" =>
          val rows = fresh(rnd, Touch)
          replay = m => m ++ rows.map(o => o.key -> o)
          if (kind == "append") {
            val df = Data.frame(spark, rows)
            call = () => CowTable.append(spark, base, df)
          } else {
            Data.frame(spark, rows).createOrReplaceTempView("perfbench_insert_src")
            call = () => sql(s"INSERT INTO graft.`$base` SELECT * FROM perfbench_insert_src")
          }
        case "delete_where" =>
          // about 1% of the date span: 24 of 2400 days
          val from = Data.Epoch.toEpochDay.toInt + (at * (Data.DateSpanDays - 24)).toInt
          val to = from + 23
          replay = m => m.filter { case (_, o) => o.day < from || o.day > to }
          val (d0, d1) = (date(from), date(to))
          call = () => CowTable.deleteWhere(spark, base,
            col("o_orderdate").between(lit(d0), lit(d1)), "o_orderkey")
        case "dv_delete" =>
          val res = unused(rnd, 97)
          replay = m => m.filter { case (k, _) => k % 97 != res }
          call = () => CowTable.dvDelete(spark, base, col("o_orderkey") % 97 === res)
        case "sql_delete" =>
          val res = unused(rnd, 101)
          replay = m => m.filter { case (k, _) => k % 101 != res }
          call = () => sql(s"DELETE FROM graft.`$base` WHERE o_orderkey % 101 = $res")
        case "sql_update" =>
          val keys = pickRange(at, Touch)
          val (lo, hi) = (keys.head, keys.last)
          replay = m => m.map { case (k, o) =>
            k -> (if (k >= lo && k <= hi) o.copy(price = o.price + 1.0) else o)
          }
          call = () => sql(s"UPDATE graft.`$base` SET o_totalprice = o_totalprice + 1.0 " +
            s"WHERE o_orderkey BETWEEN $lo AND $hi")
        case "compact" =>
          call = () => CowTable.compact(spark, base, Rows / 8, "o_orderkey")
        case "restore" =>
          val to = history.keys.filter(_ <= parent - 2).lastOption
            .orElse(history.keys.filter(_ < parent).lastOption)
            .getOrElse(sys.error("no earlier version to restore"))
          replay = _ => history(to)
          call = () => CowTable.restore(spark, base, to)
      }
    }
    Op(kind, if (kind.startsWith("sql_")) "sources" else "io.cow")(
      body = () => { val v = call(); returned = System.nanoTime(); v > parent },
      prepare = Some(() => prepare()),
      after = Some(() => drain()),
      check = Some(() => {
        val v = head
        require(v > parent, s"$kind committed no version")
        val before = model
        model = replay(model)
        history(v) = model
        while (history.size > Retain + 2) history.remove(history.head._1)
        changed += kind -> diff(before, model)
        Option(folded.get(v)).foreach { case (t, _) => lags += (t - returned) / 1e6 }
      }))
  }

  /** A residue modulo `m` that no earlier delete used, so every delete
    * matches rows. */
  private def unused(rnd: SplittableRandom, m: Int): Int = {
    var r = rnd.nextInt(m)
    while (usedResidues.contains((m, r))) r = rnd.nextInt(m)
    usedResidues += ((m, r))
    r
  }

  private def date(day: Int) = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day.toLong))

  /** Rows inserted, deleted or changed between two model states. */
  private def diff(a: Map[Long, Order], b: Map[Long, Order]): Long =
    a.count { case (k, o) => !b.get(k).contains(o) } + b.keysIterator.count(k => !a.contains(k))

  private def snapshot(path: String): Map[Long, Order] =
    CowTable.read(spark, path).select(Data.ordersSchema.fieldNames.map(col): _*)
      .collect().iterator.map(Order.of).map(o => o.key -> o).toMap

  private def firstDiff(a: Map[Long, Order], b: Map[Long, Order]): String =
    (a.keySet ++ b.keySet).find(k => a.get(k) != b.get(k))
      .map(k => s"key $k: ${a.get(k)} vs ${b.get(k)}").getOrElse("")

  def verify(): Seq[(String, Boolean, String)] = {
    val table = snapshot(base)
    val rep = snapshot(replica)
    Seq(
      ("dml.table_equals_replay", table == model,
        s"${table.size} rows vs model ${model.size}; ${firstDiff(table, model)}"),
      ("dml.replica_equals_table", rep == table,
        s"${rep.size} rows vs ${table.size}; ${firstDiff(rep, table)}"))
  }

  def report(): Map[String, Any] = {
    val manifest = CowTable.manifest(spark, base)
    val plain = s"$dir/live_plain"
    CowTable.read(spark, base).coalesce(1).write.mode("overwrite").parquet(plain)
    Map(
      "rows" -> model.size,
      "files" -> manifest.size,
      "files_with_dv" -> manifest.count(_.dvRows > 0),
      "manifest_entries" -> manifest.size,
      "manifest_cache_bound" -> 16384,
      "table_bytes" -> Fs.bytes(base),
      "plain_bytes" -> Fs.bytes(plain),
      "cdc_lag_ms" -> lags.toSeq,
      "change_rows_per_version" -> folded.values.asScala.map(_._2).toSeq,
      "rows_changed" -> changed.toSeq.map { case (k, n) => Map("kind" -> k, "rows" -> n) })
  }
}

object Fs {
  /** Bytes of the regular files under `path`. */
  def bytes(path: String): Long = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => java.nio.file.Files.size(p)).sum
    finally s.close()
  }
}
