package graft.pipeline

import graft.{Bcast, SparkOrder}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gold layer: the reference's star-schema build `fn_dm_data_load`
  * (`data-pipeline/src/init_database.py:272-347`) — four grow-only
  * dimensions extracted with `SELECT DISTINCT` + `ON CONFLICT DO NOTHING`
  * (M2), then the fact assembled with four LEFT equi-joins on the string
  * natural keys (J1).
  *
  * Surrogate keys: the reference uses SERIAL. We need keys that are
  * deterministic (oracle-comparable) and stable across reruns, so a dim's
  * key is `row_number() OVER (ORDER BY natural_key NULLS FIRST)` over the
  * distinct key set — equivalent to loading the dims once in sorted order.
  * Scale note: the window is single-partition, but it runs AFTER the
  * distinct aggregation, so at 100 TB the shuffle reduces the input to the
  * dim's cardinality (≤ a few thousand for these conformed dims) before one
  * tiny task sorts it — the same shape Spark uses for any global sort of a
  * small aggregate. For a genuinely high-cardinality dimension swap in
  * `incrementalKeys` semantics: `maxExistingId + row_number` per batch of
  * NEW keys only (left_anti against the existing dim), which keeps the
  * single-partition step bounded by batch novelty, not table size.
  *
  * Fact id: the reference's SERIAL fact_id is insertion order, which is
  * unobservable; we carry the source row id (already unique per source row,
  * duplicates included) — deterministic and shuffle-free, unlike a global
  * `row_number()` which would single-partition the full fact at scale.
  *
  * The four dims are tiny, so Catalyst auto-broadcasts each join side
  * (`autoBroadcastJoinThreshold`) — the fact is never shuffled; the plan is
  * scan → 4 BroadcastHashJoins → project, all in one codegen stage.
  *
  * The runner (`PipelineRunner.run`) builds the same dims on the driver
  * instead: [[dimKeys]] takes every dim's keys from one aggregate over
  * silver, [[upsertLocal]] is the driver twin of [[dim]] and
  * [[upsertDim]], and [[factWithKeys]] resolves the fact's foreign keys
  * by hash lookup in those driver-held dims — a scan, a projection and a
  * write, with no join, no shuffle and no broadcast job.
  */
object Star {

  /** A dim of the star: its dataset name, surrogate id column, natural
    * key column, and the silver column the natural key comes from. */
  final case class DimDef(name: String, idCol: String, nkCol: String, source: String)

  /** The four dims, in the order [[factWithDims]] and [[factWithKeys]]
    * take them. */
  val Dims: Seq[DimDef] = Seq(
    DimDef("dim_customer", "customer_id", "customer_name", "user_name"),
    DimDef("dim_product", "product_id", "product_category", "product_category"),
    DimDef("dim_region", "region_id", "region_name", "region"),
    DimDef("dim_status", "status_id", "status_name", "customer_status"))

  /** One dimension: distinct natural keys with deterministic surrogate ids.
    * NULL natural keys are excluded — the reference dims declare the key
    * `UNIQUE NOT NULL` (`t_dim_tables.sql:4,11,18,25`), so a NULL key can
    * never enter; the fact's LEFT join then leaves a NULL foreign key for
    * such rows, which is what the completeness DQ check measures.
    */
  def dim(silver: DataFrame, naturalKey: String, idCol: String, nkCol: String): DataFrame =
    silver.select(col(naturalKey).as(nkCol)).filter(col(nkCol).isNotNull).distinct()
      .withColumn(idCol, row_number().over(Window.orderBy(col(nkCol))).cast("long"))
      .select(col(idCol), col(nkCol))

  def dimCustomer(silver: DataFrame): DataFrame = dim(silver, "user_name", "customer_id", "customer_name")
  def dimProduct(silver: DataFrame): DataFrame = dim(silver, "product_category", "product_id", "product_category")
  def dimRegion(silver: DataFrame): DataFrame = dim(silver, "region", "region_id", "region_name")
  def dimStatus(silver: DataFrame): DataFrame = dim(silver, "customer_status", "status_id", "status_name")

  /** Incremental M2 upsert: grow-only merge of new natural keys into an
    * existing dim, preserving existing surrogate ids (`ON CONFLICT (nk) DO
    * NOTHING` + SERIAL, `init_database.py:280-285`). New keys get
    * `maxExistingId + row_number(ORDER BY nk)`.
    */
  def upsertDim(existing: DataFrame, incoming: DataFrame,
                idCol: String, nkCol: String): DataFrame = {
    // NOT NULL natural keys only (reference constraint); also makes the
    // left_anti join null-safe — a NULL key would never match an existing
    // NULL row and would be re-appended with a fresh id on every run.
    val newKeys = incoming.select(col(nkCol)).filter(col(nkCol).isNotNull).distinct()
      .join(existing, Seq(nkCol), "left_anti")
    val maxId = existing.agg(coalesce(max(col(idCol)), lit(0L)).as("mx"))
    val assigned = newKeys.crossJoin(maxId)
      .withColumn(idCol,
        (col("mx") + row_number().over(Window.orderBy(col(nkCol)))).cast("long"))
      .select(col(idCol), col(nkCol))
    existing.select(col(idCol), col(nkCol)).union(assigned)
  }

  /** Every dim's distinct non-NULL natural keys (in [[Dims]] order) from
    * ONE aggregate over silver: the four key columns are exploded into
    * (dim, key) pairs and deduplicated together — one shuffle, not one
    * per dim. The collect stops at `Dims.size × (SafeRows + 1)` pairs,
    * so either every key reaches the driver or some dim shows more than
    * `SafeRows` keys and the build fails here. In the runner the dims
    * are closed domains by Bronze's construction (`user_name` is
    * `'User ' || custkey % 100`: at most 100 keys).
    */
  def dimKeys(silver: DataFrame): Seq[Seq[String]] = {
    val pairs = explode(array(Dims.zipWithIndex.map { case (d, i) =>
      struct(lit(i).as("dim"), col(d.source).as("nk"))
    }: _*))
    val got = silver.select(pairs.as("p")).select("p.*")
      .filter(col("nk").isNotNull).distinct()
      .limit(Dims.size * (Bcast.SafeRows.toInt + 1)).collect()
      .groupBy(_.getInt(0))
    Dims.indices.map { i =>
      val keys = got.getOrElse(i, Array.empty).map(_.getString(1)).toSeq
      require(keys.size <= Bcast.SafeRows,
        s"${Dims(i).name} has more than ${Bcast.SafeRows} natural keys; " +
          "the runner builds its dims on the driver and cannot hold it")
      keys
    }
  }

  /** Driver-side twin of [[upsertDim]], and of [[dim]] when `existing`
    * is empty: existing (id, key) pairs are kept as they are; each new
    * distinct key gets `max(existing id, 0) + rank`, ranked in Spark's
    * string order ([[SparkOrder.strings]]), exactly as the window does. */
  def upsertLocal(existing: Seq[(Long, String)],
                  incoming: Seq[String]): Seq[(Long, String)] = {
    val known = existing.iterator.map(_._2).toSet
    val fresh = incoming.iterator.filter(k => k != null && !known(k)).toSeq
      .distinct.sorted(SparkOrder.strings)
    val top = existing.iterator.map(_._1).maxOption.getOrElse(0L)
    existing ++ fresh.zipWithIndex.map { case (k, i) => (top + i + 1, k) }
  }

  /** Driver-visible M2 incremental proof: build the customer dim from the
    * FIRST half-year of silver only, then upsert the second half-year's
    * keys through [[upsertDim]]. Grow-only id stability is what the
    * oracle checks: window-1 keys keep the ids a from-scratch build of
    * window 1 would give them (`ON CONFLICT DO NOTHING` semantics,
    * `init_database.py:280-309`), and only genuinely new keys draw
    * max+row_number ids.
    */
  def dimCustomerIncremental(silver: DataFrame,
                             splitDate: String = "2023-01-03"): DataFrame = {
    val split = lit(splitDate).cast("date")
    val d1 = dimCustomer(silver.filter(col("effective_from") < split))
    upsertDim(d1,
      silver.filter(col("effective_from") >= split)
        .select(col("user_name").as("customer_name")),
      "customer_id", "customer_name")
  }

  /** Oracle for [[dimCustomerIncremental]] (appends to the silver CTE
    * prefix; includes the final SELECT).
    */
  def dimCustomerIncrementalSql(splitDate: String = "2023-01-03"): String =
    s"""inc_w1 AS (
       |  SELECT DISTINCT user_name AS customer_name FROM silver
       |  WHERE user_name IS NOT NULL AND effective_from < DATE '$splitDate'
       |), inc_d1 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY customer_name) AS BIGINT) AS customer_id,
       |         customer_name
       |  FROM inc_w1
       |), inc_new AS (
       |  SELECT DISTINCT user_name AS customer_name FROM silver s
       |  WHERE user_name IS NOT NULL AND effective_from >= DATE '$splitDate'
       |    AND NOT EXISTS (SELECT 1 FROM inc_w1 w WHERE w.customer_name = s.user_name)
       |), inc_mx AS (SELECT COALESCE(MAX(customer_id), 0) AS mx FROM inc_d1)
       |SELECT customer_id, customer_name FROM inc_d1
       |UNION ALL
       |SELECT CAST(mx + row_number() OVER (ORDER BY customer_name) AS BIGINT) AS customer_id,
       |       customer_name
       |FROM inc_new, inc_mx""".stripMargin

  /** Fact build: 4-way left join surrogate-key resolution
    * (`init_database.py:330-343`). NULL natural keys never match
    * (SQL null equality), leaving a NULL foreign key — exactly the
    * reference's LEFT JOIN behavior, and what the completeness DQ check
    * measures.
    */
  def fact(silver: DataFrame): DataFrame =
    factWithDims(silver, Seq(dimCustomer(silver), dimProduct(silver),
      dimRegion(silver), dimStatus(silver)))

  /** Fact build against externally-supplied dims (the incremental-upsert
    * path: dims carry ids assigned in PRIOR runs, which a fresh
    * `dim(silver)` rebuild would renumber).
    */
  def factWithDims(silver: DataFrame, dims: Seq[DataFrame]): DataFrame = {
    require(dims.size == 4, "expected customer, product, region, status dims")
    // customer/product carry no proven bound here (any caller's dims) —
    // unhinted, so the stats/AQE path broadcasts them only while they
    // actually fit; region/status are closed domains and keep the hint.
    // (The runner's dims are all closed domains by Bronze's
    // construction; it resolves them with factWithKeys.)
    val c = Bcast.ifBounded(dims(0), Bcast.Linear)
    val p = Bcast.ifBounded(dims(1), Bcast.Linear)
    val r = Bcast.ifBounded(dims(2), Bcast.Domain)
    val st = Bcast.ifBounded(dims(3), Bcast.Domain)
    silver
      .join(c, silver("user_name") === c("customer_name"), "left")
      .join(p, silver("product_category") === p("product_category"), "left")
      .join(r, silver("region") === r("region_name"), "left")
      .join(st, silver("customer_status") === st("status_name"), "left")
      .select(factColumns(silver,
        Seq(c("customer_id"), p("product_id"), r("region_id"), st("status_id"))): _*)
  }

  /** Fact build against dims the driver holds, each a natural key →
    * surrogate id map in [[Dims]] order (the runner's). Each foreign key
    * is a hash lookup in one broadcast variable: the same LEFT equi-join
    * on a unique key as [[factWithDims]] (a NULL or unknown key gives a
    * NULL id), without a join, a shuffle or a broadcast-exchange job —
    * the fact is one scan, projection and write.
    */
  def factWithKeys(silver: DataFrame, dims: Seq[Map[String, Long]]): DataFrame = {
    require(dims.size == Dims.size, "expected customer, product, region, status dims")
    val held = silver.sparkSession.sparkContext.broadcast(dims.toIndexedSeq)
    val ids = Dims.zipWithIndex.map { case (d, i) =>
      val id = udf((nk: String) => Option(nk).flatMap(held.value(i).get))
      id(silver(d.source)).as(d.idCol)
    }
    silver.select(factColumns(silver, ids): _*)
  }

  /** The fact's columns: the source row id, the four foreign keys, then
    * the measures and validity columns from silver. */
  private def factColumns(silver: DataFrame, ids: Seq[Column]): Seq[Column] =
    (silver("id").as("fact_id") +: ids) ++
      Seq("age", "salary", "purchase_amount", "transaction_count",
        "effective_from", "effective_to", "current_flag").map(silver(_))

  /** DuckDB oracle rendering of dims + fact over a `silver` CTE. */
  val sqlCte: String =
    """dim_customer AS (
      |  SELECT CAST(row_number() OVER (ORDER BY customer_name) AS BIGINT) AS customer_id,
      |         customer_name
      |  FROM (SELECT DISTINCT user_name AS customer_name FROM silver WHERE user_name IS NOT NULL)
      |), dim_product AS (
      |  SELECT CAST(row_number() OVER (ORDER BY product_category) AS BIGINT) AS product_id,
      |         product_category
      |  FROM (SELECT DISTINCT product_category FROM silver WHERE product_category IS NOT NULL)
      |), dim_region AS (
      |  SELECT CAST(row_number() OVER (ORDER BY region_name) AS BIGINT) AS region_id,
      |         region_name
      |  FROM (SELECT DISTINCT region AS region_name FROM silver WHERE region IS NOT NULL)
      |), dim_status AS (
      |  SELECT CAST(row_number() OVER (ORDER BY status_name) AS BIGINT) AS status_id,
      |         status_name
      |  FROM (SELECT DISTINCT customer_status AS status_name FROM silver WHERE customer_status IS NOT NULL)
      |), fact AS (
      |  SELECT s.id AS fact_id,
      |         c.customer_id, p.product_id, r.region_id, st.status_id,
      |         s.age, s.salary, s.purchase_amount, s.transaction_count,
      |         s.effective_from, s.effective_to, s.current_flag
      |  FROM silver s
      |  LEFT JOIN dim_customer c ON s.user_name = c.customer_name
      |  LEFT JOIN dim_product p ON s.product_category = p.product_category
      |  LEFT JOIN dim_region r ON s.region = r.region_name
      |  LEFT JOIN dim_status st ON s.customer_status = st.status_name
      |)""".stripMargin
}
