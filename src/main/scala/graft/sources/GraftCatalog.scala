package graft.sources

import java.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, SupportsDelete, SupportsRead, SupportsRowLevelOperations, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.SupportsWrite
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.io.{AtomicPublish, CowTable}

/** V2 `TableCatalog` exposing [[CowTable]]s to SQL DML — the reference's
  * whole mutation surface is SQL (`DELETE`/`INSERT` inside
  * `fn_etl_data_load`, `/root/reference/sql/init/01_init_all.sql:63-141`),
  * so the row-level table must be reachable without the Scala API:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft",
  *     classOf[graft.sources.GraftCatalog].getName)
  *   spark.sql("DELETE FROM graft.`/warehouse/orders` WHERE status = 'X'")
  *   spark.sql("INSERT INTO graft.`/warehouse/orders` SELECT ...")
  *   spark.sql("SELECT ... FROM graft.`/warehouse/orders`")
  * }}}
  *
  * Tables are addressed by their absolute base path (one backquoted
  * identifier part), so one catalog serves every cow table with no
  * root-directory configuration. Reads go through the same
  * [[GraftArtifactSource]] scan (manifest-resolved, footer-pruned,
  * DV-aware); `DELETE FROM … WHERE` maps to [[CowTable.deleteWhere]]
  * via `SupportsDelete` when every conjunct converts (stats-pruned
  * discovery, the matching rows deleted by position — a
  * METADATA-routed delete that rewrites no file); `INSERT INTO` maps to
  * [[CowTable.append]] through the V1 write bridge (new pool files +
  * one manifest CAS commit, nothing rewritten); `MERGE INTO` rewrites
  * GROUP-BASED with runtime target-file pruning
  * ([[CowGroupMergeOperation]]); `UPDATE` / non-convertible `DELETE`
  * rewrite through the delta-based row-level framework
  * ([[CowRowLevelOperation]]). DDL closes the
  * lifecycle: `CREATE TABLE … TBLPROPERTIES ('key'='…')` (the
  * clustering-key contract rides in properties, CTAS included),
  * `DROP TABLE`, `RENAME TO` (one directory move — reads re-root
  * stored paths, so the table is relocatable), and the maintenance
  * surface as native `CALL`
  * procedures ([[GraftProcedures]]) — a cow table is fully operable
  * from SQL with no Scala.
  */
class GraftCatalog extends TableCatalog with ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.SupportsNamespaces {

  private var catalogName: String = "graft"

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  /** SUPPORT_TABLE_CONSTRAINT arms `ALTER TABLE … ADD/DROP CONSTRAINT`:
    * the analyzer refuses the statement outright for catalogs that
    * don't declare it ([[alterTable]] then stores CHECK constraints in
    * the cow meta; enforcement lives in the pool writer). */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  override def name(): String = catalogName

  /** Warehouse root for NAME-addressed tables, read from the LIVE
    * session conf at every call (catalog instances are cached by the
    * session's CatalogManager, so init-time options would pin whatever
    * was set before first use): `spark.sql.catalog.<name>.warehouse`.
    * Path-addressed tables (a backquoted absolute path) need no
    * warehouse. */
  private def warehouse: Option[String] =
    SparkSession.active.conf
      .getOption(s"spark.sql.catalog.$catalogName.warehouse")
      .map(_.stripSuffix("/"))

  /** Warehouse-relative identifier parts must stay INSIDE the warehouse
    * root: a backticked part carrying a path separator or a `..` step
    * would otherwise escape it (and DROP TABLE deletes recursively). */
  private def requireSafePart(part: String): String = {
    require(!part.contains("/") && !part.contains("\\") && part != ".." &&
      part != "." && part.nonEmpty,
      s"illegal identifier part `$part`: warehouse-relative names must " +
        "not contain path separators or dot-steps")
    part
  }

  /** An identifier's base path: one absolute-path part addresses the
    * table directly; otherwise namespace + name resolve under the
    * warehouse root (each part sanitized — no escape from the root). */
  private def basePath(ident: Identifier): Option[String] =
    if (ident.namespace().isEmpty && ident.name().startsWith("/"))
      Some(ident.name())
    else warehouse.map(w =>
      (w +: (ident.namespace() :+ ident.name()).map(requireSafePart))
        .mkString("/"))

  private def isCow(spark: SparkSession, base: String): Boolean =
    AtomicPublish.exists(spark, base) &&
      CowTable.meta(spark, base).isDefined

  /** `SHOW TABLES IN graft[.ns]`: the cow tables under the warehouse's
    * namespace directory. Path-addressed tables live outside any
    * namespace and are not enumerable (the same trade Delta's
    * path-tables make). */
  override def listTables(namespace: Array[String]): Array[Identifier] =
    warehouse.map { w =>
      val spark = SparkSession.active
      val dir = new org.apache.hadoop.fs.Path(
        (w +: namespace.toSeq).mkString("/"))
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dir)) Array.empty[Identifier]
      else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
        .filter(p => isCow(spark, p.toUri.getPath))
        .map(p => Identifier.of(namespace, p.getName))
    }.getOrElse(Array.empty)

  override def loadTable(ident: Identifier): Table = {
    val spark = SparkSession.active
    basePath(ident).filter(isCow(spark, _)) match {
      case Some(base) => new CowSqlTable(base)
      case None => throw new NoSuchTableException(ident)
    }
  }

  /** `SELECT … FROM graft.t VERSION AS OF n` — a read-only snapshot
    * pinned to committed version `n` (retention permitting; a pruned
    * version fails fast at scan time). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val spark = SparkSession.active
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new NoSuchTableException(ident)
    }
    basePath(ident).filter(isCow(spark, _)) match {
      case Some(base) =>
        if (!AtomicPublish.isCommitted(spark, base, v))
          sys.error(s"version $v under $base is not committed or was " +
            "pruned; increase `retain` on writes to keep time-travel depth")
        new CowSqlTable(base, pinned = Some(v))
      case None => throw new NoSuchTableException(ident)
    }
  }

  /** `SELECT … FROM graft.t TIMESTAMP AS OF ts` — resolved to the last
    * version whose commit marker predates `ts` (micros since epoch). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val spark = SparkSession.active
    basePath(ident).filter(isCow(spark, _)) match {
      case Some(base) =>
        val v = AtomicPublish.committedAsOf(spark, base,
          timestampMicros / 1000L)
        if (v < 0)
          sys.error(s"no version of $base was committed at or before " +
            s"timestamp $timestampMicros")
        new CowSqlTable(base, pinned = Some(v))
      case None => throw new NoSuchTableException(ident)
    }
  }

  /** `CREATE TABLE graft.`path`|graft.name (…) TBLPROPERTIES
    * ('key'='…')` — the clustering-key contract rides in table
    * properties: `key` (required, the row identity and manifest-pruning
    * dimension) and `statsCols` (optional comma-separated per-file
    * min/max columns). Version 0 is an empty manifest carrying the
    * meta; CTAS works too (Spark creates then appends through the
    * table's write builder). */
  /** The V2-column CREATE path: Spark routes `CREATE TABLE` through
    * this variant when any column carries a DEFAULT or `GENERATED
    * ALWAYS AS` clause. The default StructType conversion DROPS both,
    * so they are re-encoded here as field metadata — defaults under the
    * analyzer's own CURRENT_DEFAULT/EXISTS_DEFAULT keys, generation
    * expressions under GENERATION_EXPRESSION (engine-internal: the pool
    * writer recomputes the column on every data-bearing write). */
  override def createTable(ident: Identifier,
                           columns: Array[org.apache.spark.sql.connector.catalog.Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val fields = columns.map { c =>
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
      Option(c.defaultValue()).foreach { dv =>
        val sql = Option(dv.getSql).getOrElse(String.valueOf(dv.getValue))
        mb.putString("CURRENT_DEFAULT", sql)
        mb.putString("EXISTS_DEFAULT", sql)
      }
      Option(c.generationExpression()).foreach(g =>
        mb.putString("GENERATION_EXPRESSION", g))
      Option(c.identityColumnSpec()).foreach { i =>
        mb.putLong("IDENTITY_START", i.getStart)
        mb.putLong("IDENTITY_STEP", i.getStep)
        mb.putBoolean("IDENTITY_ALLOW_EXPLICIT", i.isAllowExplicitInsert)
      }
      org.apache.spark.sql.types.StructField(
        c.name(), c.dataType(), c.nullable(), mb.build())
    }
    createTable(ident, StructType(fields), partitions, properties)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val base = basePath(ident).getOrElse(sys.error(
      s"cannot resolve $ident: address the table by absolute path " +
        s"(graft.`/abs/path`) or set spark.sql.catalog.$catalogName" +
        ".warehouse for name-addressed tables"))
    require(partitions.isEmpty,
      "cow tables cluster on the `key` property, not PARTITIONED BY " +
        "(per-file key ranges + stats columns replace directory partitions)")
    val key = Option(properties.get("key")).getOrElse(sys.error(
      "CREATE TABLE on a graft table requires TBLPROPERTIES ('key'='<col>')"))
    // identity constraints (v1 contract): one BIGINT identity column,
    // never the clustering key — the key is the row identity the delta
    // writers address by, and identity values are minted at append time,
    // after the key has already bucketed the write
    val idCols = schema.fields.filter(_.metadata.contains("IDENTITY_START"))
    require(idCols.length <= 1,
      "at most one identity column per table")
    idCols.foreach { f =>
      require(f.dataType == org.apache.spark.sql.types.LongType,
        s"identity column `${f.name}` must be BIGINT")
      require(!CowTable.splitKeys(key).contains(f.name),
        s"identity column `${f.name}` cannot be the clustering key: " +
          "identity values are assigned at append time, after the key " +
          "has bucketed the write — cluster on a natural key instead")
    }
    val statsCols = Option(properties.get("statscols"))
      .orElse(Option(properties.get("statsCols")))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    // 'retain' is TABLE-LEVEL retention: how many committed versions
    // every later write (SQL DML included) keeps readable — the
    // time-travel / change-feed depth a subscriber can rely on
    val retain = Option(properties.get("retain")).map(_.trim.toInt)
      .getOrElse(1)
    CowTable.createEmpty(SparkSession.active, base, schema, key, statsCols,
      retain = retain)
    new CowSqlTable(base)
  }

  /** `ALTER TABLE graft.t ADD | RENAME | DROP COLUMN` — all three are
    * metadata-only commits: ADD widens the schema
    * ([[CowTable.addColumns]]), RENAME/DROP go through COLUMN MAPPING
    * ([[CowTable.renameColumn]]/[[CowTable.dropColumn]] — files carry
    * immutable physical names, reads map logical→physical), so no data
    * file is ever rewritten and old files stay valid. Key columns are
    * refused for rename/drop (the key is the row identity). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val spark = SparkSession.active
    val base = basePath(ident).filter(isCow(spark, _))
      .getOrElse(throw new NoSuchTableException(ident))
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          s"ADD COLUMN supports top-level columns only, got " +
            a.fieldNames().mkString("."))
        require(a.isNullable,
          "added columns must be nullable: existing rows have no value")
        // `… DEFAULT v`: CURRENT_DEFAULT fills future INSERTs that omit
        // the column (the analyzer reads it through Table.columns());
        // EXISTS_DEFAULT makes EXISTING files — which physically lack
        // the column — read back v instead of NULL (the parquet reader
        // honors it from the read schema's field metadata). Both carry
        // the validated constant-foldable SQL text.
        val md = Option(a.defaultValue()).map { dv =>
          val sql = Option(dv.getSql)
            .getOrElse(String.valueOf(dv.getValue))
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT", sql)
            .putString("EXISTS_DEFAULT", sql).build()
        }.getOrElse(org.apache.spark.sql.types.Metadata.empty)
        CowTable.addColumns(spark, base,
          Seq(org.apache.spark.sql.types.StructField(
            a.fieldNames().head, a.dataType(), nullable = true,
            metadata = md)))
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          s"RENAME COLUMN supports top-level columns only, got " +
            r.fieldNames().mkString("."))
        CowTable.renameColumn(spark, base, r.fieldNames().head, r.newName())
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          s"DROP COLUMN supports top-level columns only, got " +
            d.fieldNames().mkString("."))
        CowTable.dropColumn(spark, base, d.fieldNames().head)
      case a: TableChange.AddConstraint =>
        a.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            CowTable.addCheck(spark, base, c.name(), c.predicateSql())
          case other => throw new UnsupportedOperationException(
            "cow tables enforce CHECK constraints only (UNIQUE / PRIMARY " +
              s"KEY / FOREIGN KEY are not enforced): got ${other.toDDL()}")
        }
      case d: TableChange.DropConstraint =>
        CowTable.dropCheck(spark, base, d.name())
      case u: TableChange.UpdateColumnDefaultValue =>
        require(u.fieldNames().length == 1,
          s"SET/DROP DEFAULT supports top-level columns only, got " +
            u.fieldNames().mkString("."))
        CowTable.setColumnDefault(spark, base, u.fieldNames().head,
          Option(u.newCurrentDefault()).map(d =>
            Option(d.getSql).getOrElse(String.valueOf(d.getExpression))))
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE on a cow table supports ADD/RENAME/DROP COLUMN " +
          s"and ADD/DROP CONSTRAINT … CHECK, got " +
          other.getClass.getSimpleName)
    }
    new CowSqlTable(base)
  }

  /** `DROP TABLE graft.`path`|graft.name`: removes the table's versions,
    * pool and meta. Only a path that actually holds a cow table is
    * dropped. */
  override def dropTable(ident: Identifier): Boolean = {
    val spark = SparkSession.active
    basePath(ident).filter(isCow(spark, _)) match {
      case None => false
      case Some(base) =>
        val p = new org.apache.hadoop.fs.Path(base)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
    }
  }

  /** `ALTER TABLE graft.a RENAME TO graft.b`: one directory rename — the
    * table IS its base directory (versions, pool, meta all relative), so
    * identity moves atomically on a real filesystem. Renaming a
    * path-addressed table to a warehouse name (or vice versa) works the
    * same way; the destination must not already exist. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val spark = SparkSession.active
    val src = basePath(oldIdent).filter(isCow(spark, _))
      .getOrElse(throw new NoSuchTableException(oldIdent))
    val dst = basePath(newIdent).getOrElse(sys.error(
      s"cannot resolve rename target $newIdent: use an absolute path or " +
        s"set spark.sql.catalog.$catalogName.warehouse"))
    val sp = new org.apache.hadoop.fs.Path(src)
    val dp = new org.apache.hadoop.fs.Path(dst)
    val fs = sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dp))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        s"`$catalogName`.`${newIdent.name()}`")
    fs.mkdirs(dp.getParent)
    require(fs.rename(sp, dp), s"rename failed: $src -> $dst")
    ()
  }

  // ---- namespaces: directories under the warehouse root --------------
  override def listNamespaces(): Array[Array[String]] =
    warehouse.map { w =>
      val spark = SparkSession.active
      val dir = new org.apache.hadoop.fs.Path(w)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dir)) Array.empty[Array[String]]
      else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath)
        .filterNot(p => isCow(spark, p.toUri.getPath)) // tables aren't namespaces
        .map(p => Array(p.getName))
    }.getOrElse(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    Array.empty // one level: warehouse/<ns>/<table>

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || warehouse.exists { w =>
      val spark = SparkSession.active
      val dir = new org.apache.hadoop.fs.Path(
        (w +: namespace.toSeq).mkString("/"))
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)
    }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        catalogName +: namespace.toSeq)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    val w = warehouse.getOrElse(sys.error(
      s"set spark.sql.catalog.$catalogName.warehouse to create namespaces"))
    val spark = SparkSession.active
    val dir = new org.apache.hadoop.fs.Path(
      (w +: namespace.toSeq.map(requireSafePart)).mkString("/"))
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(dir)
    ()
  }

  override def alterNamespace(namespace: Array[String],
                              changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val spark = SparkSession.active
    warehouse.exists { w =>
      val dir = new org.apache.hadoop.fs.Path(
        (w +: namespace.toSeq.map(requireSafePart)).mkString("/"))
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // without CASCADE refuse ANY contents — not just cow tables:
      // loose files, half-created tables and non-cow directories would
      // otherwise be deleted recursively without the user asking for it
      if (!cascade && fs.exists(dir) && fs.listStatus(dir).nonEmpty)
        throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(
          (catalogName +: namespace.toSeq).toArray)
      fs.exists(dir) && fs.delete(dir, true)
    }
  }

  // ---- maintenance procedures: CALL graft.compact / graft.vacuum -----
  /** Unknown procedures surface as the analyzer's own ROUTINE_NOT_FOUND
    * resolution error (Spark 4.1 has no NoSuchProcedureException class;
    * AnalysisException is what a failed routine lookup reports), not a
    * bare RuntimeException. */
  override def loadProcedure(ident: Identifier): UnboundProcedure =
    GraftProcedures.byName.getOrElse(
      ident.name().toLowerCase(java.util.Locale.ROOT),
      throw new org.apache.spark.sql.AnalysisException("ROUTINE_NOT_FOUND",
        Map("routineName" -> s"`$catalogName`.`${ident.name()}`")))

  /** Procedures live in the catalog's root namespace only. */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.nonEmpty) Array.empty
    else GraftProcedures.byName.keys.toArray.sorted
      .map(n => Identifier.of(Array.empty, n))
}

object GraftCatalog {

  /** The registered check: the full SQL DML surface against one cow
    * table — `DELETE FROM … WHERE` (routed through `SupportsDelete` into
    * the stats-pruned position delete), `INSERT INTO … SELECT`
    * (new pool files + one manifest CAS, nothing rewritten), and the
    * final aggregate SELECTed back through the catalog's DV-aware DSv2
    * scan. In-band require: the catalog read and the API read agree on
    * the row count (same manifest, two paths). The oracle replays the
    * DML relationally. */
  def check(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_sql_delete", dir, "cow_sql") {
      val base = graft.io.FsUtil.stateDir("cow_sql", dir)
      new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true) // self-contained
      CowTable.create(spark, base, graft.Tables.orders(spark, dir),
        "o_orderkey", numFiles = 8)
      spark.conf.set("spark.sql.catalog.graft",
        classOf[GraftCatalog].getName)

      spark.sql(s"DELETE FROM graft.`$base` " +
        "WHERE o_orderstatus = 'F' AND o_totalprice < CAST(50000 AS DOUBLE)")
      val srcView = "cow_sql_orders_" +
        java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
      graft.Tables.orders(spark, dir).createOrReplaceTempView(srcView)
      spark.sql(s"INSERT INTO graft.`$base` " +
        "SELECT o_orderkey + 1000000000L, o_custkey, 'Z', o_totalprice, " +
        s"o_orderdate, o_orderpriority FROM $srcView " +
        "WHERE o_orderkey % 103 = 5")

      require(spark.sql(s"SELECT COUNT(*) FROM graft.`$base`")
        .head().getLong(0) == CowTable.read(spark, base).count(),
        "catalog scan and API read must resolve the same manifest")
      spark.sql(
        s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
           |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
           |FROM graft.`$base` GROUP BY 1 ORDER BY 1""".stripMargin)
    }

  val checkSql: String =
    """WITH final AS (
      |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
      |  WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000.0)
      |  UNION ALL
      |  SELECT o_orderkey + 1000000000, o_totalprice, 'Z'
      |  FROM orders WHERE o_orderkey % 103 = 5
      |)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM final GROUP BY 1 ORDER BY 1""".stripMargin

  /** SQL `MERGE INTO` + `UPDATE`, end-to-end through Spark's row-level
    * framework: one MERGE carrying all three actions (matched-delete on
    * `k % 11 = 3`, matched-update re-pricing `k % 7 = 0`, not-matched
    * insert of re-keyed `k % 103 = 5` rows) through the GROUP-BASED
    * route ([[CowGroupMergeOperation]] — runtime file pruning + whole-
    * file copy-on-write; this source touches every file's key range, so
    * the rewrite legitimately spans the table — the PRUNING proof is
    * [[mergePrunedCheck]]'s range-local merge), then an `UPDATE … WHERE`
    * through the DELTA route ([[CowRowLevelOperation]] — deletion
    * vectors, zero rewrites). In-band requires discriminate the two
    * routes: the MERGE leaves no vectors, the UPDATE creates them, and
    * the catalog read equals the API read. The oracle replays both
    * statements relationally. */
  def mergeCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_sql_merge", dir, "cow_sqlm") {
      val base = graft.io.FsUtil.stateDir("cow_sqlm", dir)
      new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true) // self-contained
      val orders = graft.Tables.orders(spark, dir)
      CowTable.create(spark, base, orders, "o_orderkey", numFiles = 8)
      spark.conf.set("spark.sql.catalog.graft",
        classOf[GraftCatalog].getName)

      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      val k = col("o_orderkey")
      val srcDf = orders.filter(k % 7 === 0 && !(k % 11 === 3))
        .withColumn("o_totalprice", col("o_totalprice") + lit(5.0))
        .unionByName(orders.filter(k % 11 === 3)
          .withColumn("o_orderstatus", lit("D")))
        .unionByName(orders.filter(k % 103 === 5)
          .withColumn("o_orderkey", k + lit(mx)))
      val srcView = "cow_sqlm_src_" +
        java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
      srcDf.createOrReplaceTempView(srcView)

      spark.sql(
        s"""MERGE INTO graft.`$base` t USING $srcView s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND s.o_orderstatus = 'D' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET
           |  o_totalprice = s.o_totalprice, o_orderstatus = 'U'
           |WHEN NOT MATCHED THEN INSERT
           |  (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |   o_orderdate, o_orderpriority)
           |  VALUES (s.o_orderkey, s.o_custkey, 'I', s.o_totalprice,
           |          s.o_orderdate, s.o_orderpriority)""".stripMargin)
      val m = CowTable.manifest(spark, base)
      require(m.map(_.dvRows).sum == 0L,
        "a group-based SQL MERGE is copy-on-write: no deletion vectors")

      // UPDATE rewrites through the delta path (predicate pushes into
      // the scan statically): delete-by-key as vectors + re-insert
      spark.sql(s"UPDATE graft.`$base` SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderstatus = 'I' AND o_orderkey % 5 = 1")
      require(CowTable.manifest(spark, base).exists(_.dvRows > 0),
        "the UPDATE's delete half must land as deletion vectors")

      require(spark.sql(s"SELECT COUNT(*) FROM graft.`$base`")
        .head().getLong(0) == CowTable.read(spark, base).count(),
        "catalog scan and API read must resolve the same manifest")
      spark.sql(
        s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
           |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
           |FROM graft.`$base` GROUP BY 1 ORDER BY 1""".stripMargin)
    }

  val mergeCheckSql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
      |merged AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 5.0
      |              ELSE o_totalprice END AS o_totalprice,
      |         CASE WHEN o_orderkey % 7 = 0 THEN 'U'
      |              ELSE o_orderstatus END AS o_orderstatus
      |  FROM orders WHERE o_orderkey % 11 <> 3
      |  UNION ALL
      |  SELECT o_orderkey + m, o_totalprice, 'I'
      |  FROM orders, mx WHERE o_orderkey % 103 = 5
      |),
      |final AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderstatus = 'I' AND o_orderkey % 5 = 1
      |              THEN o_totalprice * 2 ELSE o_totalprice
      |         END AS o_totalprice,
      |         o_orderstatus
      |  FROM merged
      |)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM final GROUP BY 1 ORDER BY 1""".stripMargin

  /** SQL MERGE SCHEMA EVOLUTION end-to-end — `MERGE WITH SCHEMA
    * EVOLUTION INTO` whose source carries a column the table lacks
    * (`o_note`): Spark diffs source vs target and drives this catalog's
    * `alterTable(AddColumn)` (gated by the AUTOMATIC_SCHEMA_EVOLUTION
    * capability), the add routes through COLUMN MAPPING (fresh physical
    * name), and the group-based rewrite then lands the evolved rows —
    * the SQL twin of the API [[CowTable.merge]]'s source-driven
    * evolution ([[CowTable.evolveCheck]]), the reference's DDL-first
    * ALTER+UPDATE workflow collapsed into one statement. In-band: the
    * range-local match set keeps ≥ 5/8 original files untouched (they
    * read back NULL for the new column), no deletion vectors. The
    * oracle replays the evolution relationally. */
  def mergeEvolveCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_sql_merge_evolve", dir, "cow_sqlme") {
      val base = graft.io.FsUtil.stateDir("cow_sqlme", dir)
      new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true) // self-contained
      val orders = graft.Tables.orders(spark, dir)
      CowTable.create(spark, base, orders, "o_orderkey", numFiles = 8)
      spark.conf.set("spark.sql.catalog.graft",
        classOf[GraftCatalog].getName)
      val pre = CowTable.manifest(spark, base).map(_.file).toSet

      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      val k = col("o_orderkey")
      val lo = k * 8 <= lit(mx)
      val srcDf = orders.filter(lo && k % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(5.0))
        .withColumn("o_note", lit("U"))
        .unionByName(orders.filter(k % 103 === 5)
          .withColumn("o_orderkey", k + lit(mx))
          .withColumn("o_orderstatus", lit("I"))
          .withColumn("o_note", lit("I")))
      val srcView = "cow_sqlme_src_" +
        java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
      srcDf.createOrReplaceTempView(srcView)

      spark.sql(
        s"""MERGE WITH SCHEMA EVOLUTION INTO graft.`$base` t
           |USING $srcView s ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)

      val m = CowTable.manifest(spark, base)
      val referenced = m.map(_.file).toSet.intersect(pre)
      require(referenced.size >= 5,
        "schema evolution must not rewrite unmatched files: kept only " +
          s"${referenced.size}/8")
      require(m.map(_.dvRows).sum == 0L,
        "a group-based SQL MERGE is copy-on-write: no deletion vectors")
      spark.sql(
        s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           |       CAST(COUNT(o_note) AS BIGINT) AS n_noted,
           |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
           |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
           |FROM graft.`$base` GROUP BY 1 ORDER BY 1""".stripMargin)
    }

  val mergeEvolveSql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
      |final AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey * 8 <= m AND o_orderkey % 7 = 0
      |              THEN o_totalprice + 5.0 ELSE o_totalprice
      |         END AS o_totalprice,
      |         o_orderstatus,
      |         CASE WHEN o_orderkey * 8 <= m AND o_orderkey % 7 = 0
      |              THEN 'U' END AS o_note
      |  FROM orders, mx
      |  UNION ALL
      |  SELECT o_orderkey + m, o_totalprice, 'I', 'I'
      |  FROM orders, mx WHERE o_orderkey % 103 = 5
      |)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(COUNT(o_note) AS BIGINT) AS n_noted,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM final GROUP BY 1 ORDER BY 1""".stripMargin

  /** The 100 TB proof for SQL MERGE: a RANGE-LOCAL merge (updates and
    * deletes confined to the lowest eighth of the key space — the same
    * batch the API [[CowTable.mergeCheck]] applies — plus inserts
    * re-keyed past max) through `MERGE INTO`. Spark's runtime group
    * filtering + the scan's `_file` runtime filter must confine the
    * REWRITE to the files actually holding matched keys: the in-band
    * require holds ≥ 5 of the 8 original pool files referenced
    * untouched in the new manifest (previously the SQL MERGE read AND
    * the delta write's discovery scanned O(table); now both the
    * rewrite read and the write are O(matched files + source)). The
    * relational outcome is identical to the API merge, so the oracle
    * is [[CowTable.mergeSql]] verbatim. */
  def mergePrunedCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_sql_merge_pruned", dir, "cow_sqlmp") {
      val base = graft.io.FsUtil.stateDir("cow_sqlmp", dir)
      new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true) // self-contained
      val orders = graft.Tables.orders(spark, dir)
      CowTable.create(spark, base, orders, "o_orderkey", numFiles = 8)
      spark.conf.set("spark.sql.catalog.graft",
        classOf[GraftCatalog].getName)
      val pre = CowTable.manifest(spark, base).map(_.file).toSet

      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      val k = col("o_orderkey")
      val lo = k * 8 <= lit(mx)
      val srcDf = orders.filter(lo && k % 7 === 0 && !(k % 11 === 3))
        .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
        .withColumn("_act", lit("U"))
        .unionByName(orders.filter(lo && k % 11 === 3)
          .withColumn("_act", lit("D")))
        .unionByName(orders.filter(k % 103 === 5)
          .withColumn("o_orderkey", k + lit(mx))
          .withColumn("_act", lit("I")))
      val srcView = "cow_sqlmp_src_" +
        java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
      srcDf.createOrReplaceTempView(srcView)

      spark.sql(
        s"""MERGE INTO graft.`$base` t USING $srcView s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND s._act = 'D' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
           |WHEN NOT MATCHED THEN INSERT
           |  (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           |   o_orderdate, o_orderpriority)
           |  VALUES (s.o_orderkey, s.o_custkey, 'I', s.o_totalprice,
           |          s.o_orderdate, s.o_orderpriority)""".stripMargin)

      val m = CowTable.manifest(spark, base)
      val referenced = m.map(_.file).toSet.intersect(pre)
      require(referenced.size >= 5,
        "runtime group filtering must keep the unmatched files out of " +
          s"the rewrite: kept only ${referenced.size}/8 untouched")
      require(m.map(_.dvRows).sum == 0L,
        "a group-based SQL MERGE is copy-on-write: no deletion vectors")
      require(spark.sql(s"SELECT COUNT(*) FROM graft.`$base`")
        .head().getLong(0) == CowTable.read(spark, base).count(),
        "catalog scan and API read must resolve the same manifest")
      spark.sql(
        s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
           |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
           |FROM graft.`$base` GROUP BY 1 ORDER BY 1""".stripMargin)
    }

  /** Same relational outcome as the API range-local merge. */
  val mergePrunedSql: String = CowTable.mergeSql

  /** OPTIMIZE ZORDER end-to-end — `CALL graft.compact(zorder =>
    * 'user_id,d')` on a TIME-clustered events table, then a 2-D box
    * predicate (middle quarter of each dimension, integer math both
    * engines share). Before: per-file stats bound the day tightly but
    * the user span is full width, so the box's may-contain candidate
    * set is every file the day-quarter touches. After the z-order
    * rewrite each file is a bounded RECTANGLE in (user, day) space —
    * the in-band require proves STRICTLY FEWER candidate files for the
    * same box (counted from the committed manifest's smin/smax, the
    * exact stats the DSv2 scan and StatsPrune consult), and row count
    * is conserved. The registered output is the box aggregate through
    * the catalog scan; the oracle replays box arithmetic relationally —
    * a rewrite that lost or duplicated a row breaks the hash. */
  def zorderCompactCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_zorder_compact", dir, "cow_zo") {
      val base = graft.io.FsUtil.stateDir("cow_zo", dir)
      new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true) // self-contained
      val ev = graft.Tables.events(spark, dir)
        .withColumn("_k", unix_timestamp(col("ts")))
        .withColumn("d", expr("unix_micros(ts) div 86400000000"))
        .select("_k", "user_id", "d", "event_type", "value")
      // 64 files: an 8x8 z-tile grid — coarser layouts leave the box
      // straddling tile boundaries and the candidate gap in the noise
      CowTable.create(spark, base, ev, "_k", numFiles = 64,
        statsCols = Seq("user_id", "d"))
      spark.conf.set("spark.sql.catalog.graft",
        classOf[GraftCatalog].getName)

      // the 2-D box: middle quarter of each dimension, exact integer
      // arithmetic (the oracle replays it verbatim)
      val b = ev.agg(min("user_id"), max("user_id"), min("d"), max("d"))
        .head()
      def quarter(lo: Long, hi: Long): (Long, Long) = {
        val span = hi - lo + 1
        (lo + span / 4, lo + span / 2 - 1)
      }
      val (ulo, uhi) = quarter(b.getLong(0), b.getLong(1))
      val (dlo, dhi) = quarter(b.getLong(2), b.getLong(3))
      // may-contain candidates from the committed manifest's stats maps
      // (exactly what StatsPrune and the scan's footer pruning consult)
      def cands(): Int = CowTable.manifest(spark, base).count { e =>
        def ok(cn: String, lo: Long, hi: Long) =
          (e.smin.get(cn), e.smax.get(cn)) match {
            case (Some(a), Some(x)) => x.toLong >= lo && a.toLong <= hi
            case _ => true
          }
        ok("user_id", ulo, uhi) && ok("d", dlo, dhi)
      }
      val total = ev.count()
      val pre = cands()
      spark.sql(s"CALL graft.compact(`table` => '$base', " +
        s"target_rows => ${math.max(1L, total / 64)}, " +
        "zorder => 'user_id,d')")
      val post = cands()
      require(post < pre,
        s"z-order must shrink the 2-D box's candidate files: $pre -> $post")
      require(CowTable.read(spark, base).count() == total,
        "re-clustering must conserve every row")

      spark.sql(
        s"""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))
           |                 AS DECIMAL(18,2)) AS DOUBLE) AS total_value
           |FROM graft.`$base`
           |WHERE user_id BETWEEN $ulo AND $uhi AND d BETWEEN $dlo AND $dhi
           |GROUP BY 1 ORDER BY 1""".stripMargin)
    }

  val zorderCompactSql: String =
    """WITH ev AS (
      |  SELECT user_id,
      |         epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
      |         event_type, value
      |  FROM events
      |), b AS (
      |  SELECT MIN(user_id) AS umin, MAX(user_id) AS umax,
      |         MIN(d) AS dmin, MAX(d) AS dmax FROM ev
      |), box AS (
      |  SELECT umin + (umax - umin + 1) // 4 AS ulo,
      |         umin + (umax - umin + 1) // 2 - 1 AS uhi,
      |         dmin + (dmax - dmin + 1) // 4 AS dlo,
      |         dmin + (dmax - dmin + 1) // 2 - 1 AS dhi
      |  FROM b
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total_value
      |FROM ev, box
      |WHERE user_id BETWEEN ulo AND uhi AND d BETWEEN dlo AND dhi
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** SQL TIME TRAVEL through the catalog: create (v0) → range-local
    * merge (v1) → `SELECT … VERSION AS OF v0` must serve the PRE-merge
    * snapshot — the registered output IS that snapshot's aggregate, so
    * the DuckDB oracle (plain `orders`) directly verifies the pinned
    * read. In-band: the un-pinned read reflects the merge (row count
    * differs from v0 by the net insert−delete), `TIMESTAMP AS OF now`
    * resolves to the latest version, and a write to a pinned snapshot
    * is refused. */
  def timeTravelCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_time_travel", dir, "cow_tt_sql") {
      val base = graft.io.FsUtil.stateDir("cow_tt_sql", dir)
      new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true) // self-contained
      val orders = graft.Tables.orders(spark, dir)
      val v0 = CowTable.create(spark, base, orders, "o_orderkey",
        numFiles = 8, retain = 3)
      spark.conf.set("spark.sql.catalog.graft",
        classOf[GraftCatalog].getName)
      CowTable.merge(spark, base, CowTable.rangeLocalBatch(spark, dir),
        "o_orderkey", retain = 3)

      val currentN = spark.sql(s"SELECT COUNT(*) FROM graft.`$base`")
        .head().getLong(0)
      val v0N = spark.sql(
        s"SELECT COUNT(*) FROM graft.`$base` VERSION AS OF $v0")
        .head().getLong(0)
      require(v0N == orders.count() && currentN != v0N,
        s"VERSION AS OF must pin the snapshot: v0=$v0N, current=$currentN")
      val nowMicros = System.currentTimeMillis() * 1000L
      require(spark.sql(s"SELECT COUNT(*) FROM graft.`$base` " +
        s"TIMESTAMP AS OF timestamp_micros(${nowMicros}L)")
        .head().getLong(0) == currentN,
        "TIMESTAMP AS OF now must resolve to the latest version")
      require(scala.util.Try(spark.sql(
        s"DELETE FROM graft.`$base` VERSION AS OF $v0 WHERE TRUE")).isFailure,
        "a pinned snapshot must be read-only")

      spark.sql(
        s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
           |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
           |FROM graft.`$base` VERSION AS OF $v0
           |GROUP BY 1 ORDER BY 1""".stripMargin)
    }

  /** The pinned v0 snapshot IS the source table. */
  val timeTravelSql: String =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** RESTORE + DESCRIBE HISTORY end-to-end: create (v0) → row-level
    * `UPDATE` (v1) → `DELETE FROM` (v2) → `CALL graft.restore(v0)`
    * (v3) — the rollback lands as a NEW commit whose state equals v0,
    * so the DuckDB oracle (plain `orders`) directly verifies the
    * restored table. In-band requires: `CALL graft.history` names the
    * four operations in order (CREATE / UPDATE / DELETE / RESTORE v0 —
    * the commit log every lakehouse exposes as DESCRIBE HISTORY, each
    * with a commit instant), the restore wrote ZERO new pool files
    * (metadata-only — v0's immutable files are re-referenced, the
    * 100 TB contract), the head moved FORWARD (concurrent readers and
    * the CDC cursor are undisturbed), and the change feed emits the
    * restore's INVERSE delta (a subscriber past the bad commits heals
    * without re-bootstrapping). */
  def restoreCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_restore", dir, "cow_rst") {
      val base = graft.io.FsUtil.stateDir("cow_rst", dir)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true) // self-contained
      val orders = graft.Tables.orders(spark, dir)
      val v0 = CowTable.create(spark, base, orders, "o_orderkey",
        numFiles = 8, retain = 4)
      spark.conf.set("spark.sql.catalog.graft",
        classOf[GraftCatalog].getName)
      spark.sql(s"UPDATE graft.`$base` SET o_totalprice = o_totalprice + 1 " +
        "WHERE o_orderkey % 3 = 0") // v1
      spark.sql(s"DELETE FROM graft.`$base` WHERE o_orderkey % 11 = 2") // v2
      val v2 = graft.io.AtomicPublish.committed(spark, base)

      def poolCount(): Int =
        fs.listStatus(new org.apache.hadoop.fs.Path(base, "files")).length
      val before = poolCount()
      val restored = spark.sql(
        s"CALL graft.restore(`table` => '$base', version => $v0)")
        .head()
      val v3 = restored.getLong(0)
      require(v3 == v2 + 1 && restored.getLong(1) == v0,
        s"restore must land as a NEW commit: got v$v3 from v${restored.getLong(1)}")
      require(poolCount() == before,
        "RESTORE is metadata-only: no new pool files may be written")
      val hist = spark.sql(s"CALL graft.history(`table` => '$base')")
        .collect()
      require(hist.map(_.getLong(0)).toSeq == Seq(v0, v0 + 1, v2, v3) &&
        hist.forall(!_.isNullAt(1)),
        "history must list the four commits ascending, each with an instant")
      val ops = hist.map(_.getString(2)).toSeq
      require(ops == Seq("CREATE", "UPDATE", "DELETE", s"RESTORE v$v0"),
        s"history must name the operations, got: ${ops.mkString(", ")}")
      require(CowTable.changes(spark, base, v2, v3, "o_orderkey")
        .limit(1).count() == 1L,
        "the change feed must carry the restore's inverse delta")

      spark.sql(
        s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
           |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
           |FROM graft.`$base` GROUP BY 1 ORDER BY 1""".stripMargin)
    }

  /** The restored head IS the source table. */
  val restoreSql: String =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** CHECK CONSTRAINTS end-to-end: `ALTER TABLE … ADD CONSTRAINT …
    * CHECK` (validated against existing rows, stored in the table meta,
    * recorded in the commit history), then ENFORCED per-row inside every
    * write's own projection — a valid row-level `UPDATE` lands, a
    * VIOLATING `UPDATE` and a violating `INSERT` each fail their whole
    * statement naming the constraint, leaving the table byte-identical
    * (asserted in-band via the committed version id). The oracle
    * replays the one valid update relationally — any leaked violating
    * row breaks the hash. */
  def constraintCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_constraint", dir, "cow_chk") {
      val base = graft.io.FsUtil.stateDir("cow_chk", dir)
      new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true) // self-contained
      val orders = graft.Tables.orders(spark, dir)
      // table-level retain: the history assertion below needs the
      // CREATE and ADD CONSTRAINT commits readable after the UPDATE
      CowTable.create(spark, base, orders, "o_orderkey", numFiles = 8,
        retain = 6)
      spark.conf.set("spark.sql.catalog.graft",
        classOf[GraftCatalog].getName)
      spark.sql(s"ALTER TABLE graft.`$base` " +
        "ADD CONSTRAINT price_pos CHECK (o_totalprice >= 0.0)")
      spark.sql(s"UPDATE graft.`$base` " +
        "SET o_totalprice = o_totalprice + 100.0 WHERE o_orderkey % 13 = 1")
      val vOk = graft.io.AtomicPublish.committed(spark, base)

      def mustViolate(stmt: String): Unit = {
        val r = scala.util.Try(spark.sql(stmt))
        require(r.isFailure, s"a violating statement must fail: $stmt")
        def msgs(t: Throwable): Seq[String] =
          if (t == null) Seq.empty
          else Option(t.getMessage).toSeq ++ msgs(t.getCause)
        require(msgs(r.failed.get).exists(_.contains("price_pos")),
          "the failure must name the violated constraint, got: " +
            s"${r.failed.get.getClass.getName}: " +
            msgs(r.failed.get).mkString(" | "))
      }
      mustViolate(s"UPDATE graft.`$base` SET o_totalprice = -1.0 " +
        "WHERE o_orderkey % 17 = 2")
      mustViolate(s"INSERT INTO graft.`$base` " +
        "SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus, " +
        s"-5.0, o_orderdate, o_orderpriority FROM graft.`$base` LIMIT 1")
      require(graft.io.AtomicPublish.committed(spark, base) == vOk,
        "a failed statement must not move the committed version")
      val ops = spark.sql(s"CALL graft.history(`table` => '$base')")
        .collect().map(_.getString(2)).toSeq
      require(ops.contains("ADD CONSTRAINT price_pos"),
        s"history must record the constraint DDL, got: $ops")

      spark.sql(
        s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
           |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
           |FROM graft.`$base` GROUP BY 1 ORDER BY 1""".stripMargin)
    }

  /** Replay the one valid update; violating statements left no trace. */
  val constraintSql: String =
    """WITH final AS (
      |  SELECT o_orderstatus,
      |         CASE WHEN o_orderkey % 13 = 1
      |              THEN o_totalprice + 100.0 ELSE o_totalprice
      |         END AS o_totalprice
      |  FROM orders
      |)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM final GROUP BY 1 ORDER BY 1""".stripMargin

  /** GENERATED COLUMNS end-to-end: `CREATE TABLE … (o_year INT
    * GENERATED ALWAYS AS (YEAR(o_orderdate)))` stores the expression in
    * the table meta (the V2-column create path), and the pool writer
    * RECOMPUTES the column on every data-bearing write — the PostgreSQL
    * stored-generated contract: an INSERT carrying a WRONG value is
    * overwritten by the expression (in-band require), and an UPDATE of
    * the SOURCE column can never leave the generated value stale (the
    * oracle's aggregate catches any staleness). */
  def generatedCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_generated", dir, "cow_gen") {
      val wh = graft.io.FsUtil.stateDir("cow_gen_wh", dir)
      new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(wh), true) // self-contained
      spark.conf.set("spark.sql.catalog.graft",
        classOf[GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
      try {
        spark.sql("CREATE TABLE graft.cow_gen_t (" +
          "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderdate DATE, " +
          "o_year INT GENERATED ALWAYS AS (YEAR(o_orderdate))) " +
          "TBLPROPERTIES ('key'='o_orderkey')")
        val v = "cow_gen_src_" +
          java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
        graft.Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
          .createOrReplaceTempView(v)
        // the INSERT provides a DELIBERATELY WRONG generated value —
        // GENERATED ALWAYS recomputes it from the expression
        spark.sql("INSERT INTO graft.cow_gen_t " +
          s"SELECT o_orderkey, o_totalprice, o_orderdate, -1 FROM $v")
        require(spark.sql(
          "SELECT COUNT(*) FROM graft.cow_gen_t WHERE o_year = -1")
          .head().getLong(0) == 0L,
          "a user-provided generated value must be recomputed, not stored")
        require(spark.sql("SELECT COUNT(*) FROM graft.cow_gen_t " +
          "WHERE o_year != YEAR(o_orderdate)").head().getLong(0) == 0L,
          "the generated column must equal its expression on every row")
        spark.sql("UPDATE graft.cow_gen_t " +
          "SET o_orderdate = o_orderdate + INTERVAL '1' YEAR " +
          "WHERE o_orderkey % 19 = 4") // o_year must recompute

        spark.sql(
          """SELECT o_year, CAST(COUNT(*) AS BIGINT) AS n_orders,
            |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
            |FROM graft.cow_gen_t GROUP BY 1 ORDER BY 1""".stripMargin)
      } finally spark.conf.unset("spark.sql.catalog.graft.warehouse")
    }

  /** Replay: the %19 slice shifts one year; the year IS the grouping. */
  val generatedSql: String =
    """WITH final AS (
      |  SELECT CASE WHEN o_orderkey % 19 = 4
      |              THEN CAST(YEAR(o_orderdate) + 1 AS INT)
      |              ELSE CAST(YEAR(o_orderdate) AS INT)
      |         END AS o_year,
      |         o_totalprice
      |  FROM orders
      |)
      |SELECT o_year, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM final GROUP BY 1 ORDER BY 1""".stripMargin

  /** IDENTITY COLUMNS end-to-end: `CREATE TABLE … (sk BIGINT GENERATED
    * ALWAYS AS IDENTITY)` mints surrogate keys at append time from a
    * high-water mark that commits ATOMICALLY with the rows (same meta
    * payload, same CAS — two racing writers can never assign the same
    * range, the loser re-reads the mark and re-assigns). Two INSERTs
    * omitting the column produce dense 1..N ids across commits; an
    * explicit value is refused (GENERATED ALWAYS, in-band); a row-level
    * UPDATE of other columns preserves assigned ids. The registered
    * output is the id-space shape (count, distinct, min, max) — dense
    * and deterministic however the assignment ordered rows — which the
    * oracle recomputes from the source cardinalities. */
  def identityCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_identity", dir, "cow_idn") {
      val wh = graft.io.FsUtil.stateDir("cow_idn_wh", dir)
      new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(wh), true) // self-contained
      spark.conf.set("spark.sql.catalog.graft",
        classOf[GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
      try {
        spark.sql("CREATE TABLE graft.cow_idn_t (" +
          "o_orderkey BIGINT, sk BIGINT GENERATED ALWAYS AS IDENTITY, " +
          "o_totalprice DOUBLE) TBLPROPERTIES ('key'='o_orderkey')")
        val v = "cow_idn_src_" +
          java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
        graft.Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_totalprice"))
          .createOrReplaceTempView(v)
        spark.sql("INSERT INTO graft.cow_idn_t (o_orderkey, o_totalprice) " +
          s"SELECT o_orderkey, o_totalprice FROM $v")
        // the mark survives the commit: a second batch continues at N+1
        spark.sql("INSERT INTO graft.cow_idn_t (o_orderkey, o_totalprice) " +
          s"SELECT o_orderkey + 1000000000, o_totalprice FROM $v " +
          "WHERE o_orderkey % 103 = 5")
        require(scala.util.Try(spark.sql(
          "INSERT INTO graft.cow_idn_t VALUES (1, 999999, 0.0)")).isFailure,
          "GENERATED ALWAYS must refuse an explicit identity value")
        spark.sql("UPDATE graft.cow_idn_t SET o_totalprice = 0.0 " +
          "WHERE o_orderkey % 11 = 7") // ids must survive the delta write

        spark.sql(
          """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
            |       CAST(COUNT(DISTINCT sk) AS BIGINT) AS n_ids,
            |       CAST(MIN(sk) AS BIGINT) AS min_id,
            |       CAST(MAX(sk) AS BIGINT) AS max_id
            |FROM graft.cow_idn_t""".stripMargin)
      } finally spark.conf.unset("spark.sql.catalog.graft.warehouse")
    }

  /** The id space is dense 1..N whatever order assignment chose. */
  val identitySql: String =
    """WITH n AS (
      |  SELECT COUNT(*) +
      |         (SELECT COUNT(*) FROM orders WHERE o_orderkey % 103 = 5)
      |         AS total
      |  FROM orders
      |)
      |SELECT CAST(total AS BIGINT) AS n_rows,
      |       CAST(total AS BIGINT) AS n_ids,
      |       CAST(1 AS BIGINT) AS min_id,
      |       CAST(total AS BIGINT) AS max_id
      |FROM n""".stripMargin

  /** DESCRIBE DETAIL end-to-end: `CALL graft.detail` answers version /
    * file / row / vector facts from the manifest and meta alone (no
    * data scan — the output is O(1) rows whatever the table size). The
    * harness creates the table, vectors a scattered DELETE, and
    * registers the deterministic detail columns; the oracle recomputes
    * each from `orders` relationally. */
  def detailCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_detail", dir, "cow_dtl") {
      val base = graft.io.FsUtil.stateDir("cow_dtl", dir)
      new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true) // self-contained
      val orders = graft.Tables.orders(spark, dir)
      CowTable.create(spark, base, orders, "o_orderkey", numFiles = 8)
      CowTable.dvDelete(spark, base, col("o_orderkey") % 7 === 3)
      spark.conf.set("spark.sql.catalog.graft",
        classOf[GraftCatalog].getName)
      spark.sql(s"CALL graft.detail(`table` => '$base')")
        .select(col("version"), col("data_files"), col("num_rows"),
          col("dv_rows"), col("live_rows"), col("key"), col("retain"),
          col("num_checks"), col("column_mapped"))
    }

  /** Recompute every detail fact from the source relation. */
  val detailSql: String =
    """SELECT CAST(1 AS BIGINT) AS version,
      |       CAST(8 AS BIGINT) AS data_files,
      |       CAST(COUNT(*) AS BIGINT) AS num_rows,
      |       CAST(SUM(CASE WHEN o_orderkey % 7 = 3 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS dv_rows,
      |       CAST(SUM(CASE WHEN o_orderkey % 7 = 3 THEN 0 ELSE 1 END)
      |            AS BIGINT) AS live_rows,
      |       'o_orderkey' AS key,
      |       CAST(1 AS BIGINT) AS retain,
      |       CAST(0 AS BIGINT) AS num_checks,
      |       FALSE AS column_mapped
      |FROM orders""".stripMargin

  /** COLUMN DEFAULT VALUES end-to-end: `ALTER TABLE … ADD COLUMN …
    * DEFAULT 1` is metadata-only yet every EXISTING row reads back 1
    * (the exists-default fills files that physically lack the column —
    * in-band require, zero pool growth), an `INSERT` omitting the
    * column gets the CURRENT default (the analyzer fills it through the
    * DSv2 `columns()` contract), `ALTER COLUMN … SET DEFAULT 2` governs
    * FUTURE writes only (never retroactive — pre-column files keep
    * reading the ADD-time value), and `UPDATE … SET c = DEFAULT`
    * resolves the keyword. The oracle replays the default arithmetic
    * relationally. */
  def defaultsCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_defaults", dir, "cow_def") {
      val base = graft.io.FsUtil.stateDir("cow_def", dir)
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true) // self-contained
      val orders = graft.Tables.orders(spark, dir)
      val total = orders.count()
      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      CowTable.create(spark, base, orders, "o_orderkey", numFiles = 8,
        retain = 8)
      spark.conf.set("spark.sql.catalog.graft",
        classOf[GraftCatalog].getName)

      def poolCount(): Int =
        fs.listStatus(new org.apache.hadoop.fs.Path(base, "files")).length
      val before = poolCount()
      spark.sql(s"ALTER TABLE graft.`$base` ADD COLUMN o_flag INT DEFAULT 1")
      require(poolCount() == before,
        "ADD COLUMN DEFAULT must be metadata-only: no pool files written")
      require(spark.sql(
        s"SELECT COUNT(*) FROM graft.`$base` WHERE o_flag = 1")
        .head().getLong(0) == total,
        "every pre-column row must read the exists-default, not NULL")

      spark.sql(s"INSERT INTO graft.`$base` (o_orderkey, o_custkey, " +
        "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority) " +
        s"SELECT o_orderkey + ${mx}L, o_custkey, 'I', o_totalprice, " +
        s"o_orderdate, o_orderpriority FROM graft.`$base` " +
        "WHERE o_orderkey % 103 = 5") // o_flag omitted -> current default 1
      spark.sql(s"ALTER TABLE graft.`$base` " +
        "ALTER COLUMN o_flag SET DEFAULT 2")
      require(spark.sql(
        s"SELECT COUNT(*) FROM graft.`$base` WHERE o_flag != 1")
        .head().getLong(0) == 0L,
        "SET DEFAULT must not retroactively change existing rows")
      spark.sql(s"UPDATE graft.`$base` SET o_flag = DEFAULT " +
        "WHERE o_orderkey % 7 = 0") // the new current default: 2

      spark.sql(
        s"""SELECT o_flag, CAST(COUNT(*) AS BIGINT) AS n_orders,
           |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
           |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
           |FROM graft.`$base` GROUP BY 1 ORDER BY 1""".stripMargin)
    }

  /** Replay: all rows flag 1, inserts flag 1, the %7 update flags 2. */
  val defaultsSql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
      |allrows AS (
      |  SELECT o_orderkey, o_totalprice FROM orders
      |  UNION ALL
      |  SELECT o_orderkey + m, o_totalprice FROM orders, mx
      |  WHERE o_orderkey % 103 = 5
      |), final AS (
      |  SELECT CASE WHEN o_orderkey % 7 = 0 THEN 2 ELSE 1 END AS o_flag,
      |         o_totalprice
      |  FROM allrows
      |)
      |SELECT o_flag, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM final GROUP BY 1 ORDER BY 1""".stripMargin

  /** CATALOG REGISTRY + DDL evolution end-to-end: a WAREHOUSE-rooted
    * name-addressed table (`CREATE TABLE graft.<name> … AS SELECT`),
    * discovered by `SHOW TABLES IN graft` (the reference's own tests
    * enumerate `information_schema` —
    * `/root/reference/tests/test_etl.py:30-54`), widened by
    * `ALTER TABLE … ADD COLUMN` (metadata-only — in-band require: zero
    * data files rewritten), populated through a row-level `UPDATE`, and
    * aggregated back. The oracle replays the flag assignment
    * relationally. */
  def registryCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_sql_registry", dir, "cow_reg") {
      val wh = graft.io.FsUtil.stateDir("cow_wh", dir)
      new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(wh), true) // self-contained
      spark.conf.set("spark.sql.catalog.graft",
        classOf[GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graft.warehouse", wh)
      val srcView = "cow_reg_orders_" +
        java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
      graft.Tables.orders(spark, dir).createOrReplaceTempView(srcView)

      spark.sql("CREATE TABLE graft.reg_orders " +
        "TBLPROPERTIES ('key'='o_orderkey') AS " +
        s"SELECT o_orderkey, o_orderstatus, o_totalprice FROM $srcView")
      require(spark.sql("SHOW TABLES IN graft").collect()
        .exists(_.getString(1) == "reg_orders"),
        "SHOW TABLES must list the warehouse table")

      val base = s"$wh/reg_orders"
      val pre = CowTable.manifest(spark, base).map(_.file).toSet
      spark.sql("ALTER TABLE graft.reg_orders ADD COLUMN o_flag STRING")
      require(CowTable.manifest(spark, base).map(_.file).toSet == pre,
        "ADD COLUMN is metadata-only: zero data files rewritten")
      spark.sql("UPDATE graft.reg_orders SET o_flag = 'HI' " +
        "WHERE o_orderkey % 97 = 0")

      spark.sql(
        """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
          |       CAST(COUNT(o_flag) AS BIGINT) AS n_flagged,
          |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
          |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
          |FROM graft.reg_orders GROUP BY 1 ORDER BY 1""".stripMargin)
    }

  val registrySql: String =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(COUNT(CASE WHEN o_orderkey % 97 = 0 THEN 1 END)
      |            AS BIGINT) AS n_flagged,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** COMPOSITE CLUSTERING KEY end-to-end — the reference's row
    * identities are composite (the DQ uniqueness grain
    * `(fact_id, customer_id, effective_from)`,
    * `/root/reference/sql/dds/s_sql_dds/function/fn_dq_checks_load.sql:125-134`;
    * the silver SCD2 grain `(user_id, effective_from)`,
    * `/root/reference/sql/init/01_init_all.sql:34-36`), so the cow
    * table must key, discover and row-identify on an ordered column
    * LIST. The fixture is orders keyed `(o_custkey, o_orderkey)` — a
    * customer+fact grain whose LEADING column alone is NON-unique
    * (~10 orders per customer at any SF), so every statement here
    * genuinely exercises tuple identity:
    *
    *   - a range-local SQL `MERGE INTO` joining on BOTH key columns
    *     (group route; updates/deletes confined to the lowest eighth of
    *     the customer space — in-band: >= 5/8 original files untouched,
    *     no vectors, i.e. runtime pruning works off the leading key's
    *     ranges);
    *   - a SQL `UPDATE` whose predicate selects SOME orders of
    *     multi-order customers (delta route; rows are addressed by
    *     position, with the full key tuple riding along for the
    *     commit's key fallback) landing as deletion vectors;
    *   - the catalog read and API read agree.
    *
    * The oracle replays all three statements relationally. */
  def compositeKeyCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_composite_key", dir, "cow_ck") {
      val base = graft.io.FsUtil.stateDir("cow_ck", dir)
      new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true) // self-contained
      val orders = graft.Tables.orders(spark, dir)
        .select("o_custkey", "o_orderkey", "o_orderstatus", "o_totalprice")
      CowTable.create(spark, base, orders, "o_custkey,o_orderkey",
        numFiles = 8)
      spark.conf.set("spark.sql.catalog.graft",
        classOf[GraftCatalog].getName)
      val pre = CowTable.manifest(spark, base).map(_.file).toSet

      val mx = orders.agg(max("o_orderkey")).head().getLong(0)
      val cmx = orders.agg(max("o_custkey")).head().getLong(0)
      val k = col("o_orderkey")
      val lo = col("o_custkey") * 8 <= lit(cmx)
      val srcDf = orders.filter(lo && k % 7 === 0 && !(k % 11 === 3))
        .withColumn("o_totalprice", col("o_totalprice") + lit(5.0))
        .withColumn("_act", lit("U"))
        .unionByName(orders.filter(lo && k % 11 === 3)
          .withColumn("_act", lit("D")))
        .unionByName(orders.filter(k % 103 === 5)
          .withColumn("o_orderkey", k + lit(mx))
          .withColumn("_act", lit("I")))
      val srcView = "cow_ck_src_" +
        java.lang.Integer.toHexString(dir.hashCode & 0x7fffffff)
      srcDf.createOrReplaceTempView(srcView)

      spark.sql(
        s"""MERGE INTO graft.`$base` t USING $srcView s
           |ON t.o_custkey = s.o_custkey AND t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND s._act = 'D' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice
           |WHEN NOT MATCHED THEN INSERT
           |  (o_custkey, o_orderkey, o_orderstatus, o_totalprice)
           |  VALUES (s.o_custkey, s.o_orderkey, 'I', s.o_totalprice)
           |""".stripMargin)
      val m = CowTable.manifest(spark, base)
      val referenced = m.map(_.file).toSet.intersect(pre)
      require(referenced.size >= 5,
        "a range-local composite-key MERGE must keep unmatched files " +
          s"untouched: kept only ${referenced.size}/8")
      require(m.map(_.dvRows).sum == 0L,
        "a group-based SQL MERGE is copy-on-write: no deletion vectors")

      // SOME orders of multi-order customers on the delta route (the
      // leading key alone addresses ~10 rows)
      spark.sql(s"UPDATE graft.`$base` SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderkey % 5 = 1")
      require(CowTable.manifest(spark, base).exists(_.dvRows > 0),
        "the UPDATE's delete half must land as deletion vectors")

      require(spark.sql(s"SELECT COUNT(*) FROM graft.`$base`")
        .head().getLong(0) == CowTable.read(spark, base).count(),
        "catalog scan and API read must resolve the same manifest")
      spark.sql(
        s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
           |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
           |FROM graft.`$base` GROUP BY 1 ORDER BY 1""".stripMargin)
    }

  val compositeKeySql: String =
    """WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
      |cmx AS (SELECT MAX(o_custkey) AS cm FROM orders),
      |merged AS (
      |  SELECT o_custkey, o_orderkey, o_orderstatus,
      |         CASE WHEN o_custkey * 8 <= cm AND o_orderkey % 7 = 0
      |              THEN o_totalprice + 5.0 ELSE o_totalprice
      |         END AS o_totalprice
      |  FROM orders, cmx
      |  WHERE NOT (o_custkey * 8 <= cm AND o_orderkey % 11 = 3)
      |  UNION ALL
      |  SELECT o_custkey, o_orderkey + m, 'I', o_totalprice
      |  FROM orders, mx WHERE o_orderkey % 103 = 5
      |),
      |final AS (
      |  SELECT o_orderstatus,
      |         CASE WHEN o_orderkey % 5 = 1
      |              THEN o_totalprice * 2 ELSE o_totalprice
      |         END AS o_totalprice
      |  FROM merged
      |)
      |SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM final GROUP BY 1 ORDER BY 1""".stripMargin

  /** COLUMN MAPPING end-to-end — `ALTER TABLE … RENAME COLUMN` and
    * `DROP COLUMN` as metadata-only commits over immutable PHYSICAL
    * names (field names in pool files never change; reads map
    * logical→physical), the standard lakehouse answer to the
    * reference's DDL-first workflow
    * (`/root/reference/data-pipeline/init_database.py:37-96`) on a
    * long-lived warehouse:
    *
    *   - RENAME `o_totalprice` → `price`: zero files rewritten
    *     (in-band require), old files serve under the new name;
    *   - a row-level `UPDATE` writes NEW files through the mapping —
    *     both generations serve one logical column;
    *   - ADD `note`, UPDATE it, RENAME `note` → `memo`, DROP `memo`,
    *     re-ADD `memo`: the re-added column must read all-NULL
    *     (in-band require — a dropped physical name is never
    *     resurrected from old files).
    *
    * Output aggregates through the mapped scan; the oracle replays the
    * arithmetic relationally (names are metadata — the values prove the
    * mapping). */
  def colMappingCheck(spark: SparkSession, dir: String): DataFrame =
    graft.Memo(spark, "cow_col_mapping", dir, "cow_cm") {
      val base = graft.io.FsUtil.stateDir("cow_cm", dir)
      new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(base), true) // self-contained
      val orders = graft.Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      CowTable.create(spark, base, orders, "o_orderkey", numFiles = 8)
      spark.conf.set("spark.sql.catalog.graft",
        classOf[GraftCatalog].getName)

      val pre = CowTable.manifest(spark, base).map(_.file).toSet
      spark.sql(s"ALTER TABLE graft.`$base` RENAME COLUMN o_totalprice TO price")
      require(CowTable.manifest(spark, base).map(_.file).toSet == pre,
        "RENAME COLUMN is metadata-only: zero data files rewritten")

      // new files written THROUGH the mapping (physical o_totalprice)
      spark.sql(s"UPDATE graft.`$base` SET price = price * 2 " +
        "WHERE o_orderkey % 97 = 0")

      spark.sql(s"ALTER TABLE graft.`$base` ADD COLUMN note STRING")
      spark.sql(s"UPDATE graft.`$base` SET note = 'x' " +
        "WHERE o_orderkey % 103 = 5")
      spark.sql(s"ALTER TABLE graft.`$base` RENAME COLUMN note TO memo")
      require(spark.sql(s"SELECT COUNT(memo) FROM graft.`$base`")
        .head().getLong(0) > 0L,
        "the renamed column must keep serving its physical data")
      spark.sql(s"ALTER TABLE graft.`$base` DROP COLUMN memo")
      spark.sql(s"ALTER TABLE graft.`$base` ADD COLUMN memo STRING")
      require(spark.sql(s"SELECT COUNT(memo) FROM graft.`$base`")
        .head().getLong(0) == 0L,
        "a re-added column must read NULL, never the dropped data")

      spark.sql(
        s"""SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           |       CAST(COUNT(memo) AS BIGINT) AS n_memo,
           |       CAST(CAST(SUM(CAST(price AS DECIMAL(18,2)))
           |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
           |FROM graft.`$base` GROUP BY 1 ORDER BY 1""".stripMargin)
    }

  val colMappingSql: String =
    """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(0 AS BIGINT) AS n_memo,
      |       CAST(CAST(SUM(CAST(CASE WHEN o_orderkey % 97 = 0
      |                               THEN o_totalprice * 2
      |                               ELSE o_totalprice END
      |                          AS DECIMAL(18,2)))
      |                 AS DECIMAL(18,2)) AS DOUBLE) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
}

/** A [[CowTable]] as a V2 table: DV-aware manifest-resolved reads,
  * metadata-routed `DELETE WHERE`, append-only `INSERT INTO`, and the
  * full delta-based row-level surface (`MERGE INTO`, `UPDATE`,
  * arbitrary-predicate `DELETE`) via [[CowRowLevelOperation]] — a
  * convertible DELETE still takes the cheaper metadata route through
  * `SupportsDelete`; everything else rewrites row-level. */
private[sources] class CowSqlTable(base: String,
                                   pinned: Option[Long] = None)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  private def spark = SparkSession.active
  private def resolvedVersion: Long = pinned.getOrElse {
    val v = AtomicPublish.committed(spark, base)
    require(v >= 0, s"no committed version under $base")
    v
  }
  private def tableMeta = CowTable.metaAt(spark, base, resolvedVersion)
  private def requireWritable(): Unit =
    require(pinned.isEmpty,
      s"$name is a time-travel snapshot (VERSION/TIMESTAMP AS OF): " +
        "read-only")

  override def name(): String =
    s"graft.`$base`" + pinned.fold("")(v => s"@v$v")

  /** The meta schema with every clustering-key column marked NON-NULL —
    * the key columns ride in [[CowRowLevelOperation.rowId]] (after
    * `_file` and `_pos`, for the commit's key fallback), Spark requires
    * non-nullable row-id attributes, and [[CowTable]]'s pool writer
    * enforces the invariant on every write. */
  override def schema(): StructType = {
    val m = tableMeta
    val ks = CowTable.splitKeys(m.key).toSet
    val s = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    StructType(s.fields.map { f0 =>
      // an identity column surfaces a NULL current-default so an INSERT
      // may OMIT it (the analyzer fills NULL; the append path assigns
      // the real value from the high-water mark before anything lands)
      val f =
        if (!f0.metadata.contains("IDENTITY_START")) f0
        else f0.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f0.metadata)
            .putString("CURRENT_DEFAULT", "CAST(NULL AS BIGINT)").build())
      if (ks.contains(f.name)) f.copy(nullable = false) else f
    })
  }

  /** The table's CHECK constraints, surfaced through the DSv2 contract
    * (`DESCRIBE TABLE EXTENDED` lists them; Spark's write analysis may
    * additionally inject its own validation). Enforcement does NOT rely
    * on the engine honoring these: every write path funnels through
    * [[CowTable]]'s pool writer, which asserts each recorded predicate
    * per row inside the write's own projection. */
  override def constraints():
      Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    tableMeta.checks.map { case (n, p) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(p).build()
        : org.apache.spark.sql.connector.catalog.constraints.Constraint
    }.toArray

  /** AUTOMATIC_SCHEMA_EVOLUTION gates `MERGE WITH SCHEMA EVOLUTION`:
    * Spark's ResolveMergeIntoSchemaEvolution diffs source vs target and
    * calls this catalog's alterTable(AddColumn) — which routes through
    * COLUMN MAPPING, so the evolved column gets a fresh physical name
    * and old files serve NULL for it. Plain MERGE (no clause) is
    * unaffected: the capability only arms the explicit syntax. */
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** Batch reads scan the pinned/committed manifest;
    * `spark.readStream.table("graft.t")` subscribes to the table feed
    * (bootstrap snapshot + per-version upsert images — the
    * name-addressed twin of the `graft-artifact` commit-log stream).
    * `.option("startVersion", n)` skips history;
    * `.option("changeFeed", "true")` is served by the raw
    * `graft-artifact` format (its schema carries `_change_type`). */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val v = resolvedVersion
    new ArtifactScanBuilder(base, "manifest",
      Option(options.get("startVersion")).map(_.toLong),
      cow = true, changeFeed = false, keyCol = tableMeta.key,
      s"$base/v$v/manifest", schema(),
      skipChangeCommits =
        Option(options.get("skipChangeCommits")).exists(_.toBoolean))
  }

  // ---- DELETE FROM … WHERE … --------------------------------------
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => CowSqlTable.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireWritable()
    val pred = filters.flatMap(CowSqlTable.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true)) // no WHERE = truncate
    CowTable.deleteWhere(spark, base, pred, tableMeta.key)
    ()
  }

  /** The virtual `_file` and `_pos` metadata columns: selectable from
    * SQL; `_file` is the grouping attribute runtime group filtering
    * prunes the group-based MERGE's target scan on, and (`_file`,
    * `_pos`) is the row id of the delta-based UPDATE and DELETE. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    def column(n: String, dt: DataType, doc: String) =
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = n
        override def dataType(): DataType = dt
        override def isNullable: Boolean = false
        override def comment(): String = doc
      }
    Array(
      column(ArtifactScan.FileCol, org.apache.spark.sql.types.StringType,
        "physical pool file serving this row (manifest-stored form)"),
      column(ArtifactScan.PosCol, org.apache.spark.sql.types.LongType,
        "position of this row in its pool file (parquet row index)"))
  }

  // ---- MERGE INTO / UPDATE / row-level DELETE ----------------------
  /** MERGE takes the GROUP-BASED route (runtime file pruning + whole-
    * file copy-on-write); DELETE/UPDATE stay
    * delta-based (predicates push statically; scattered deletes land as
    * O(deleted rows) vectors). */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    requireWritable()
    val m = tableMeta
    () => info.command() match {
      case RowLevelOperation.Command.MERGE =>
        new CowGroupMergeOperation(base, m.key, schema())
      case cmd => new CowRowLevelOperation(base, m.key, schema(), cmd)
    }
  }

  // ---- INSERT INTO (append) ---------------------------------------
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireWritable()
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(!overwrite,
                "INSERT OVERWRITE is not supported; use DELETE + INSERT " +
                  "or CowTable.merge")
              CowTable.append(SparkSession.active, base, data)
              ()
            }
          }
      }
    }
  }
}

private[sources] object CowSqlTable {
  /** V2 source `Filter` → `Column` for the convertible subset; `None`
    * makes `canDeleteWhere` refuse, so Spark errors instead of running
    * a partial delete. */
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case And(l, r) => for (x <- toColumn(l); y <- toColumn(r)) yield x && y
    case Or(l, r) => for (x <- toColumn(l); y <- toColumn(r)) yield x || y
    case Not(c) => toColumn(c).map(!_)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** Maintenance procedures for cow tables, callable from SQL — the
  * OPTIMIZE/VACUUM surface every lakehouse exposes, here as Spark 4's
  * native `CALL` statement:
  *
  * {{{
  *   CALL graft.compact(`table` => '/warehouse/orders', target_rows => 1000000)
  *   CALL graft.vacuum('/warehouse/orders', 3600000)
  * }}}
  *
  * Each returns a one-row result set (the new committed version / the
  * reclaimed file count) so the caller can assert the effect in-band.
  */
private[sources] object GraftProcedures {

  import java.util.Collections
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{LongType, StringType, StructType}

  private def result(schema: StructType, values: Any*): java.util.Iterator[Scan] =
    resultRows(schema, Seq(values.toArray))

  private def resultRows(schema: StructType,
                         rs: Seq[Array[Any]]): java.util.Iterator[Scan] =
    Collections.singletonList[Scan](new LocalScan {
      override def rows(): Array[org.apache.spark.sql.catalyst.InternalRow] =
        rs.map(new GenericInternalRow(_)
          : org.apache.spark.sql.catalyst.InternalRow).toArray
      override def readSchema(): StructType = schema
    }).iterator()

  /** The `table` argument accepts an absolute base path OR a
    * warehouse-relative name (resolved against EVERY configured
    * `spark.sql.catalog.<name>.warehouse`, first hit wins — procedures
    * are catalog-name-agnostic singletons). */
  private def base(input: org.apache.spark.sql.catalyst.InternalRow): String = {
    val spark = SparkSession.active
    val raw = input.getUTF8String(0).toString
    val b =
      if (raw.startsWith("/")) raw
      else spark.conf.getAll.collect {
        case (k, w) if k.startsWith("spark.sql.catalog.") &&
          k.endsWith(".warehouse") => s"${w.stripSuffix("/")}/$raw"
      }.find(p => CowTable.meta(spark, p).isDefined)
        .getOrElse(raw)
    require(CowTable.meta(spark, b).isDefined, s"no cow table under $b")
    b
  }

  /** `CALL graft.compact(table, target_rows[, zorder])` →
    * (version, data_files): bin-packs undersized neighbors and
    * materializes deletion vectors ([[CowTable.compact]]); a no-op
    * returns the current version. With `zorder` (a comma-separated
    * column list) it is OPTIMIZE ZORDER BY — the whole table re-clusters
    * along the Morton curve of those columns so per-file stats prune
    * multi-column predicates. */
  object Compact extends UnboundProcedure with BoundProcedure {
    override def name(): String = "compact"
    override def description(): String =
      "bin-pack a cow table's files to ~target_rows and materialize " +
        "deletion vectors; with zorder, re-cluster along the Morton curve"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("cow table base path").build(),
      ProcedureParameter.in("target_rows", LongType)
        .comment("rows per packed file").build(),
      ProcedureParameter.in("zorder", StringType)
        .defaultValue("''")
        .comment("comma-separated columns to z-order the layout by " +
          "(empty = plain bin-packing)").build())
    override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val b = base(input)
      val key = CowTable.meta(spark, b).get.key
      val zorder =
        if (input.isNullAt(2)) Nil
        else input.getUTF8String(2).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val v = CowTable.compact(spark, b, input.getLong(1), key,
        zorder = zorder)
      result(new StructType().add("version", LongType)
        .add("data_files", LongType),
        v, CowTable.manifest(spark, b).size.toLong)
    }
  }

  /** `CALL graft.vacuum(table, grace_ms[, older_than_ms])` →
    * (reclaimed_files, pruned_versions): deletes pool files referenced
    * by no retained version ([[CowTable.vacuum]]); `grace_ms` guards
    * in-flight writers. With `older_than_ms` (epoch millis) it is the
    * TIME-BASED retention statement — versions committed before the
    * cutoff are pruned first (never the head), then the pool is
    * reclaimed ([[CowTable.vacuumOlderThan]]). */
  object Vacuum extends UnboundProcedure with BoundProcedure {
    override def name(): String = "vacuum"
    override def description(): String =
      "reclaim pool files referenced by no retained version; with " +
        "older_than_ms also prune versions committed before the cutoff"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("cow table base path").build(),
      ProcedureParameter.in("grace_ms", LongType)
        .defaultValue("0").comment("skip files younger than this").build(),
      ProcedureParameter.in("older_than_ms", LongType)
        .defaultValue("-1")
        .comment("prune versions committed before this epoch-millis " +
          "instant (-1 = keep all retained versions)").build())
    override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val b = base(input)
      val grace = if (input.isNullAt(1)) 0L else input.getLong(1)
      val olderThan = if (input.isNullAt(2)) -1L else input.getLong(2)
      val (pruned, reclaimed) =
        if (olderThan >= 0L) CowTable.vacuumOlderThan(spark, b, olderThan, grace)
        else (0, CowTable.vacuum(spark, b, grace))
      result(new StructType().add("reclaimed_files", LongType)
        .add("pruned_versions", LongType),
        reclaimed.toLong, pruned.toLong)
    }
  }

  /** `CALL graft.history(table)` → one row per READABLE committed
    * version, ascending: (version, instant_ms, operation) — the
    * DESCRIBE HISTORY surface. The operation is the `op=` line recorded
    * in the version's commit marker at commit time (CREATE / APPEND /
    * MERGE / DELETE / UPDATE / COMPACT / ZORDER / RESTORE vN / DDL);
    * NULL for commits that predate operation recording. Listing is
    * O(retained versions) marker reads — no data or manifest scan. */
  object History extends UnboundProcedure with BoundProcedure {
    override def name(): String = "history"
    override def description(): String =
      "list a cow table's retained commits: version, instant, operation"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("cow table base path or warehouse name").build())
    override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val b = base(input)
      val rows = graft.io.AtomicPublish.versions(spark, b).map { v =>
        Array[Any](v,
          graft.io.AtomicPublish.commitInstant(spark, b, v)
            .map(Long.box).orNull,
          graft.io.AtomicPublish.commitOp(spark, b, v)
            .map(org.apache.spark.unsafe.types.UTF8String.fromString)
            .orNull)
      }
      resultRows(new StructType().add("version", LongType)
        .add("instant_ms", LongType).add("operation", StringType), rows)
    }
  }

  /** `CALL graft.restore(table, version)` → (version, restored_from):
    * roll the table back to a retained version as a NEW metadata-only
    * commit ([[CowTable.restore]] — pool files are re-referenced, never
    * copied; schema and column mapping roll back with the rows; the
    * change feed emits the inverse delta). */
  object Restore extends UnboundProcedure with BoundProcedure {
    override def name(): String = "restore"
    override def description(): String =
      "restore a cow table to a retained version as a new commit"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("cow table base path or warehouse name").build(),
      ProcedureParameter.in("version", LongType)
        .comment("retained committed version to restore to").build())
    override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val b = base(input)
      val to = input.getLong(1)
      val v = CowTable.restore(spark, b, to)
      result(new StructType().add("version", LongType)
        .add("restored_from", LongType), v, to)
    }
  }

  /** `CALL graft.detail(table)` → one row of table facts (the DESCRIBE
    * DETAIL surface): committed version, data files, total/deleted/live
    * rows, pool bytes, clustering key, retention floor, constraint
    * count, whether any column is mapped. Everything but pool bytes
    * comes from the manifest + meta — no data scan; bytes is one pool
    * listing. */
  object Detail extends UnboundProcedure with BoundProcedure {
    override def name(): String = "detail"
    override def description(): String =
      "describe a cow table: version, files, rows, bytes, key, " +
        "retention, constraints"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = Array(
      ProcedureParameter.in("table", StringType)
        .comment("cow table base path or warehouse name").build())
    override def call(input: org.apache.spark.sql.catalyst.InternalRow): java.util.Iterator[Scan] = {
      val spark = SparkSession.active
      val b = base(input)
      val v = graft.io.AtomicPublish.committed(spark, b)
      val m = CowTable.meta(spark, b).get
      val entries = CowTable.manifest(spark, b)
      val pool = new org.apache.hadoop.fs.Path(b, "files")
      val fs = pool.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bytes =
        if (!fs.exists(pool)) 0L
        else fs.listStatus(pool).map(_.getLen).sum
      import org.apache.spark.sql.types.BooleanType
      resultRows(new StructType()
        .add("version", LongType).add("data_files", LongType)
        .add("num_rows", LongType).add("dv_rows", LongType)
        .add("live_rows", LongType).add("pool_bytes", LongType)
        .add("key", StringType).add("retain", LongType)
        .add("num_checks", LongType).add("column_mapped", BooleanType),
        Seq(Array[Any](v, entries.size.toLong,
          entries.map(_.rows).sum, entries.map(_.dvRows).sum,
          entries.map(e => e.rows - e.dvRows).sum, bytes,
          org.apache.spark.unsafe.types.UTF8String.fromString(m.key),
          m.retain.toLong, m.checks.size.toLong, m.colMap.nonEmpty)))
    }
  }

  val byName: Map[String, UnboundProcedure] =
    Map("compact" -> Compact, "vacuum" -> Vacuum,
      "history" -> History, "restore" -> Restore, "detail" -> Detail)
}
