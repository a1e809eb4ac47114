package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 [[TableCatalog]] that makes the whole engine SQL-addressable —
  * the Spark-native form of the reference's implicit two-tier layout
  * (parquet-stage files + the Postgres warehouse, grocery_lib/
  * io_utils.py:38-57 and grocery_lib/pg.py:33-60) surfaced as ONE
  * catalog:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.root", "/data/lake")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse.url", jdbcUrl)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse.keys.fct_sales", "run_id,txn_id")
  *
  *   spark.sql("SELECT * FROM graft.`sf0.01`.lineitem WHERE l_quantity > 45")
  *   spark.sql("CREATE TABLE graft.stage.daily AS SELECT ...")       // lake CTAS
  *   spark.sql("INSERT INTO graft.warehouse.fct_sales SELECT ...")   // keyed upsert
  * }}}
  *
  * Lake namespaces are directories under `root`; each table is the
  * parquet file/dir `<root>/<ns>/<table>.parquet`. `loadTable` delegates
  * to Spark's own [[ParquetTable]], so catalog reads get the identical
  * vectorized scan + filter pushdown + column pruning a path read gets —
  * the catalog adds naming, not an execution layer (at 100 TB the scan
  * plan is what matters; it is byte-for-byte the built-in one). The
  * reserved `warehouse` namespace routes to [[WarehouseTable]], so SQL
  * `INSERT INTO` runs the same delete+insert upsert as
  * `df.write.format("graft-warehouse")` — redelivery-idempotent, one
  * driver-side transaction per statement (see [[WarehouseDataSource]]).
  *
  * Unsupported surface (ALTER/RENAME, nested namespaces, partitioned
  * CREATE) throws rather than half-working; CTAS is non-atomic in the
  * standard plain-TableCatalog way (Spark createTable→append→drop on
  * failure), which matches the reference's non-transactional stage
  * writes.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var root: Path = _
  private var warehouseUrl: Option[String] = None
  private var warehouseKeys: Map[String, Seq[String]] = Map.empty

  private def spark: SparkSession = SparkSession.active
  private def fs = root.getFileSystem(spark.sessionState.newHadoopConf())

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = new Path(Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option spark.sql.catalog.$name.root")))
    warehouseUrl = Option(options.get("warehouse.url"))
    // per-table upsert keys: spark.sql.catalog.<name>.warehouse.keys.<table>=k1,k2
    warehouseKeys = options.asScala.collect {
      case (k, v) if k.startsWith("warehouse.keys.") =>
        k.stripPrefix("warehouse.keys.") ->
          v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }.toMap
  }

  override def name(): String = catalogName

  private val WarehouseNs = "warehouse"

  private def isWarehouse(ns: Array[String]): Boolean =
    ns.length == 1 && ns(0).equalsIgnoreCase(WarehouseNs) && warehouseUrl.isDefined

  private def nsDir(ns: Array[String]): Path = {
    if (ns.length != 1) throw new NoSuchNamespaceException(ns)
    new Path(root, ns(0))
  }

  private def tablePath(ident: Identifier): Path =
    new Path(nsDir(ident.namespace()), s"${ident.name()}.parquet")

  /** Declared-schema sidecar written by plain CREATE TABLE. The leading
    * underscore keeps it invisible to Spark's file index (the parquet
    * scan skips `_`-prefixed files), so a created-but-still-empty table
    * reads back as an empty relation with its declared schema instead of
    * failing parquet schema inference over zero files.
    */
  private def schemaFile(tableDir: Path): Path = new Path(tableDir, "_schema.json")

  private def readDeclaredSchema(tableDir: Path): Option[StructType] = {
    val f = schemaFile(tableDir)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      val json = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType])
    }
  }

  private def warehouseConf(table: String): WarehouseConf = {
    val keys = warehouseKeys.getOrElse(table.toLowerCase(java.util.Locale.ROOT), Seq.empty)
    WarehouseConf(warehouseUrl.get, table, keys)
  }

  // ---------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (isWarehouse(namespace))
      throw new UnsupportedOperationException(
        "warehouse namespace does not support listing (JDBC metadata probe per table)")
    val dir = nsDir(namespace)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).collect {
      case st if st.getPath.getName.endsWith(".parquet") =>
        Identifier.of(namespace, st.getPath.getName.stripSuffix(".parquet"))
    }
  }

  override def loadTable(ident: Identifier): Table =
    if (isWarehouse(ident.namespace())) {
      val conf = warehouseConf(ident.name())
      val schema =
        try WarehouseDataSource.tableSchema(conf)
        catch { case _: java.sql.SQLException => throw new NoSuchTableException(ident) }
      new WarehouseTable(schema, conf)
    } else {
      val path = tablePath(ident)
      if (!fs.exists(path)) throw new NoSuchTableException(ident)
      // prefer the declared schema when present: skips footer inference
      // and keeps a still-empty created table readable
      parquetTable(ident, path, userSchema = readDeclaredSchema(path))
    }

  private def parquetTable(ident: Identifier, path: Path,
      userSchema: Option[StructType]): Table =
    ParquetTable(s"$catalogName.${ident.namespace().mkString(".")}.${ident.name()}",
      spark, CaseInsensitiveStringMap.empty(), Seq(path.toString), userSchema,
      classOf[ParquetFileFormat])

  override def tableExists(ident: Identifier): Boolean =
    if (isWarehouse(ident.namespace()))
      try { WarehouseDataSource.tableSchema(warehouseConf(ident.name())); true }
      catch { case _: java.sql.SQLException => false }
    else fs.exists(tablePath(ident))

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    if (isWarehouse(ident.namespace()))
      throw new UnsupportedOperationException(
        "create the warehouse table via DDL on the database; the catalog maps existing tables")
    if (partitions.nonEmpty)
      throw new UnsupportedOperationException(
        "partitioned CREATE TABLE is not supported; use ops.PartitionedWriter for laid-out writes")
    val path = tablePath(ident)
    if (fs.exists(path)) throw new TableAlreadyExistsException(ident)
    fs.mkdirs(path) // empty dir = empty table; CTAS appends files into it
    val out = fs.create(schemaFile(path), true)
    try out.write(schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    parquetTable(ident, path, userSchema = Some(schema))
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("ALTER TABLE is not supported")

  override def dropTable(ident: Identifier): Boolean =
    !isWarehouse(ident.namespace()) && {
      val path = tablePath(ident)
      fs.exists(path) && fs.delete(path, true)
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME TABLE is not supported")

  // ------------------------------------------------------------ namespaces

  override def listNamespaces(): Array[Array[String]] = {
    // a missing root is an empty catalog, not a FileNotFoundException;
    // a lake dir literally named 'warehouse' is shadowed by the reserved
    // namespace when warehouse.url is set — list it once, not twice
    val lake =
      if (!fs.exists(root)) Array.empty[Array[String]]
      else fs.listStatus(root).collect {
        case st if st.isDirectory &&
            !(warehouseUrl.isDefined &&
              st.getPath.getName.equalsIgnoreCase(WarehouseNs)) =>
          Array(st.getPath.getName)
      }
    if (warehouseUrl.isDefined) lake :+ Array(WarehouseNs) else lake
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty // no nesting
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    isWarehouse(namespace) ||
      (namespace.length == 1 && fs.exists(nsDir(namespace)) &&
        fs.getFileStatus(nsDir(namespace)).isDirectory)

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val loc = if (isWarehouse(namespace)) warehouseUrl.get else nsDir(namespace).toString
    Map("location" -> loc).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = {
    if (namespace.length != 1)
      throw new UnsupportedOperationException("nested namespaces are not supported")
    fs.mkdirs(nsDir(namespace))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (isWarehouse(namespace))
      throw new UnsupportedOperationException("cannot drop the warehouse namespace")
    val dir = nsDir(namespace)
    if (!fs.exists(dir)) false
    else {
      if (!cascade && fs.listStatus(dir).nonEmpty)
        throw new IllegalStateException(s"namespace ${namespace(0)} is not empty")
      fs.delete(dir, true)
    }
  }
}
