package graft.sources

import java.sql.{Connection, DriverManager, ResultSet}
import java.util.{Map => JMap}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min, Sum}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the warehouse LOAD boundary — the
  * reference's `INSERT … ON CONFLICT (run_id, txn_id) DO UPDATE` loader
  * (grocery_lib/pg.py:33-60) surfaced as a catalog-visible Spark table
  * instead of a side-effecting helper call:
  *
  * {{{
  *   df.write.format("graft-warehouse")
  *     .option("url", jdbcUrl).option("dbtable", "fct_sales")
  *     .option("keys", "run_id,txn_id")   // omit for plain append
  *     .mode("append").save()
  *   spark.read.format("graft-warehouse")
  *     .option("url", jdbcUrl).option("dbtable", "fct_sales").load()
  * }}}
  *
  * Writes: tasks only copy their rows into their commit messages; the
  * job's `commit` applies the batch on the driver in ONE transaction —
  * DELETE of the keys, then INSERT (portable across dialects without ON
  * CONFLICT). A key ends at its LAST source row by (partition, position),
  * so a REDELIVERED batch converges to the same table state (the
  * idempotence a retrying orchestrator needs; WarehouseDataSourceSpec
  * proves it). A failed task or statement leaves the table unchanged, and
  * `commit` sees only successful task attempts. No input distribution is
  * required: one Spark job, no shuffle. The batch passes through driver
  * memory, bounded by `spark.driver.maxResultSize` (commit messages are
  * task results); a write over it fails before `commit`, changing nothing.
  *
  * The read path serves catalog visibility and round-trip testing: one
  * partition, column pruning pushed into the SELECT. Partitioned scale
  * reads of a JDBC warehouse go through Spark's built-in jdbc relation
  * with partitionColumn bounds; re-implementing that here would
  * duplicate a built-in (the write path is what the built-in cannot
  * do).
  */
class WarehouseDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-warehouse"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarehouseDataSource.tableSchema(WarehouseConf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new WarehouseTable(schema,
      WarehouseConf(new CaseInsensitiveStringMap(properties)))
}

private[sources] final case class WarehouseConf(url: String, table: String,
    keys: Seq[String],
    // String grouping/min/max/predicates only push down when the
    // warehouse collates binary like Spark; a collated warehouse (e.g.
    // Derby created with territory-based collation, or any locale-
    // collated RDBMS) would group/order strings differently and a
    // COMPLETE pushdown is never re-checked by Spark. Default true —
    // embedded Derby's default IS binary (UCS_BASIC); set
    // assumeBinaryCollation=false when pointing at a collated warehouse.
    assumeBinaryCollation: Boolean = true)

private[sources] object WarehouseConf {
  /** Options resolve CASE-INSENSITIVELY (`dbTable` == `dbtable`), the
    * DSv2 convention every built-in source follows.
    */
  def apply(props: CaseInsensitiveStringMap): WarehouseConf = {
    val get = (k: String) => Option(props.get(k))
    val url = get("url").getOrElse(
      throw new IllegalArgumentException("graft-warehouse requires option 'url'"))
    val table = get("dbtable").getOrElse(
      throw new IllegalArgumentException("graft-warehouse requires option 'dbtable'"))
    val keys = get("keys").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    WarehouseDataSource.requireIdent(table, "dbtable", allowQualified = true)
    keys.foreach(WarehouseDataSource.requireIdent(_, "key", allowQualified = false))
    WarehouseConf(url, table, keys, get("assumeBinaryCollation").forall(_.toBoolean))
  }
}

private[sources] object WarehouseDataSource {

  /** Rows per DELETE/INSERT statement batch in [[WarehouseWrite]]. */
  val BatchSize = 1000

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  /** Identifiers are interpolated into SQL text — refuse anything that
    * isn't a plain (optionally schema-qualified) identifier, so reserved
    * words with quoting needs, mixed-case-sensitive names, or untrusted
    * input can't produce broken/injectable statements.
    */
  def requireIdent(s: String, what: String, allowQualified: Boolean): Unit = {
    val parts = if (allowQualified) s.split("\\.", -1).toSeq else Seq(s)
    require(parts.nonEmpty && parts.forall(p => Ident.pattern.matcher(p).matches()),
      s"$what '$s' is not a plain identifier ([A-Za-z_][A-Za-z0-9_]*)")
  }

  /** Spark→JDBC type code for binding: setNull(java.sql.Types.NULL) is
    * rejected by Derby (and others) even for nullable columns.
    */
  def jdbcType(dt: DataType): Int = dt match {
    case StringType => java.sql.Types.VARCHAR
    case LongType => java.sql.Types.BIGINT
    case IntegerType => java.sql.Types.INTEGER
    case ShortType => java.sql.Types.SMALLINT
    case DoubleType => java.sql.Types.DOUBLE
    case FloatType => java.sql.Types.FLOAT
    case BooleanType => java.sql.Types.BOOLEAN
    case TimestampType => java.sql.Types.TIMESTAMP
    case DateType => java.sql.Types.DATE
    case _: DecimalType => java.sql.Types.DECIMAL
    case BinaryType => java.sql.Types.BINARY
    case _ => java.sql.Types.OTHER
  }

  def bind(ps: java.sql.PreparedStatement, idx: Int, v: Any,
      sqlType: Int): Unit =
    v match {
      case null => ps.setNull(idx, sqlType)
      case x: java.sql.Timestamp => ps.setTimestamp(idx, x)
      case x: java.math.BigDecimal => ps.setBigDecimal(idx, x)
      case x => ps.setObject(idx, x)
    }

  /** Table schema from JDBC metadata (a WHERE 1=0 probe — no data read). */
  def tableSchema(conf: WarehouseConf): StructType = {
    val conn = DriverManager.getConnection(conf.url)
    try {
      val rs = conn.createStatement()
        .executeQuery(s"SELECT * FROM ${conf.table} WHERE 1=0")
      val md = rs.getMetaData
      StructType((1 to md.getColumnCount).map { i =>
        // record the warehouse-side type: CHAR(n) compares blank-padded
        // in SQL but trimmed-exact in Spark, so the filter pushdown must
        // know VARCHAR from CHAR (pushing an equality at a CHAR column
        // would return rows Spark's own evaluation rejects)
        val meta = new MetadataBuilder()
          .putLong("jdbcType", md.getColumnType(i).toLong).build()
        StructField(md.getColumnName(i), sparkType(md.getColumnType(i),
          md.getPrecision(i), md.getScale(i)),
          md.isNullable(i) != java.sql.ResultSetMetaData.columnNoNulls,
          meta)
      })
    } finally conn.close()
  }

  private def sparkType(jdbc: Int, precision: Int, scale: Int): DataType = {
    import java.sql.Types._
    jdbc match {
      case VARCHAR | CHAR | LONGVARCHAR | CLOB => StringType
      case BIGINT => LongType
      case INTEGER => IntegerType
      case SMALLINT | TINYINT => ShortType
      case DOUBLE | FLOAT => DoubleType
      case REAL => FloatType
      case BOOLEAN | BIT => BooleanType
      case TIMESTAMP => TimestampType
      case DATE => DateType
      case DECIMAL | NUMERIC => DecimalType(precision.max(1), scale.max(0))
      case BINARY | VARBINARY | LONGVARBINARY | BLOB => BinaryType
      case t => throw new IllegalArgumentException(
        s"graft-warehouse: unsupported JDBC type code $t")
    }
  }

  /** JDBC value → Catalyst internal value for `dt`. */
  def toInternal(rs: ResultSet, i: Int, dt: DataType): Any = {
    val v = dt match {
      case StringType => Option(rs.getString(i)).map(UTF8String.fromString).orNull
      case LongType => rs.getLong(i)
      case IntegerType => rs.getInt(i)
      case ShortType => rs.getShort(i)
      case DoubleType => rs.getDouble(i)
      case FloatType => rs.getFloat(i)
      case BooleanType => rs.getBoolean(i)
      case TimestampType =>
        Option(rs.getTimestamp(i))
          .map(t => t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
          .map(Long.box).orNull
      case DateType =>
        Option(rs.getDate(i))
          .map(d => d.toLocalDate.toEpochDay.toInt).map(Int.box).orNull
      case d: DecimalType =>
        Option(rs.getBigDecimal(i))
          .map(b => org.apache.spark.sql.types.Decimal(b, d.precision, d.scale))
          .orNull
      case BinaryType => rs.getBytes(i)
      case t => throw new IllegalArgumentException(s"unsupported read type $t")
    }
    if (rs.wasNull()) null else v
  }

  /** Catalyst internal value → plain JDBC value for binding. */
  def fromInternal(row: InternalRow, i: Int, dt: DataType): Any =
    if (row.isNullAt(i)) null
    else dt match {
      case StringType => row.getUTF8String(i).toString
      case LongType => Long.box(row.getLong(i))
      case IntegerType => Int.box(row.getInt(i))
      case ShortType => Short.box(row.getShort(i))
      case DoubleType => Double.box(row.getDouble(i))
      case FloatType => Float.box(row.getFloat(i))
      case BooleanType => Boolean.box(row.getBoolean(i))
      case TimestampType =>
        val us = row.getLong(i)
        val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
        t
      case DateType => java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(row.getInt(i).toLong))
      case d: DecimalType => row.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
      case BinaryType => row.getBinary(i)
      case t => throw new IllegalArgumentException(s"unsupported write type $t")
    }
}

private[sources] class WarehouseTable(schema0: StructType, conf: WarehouseConf)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"graft-warehouse(${conf.table})"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new WarehouseScanBuilder(schema0, conf)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new WarehouseWrite(info.schema(), conf)
    }
}

private[sources] class WarehouseScanBuilder(full: StructType,
    conf: WarehouseConf)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownFilters {

  private var required: StructType = full
  // (aggregated SELECT … GROUP BY … SQL, result schema) once pushed
  private var pushedAgg: Option[(String, StructType)] = None
  private var pushed: Seq[(Filter, String)] = Nil

  // ----- filter pushdown ---------------------------------------------

  /** Render a comparison literal, or None if the type has no safe SQL
    * form. Strings escape embedded quotes — the ONE non-identifier
    * interpolation in this connector, fenced the standard way.
    * Double.toString round-trips exactly through SQL parsing; Float
    * does NOT (the warehouse would promote "0.1" to a different double
    * than (double)0.1f), so Float comparisons stay Spark-side.
    */
  private def sqlLit(v: Any): Option[String] = v match {
    case null => None
    case _: Int | _: Long | _: Short | _: Byte => Some(v.toString)
    case d: Double if !d.isNaN && !d.isInfinite => Some(d.toString)
    case b: Boolean => Some(if (b) "TRUE" else "FALSE")
    case s: String => Some("'" + s.replace("'", "''") + "'")
    case _ => None // floats/timestamps/dates/decimals: leave to Spark
  }

  /** Column reference valid for interpolation, resolved case-insensitively. */
  private def sqlCol(name: String): Option[StructField] =
    full.fields.find(_.name.equalsIgnoreCase(name)).map { f =>
      WarehouseDataSource.requireIdent(f.name, "column", allowQualified = false)
      f
    }

  /** String predicates/aggregates only push at columns KNOWN to be
    * VARCHAR-family: CHAR(n) compares blank-padded in SQL but exact in
    * Spark, and a user-supplied schema carries no type metadata at all —
    * both refuse (the predicate stays Spark-side, which is always
    * correct). Additionally gated on `assumeBinaryCollation`: jdbcType
    * says VARCHAR but not how it COLLATES, and a locale-collated
    * warehouse groups/orders strings differently from Spark's binary
    * semantics — with the option off, every string column stays
    * Spark-side.
    */
  private def stringPushable(f: StructField): Boolean =
    conf.assumeBinaryCollation &&
    f.metadata.contains("jdbcType") && {
      val t = f.metadata.getLong("jdbcType").toInt
      t == java.sql.Types.VARCHAR || t == java.sql.Types.LONGVARCHAR
    }

  private def comparable(f: StructField, v: Any): Boolean = v match {
    case _: String => stringPushable(f)
    case _ => true
  }

  private def cmp(c: String, v: Any, op: String): Option[String] =
    for (f <- sqlCol(c) if comparable(f, v); vv <- sqlLit(v))
      yield s"${f.name} $op $vv"

  private def toWhere(flt: Filter): Option[String] = flt match {
    case EqualTo(c, v) => cmp(c, v, "=")
    case GreaterThan(c, v) => cmp(c, v, ">")
    case GreaterThanOrEqual(c, v) => cmp(c, v, ">=")
    case LessThan(c, v) => cmp(c, v, "<")
    case LessThanOrEqual(c, v) => cmp(c, v, "<=")
    case In(c, vs) if vs.nonEmpty =>
      val lits = vs.toSeq.map(sqlLit)
      for (f <- sqlCol(c)
           if lits.forall(_.isDefined) && vs.forall(comparable(f, _)))
        yield s"${f.name} IN (${lits.map(_.get).mkString(", ")})"
    case IsNull(c) => sqlCol(c).map(f => s"${f.name} IS NULL")
    case IsNotNull(c) => sqlCol(c).map(f => s"${f.name} IS NOT NULL")
    case _ => None // AND/OR/NOT/string-match: leave to Spark
  }

  /** Push what translates; Spark re-checks the rest post-scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.toSeq
      .map(f => f -> toWhere(f))
      .partition(_._2.isDefined)
    pushed = ok.map { case (f, w) => (f, w.get) }
    residual.map(_._1).toArray
  }

  override def pushedFilters(): Array[Filter] = pushed.map(_._1).toArray

  private def whereClause: String =
    if (pushed.isEmpty) ""
    else pushed.map(_._2).mkString(" WHERE ", " AND ", "")

  // ----- aggregate pushdown ------------------------------------------

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // after a COMPLETE aggregate pushdown Spark builds the scan straight
    // from the aggregation output — column pruning only applies to the
    // row-scan path
    if (pushedAgg.isEmpty)
      // preserve TABLE column order/metadata; an empty projection
      // (count-only scan) still reads one column so the row cursor has a
      // SELECT list
      required = {
        val names = requiredSchema.fieldNames.toSet
        val kept = full.fields.filter(f => names.contains(f.name))
        StructType(if (kept.isEmpty) full.fields.take(1) else kept)
      }
  }

  /** The single-partition reader returns FINAL results, so any
    * aggregation we can translate is safe to push completely — Spark
    * then plans no aggregate at all over the scan.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translate(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    translate(agg) match {
      case some @ Some(_) =>
        pushedAgg = some
        true
      // untranslatable → refuse; Spark aggregates over the row scan,
      // which is always correct (partial-pushdown merge semantics are
      // deliberately not implemented — complete-or-nothing)
      case None => false
    }

  /** Single-name column behind a V2 expression, resolved against the
    * table schema case-insensitively (as Spark resolved it) and held to
    * the no-injectable-identifier contract — EVERY name the aggregate
    * path interpolates flows through here (a user-supplied
    * spark.read.schema(...) is attacker-controlled input).
    *
    * String-typed columns additionally require a known VARCHAR-family
    * warehouse type: CHAR blank-padding and non-binary collations make
    * source-side grouping/ordering of strings diverge from Spark's
    * binary semantics, and a complete pushdown would never re-check.
    */
  private def fieldOf(
      e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[StructField] = e match {
    case nr: NamedReference if nr.fieldNames.length == 1 =>
      full.fields.find(_.name.equalsIgnoreCase(nr.fieldNames()(0)))
        .filter(f => f.dataType != StringType || stringPushable(f))
        .map { f =>
          WarehouseDataSource.requireIdent(f.name, "column", allowQualified = false)
          f
        }
    case _ => None
  }

  /** COUNT(*) / COUNT([DISTINCT] c) / MIN / MAX / SUM over plain columns
    * → (aggregated SQL, result schema in Spark's expected types).
    * Anything else (expressions, decimals, distinct sums) → None.
    */
  private def translate(a: Aggregation): Option[(String, StructType)] = {
    val groups = a.groupByExpressions.toSeq.map(fieldOf)
    val aggs = a.aggregateExpressions.toSeq.zipWithIndex.map {
      case (_: CountStar, i) =>
        Some(("COUNT(*)", StructField(s"agg_$i", LongType, nullable = false)))
      case (c: Count, i) => fieldOf(c.column).map { f =>
        val d = if (c.isDistinct) "DISTINCT " else ""
        (s"COUNT($d${f.name})",
          StructField(s"agg_$i", LongType, nullable = false))
      }
      case (m: Min, i) => fieldOf(m.column).map(f =>
        (s"MIN(${f.name})", StructField(s"agg_$i", f.dataType)))
      case (m: Max, i) => fieldOf(m.column).map(f =>
        (s"MAX(${f.name})", StructField(s"agg_$i", f.dataType)))
      case (s: Sum, i) if !s.isDistinct => fieldOf(s.column).flatMap { f =>
        f.dataType match {
          // Spark's SUM over integral types is LongType — cast the
          // OPERAND (inside the SUM) so the warehouse accumulates in
          // 64-bit: SQL SUM's result type follows its operand, and a
          // 32-bit accumulator would overflow where Spark's own
          // aggregation returns the correct Long
          case ShortType | IntegerType | LongType =>
            Some((s"SUM(CAST(${f.name} AS BIGINT))",
              StructField(s"agg_$i", LongType)))
          case FloatType | DoubleType =>
            Some((s"SUM(CAST(${f.name} AS DOUBLE))",
              StructField(s"agg_$i", DoubleType)))
          case _ => None
        }
      }
      case _ => None
    }
    if (groups.exists(_.isEmpty) || aggs.exists(_.isEmpty) || aggs.isEmpty)
      None
    else {
      // every name (group keys AND aggregate inputs) was validated by
      // fieldOf against the identifier contract
      val g = groups.map(_.get)
      val select = (g.map(_.name) ++ aggs.map(_.get._1)).mkString(", ")
      val groupBy =
        if (g.isEmpty) "" else s" GROUP BY ${g.map(_.name).mkString(", ")}"
      // filters are pushed before aggregates (Spark only offers the
      // aggregation once every filter is handled), so the WHERE is
      // already final here
      Some((s"SELECT $select FROM ${conf.table}$whereClause$groupBy",
        StructType(g ++ aggs.map(_.get._2))))
    }
  }

  override def build(): Scan = pushedAgg match {
    case Some((sql, schema)) => buildScan(schema, sql,
      s"graft-warehouse ${conf.table} PushedAggregates=[$sql]")
    case None =>
      // a user-supplied spark.read.schema(...) reaches the interpolated
      // SELECT in WarehouseReader — hold it to the same no-injectable-SQL
      // contract as the write path. Validated on the PRUNED set at scan
      // build (not the full schema at construction), so a table with one
      // exotic column name stays readable as long as queries don't
      // select it
      required.fieldNames.foreach(
        WarehouseDataSource.requireIdent(_, "column", allowQualified = false))
      val filterDesc =
        if (pushed.isEmpty) ""
        else s" PushedFilters=[${pushed.map(_._2).mkString(", ")}]"
      buildScan(required,
        s"SELECT ${required.fieldNames.mkString(", ")} " +
          s"FROM ${conf.table}$whereClause",
        s"graft-warehouse ${conf.table} " +
          s"(${required.fieldNames.mkString(",")})$filterDesc")
  }

  private def buildScan(schema: StructType, sql: String,
      desc: String): Scan = new Scan with Batch {
    override def readSchema(): StructType = schema
    override def description(): String = desc
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      Array(WarehousePartition(0))
    override def createReaderFactory(): PartitionReaderFactory =
      WarehouseReaderFactory(conf, schema, sql)
  }
}

/** Top-level (serializable) factory — an anonymous factory would capture
  * the non-serializable enclosing Scan.
  */
private[sources] final case class WarehouseReaderFactory(conf: WarehouseConf,
    schema: StructType, sql: String) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new WarehouseReader(conf, schema, sql)
}

private[sources] final case class WarehousePartition(id: Int) extends InputPartition

private[sources] class WarehouseReader(conf: WarehouseConf,
    schema: StructType, sql: String)
    extends PartitionReader[InternalRow] {

  private val conn = DriverManager.getConnection(conf.url)
  private val rs = conn.createStatement().executeQuery(sql)

  override def next(): Boolean = rs.next()
  override def get(): InternalRow =
    InternalRow.fromSeq(schema.fields.zipWithIndex.map { case (f, i) =>
      WarehouseDataSource.toInternal(rs, i + 1, f.dataType)
    }.toIndexedSeq)
  override def close(): Unit = { rs.close(); conn.close() }
}

private[sources] class WarehouseWrite(schema: StructType, conf: WarehouseConf)
    extends Write {

  schema.fieldNames.foreach(
    WarehouseDataSource.requireIdent(_, "column", allowQualified = false))
  // V2 write resolution renames the frame to the TABLE's column names
  // (Derby metadata upcases them) — resolve the user's key spelling to
  // the schema's case-insensitively, as Spark resolved the columns
  private val resolved = conf.copy(keys = conf.keys.map { k =>
    schema.fieldNames.find(_.equalsIgnoreCase(k)).getOrElse(
      throw new IllegalArgumentException(
        s"key '$k' is not a column of the written frame " +
          s"(${schema.fieldNames.mkString(", ")})"))
  })

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new WarehouseWriterFactory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      applyBatch(messages.toSeq.map(_.asInstanceOf[WarehouseRows])
        .sortBy(_.partition).flatMap(_.rows))
    // the tasks wrote nothing to the warehouse
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  /** One transaction over the batch `rows` (in source order): for a keyed
    * write, the DELETE of the last row per key, then its INSERT, each in
    * statement batches of [[WarehouseDataSource.BatchSize]]; for an
    * append, the INSERTs. Any failure rolls the whole batch back.
    */
  private def applyBatch(rows: Seq[InternalRow]): Unit = {
    val types = schema.fields.map(f => WarehouseDataSource.jdbcType(f.dataType))
    val vals = rows.map(r => schema.fields.indices.map(i =>
      WarehouseDataSource.fromInternal(r, i, schema(i).dataType)).toArray)
    val keyIdx = resolved.keys.map(schema.fieldIndex).toArray
    val kept =
      if (keyIdx.isEmpty) vals
      else {
        // value-comparable key: Array[Byte] (BinaryType) has identity
        // equals/hashCode, so two equal binary keys would both survive
        val last = mutable.LinkedHashMap.empty[Seq[Any], Array[Any]]
        vals.foreach { v =>
          last(keyIdx.toSeq.map(v(_) match {
            case b: Array[Byte] => b.toSeq
            case x => x
          })) = v
        }
        last.values.toSeq
      }
    val cols = schema.fieldNames
    val conn = DriverManager.getConnection(resolved.url)
    try {
      conn.setAutoCommit(false)
      try {
        if (keyIdx.nonEmpty)
          execute(conn, s"DELETE FROM ${resolved.table} WHERE " +
            resolved.keys.map(k => s"$k = ?").mkString(" AND "),
            kept.map(v => keyIdx.map(v(_))), keyIdx.map(types(_)))
        execute(conn, s"INSERT INTO ${resolved.table} (${cols.mkString(", ")}) " +
          s"VALUES (${cols.map(_ => "?").mkString(", ")})", kept, types)
        conn.commit()
      } catch {
        case e: Throwable =>
          conn.rollback()
          throw e
      }
    } finally conn.close()
  }

  private def execute(conn: Connection, sql: String, rows: Seq[Array[Any]],
      types: Array[Int]): Unit = {
    val ps = conn.prepareStatement(sql)
    try rows.grouped(WarehouseDataSource.BatchSize).foreach { chunk =>
      chunk.foreach { v =>
        v.indices.foreach(i => WarehouseDataSource.bind(ps, i + 1, v(i), types(i)))
        ps.addBatch()
      }
      ps.executeBatch()
    } finally ps.close()
  }
}

/** One task's rows, in the order it read them. */
private[sources] final case class WarehouseRows(partition: Int, rows: Array[InternalRow])
    extends WriterCommitMessage

private[sources] class WarehouseWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new WarehouseWriter(partitionId, schema)
}

/** Copies its partition's rows (an `UnsafeRow` serializes as its bytes)
  * and hands them to the job commit of [[WarehouseWrite]]; it opens no
  * connection.
  */
private[sources] class WarehouseWriter(partition: Int, schema: StructType)
    extends DataWriter[InternalRow] {

  private val project = UnsafeProjection.create(schema)
  private val rows = mutable.ArrayBuffer.empty[InternalRow]

  override def write(row: InternalRow): Unit = rows += project(row).copy()
  override def commit(): WriterCommitMessage = WarehouseRows(partition, rows.toArray)
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
