package graft.etl

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** JDBC sink with batched, partition-parallel upsert — the reference's
  * warehouse boundary (grocery_lib/pg.py:33-60: `INSERT … ON CONFLICT
  * (run_id, txn_id) DO UPDATE`, executed ONE ROW PER STATEMENT in a
  * loop) re-expressed the way a 100 TB pipeline must: each partition
  * opens one connection, stages its rows through a PreparedStatement
  * batch, and commits once, so throughput scales with executors ×
  * batchSize instead of being serialized through a single row loop.
  *
  * Upsert is delete-then-insert per batch inside one transaction —
  * portable across dialects without ON CONFLICT, and no slower than a
  * `MERGE INTO` on the embedded Derby the spec runs (Derby 10.16 has
  * MERGE but no ON CONFLICT). Last-write-wins within a batch is by
  * source order, matching Upsert.merge semantics when the batch is
  * pre-deduplicated.
  */
object JdbcSink {

  /** Append `df` into `table` with one batched transaction per
    * partition. Executors must be able to resolve the JDBC driver from
    * `url` (DriverManager). For plain appends with auth/isolation
    * options, Spark's built-in `df.write.jdbc` covers the same ground;
    * this path exists to share machinery with [[upsertBatched]], which
    * the built-in writer cannot do.
    */
  def appendBatched(df: DataFrame, url: String, table: String,
      batchSize: Int = 1000): Unit =
    writeBatched(df, url, table, keys = Seq.empty, batchSize)

  /** Keyed upsert: per batch, DELETE the incoming keys then INSERT the
    * rows, all in one transaction per partition. The input is
    * deduplicated on `keys` first (one surviving row per key,
    * deterministic only if the input has one row per key) — for
    * versioned last-write-wins semantics merge with [[Upsert.merge]]
    * upstream; without the dedup, two input rows with one key would
    * both survive the single DELETE and violate the upsert invariant.
    */
  def upsertBatched(df: DataFrame, url: String, table: String,
      keys: Seq[String], batchSize: Int = 1000): Unit = {
    require(keys.nonEmpty, "upsertBatched requires key columns")
    writeBatched(df.dropDuplicates(keys), url, table, keys, batchSize)
  }

  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  /** Identifiers are interpolated into SQL text — refuse anything that
    * isn't a plain (optionally schema-qualified) identifier, so reserved
    * words with quoting needs, mixed-case-sensitive names, or untrusted
    * input can't produce broken/injectable statements.
    */
  private[graft] def requireIdent(s: String, what: String, allowQualified: Boolean): Unit = {
    val parts = if (allowQualified) s.split("\\.", -1).toSeq else Seq(s)
    require(parts.nonEmpty && parts.forall(p => Ident.pattern.matcher(p).matches()),
      s"$what '$s' is not a plain identifier ([A-Za-z_][A-Za-z0-9_]*)")
  }

  private def writeBatched(df0: DataFrame, url: String, table: String,
      keys: Seq[String], batchSize: Int): Unit = {
    requireIdent(table, "table", allowQualified = true)
    df0.schema.fieldNames.foreach(requireIdent(_, "column", allowQualified = false))
    keys.foreach(requireIdent(_, "key", allowQualified = false))
    // co-locate same-key rows in one partition: upserts of one key never
    // race across connections, and per-key order is deterministic
    val df =
      if (keys.isEmpty) df0
      else df0.repartition(keys.map(org.apache.spark.sql.functions.col): _*)
    val schema = df.schema
    val cols = schema.fieldNames
    // real JDBC type codes per column: setNull(java.sql.Types.NULL) is
    // rejected by Derby (and others) even for nullable columns
    val sqlTypes: Map[String, Int] = schema.fields.map(f =>
      f.name -> jdbcType(f.dataType)).toMap
    val insertSql =
      s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})"
    val deleteSql =
      if (keys.isEmpty) ""
      else s"DELETE FROM $table WHERE ${keys.map(k => s"$k = ?").mkString(" AND ")}"
    df.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val conn = DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val del = if (keys.isEmpty) null else conn.prepareStatement(deleteSql)
          val ins = conn.prepareStatement(insertSql)
          try {
            var inBatch = 0
            rows.foreach { row =>
              if (del != null) {
                keys.zipWithIndex.foreach { case (k, i) =>
                  JdbcSink.bind(del, i + 1, row.getAs[Any](k), sqlTypes(k))
                }
                del.addBatch()
              }
              cols.zipWithIndex.foreach { case (c, i) =>
                JdbcSink.bind(ins, i + 1, row.getAs[Any](c), sqlTypes(c))
              }
              ins.addBatch()
              inBatch += 1
              if (inBatch >= batchSize) {
                if (del != null) del.executeBatch()
                ins.executeBatch()
                inBatch = 0
              }
            }
            if (inBatch > 0) {
              if (del != null) del.executeBatch()
              ins.executeBatch()
            }
            conn.commit()
          } catch {
            case e: Throwable => conn.rollback(); throw e
          } finally {
            if (del != null) del.close()
            ins.close()
          }
        } finally conn.close()
      }
    }
  }

  /** Spark→JDBC type code for binding (shared with the DSv2 warehouse
    * connector, [[graft.sources.WarehouseDataSource]]).
    */
  private[graft] def jdbcType(dt: DataType): Int = dt match {
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

  private[graft] def bind(ps: java.sql.PreparedStatement, idx: Int, v: Any,
      sqlType: Int): Unit =
    v match {
      case null => ps.setNull(idx, sqlType)
      case x: java.sql.Timestamp => ps.setTimestamp(idx, x)
      case x: java.math.BigDecimal => ps.setBigDecimal(idx, x)
      case x => ps.setObject(idx, x)
    }
}
