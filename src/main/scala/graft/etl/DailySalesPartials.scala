package graft.etl

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.ParquetOutputFormat
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.api.WriteSupport.{FinalizedWriteContext, WriteContext}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file partial aggregates of `mart_daily_sales`, kept in the footers
  * of the parquet files that [[Upsert]] writes (Moerkotte's small
  * materialized aggregates, VLDB 1998). Every file is immutable once
  * written, so its partials stay exact for its life, and the mart of a
  * table is the merge of its files' partials: a footer read per file, with
  * no scan.
  *
  * '''Write side.''' [[DailySalesParquetFormat]] is Spark's parquet format
  * with [[DailySalesWriteSupport]] as its write support. That gathers, per
  * (day, store_id), the count of rows and the sums of `revenue_cents` and
  * `quantity` as the rows are written, the day being `to_date(event_time)`
  * in the writing session's time zone, and stores them under [[Key]] as
  * `{"v":1,"tz":<zone>,"groups":[[epochDay,store,txns,revenue,units],…]}`.
  * A file gets no entry when its schema lacks one of the [[Columns]], a row
  * holds a null in one of them, a sum overflows, or it has more than
  * [[MaxGroups]] groups. The files stay plain parquet for every reader.
  *
  * '''Read side.''' [[merged]] answers the mart of a bare parquet scan from
  * its files' entries, or declines.
  */
object DailySalesPartials {

  /** The footer key of a file's partials. */
  val Key = "graft.daily_sales.partials"

  /** The entry's format version. */
  val Version = 1

  /** Groups a file may hold and still carry its partials: 1024 groups are
    * about 25 KB of footer. A `small_runs` seed file carries 84 groups in
    * about 2.8 KB.
    */
  val MaxGroups = 1024

  /** The columns the partials read, each with the types it may have. */
  val Columns: Seq[(String, Set[DataType])] = Seq(
    "event_time" -> Set(TimestampType),
    "store_id" -> Set(StringType),
    "revenue_cents" -> Set(LongType),
    "quantity" -> Set(IntegerType, LongType))

  /** The job-conf key carrying the writing session's time zone. */
  private[etl] val ZoneConf = "graft.daily_sales.tz"

  /** Merged partials: (epoch day, store_id) → (txns, revenue, units). */
  type Groups = Map[(Int, String), (Long, Long, Long)]

  /** Options of a parquet read that only choose its files or its schema,
    * never its values.
    */
  private val ListingOptions =
    Set("path", "paths", "basepath", "pathglobfilter", "recursivefilelookup",
      "modifiedbefore", "modifiedafter", "mergeschema")

  private val mapper = new ObjectMapper()

  /** The indexes of the [[Columns]] in `schema`, when each is present with
    * one of its types; None otherwise.
    */
  private[etl] def columnIndexes(schema: StructType): Option[Seq[Int]] = {
    val found = Columns.map { case (name, types) =>
      schema.fields.indexWhere(f => f.name == name && types(f.dataType))
    }
    if (found.contains(-1)) None else Some(found)
  }

  /** One file's partials, gathered row by row as the file is written. */
  private[etl] final class Gatherer(schema: StructType, zone: String) {
    private val Seq(ts, store, revenue, quantity) = columnIndexes(schema).get
    private val quantityIsInt = schema(quantity).dataType == IntegerType
    // what to_date(event_time) analyses to
    private val day = Cast(BoundReference(ts, TimestampType, nullable = true), DateType, Some(zone))
    private val groups = mutable.HashMap.empty[(Int, UTF8String), Array[Long]]
    private var valid = true

    def add(row: InternalRow): Unit = if (valid) {
      if (row.isNullAt(ts) || row.isNullAt(store) || row.isNullAt(revenue) || row.isNullAt(quantity))
        invalidate()
      else {
        val key = (day.eval(row).asInstanceOf[Int], row.getUTF8String(store))
        val sums = groups.getOrElse(key, {
          val fresh = new Array[Long](3)
          // the row's string may point into a reused buffer
          groups((key._1, key._2.clone())) = fresh
          fresh
        })
        if (groups.size > MaxGroups) invalidate()
        else try {
          val units = if (quantityIsInt) row.getInt(quantity).toLong else row.getLong(quantity)
          sums(0) = Math.addExact(sums(0), 1L)
          sums(1) = Math.addExact(sums(1), row.getLong(revenue))
          sums(2) = Math.addExact(sums(2), units)
        } catch { case _: ArithmeticException => invalidate() }
      }
    }

    private def invalidate(): Unit = { valid = false; groups.clear() }

    /** The footer entry, or None when the file must carry none. */
    def entry: Option[String] = Option.when(valid) {
      groups.iterator.map { case ((d, s), sums) =>
        s"[$d,${graft.Json.str(s.toString)},${sums.mkString(",")}]"
      }.mkString(s"""{"v":$Version,"tz":${graft.Json.str(zone)},"groups":[""", ",", "]}")
    }
  }

  /** A footer entry → (time zone, groups); None unless it is a
    * well-formed version-[[Version]] entry.
    */
  private[etl] def parse(entry: String): Option[(String, Seq[((Int, String), (Long, Long, Long))])] =
    scala.util.Try {
      val node = mapper.readTree(entry)
      Option.when(node.path("v").asInt(-1) == Version) {
        node.get("tz").asText() -> node.get("groups").asScala.toSeq.map { g =>
          (g.get(0).asInt(), g.get(1).asText()) -> ((g.get(2).asLong(), g.get(3).asLong(), g.get(4).asLong()))
        }
      }
    }.toOption.flatten

  /** The mart of `fct`, merged from its files' partials on the driver:
    * `fct` must be a bare parquet scan (no operator over it, no bucket
    * spec, no read option that changes values) holding the [[Columns]]
    * with their types, none of them a partition column, and every file
    * that its listing (the one made when it was read) names must carry a
    * version-[[Version]] entry written under the reading session's time
    * zone. Also None when a merged sum overflows.
    */
  def merged(fct: DataFrame): Option[Groups] = fct.queryExecution.analyzed match {
    case LogicalRelation(rel: HadoopFsRelation, _, _, false, _)
        if rel.fileFormat.isInstanceOf[ParquetFileFormat] && rel.bucketSpec.isEmpty &&
          rel.options.keySet.forall(k => ListingOptions(k.toLowerCase)) &&
          columnIndexes(fct.schema).nonEmpty &&
          !Columns.exists { case (name, _) => rel.partitionSchema.fieldNames.contains(name) } =>
      val zone = fct.sparkSession.sessionState.conf.sessionLocalTimeZone
      val conf = fct.sparkSession.sessionState.newHadoopConf()
      val sums = mutable.HashMap.empty[(Int, String), (Long, Long, Long)]
      def add(key: (Int, String), t: Long, r: Long, u: Long): Unit = {
        val (t0, r0, u0) = sums.getOrElse(key, (0L, 0L, 0L))
        sums(key) = (Math.addExact(t0, t), Math.addExact(r0, r), Math.addExact(u0, u))
      }
      try Option.when(rel.location.listFiles(Nil, Nil).iterator.flatMap(_.files).forall { f =>
        fileGroups(conf, f.fileStatus) match {
          case Some((`zone`, groups)) =>
            groups.foreach { case (key, (t, r, u)) => add(key, t, r, u) }
            true
          case _ => false
        }
      })(sums.toMap)
      catch { case _: ArithmeticException => None }
    case _ => None
  }

  /** A file's footer entry, read on the driver. */
  private def fileGroups(conf: Configuration, file: FileStatus) =
    Option(Upsert.footer(conf, file).getFileMetaData.getKeyValueMetaData.get(Key)).flatMap(parse)

  /** `groups` as mart rows of `schema` (the scan plan's): day, store_id,
    * txns, gross_revenue_cents, units.
    */
  private[etl] def toFrame(spark: SparkSession, groups: Groups, schema: StructType): DataFrame =
    spark.createDataFrame(groups.toSeq.map { case ((d, s), (t, r, u)) =>
      Row(java.time.LocalDate.ofEpochDay(d.toLong), s, t, r, u)
    }.asJava, schema)
}

/** Spark's parquet format, writing each file's [[DailySalesPartials]]
  * into its footer. Write through `.format(classOf[DailySalesParquetFormat].getName)`;
  * the files it writes are plain parquet.
  */
class DailySalesParquetFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(spark, job, options, dataSchema)
    val conf = job.getConfiguration
    conf.setClass(ParquetOutputFormat.WRITE_SUPPORT_CLASS, classOf[DailySalesWriteSupport],
      classOf[WriteSupport[_]])
    conf.set(DailySalesPartials.ZoneConf, spark.sessionState.conf.sessionLocalTimeZone)
    factory
  }
}

/** Spark's parquet write support, gathering the file's
  * [[DailySalesPartials]] as it writes and adding them to the footer
  * metadata that parquet-mr writes on close.
  */
class DailySalesWriteSupport extends ParquetWriteSupport {
  private var gatherer: Option[DailySalesPartials.Gatherer] = None

  override def init(conf: Configuration): WriteContext = {
    val context = super.init(conf)
    val schema = DataType.fromJson(conf.get(ParquetWriteSupport.SPARK_ROW_SCHEMA)).asInstanceOf[StructType]
    gatherer = Option(conf.get(DailySalesPartials.ZoneConf))
      .filter(_ => DailySalesPartials.columnIndexes(schema).isDefined)
      .map(new DailySalesPartials.Gatherer(schema, _))
    context
  }

  override def write(row: InternalRow): Unit = {
    super.write(row)
    gatherer.foreach(_.add(row))
  }

  override def finalizeWrite(): FinalizedWriteContext = {
    val base = super.finalizeWrite()
    gatherer.flatMap(_.entry).fold(base) { entry =>
      val meta = new java.util.HashMap[String, String](base.getExtraMetaData)
      meta.put(DailySalesPartials.Key, entry)
      new FinalizedWriteContext(meta)
    }
  }
}
