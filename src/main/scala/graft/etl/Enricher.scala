package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dimension enrichment — the system's one true join (reference: implied
  * fct_sales writer; sql/init.sql:33-44 declares denormalized
  * region/category + derived revenue_cents, and §2.5 J1 of SURVEY.md shows
  * the only possible provenance is dim_store.region / dim_product.category.
  * The reference's enrich task is a pass-through — grocery_enrich_dag.py:
  * 39-52 — so this implements the declared target state).
  *
  * Dims are tiny (3 stores, 5 products), so the join is a lookup in a
  * map literal: the fact side never shuffles, and no broadcast job runs
  * per call — the shape you want when the fact is 100 TB and the dims are
  * kilobytes.
  */
object Enricher {

  /** dim_store seed rows (sql/init.sql:47-52): id, name, region, opened. */
  private val stores = Seq(
    ("SFO-001", "Market St Grocery", "west", "2017-03-01"),
    ("NYC-014", "Union Sq Grocery", "east", "2019-09-12"),
    ("AUS-002", "Congress Ave Grocery", "south", "2020-01-20"))

  /** dim_product seed rows (sql/init.sql:54-61): sku, name, category,
    * perishable.
    */
  private val products = Seq(
    ("SKU-APPLE", "Fuji Apple", "produce", true),
    ("SKU-MILK", "Whole Milk 1L", "dairy", true),
    ("SKU-BREAD", "Sourdough Loaf", "bakery", true),
    ("SKU-COFFEE", "Ground Coffee 340g", "beverages", false),
    ("SKU-RICE", "Jasmine Rice 2kg", "pantry", false))

  /** dim_store as a table, from the seed rows above. */
  def dimStore(spark: SparkSession): DataFrame = {
    import spark.implicits._
    stores.toDF("store_id", "store_name", "region", "opened_date")
      .withColumn("opened_date", to_date(col("opened_date")))
  }

  /** dim_product as a table, from the seed rows above. */
  def dimProduct(spark: SparkSession): DataFrame = {
    import spark.implicits._
    products.toDF("sku", "product_name", "category", "is_perishable")
  }

  /** Staged transactions → fct_sales rows: region and category looked up
    * from the dims, revenue_cents = quantity × unit_price_cents (BIGINT,
    * init.sql:39). Inner-join semantics: a txn referencing an unknown
    * store/sku is a referential breach and drops out (the validate stage
    * catches those upstream).
    */
  def enrich(spark: SparkSession, txns: DataFrame): DataFrame = {
    val regionOf = typedLit(stores.map(s => s._1 -> s._3).toMap)
    val categoryOf = typedLit(products.map(p => p._1 -> p._3).toMap)
    txns
      .withColumn("region", try_element_at(regionOf, col("store_id")))
      .withColumn("category", try_element_at(categoryOf, col("sku")))
      .filter(col("region").isNotNull && col("category").isNotNull)
      .withColumn("revenue_cents",
        col("quantity").cast("long") * col("unit_price_cents").cast("long"))
      .select(
        col("event_time"), col("txn_id"), col("store_id"), col("sku"),
        col("quantity"), col("unit_price_cents"), col("revenue_cents"),
        col("tender_type"), col("customer_id"), col("region"), col("category"))
  }

  /** fct_sales → mart_daily_sales shape (reference:
    * mart_daily_sales.sql:6-15 — group by day, store; count/sum/sum).
    *
    * Two paths give the same rows, types and nullability:
    *  - '''footer merge,''' when `fct` is a bare parquet scan, such as
    *    `spark.read.parquet(warehouse)` of a table [[Upsert]] wrote, whose
    *    every file carries its [[DailySalesPartials]] written under this
    *    session's time zone: the files' partials, read from their footers
    *    at this call, are merged on the driver into a local relation, so
    *    no Spark job runs;
    *  - '''scan''' ([[dailySalesMartByScan]]), otherwise: an operator over
    *    the scan, a file without partials (written by another writer or
    *    before they existed, or holding a null or too many groups), a
    *    writer in another time zone, any other source, or a merged sum
    *    that overflows.
    */
  def dailySalesMart(fct: DataFrame): DataFrame = {
    val scan = dailySalesMartByScan(fct)
    DailySalesPartials.merged(fct)
      .fold(scan)(DailySalesPartials.toFrame(fct.sparkSession, _, scan.schema))
  }

  /** The mart by a scan of `fct`: one aggregate over every row. */
  def dailySalesMartByScan(fct: DataFrame): DataFrame =
    fct.groupBy(to_date(col("event_time")).as("day"), col("store_id"))
      .agg(
        count(lit(1)).as("txns"),
        sum(col("revenue_cents")).as("gross_revenue_cents"),
        sum(col("quantity").cast("long")).as("units"))
}
