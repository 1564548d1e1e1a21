package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.{Readers, Sinks}

/** The reference-class pipeline, end to end (SURVEY §3.1): the
  * 211-style ETL is `fetch → schema-validate/quarantine → clean →
  * dedup (latest wins) → dimension join → aggregate → export`, and
  * every stage here is one of the engine's own §2 operators composed
  * as pure plan builders. This is the completeness witness: a user of
  * the reference class runs THIS flow, so the engine must run it as
  * one composition, not only as isolated operators.
  *
  * Scale posture: each stage keeps the operators' own guarantees —
  * typed ingest quarantines instead of failing, cleaning is row-local
  * (no shuffle), the upsert-dedup is one window over the upsert key,
  * the category join broadcasts the dimension, and the rollup is a
  * two-phase hash aggregate. Nothing in the composition adds a
  * shuffle the stages did not already declare.
  */
object Pipeline {

  /** Schema for the raw 211-style service-request extract (CSV). */
  val requestSchema: StructType = new StructType()
    .add("request_id", LongType, nullable = false)
    .add("ts", TimestampType)
    .add("zip", StringType)
    .add("category_code", StringType)
    .add("outcome", StringType)

  /** Stage 2-3: typed ingest with quarantine, then the cleaning
    * kernel: trim/collapse whitespace, case-fold, ''/'NA' → NULL,
    * zero-pad ZIPs — the reference class's per-field coercions
    * expressed as row-local column expressions.
    */
  def ingestAndClean(spark: SparkSession, csvPath: String): DataFrame =
    Readers.csvWithQuarantine(spark, csvPath, requestSchema)
      // CSV flags a bad field only if its column is read: read them all
      .filter(requestSchema.fieldNames.map(c => col(c).isNull || col(c).isNotNull)
        .foldLeft(col("_corrupt_record").isNull)(_ && _))
      .select(
        col("request_id"), col("ts"),
        lpad(trim(col("zip")), 5, "0").as("zip"),
        upper(regexp_replace(trim(col("category_code")), "\\s+", " ")).as("category_code"),
        nullif(lower(trim(col("outcome"))), lit("na")).as("outcome"))

  /** Stage 4: latest record wins per request_id (the CKAN-DataStore
    * upsert semantics — same shape as `dedup_latest_wins`).
    */
  def latestWins(requests: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("request_id"))
      .orderBy(col("ts").desc)
    requests.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Stage 5-6: broadcast-join the category taxonomy dimension and
    * roll up per (month, category-group, outcome).
    */
  def categorize(requests: DataFrame, taxonomy: DataFrame): DataFrame =
    requests.join(broadcast(taxonomy), Seq("category_code"), "left")
      .select(requests.columns.map(col).toIndexedSeq :+
        coalesce(col("category_group"), lit("UNKNOWN")).as("category_group"): _*)

  def monthlyRollup(categorized: DataFrame): DataFrame =
    categorized
      .groupBy(date_trunc("month", col("ts")).as("month"),
        col("category_group"), col("outcome"))
      .agg(count(lit(1)).as("n_requests"),
        countDistinct(col("zip")).as("n_zips"))
      .orderBy("month", "category_group", "outcome")

  /** The whole flow: returns (snapshot, rollup) plans; `export` writes
    * the rollup as CSV (the reference class's tabular load artifact).
    */
  def run(spark: SparkSession, csvPath: String, taxonomy: DataFrame): (DataFrame, DataFrame) = {
    val snapshot = latestWins(ingestAndClean(spark, csvPath))
    val rollup = monthlyRollup(categorize(snapshot, taxonomy))
    (snapshot, rollup)
  }

  def export(rollup: DataFrame, outPath: String): Unit =
    Sinks.exportCsv(rollup, outPath)
}
