package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** End-to-end reference-class flow (SURVEY §3.1): raw CSV with
  * malformed rows and duplicate updates → quarantined typed ingest →
  * cleaning → latest-wins snapshot → taxonomy join → monthly rollup →
  * CSV export. One composition of the engine's own operators; asserts
  * the load artifact, not just stage outputs.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("211-style ETL: quarantine, clean, upsert, categorize, roll up, export") {
    val d = Files.createTempDirectory("etl").toString
    val csv = s"$d/raw.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csv),
      """request_id,ts,zip,category_code,outcome
        |1,2024-01-05 10:00:00, 15213 ,housing  shelter,Referred
        |1,2024-01-06 09:00:00,15213,housing  shelter,resolved
        |2,2024-01-07 11:30:00,732,food assistance,NA
        |3,2024-02-01 08:15:00,15090,utilities,referred
        |notanint,2024-02-02 00:00:00,15090,utilities,referred
        |4,2024-02-03 12:00:00,15106,unlisted thing,referred
        |""".stripMargin)
    val taxonomy = Seq(
      ("HOUSING SHELTER", "Housing"),
      ("FOOD ASSISTANCE", "Food"),
      ("UTILITIES", "Utilities"))
      .toDF("category_code", "category_group")

    val (snapshot, rollup) = ops.Pipeline.run(spark, csv, taxonomy)

    // quarantine dropped the malformed row; upsert kept request 1's latest
    val snap = snapshot.orderBy("request_id")
      .select("request_id", "zip", "category_code", "outcome")
      .as[(Long, String, String, Option[String])].collect()
    assert(snap.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
    val byId = snap.map(r => r._1 -> r).toMap
    assert(byId(1L)._4 === Some("resolved"), "latest record wins")
    assert(byId(2L)._2 === "00732", "zips zero-padded to 5")
    assert(byId(2L)._4 === None, "'NA' normalized to NULL")
    assert(byId(1L)._3 === "HOUSING SHELTER", "whitespace collapsed, case-folded")

    // rollup: unknown category coalesces, months truncate, zips distinct-counted
    val roll = rollup
      .select(date_format(col("month"), "yyyy-MM").as("m"),
        col("category_group"), col("n_requests"))
      .as[(String, String, Long)].collect().toSet
    assert(roll === Set(
      ("2024-01", "Housing", 1L), ("2024-01", "Food", 1L),
      ("2024-02", "Utilities", 1L), ("2024-02", "UNKNOWN", 1L)))

    // export: the tabular load artifact round-trips
    val out = s"$d/rollup_csv"
    ops.Pipeline.export(rollup, out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() === 4)
  }

  test("ingestAndClean quarantines malformed rows under every projection") {
    // the CSV parser flags a bad field only when the query reads its
    // column; row 5's only bad field is ts, row 3's is request_id
    val d = Files.createTempDirectory("etlq").toString
    val csv = s"$d/raw.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csv),
      """request_id,ts,zip,category_code,outcome
        |1,2024-01-05 10:00:00,15213,housing,referred
        |2,2024-01-06 09:00:00,15090,food,resolved
        |notanint,2024-01-07 11:30:00,15001,legal,open
        |4,2024-02-03 12:00:00,15106,utilities,NA
        |5,not-a-time,15222,transport,pending
        |""".stripMargin)
    val clean = ops.Pipeline.ingestAndClean(spark, csv)
    assert(clean.count() === 3L)
    clean.columns.foreach { c =>
      val vals = clean.select(c).collect().map(r => String.valueOf(r.get(0)))
      assert(vals.length === 3, s"select($c) passed malformed rows: ${vals.toSeq}")
      assert(!vals.exists(v => Set("5", "15222", "TRANSPORT", "pending", "15001")(v)), c)
    }
    assert(clean.select("request_id").as[Long].collect().toSet === Set(1L, 2L, 4L))
    // the CSV scan reads every schema column whatever is projected
    object H extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    for (df <- Seq(clean.select("zip"), clean.groupBy().count())) {
      val scans = H.collect(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.requiredSchema.fieldNames.toSet
      }
      assert(scans.nonEmpty && scans.forall(ops.Pipeline.requestSchema.fieldNames.toSet.subsetOf),
        s"a CSV scan skipped a column: $scans")
    }
  }
}
