package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.{Manifest, Readers, TableManifest}
import graft.ops.{CardinalityService, Pipeline, QuantileService, Streaming}

/** The 2-1-1 ETL job. One step is one hourly batch cycle:
  *  - `extract`: `Pipeline.run` + `Pipeline.export` over the hour's CSV;
  *  - `load`: the same requests folded into the persisted stores — the
  *    bucketed upsert core behind `Streaming.foreachBatchUpsert`, then
  *    `applyQuantileBatch` and `applyCardinalityBatch`, batch ids rising;
  *  - three `serve` reads: quantiles and distinct counts over seeded
  *    day ranges, and the upserted snapshot rolled up.
  * Once every generated batch is used, the stores restart under new
  * names (an epoch), so ground truth stays valid however long the run.
  * Set-up runs the first cycle and the second load on the same stores.
  */
final class Etl211(inputs: String, work: String) extends Workload {

  private val truth = Json.read(s"$inputs/truth.json")
  private val batches = truth.get("batches").elements().asScala.toIndexedSeq
  private val serves = truth.get("serves").elements().asScala.toIndexedSeq
  private val nBatches = batches.size
  private var cycle = 0
  private val HllSigmas = 5.0
  private val HllRse = 1.04 / math.sqrt(4096) // lgK = 12, the service's setting

  private var taxonomy: DataFrame = _
  private val valuesCache = scala.collection.mutable.Map.empty[Int, Array[(String, Double)]]

  private def values(b: Int): Array[(String, Double)] = valuesCache.getOrElseUpdate(b, {
    val src = scala.io.Source.fromFile(s"$inputs/${batches(b).get("values").asText}")
    try src.getLines().map { l => val Array(d, v) = l.split("\t"); (d, v.toDouble) }.toArray
    finally src.close()
  })

  private def stores(epoch: String) =
    (s"$work/stores/snapshot_$epoch", s"pb_quantiles_$epoch", s"pb_distinct_$epoch")

  override def setup(r: Runner): Unit = {
    val spark = r.spark
    import spark.implicits._
    val src = scala.io.Source.fromFile(s"$inputs/taxonomy.csv")
    val rows = try src.getLines().drop(1).map { l => val Array(c, g) = l.split(","); (c, g) }.toList
    finally src.close()
    taxonomy = rows.toDF("category_code", "category_group")
    // set-up runs the first cycle and the second load on the run's own
    // stores: every plan of the loop compiles, both the first-batch build
    // path and the merge path of the stores run, and every timed cycle
    // then takes the merge path
    cycleOn(r, "e0", 0)
    load(r, "e0", 1)
    cycle = 2
  }

  override def step(r: Runner): Unit = {
    val epoch = cycle / nBatches
    val b = cycle % nBatches
    cycleOn(r, s"e$epoch", b)
    cycle += 1
  }

  private def cycleOn(r: Runner, epoch: String, b: Int): Unit = {
    val spark = r.spark
    val t = r.trace
    val bt = batches(b)
    val csv = s"$inputs/${bt.get("extract").asText}"
    val out = s"$work/export/${epoch}_$b"
    val rowsRead = bt.get("rows_read").asLong

    r.op("extract", rowsRead) {
      if (!t.enabled) {
        val (_, rollup) = Pipeline.run(spark, csv, taxonomy)
        Pipeline.export(rollup, out)
      } else tracedExtract(r, csv, out)
    } { _ => checkExtract(r, csv, out, bt) }
    // the counts the check measured on the program's output, taken
    // outside the op so they add no engine work to the traced step
    if (t.enabled) lastCounts.foreach { case (read, quarantined, superseded) =>
      t.count("io.Readers.rows_read", read.toDouble)
      t.count("io.Readers.rows_quarantined", quarantined.toDouble)
      t.count("io.Readers.valid_ratio", (read - quarantined).toDouble / read)
      t.count("ops.Pipeline.rows_superseded", superseded.toDouble)
      t.count("io.Sinks.bytes_written", Storage.dirBytes(new java.io.File(out)).toDouble)
    }
    deleteDir(new java.io.File(out))
    load(r, epoch, b)
    serve(r, epoch, b)
  }

  /** Batch `b` is the engine batch id the stores record. */
  private def load(r: Runner, epoch: String, b: Int): Unit = {
    val spark = r.spark
    val batchId = b.toLong
    val t = r.trace
    val bt = batches(b)
    val (snapPath, qName, cName) = stores(epoch)
    val events = spark.read.parquet(s"$inputs/${bt.get("events").asText}")
    val nEvents = bt.get("rows_read").asLong - bt.get("rows_quarantined").asLong
    val fs0 = if (t.enabled) Storage.fsBytes() else (0L, 0L)
    val files0 = if (t.enabled) Storage.files(storeRoots(epoch)) else Set.empty[String]
    r.op("load", nEvents) {
      t.span("ops.Streaming.upsert") {
        Streaming.upsertBatchInto(snapPath,
          events.withColumn("bucket", Streaming.upsertBucket(16)), batchId, Streaming.upsertLatest)
      }
      t.span("ops.QuantileService.apply") { Streaming.applyQuantileBatch(qName)(events, batchId) }
      t.span("ops.CardinalityService.apply") { Streaming.applyCardinalityBatch(cName)(events, batchId) }
    } { _ =>
      val q = TableManifest.readPointer(spark, qName).flatMap(_.appliedBatch)
      val c = TableManifest.readPointer(spark, cName).flatMap(_.appliedBatch)
      if (q.contains(batchId) && c.contains(batchId)) None
      else Some(s"stores report applied batch $q / $c, expected $batchId")
    }
    if (t.enabled) {
      val fs1 = Storage.fsBytes()
      val files1 = Storage.files(storeRoots(epoch))
      t.count("io.fs.write_ops", ((files1 -- files0).size + (files0 -- files1).size).toDouble)
      t.count("io.fs.bytes_read", (fs1._1 - fs0._1).toDouble)
      t.count("io.fs.bytes_written", (fs1._2 - fs0._2).toDouble)
      storeCounts(r, epoch, b)
    }
  }

  private def serve(r: Runner, epoch: String, b: Int): Unit = {
    val spark = r.spark
    val t = r.trace
    val (snapPath, qName, cName) = stores(epoch)
    val sv = serves(b)
    val q = sv.get("quantile")
    val (qFrom, qTo) = (q.get("from_day").asText, q.get("to_day").asText)
    val qs = q.get("qs").elements().asScala.map(_.asDouble).toSeq
    r.op("serve_quantiles", 0) {
      t.span("ops.QuantileService.serve") {
        QuantileService.quantiles(spark, qName, qs, Some(qFrom), Some(qTo))
      }
    } { res => checkQuantiles(res, b, qFrom, qTo, q.get("n").asLong) }

    val d = sv.get("distinct")
    val (dFrom, dTo) = (d.get("from_day").asText, d.get("to_day").asText)
    r.op("serve_distinct", 0) {
      t.span("ops.CardinalityService.serve") {
        CardinalityService.distinctOver(spark, cName, Some(dFrom), Some(dTo))
      }
    } { case (est, nRows, _) =>
      val exact = d.get("exact").asLong
      val rowsExact = (0 to b).map(i => values(i).count { case (day, _) => day >= dFrom && day <= dTo }).sum
      if (nRows != rowsExact) Some(s"distinctOver n_rows $nRows, expected $rowsExact")
      else if (math.abs(est - exact) > HllSigmas * HllRse * exact + 1)
        Some(s"distinct estimate $est outside ${HllSigmas}σ of exact $exact")
      else None
    }

    r.op("serve_snapshot", 0) {
      t.span("io.Manifest.snapshot_read") {
        Manifest.readSnapshot(spark, snapPath)
          .groupBy("event_type").agg(count(lit(1)).as("n"), sum("value").as("s"))
          .collect().map(row => row.getString(0) -> (row.getLong(1), row.getDouble(2))).toMap
      }
    } { got =>
      val want = sv.get("snapshot").fields().asScala.map(e =>
        e.getKey -> (e.getValue.get("n").asLong, e.getValue.get("sum").asDouble)).toMap
      val bad = (want.keySet ++ got.keySet).filter { k =>
        (got.get(k), want.get(k)) match {
          case (Some((n1, s1)), Some((n2, s2))) => n1 != n2 || math.abs(s1 - s2) > 1e-6 * math.max(1.0, math.abs(s2))
          case _ => true
        }
      }
      if (bad.isEmpty) None else Some(s"snapshot rollup differs on ${bad.toSeq.sorted.mkString(",")}")
    }
  }

  /** The traced extract materializes each stage on its own, so each
    * layer's time is attributable; untraced runs execute the fused plan.
    */
  private def tracedExtract(r: Runner, csv: String, out: String): Unit = {
    val t = r.trace
    val spark = r.spark
    val cleaned = t.span("io.Readers.csv") { Pipeline.ingestAndClean(spark, csv).localCheckpoint() }
    val snap = t.span("ops.Pipeline.latest_wins") { Pipeline.latestWins(cleaned).localCheckpoint() }
    val cat = t.span("ops.Pipeline.categorize") { Pipeline.categorize(snap, taxonomy).localCheckpoint() }
    val roll = t.span("ops.Pipeline.rollup") { Pipeline.monthlyRollup(cat).localCheckpoint() }
    t.span("io.Sinks.export") { Pipeline.export(roll, out) }
    Seq(cleaned, snap, cat, roll).foreach(graft.ops.Checkpoints.free)
  }

  /** The analytics layers are read here (see [[Analytics.probe]]). */
  override def layerExtras(r: Runner): Map[String, Double] = Analytics.probe(r)

  /** Version tables of a store in the session warehouse. */
  private def tables(n: String): Seq[java.io.File] =
    Option(new java.io.File(s"$work/warehouse").listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches(s"${n.toLowerCase}__v\\d+"))

  /** Everything the three stores of an epoch hold on disk. */
  private def storeRoots(epoch: String): Seq[java.io.File] = {
    val (snapPath, qName, cName) = stores(epoch)
    new java.io.File(snapPath) +: (tables(qName) ++ tables(cName) ++
      Seq(qName, cName).map(n => new java.io.File(s"$work/warehouse/${n.toLowerCase}__meta")))
  }

  private def storeCounts(r: Runner, epoch: String, b: Int): Unit = {
    val (snapPath, qName, cName) = stores(epoch)
    val snapDir = new java.io.File(snapPath)
    val versions = Option(snapDir.listFiles).toSeq.flatten.count(f => f.isDirectory && f.getName.startsWith("v")) +
      tables(qName).size + tables(cName).size
    r.trace.count("io.store.live_versions", versions.toDouble)
    val storeBytes = storeRoots(epoch).map(Storage.dirBytes).sum
    val inputBytes = (0 to b).map(i => new java.io.File(s"$inputs/${batches(i).get("events").asText}").length).sum
    r.trace.count("io.store.bytes_per_input_byte", storeBytes.toDouble / inputBytes)
  }

  // ------------------------------------------------------------ checks

  /** (rows read, quarantined, superseded) the last extract check
    * measured; kept for the traced run's counts.
    */
  private var lastCounts: Option[(Long, Long, Long)] = None

  private def checkExtract(r: Runner, csv: String, out: String,
      bt: com.fasterxml.jackson.databind.JsonNode): Option[String] = {
    lastCounts = None
    val files = Option(new java.io.File(out).listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
    val got = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().drop(1).toList finally src.close()
    }.map(_.split(",", -1).toSeq).sortBy(_.mkString("\u0001"))
    val want = bt.get("rollup").elements().asScala.map(_.elements().asScala.map(_.asText).toSeq)
      .toSeq.sortBy(_.mkString("\u0001"))
    if (got != want) return Some(s"exported rollup differs: ${got.size} rows vs ${want.size} expected" +
      got.diff(want).headOption.map(x => s", first extra ${x.mkString("|")}").getOrElse(""))
    val raw = Etl211.quarantineCounts(r.spark, csv)
    val valid = raw._1 - raw._2
    val snapshotRows = got.map(_(3).toLong).sum
    lastCounts = Some((raw._1, raw._2, valid - snapshotRows))
    if (raw._1 != bt.get("rows_read").asLong)
      Some(s"read ${raw._1} rows, generated ${bt.get("rows_read").asLong}")
    else if (raw._2 != bt.get("rows_quarantined").asLong)
      Some(s"quarantined ${raw._2}, planted ${bt.get("rows_quarantined").asLong}")
    else if (valid - snapshotRows != bt.get("rows_superseded").asLong)
      Some(s"superseded ${valid - snapshotRows}, planted ${bt.get("rows_superseded").asLong}")
    else None
  }

  /** Each estimate's exact rank interval must come within the service's
    * own certified rank error (plus one rank) of q·n.
    */
  private def checkQuantiles(res: Seq[(Double, Double, Long, Double)], b: Int,
      from: String, to: String, n: Long): Option[String] = {
    val vs = (0 to b).flatMap(i => values(i).collect { case (d, v) if d >= from && d <= to => v })
      .sorted.toArray
    if (vs.length != n) return Some(s"ground truth holds ${vs.length} values, truth.json $n")
    res.collectFirst {
      case (q, est, sn, _) if sn != n => s"sketch n $sn, exact $n (q=$q)"
      case (q, est, sn, errFrac) if {
        val lt = vs.count(_ < est)
        val le = vs.count(_ <= est)
        val target = q * n
        val slack = errFrac * n + 1
        le < target - slack || lt > target + slack
      } => s"q=$q estimate $est outside the certified rank error ${errFrac}"
    }
  }

  private def deleteDir(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteDir)
    f.delete()
  }
}

object Etl211 {
  /** (rows read, rows quarantined) of one extract. Every schema column
    * is referenced: the CSV reader parses only the columns a query
    * needs, and a malformed field it does not parse flags no row.
    */
  def quarantineCounts(spark: org.apache.spark.sql.SparkSession, csv: String): (Long, Long) = {
    val every = Pipeline.requestSchema.fieldNames.toSeq.map(c => count(col(c)))
    val row = Readers.csvWithQuarantine(spark, csv, Pipeline.requestSchema)
      .agg(count(lit(1)), count(col("_corrupt_record")) +: every: _*).collect()(0)
    (row.getLong(0), row.getLong(1))
  }
}
