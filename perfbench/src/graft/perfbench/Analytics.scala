package graft.perfbench

import scala.jdk.CollectionConverters._

import graft.ops.{SessionCache, SharedBuilds}

/** An analyst session over the fixed sf0.01 tables: a named list of
  * registry keys (`perfbench/analytics_keys.txt`), one pass at a time,
  * each pass in its own seed-shuffled order. A query is timed from the
  * registry call through collecting every row, and its digest must
  * equal the one recorded in `perfbench/expected/analytics_sf0.01.json`
  * from a tree whose keys passed the DuckDB oracle.
  */
final class Analytics(inputs: String, recordTo: Option[String]) extends Workload {

  private val dir = Analytics.dataDir
  private val truth = Json.read(s"$inputs/truth.json")
  private val orders = truth.get("orders").elements().asScala
    .map(_.elements().asScala.map(_.asText).toIndexedSeq).toIndexedSeq
  private val registry = graft.SparkEntry.queries
  private val expected = if (recordTo.isDefined) Map.empty[String, String] else Analytics.expected()
  private val recorded = scala.collection.mutable.TreeMap.empty[String, String]
  private var pass = 0
  private var pos = 0
  private val buildSeconds = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** The shared builds the listed keys read (graph edge sets, daily
    * event counts, brand profiles); built once in set-up.
    */
  private val kinds = Seq("graph-directed", "graph-canonical", "graph-both", "graph-tris",
    "events-daily", "brand-profiles", "cluster-labels")

  override def setup(r: Runner): Unit = {
    SharedBuilds.all.filter { case (k, _) => kinds.contains(k) }.foreach { case (kind, fn) =>
      val t0 = System.nanoTime()
      fn(r.spark, dir)
      buildSeconds(kind) = (System.nanoTime() - t0) / 1e9
    }
    orders.head.sorted.foreach(k => query(r, k))
  }

  private def query(r: Runner, key: String): Unit = {
    val t = r.trace
    r.op(key, 0) {
      val df = t.span("plans.build") { registry(key)(r.spark, dir) }
      t.span("plans.plan") { df.queryExecution.executedPlan }
      // every row collected: the final sort and every column's
      // expressions run, which a count would let Catalyst prune
      t.span("plans.exec") { df.collect() }
    } { rows =>
      if (recordTo.isDefined) { recorded(key) = Digest.of(rows); None }
      else Analytics.check(expected, key, rows)
    }
  }

  override def step(r: Runner): Unit = {
    val order = orders(pass % orders.size)
    query(r, order(pos))
    pos += 1
    if (pos == order.size) { pos = 0; pass += 1 }
    if (recordTo.isDefined && pos == 0) {
      val n = Json.obj()
      recorded.foreach { case (k, v) => n.put(k, v) }
      Json.write(n, recordTo.get)
    }
  }

  override def atBoundary: Boolean = pos == 0

  override def layerExtras(r: Runner): Map[String, Double] = {
    val traced = r.ops.filter(o => o.phase == "traced" && o.ok)
    val fams = traced.groupBy(o => Analytics.family(o.kind)).map { case (f, os) =>
      s"ops.$f.query_p50_s" -> Stats.median(os.map(_.seconds).toSeq)
    }
    fams ++ buildSeconds.map { case (k, v) => s"ops.SharedBuilds.${k}_s" -> v }
  }
}

object Analytics {
  /** The fixed tables, shipped with the benchmark. */
  val dataDir = "perfbench/data/sf0.01"
  val expectedFile = "perfbench/expected/analytics_sf0.01.json"

  val families = Seq("sql_tpch", "join", "agg", "win", "orders", "events", "stat", "graph")
  def family(key: String): String = families.find(f => key.startsWith(f + "_")).getOrElse("other")

  def expected(): Map[String, String] =
    Json.read(expectedFile).fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap

  def check(expected: Map[String, String], key: String, rows: Array[org.apache.spark.sql.Row]): Option[String] = {
    val d = Digest.of(rows)
    expected.get(key) match {
      case Some(e) if e == d => None
      case Some(e) => Some(s"digest $d, recorded $e")
      case None => Some("no recorded digest")
    }
  }

  /** One key per family, a pinned key where the family has one. */
  val probeKeys = Seq("sql_tpch_q3", "join_shuffle_inner", "agg_quantiles_bucketed", "win_rank_dense",
    "orders_abc_xyz", "events_sessionize", "stat_linreg_group", "graph_pagerank")

  /** The analytics layers, read inside a workload's traced run (the full
    * analytics workload is too long for the benchmark's run budget): the
    * `graph-directed` shared build on an empty `SessionCache`, then each
    * probe key three times, its output checked every time. The first run
    * of a key is its warm-up; the other two give `ops.<family>.query_p50_s`
    * (median of the two) and the planning split `plans.build_s` (the
    * registry call), `plans.plan_s` (forcing `executedPlan`) and
    * `plans.exec_s` (collecting every row), medians over all timed runs.
    * The ops run in the `probe` phase, so they count as attempted, and a
    * failure or a wrong digest fails the run, but they add no end-to-end
    * sample.
    */
  def probe(r: Runner): Map[String, Double] = {
    val expect = expected()
    val registry = graft.SparkEntry.queries
    val times = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
    def add(k: String, ns: Long): Unit =
      times.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty) += ns / 1e9
    SessionCache.reset()
    val b0 = System.nanoTime()
    SharedBuilds.all.filter(_._1 == "graph-directed").foreach { case (_, fn) => fn(r.spark, dataDir) }
    add("ops.SharedBuilds.graph-directed_s", System.nanoTime() - b0)
    r.phase = "probe"
    for (key <- probeKeys; rep <- 0 to 2) {
      r.step += 1
      r.op(key, 0) {
        val t0 = System.nanoTime()
        val df = registry(key)(r.spark, dataDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        val rows = df.collect()
        val t3 = System.nanoTime()
        if (rep > 0) {
          add(s"ops.${family(key)}.query_p50_s", t3 - t0)
          add("plans.build_s", t1 - t0)
          add("plans.plan_s", t2 - t1)
          add("plans.exec_s", t3 - t2)
        }
        rows
      } { rows => check(expect, key, rows) }
    }
    SessionCache.reset()
    times.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap
  }
}
