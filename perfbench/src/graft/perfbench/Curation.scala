package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.functions.TextExpressions
import graft.ops.{CurationPipeline, PairJoins, SessionCache, SharedBuilds}

/** The curation composite (`CurationPipeline.pipelineCurationStages`)
  * over a corpus drawn from the sf0.1 documents with planted exact and
  * near duplicates. Each job starts from an empty `SessionCache`, so it
  * pays its own BPE builds, as a user's run does. The set-up job runs
  * over a fixed corpus (the same for every seed) whose ledger is stored
  * in `perfbench/expected/curation_setup_ledger.json`.
  */
final class Curation(inputs: String, recordTo: Option[String]) extends Workload {

  private type Ledger = Seq[(String, Long, Long)]

  private val corpus = s"$inputs/corpus"
  private val truth = Json.read(s"$inputs/truth.json")
  private val rawDocs = truth.get("raw_docs").asLong
  private var firstLedger: Option[Ledger] = None
  private val stageSeconds = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Double]]
  private val stageDocs = scala.collection.mutable.Map.empty[String, Double]
  private var dispatch = ""

  private def job(r: Runner, dir: String, docs: Long)(check: Ledger => Option[String]): Unit = {
    val sampler = if (r.trace.enabled) Some(new Storage.BlockSampler(r.spark)) else None
    SessionCache.reset()
    r.op("job", docs) {
      CurationPipeline.pipelineCurationStages(r.spark, dir).collect()
        .map(row => (row.getString(0), row.getLong(1), row.getLong(2))).toSeq
    }(check)
    sampler.foreach { s =>
      r.trace.count("ops.Checkpoints.block_mb_peak", s.stop())
      r.trace.count("ops.Checkpoints.block_mb_residue", Storage.blockMb(r.spark))
      CurationPipeline.lastStageSeconds.foreach { case (st, secs) =>
        stageSeconds.getOrElseUpdate(st, scala.collection.mutable.ArrayBuffer.empty) += secs
      }
    }
  }

  override def setup(r: Runner): Unit = {
    val docs = truth.get("setup_raw_docs").asLong
    job(r, s"$inputs/setup", docs) { ledger =>
      if (recordTo.isDefined) { Curation.writeLedger(ledger, recordTo.get); None }
      else {
        val want = Curation.readLedger(Curation.setupLedgerFile)
        if (ledger == want) None else Some(s"set-up ledger $ledger differs from the stored $want")
      }
    }
  }

  override def step(r: Runner): Unit = job(r, corpus, rawDocs)(checkLedger)

  /** Stage 0 must hold exactly the generated corpus; no stage may grow
    * the corpus; and every job of the run must reproduce the first
    * job's ledger row for row.
    */
  private def checkLedger(ledger: Ledger): Option[String] = {
    val byStage = ledger.map(l => l._1 -> l).toMap
    val docs = Seq("0_raw", "1_quality", "2_exact_dedup", "3_near_dedup", "4_substring_remove",
      "5_decontaminate", "6_temperature").map(s => byStage.get(s).map(_._2).getOrElse(-1L))
    val raw = byStage.get("0_raw")
    if (!raw.contains(("0_raw", rawDocs, truth.get("raw_tokens").asLong)))
      Some(s"0_raw is $raw, generated ${(rawDocs, truth.get("raw_tokens").asLong)}")
    else if (docs.contains(-1L)) Some(s"ledger lacks a stage: ${ledger.map(_._1)}")
    else if (docs.sliding(2).exists { case Seq(a, b) => b > a }) Some(s"n_docs grows across stages: $docs")
    else firstLedger match {
      case None => firstLedger = Some(ledger); ledger.foreach(l => stageDocs(l._1) = l._2.toDouble); None
      case Some(f) if f == ledger => None
      case Some(f) => Some(s"ledger $ledger differs from the run's first $f")
    }
  }

  override def layerExtras(r: Runner): Map[String, Double] = {
    val spark = r.spark
    val stages = stageSeconds.map { case (k, v) => s"ops.CurationPipeline.${k}_s" -> Stats.median(v.toSeq) }
    val docs = stageDocs.map { case (k, v) => s"ops.CurationPipeline.${k}_docs" -> v }
    // the BPE shared builds on this corpus, each timed on its own
    SessionCache.reset()
    val builds = SharedBuilds.all.filter(_._1.startsWith("bpe-")).map { case (kind, fn) =>
      val t0 = System.nanoTime()
      fn(spark, corpus)
      s"ops.SharedBuilds.${kind}_s" -> (System.nanoTime() - t0) / 1e9
    }
    // which dispatch the span-volume probe takes on the raw corpus
    val docsDf = spark.read.parquet(s"$corpus/documents.parquet").select("doc_id", "lang", "text")
    val volume = PairJoins.quadgramProfileOf(docsDf)._2
    dispatch = (if (volume > PairJoins.BandedPairVolume) "hashed" else "banded") +
      f" (pair volume $volume%.0f, switch ${PairJoins.BandedPairVolume}%.0f)"
    stages.toMap ++ docs.toMap ++ builds ++ expressionRates(r)
  }

  /** Rows per second of each native text expression the curation plans
    * call, over the corpus text repeated sixteen times; the second of
    * two evaluations is timed.
    */
  private def expressionRates(r: Runner): Map[String, Double] = {
    val text = r.spark.read.parquet(s"$corpus/documents.parquet")
      .select(explode(sequence(lit(1), lit(16))).as("rep"), col("text")).localCheckpoint()
    val n = text.count().toDouble
    val shingles2 = TextExpressions.wordShingles(col("text"), 2)
    val exprs = Seq(
      "word_shingles2" -> shingles2,
      "word_shingles4" -> TextExpressions.wordShingles(col("text"), 4),
      "simhash64" -> TextExpressions.simHash64(shingles2),
      "minhash_sigs" -> TextExpressions.minHashSigs(TextExpressions.wordShingles(col("text"), 3), 16),
      "rolling_hash" -> TextExpressions.rollingHash(col("text")))
    val rates = exprs.map { case (name, e) =>
      val secs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        text.select(hash(e).as("h")).agg(sum(col("h"))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      s"functions.$name.rows_per_s" -> n / secs.last
    }
    graft.ops.Checkpoints.free(text)
    rates.toMap
  }

  override def info: Map[String, String] = Map("span_dispatch" -> dispatch)
}

object Curation {
  val setupLedgerFile = "perfbench/expected/curation_setup_ledger.json"

  /** A ledger as a JSON list of `[stage, n_docs, n_tokens]`. */
  def readLedger(path: String): Seq[(String, Long, Long)] =
    Json.read(path).elements().asScala.map { e =>
      (e.get(0).asText, e.get(1).asLong, e.get(2).asLong)
    }.toSeq

  def writeLedger(ledger: Seq[(String, Long, Long)], path: String): Unit = {
    val a = Json.mapper.createArrayNode()
    ledger.foreach { case (st, n, t) => a.addArray().add(st).add(n).add(t) }
    Json.write(a, path)
  }
}
