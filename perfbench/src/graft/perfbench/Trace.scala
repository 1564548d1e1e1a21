package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counts at the boundary of each call into a layer. Spans
  * (name, start, end, parent, op id) stay in memory and are written
  * out once the run ends; while disabled, [[span]] only runs its body.
  */
final class Trace(var enabled: Boolean) {

  final case class Span(id: Int, name: String, op: Long, parent: Int,
      startNs: Long, var endNs: Long = 0L)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val counts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val t0 = System.nanoTime()
  var op = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, op, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  /** Record one sample of a per-layer count or gauge. */
  def count(name: String, v: Double): Unit =
    if (enabled) counts.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Self seconds of every span: its duration minus its children's. */
  def selfSeconds: Seq[(String, Long, Double)] = {
    val child = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.endNs - s.startNs)
    spans.toSeq.map(s => (s.name, s.op, (s.endNs - s.startNs - child(s.id)) / 1e9))
  }

  /** Median over ops of the per-op summed self time of each span name. */
  def layerMedians: Map[String, Double] =
    selfSeconds.groupBy(_._1).map { case (name, xs) =>
      name -> Stats.median(xs.groupBy(_._2).values.map(_.map(_._3).sum).toSeq)
    }

  def countSamples: Map[String, Seq[Double]] = counts.map { case (k, v) => k -> v.toSeq }.toMap

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(f"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f}""")
    } finally w.close()
  }
}

/** Engine counters the benchmark registers on its own session: task
  * and stage totals from a `SparkListener`, and the operator counts of
  * every executed plan from a `QueryExecutionListener`. Spark delivers
  * both on its listener bus, so [[settle]] waits for it to go quiet.
  */
final class EngineCounters extends SparkListener with QueryExecutionListener {
  @volatile var active = false
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageTaskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  @volatile private var lastEvent = System.nanoTime()

  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }

  // every event, counted or not, marks the bus as busy for [[settle]]
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent = System.nanoTime()
    if (active) taskEnd(e)
  }

  private def taskEnd(e: SparkListenerTaskEnd): Unit = {
    add("spark.tasks", 1)
    if (e.reason != org.apache.spark.Success) add("spark.task_failures", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      add("spark.task_run_s", m.executorRunTime / 1e3)
      add("spark.task_cpu_s", m.executorCpuTime / 1e9)
      val wall = info.finishTime - info.launchTime
      add("spark.sched_wait_s", math.max(0L, wall - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime) / 1e3)
      add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("spark.shuffle_read_mb", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead) / 1048576.0)
      add("spark.spill_mb", m.diskBytesSpilled / 1048576.0)
      stageTaskTimes.synchronized {
        stageTaskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    lastEvent = System.nanoTime()
    if (active) add("spark.stages", 1)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    lastEvent = System.nanoTime()
    if (active) {
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other =>
          other match {
            case _: ShuffleExchangeLike | _: BroadcastExchangeLike => add("spark.exchanges", 1)
            case _: BroadcastHashJoinExec => add("spark.broadcast_joins", 1)
            case _: SortMergeJoinExec => add("spark.sort_merge_joins", 1)
            case _ =>
          }
          (other.children ++ other.subqueries).foreach(walk)
      }
      try walk(qe.executedPlan) catch { case _: Throwable => () }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Wait until no listener event has arrived for 300 ms (at most 5 s). */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEvent < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  def snapshot(): Map[String, Double] = {
    val skew = stageTaskTimes.synchronized {
      stageTaskTimes.values.filter(_.size >= 2).map { ts =>
        val med = Stats.median(ts.map(_.toDouble).toSeq)
        if (med > 0) ts.max / med else 1.0
      }
    }
    val names = Seq("spark.tasks", "spark.stages", "spark.task_run_s", "spark.task_cpu_s",
      "spark.sched_wait_s", "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
      "spark.exchanges", "spark.broadcast_joins", "spark.sort_merge_joins", "spark.task_failures")
    c.synchronized(names.map(n => n -> c(n)).toMap) +
      ("spark.task_skew_max" -> (if (skew.isEmpty) 1.0 else skew.max))
  }
}

/** Hadoop local-filesystem statistics (the storage layer the stores
  * write through), directory listings, and block-manager storage of
  * persisted RDDs. The local filesystem counts bytes but not
  * operations, so write operations are counted from listings.
  */
object Storage {
  /** (bytes read, bytes written) through Hadoop's local filesystem. */
  def fsBytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  /** Every file path under `roots`. */
  def files(roots: Seq[java.io.File]): Set[String] = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isFile) Seq(f.getPath)
      else Option(f.listFiles).toSeq.flatten.flatMap(walk)
    roots.flatMap(walk).toSet
  }

  def blockMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def dirBytes(f: java.io.File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  /** Samples block-manager storage every 50 ms while running. */
  final class BlockSampler(spark: SparkSession) {
    @volatile private var running = true
    @volatile var peak = 0.0
    private val t = new Thread(() => {
      while (running) {
        try peak = math.max(peak, blockMb(spark)) catch { case _: Throwable => () }
        Thread.sleep(50)
      }
    }, "perfbench-block-sampler")
    t.setDaemon(true)
    t.start()
    def stop(): Double = { running = false; t.join(); peak }
  }

}
