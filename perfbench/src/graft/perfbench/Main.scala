package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** The benchmark's measured JVM. Inputs are generated before it starts
  * (`perfbench/gen.py`); it builds the session, does the workload's
  * set-up, runs the closed loop for the requested seconds, checks every
  * output, and writes one JSON record that `perfbench/run.py` reduces
  * to metrics.
  *
  *   --workload etl211|analytics|curation --seconds S --trace 0|1
  *   --inputs DIR --work DIR --out record.json [--record FILE]
  *
  * With `--trace 1` the loop runs untraced for the first half of the
  * seconds and traced for the second half; the difference of the two
  * halves' median unit times is the tracing overhead.
  */
object Main {

  /** The session `graft.Bench` builds, on `cpus` local cores, with
    * every directory Spark writes to placed under `work`.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val inputs = a("inputs")
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors()
    Probe.LiveHeap.install()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val tb = System.nanoTime()
    val spark = session(cpus, work)
    val buildS = (System.nanoTime() - tb) / 1e9
    val engine = new EngineCounters
    if (traced) engine.register(spark)
    val trace = new Trace(false)
    val r = new Runner(spark, trace, engine)
    val w: Workload = workload match {
      case "etl211" => new Etl211(inputs, work)
      case "analytics" => new Analytics(inputs, a.get("record"))
      case "curation" => new Curation(inputs, a.get("record"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tw = System.nanoTime()
    w.setup(r)
    val warmS = (System.nanoTime() - tw) / 1e9

    def loop(phase: String, secs: Double, minSteps: Int): Double = {
      r.phase = phase
      val t0 = System.nanoTime()
      val deadline = t0 + (secs * 1e9).toLong
      var n = 0
      do { r.step += 1; n += 1; w.step(r) }
      while (System.nanoTime() < deadline || n < minSteps || !w.atBoundary)
      (System.nanoTime() - t0) / 1e9
    }

    val steal0 = Probe.stealSeconds()
    val gc0 = Probe.gcSeconds()
    val cpu0 = Probe.cpuSeconds()
    val jit0 = Probe.jitCpuSeconds()
    Probe.LiveHeap.reset()
    Probe.LiveHeap.armed = true
    // an untraced run times two steps however long the first takes: a
    // run that timed only its first, slowest step read high
    val timedWall = loop("timed", if (traced) seconds / 2 else seconds, if (traced) 1 else 2)
    Probe.LiveHeap.armed = false
    val live = Probe.LiveHeap.peakMb
    val steal1 = Probe.stealSeconds()
    val gc1 = Probe.gcSeconds()
    val cpu1 = Probe.cpuSeconds()
    val jit1 = Probe.jitCpuSeconds()

    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var tracedWall = 0.0
    if (traced) {
      trace.enabled = true
      engine.active = true
      val g0 = Probe.gcSeconds()
      val s0 = Probe.stealSeconds()
      val k0 = Probe.jitCpuSeconds()
      tracedWall = loop("traced", seconds / 2, 1)
      engine.settle()
      engine.active = false
      trace.enabled = false
      val units = r.ops.filter(_.phase == "traced").map(_.step).distinct.size.max(1)
      layers ++= engine.snapshot().map { case (k, v) =>
        k -> (if (k == "spark.task_skew_max") v else v / units) }
      layers("jvm.gc_s") = (Probe.gcSeconds() - g0) / units
      layers("jvm.jit_cpu_s") = (Probe.jitCpuSeconds() - k0) / units
      layers("os.steal_s") = Probe.stealSeconds() - s0
      layers ++= trace.layerMedians.collect { case (k, v) if !k.startsWith("op.") => s"${k}_s" -> v }
      layers ++= trace.countSamples.map { case (k, v) => k -> Stats.median(v) }
      layers ++= w.layerExtras(r)
      trace.writeSpans(s"$work/spans.jsonl")
    }
    layers("session.build_s") = buildS
    layers("session.warm_s") = warmS

    Probe.calibrateMs()
    val calMs = Probe.calibrateMs()

    val rec = Json.obj()
    rec.put("workload", workload)
    rec.put("trace", traced)
    rec.put("setup_s", (r.firstOpEpochMs - jvmStartMs) / 1e3)
    rec.put("timed_wall_s", timedWall)
    rec.put("traced_wall_s", tracedWall)
    rec.put("timed_cpu_s", cpu1 - cpu0)
    rec.put("live_heap_mb", live)
    val fp = rec.putObject("fingerprint")
    fp.put("cpu", Probe.cpuModel())
    fp.put("nproc", cpus)
    fp.put("load", Probe.loadAvg())
    fp.put("cal_ms", calMs)
    fp.put("xmx_mb", Runtime.getRuntime.maxMemory() / (1024 * 1024))
    fp.put("gc_s", gc1 - gc0)
    fp.put("jit_cpu_s", jit1 - jit0)
    fp.put("gc_s_total", Probe.gcSeconds())
    fp.put("steal_s", if (steal0 < 0) -1.0 else steal1 - steal0)
    val ops = rec.putArray("ops")
    r.ops.foreach { o =>
      val n = ops.addObject()
      n.put("kind", o.kind); n.put("phase", o.phase); n.put("step", o.step)
      n.put("s", o.seconds); n.put("cpu_s", o.cpu); n.put("ok", o.ok)
      n.put("correct", o.correct); n.put("rows", o.rows)
      if (o.note.nonEmpty) n.put("note", o.note)
    }
    val ly = rec.putObject("layers")
    layers.foreach { case (k, v) => ly.put(k, v) }
    val info = rec.putObject("info")
    w.info.foreach { case (k, v) => info.put(k, v) }
    val pr = rec.putArray("problems")
    r.problems.foreach(pr.add)
    Json.write(rec, a("out"))
    spark.stop()
  }
}
