package graft.perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Row, SparkSession}

object Stats {
  /** Median, the mean of the middle two on an even count; 0 when empty.
    * Every other percentile is taken by `perfbench/run.py`.
    */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

object Json {
  val mapper = new ObjectMapper()
  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
  def obj(): ObjectNode = mapper.createObjectNode()
  def write(node: JsonNode, path: String): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), node)
}

/** An order-insensitive digest of every column of every row: the sum
  * and xor of per-row hashes, plus the row count. Doubles are hashed at
  * 12 significant digits, so a last-bit difference in a floating-point
  * sum does not count as a wrong answer.
  */
object Digest {
  private def norm(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else "%.12g".format(d)
    case f: Float => "%.6g".format(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }
      .sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case other => other.toString
  }

  def of(rows: Array[Row]): String = {
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val s = norm(r)
      val h = (scala.util.hashing.MurmurHash3.stringHash(s, 0x2545F491).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 0x68E31DA4).toLong & 0xffffffffL)
      sum += h
      xor ^= java.lang.Long.rotateLeft(h, 17)
    }
    f"${rows.length}:$sum%016x:$xor%016x"
  }
}

/** One op of a workload: `step` groups the ops of one loop step (the
  * five ops of an etl211 batch cycle), `phase` is setup, timed or traced.
  */
final case class OpRecord(kind: String, phase: String, step: Long, seconds: Double,
    cpu: Double, ok: Boolean, correct: Boolean, rows: Long, note: String)

/** Runs timed ops, keeps their records, and checks each output
  * outside the timed region. A failed op keeps no time sample.
  */
final class Runner(val spark: SparkSession, val trace: Trace, engine: EngineCounters) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val problems = mutable.ArrayBuffer.empty[String]
  var phase = "setup"
  var step = 0L
  var firstOpEpochMs = 0L

  def op[T](kind: String, rows: Long)(body: => T)(check: T => Option[String]): Option[T] = {
    if (firstOpEpochMs == 0L && phase != "setup") firstOpEpochMs = System.currentTimeMillis()
    trace.op += 1
    val c0 = Probe.cpuSeconds()
    val t0 = System.nanoTime()
    val res = try Right(trace.span("op." + kind)(body)) catch { case e: Throwable => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpu = Probe.cpuSeconds() - c0
    res match {
      case Left(e) =>
        val msg = s"$kind failed: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        System.err.println(s"[perfbench] $msg")
        problems += msg
        ops += OpRecord(kind, phase, step, 0.0, cpu, ok = false, correct = false, rows, msg)
        None
      case Right(v) =>
        val verdict = untraced { try check(v) catch { case e: Throwable => Some(s"check threw ${e}") } }
        verdict.foreach { m =>
          System.err.println(s"[perfbench] WRONG $kind: $m")
          problems += s"$kind wrong: $m"
        }
        ops += OpRecord(kind, phase, step, secs, cpu, ok = true, correct = verdict.isEmpty, rows,
          verdict.getOrElse(""))
        Some(v)
    }
  }

  /** Run an output check inside a traced phase without its spans or
    * engine events counting as the program's: the listener bus is
    * drained before and after, so events land on the right side of the
    * switch.
    */
  private def untraced[T](body: => T): T =
    if (!engine.active) body
    else {
      engine.settle()
      engine.active = false
      trace.enabled = false
      try body
      finally {
        engine.settle()
        engine.active = true
        trace.enabled = true
      }
    }
}

/** A workload: set-up work (session warm-up, its plans, shared builds)
  * and one closed-loop step; the step is called until the deadline.
  */
trait Workload {
  def setup(r: Runner): Unit
  /** Run one unit of work (a batch cycle, a query, a job). */
  def step(r: Runner): Unit
  /** May the loop stop after the last step? (false inside a pass) */
  def atBoundary: Boolean = true
  /** Per-layer readings gathered outside the op loop (traced run only). */
  def layerExtras(r: Runner): Map[String, Double] = Map.empty
  /** Facts about this run's inputs worth keeping in the record. */
  def info: Map[String, String] = Map.empty
}
