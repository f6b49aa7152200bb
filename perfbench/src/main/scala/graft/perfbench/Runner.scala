package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.perfbench.CpuStat.Delta

/** One timed operation: its class (e.g. `cutout_small`) and layer, the run phase and
  * pass it belongs to, a free-form note (the operator name), start/end
  * seconds on the run clock, the bytes or voxels it moved, whether it and
  * its correctness check succeeded, and the machine's busy and stolen CPU
  * jiffies while it ran. */
final case class OpRec(cls: String, layer: String, phase: String, pass: Int, note: String, t0: Double, t1: Double,
    bytes: Long, voxels: Long, ok: Boolean, cpu: (Long, Long))

/** Machine-wide CPU time from /proc/stat, in jiffies: (busy, steal). Busy is
  * user + nice + system + irq + softirq; steal is time the hypervisor gave
  * this VM's runnable CPUs to other guests. Zeros where /proc/stat is absent. */
object CpuStat {
  def read(): (Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
  } catch { case _: Exception => (0L, 0L) }

  implicit class Delta(val a: (Long, Long)) extends AnyVal {
    def -(b: (Long, Long)): (Long, Long) = (a._1 - b._1, a._2 - b._2)
  }
}

/** Serial chunk-level counters of the layer ladder (store, codec, buffer). */
final class LadderStats {
  var getCount, getBytes, putCount, putBytes = 0L
  var getS, putS, decodeS, encodeS, sliceS, blitS, ladderS = 0.0
  var decodeIn, decodeOut, encodeIn, encodeOut = 0L
  var rmwChunks, deliveredBytes = 0L

  def toMap: Map[String, Any] = Map(
    "get_count" -> getCount, "get_bytes" -> getBytes, "get_s" -> getS,
    "put_count" -> putCount, "put_bytes" -> putBytes, "put_s" -> putS,
    "decode_s" -> decodeS, "decode_in" -> decodeIn, "decode_out" -> decodeOut,
    "encode_s" -> encodeS, "encode_in" -> encodeIn, "encode_out" -> encodeOut,
    "slice_s" -> sliceS, "blit_s" -> blitS, "ladder_s" -> ladderS,
    "rmw_chunks" -> rmwChunks, "delivered_bytes" -> deliveredBytes)
}

/** A benchmark workload: set-up (repeatable, each time into a fresh
  * directory), then timed operations until the time is up. */
trait Workload {
  def setup(rep: Int): Unit
  /** Untimed warm-up after the set-ups, so the measured operations find
    * their code paths compiled. Operations it runs are checked and counted
    * as attempted, but kept out of the metrics. */
  def warmup(): Unit
  /** Timed passes for `seconds` (at least one); `cold` adds the workload's
    * cold-start part, if it has one. */
  def measure(seconds: Double, cold: Boolean): Unit
  /** Correctness sweep after the timed loop (untimed); failures go to the runner. */
  def finish(): Unit = ()
  /** Operation classes that make up a pass, for the typical-pass figure. */
  def passClasses: Set[String]
  def lightClass: String
  def heavyClass: String
}

/** Drives a workload's operations: times each one, records its check, and
  * in the traced phase opens a span per operation and feeds the listeners.
  * A failed operation is recorded as failed (never as a sentinel time). */
final class Runner(val spark: SparkSession, val work: String, val seed: Long) {
  val spans = new Spans
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val failures = mutable.ArrayBuffer.empty[String]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val ladder = mutable.LinkedHashMap.empty[String, LadderStats]
  var phase = "measure"
  var passIndex = 0
  var tracer: Option[Tracer] = None

  def traced: Boolean = tracer.isDefined

  /** Run `body` as one timed operation of class `cls` in `layer`; its result
    * goes to `verify` outside the timed region. */
  def op[T](cls: String, layer: String, note: String = "", bytes: Long = 0L, voxels: Long = 0L)(body: => T)(
      verify: T => Option[String]): Option[T] = {
    val id = if (traced) spans.reserve() else -1
    tracer.foreach(_.begin(cls, id))
    val c0 = CpuStat.read()
    val t0 = spans.now
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = spans.now
    val cpu = CpuStat.read() - c0
    tracer.foreach(_.end())
    if (traced) spans.add(Span(id, -1, cls, layer, t0, t1))
    result match {
      case Right(v) =>
        val bad = try verify(v) catch { case e: Throwable => Some(s"check raised $e") }
        bad.foreach(m => failures += s"$cls: $m")
        ops += OpRec(cls, layer, phase, passIndex, note, t0, t1, bytes, voxels, bad.isEmpty, cpu)
        Some(v)
      case Left(e) =>
        failures += s"$cls: ${e.getClass.getSimpleName}: ${e.getMessage}"
        ops += OpRec(cls, layer, phase, passIndex, note, t0, t1, bytes, voxels, ok = false, cpu)
        None
    }
  }

  def ladderFor(cls: String): LadderStats = ladder.getOrElseUpdate(cls, new LadderStats)

  /** Repeat `pass` while another one is expected to end within `seconds`
    * (at least once). */
  def loop(seconds: Double)(pass: Int => Unit): Unit = {
    val start = spans.now
    var i = 0
    while (i == 0 || spans.now + (spans.now - start) / i <= start + seconds) {
      passIndex += 1; pass(i); i += 1
    }
  }

  def startTrace(): Unit = {
    val t = new Tracer(spark, spans)
    t.install()
    tracer = Some(t)
    phase = "traced"
  }

  /** Listener totals per operation class, kept after the trace stops. */
  var traceStats: Map[String, OpStats] = Map.empty

  def stopTrace(): Unit = tracer.foreach { t =>
    t.remove()
    traceStats = t.byClass.toMap
    tracer = None
    phase = "measure"
  }
}

/** Minimal JSON writer for the raw result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case s: Span => apply(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "start" -> s.start, "end" -> s.end))
    case o: OpRec => apply(Map("cls" -> o.cls, "layer" -> o.layer, "phase" -> o.phase, "pass" -> o.pass, "note" -> o.note,
      "t0" -> o.t0, "t1" -> o.t1,
      "bytes" -> o.bytes, "voxels" -> o.voxels, "ok" -> o.ok, "busy" -> o.cpu._1, "steal" -> o.cpu._2))
    case other => str(other.toString)
  }
}
