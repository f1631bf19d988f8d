package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One timed call's outcome. `payload` is what the oracle side compares:
  * canonical output lines (e2e) or their digest (curate).
  */
final case class Call(wallS: Double, stolen: Double, startMs: Double, endMs: Double,
    error: Option[String], payload: Map[String, Any], outBytes: Long) {
  /** Wall time with the host's stolen share of the call's CPU time taken out. */
  def runS: Double = wallS * (1 - stolen)
}

/** A workload as the closed loop sees it. */
trait Workload {
  /** Generate inputs from the seed. */
  def setup(): Unit
  /** Untimed calls after `setup`, enough that timed calls no longer speed
    * up under the JIT.
    */
  def warmupCalls: Int
  /** Untimed preparation before each timed call. */
  def prepare(): Unit
  /** The timed call. */
  def call(): Unit
  /** Untimed output check after each call; throws on a wrong output. */
  def check(): Map[String, Any]
  def inputRows: Long
  def inputBytes: Long
  def outputBytes: Long
  /** Oracle inputs for the out-of-process check: SQL and table paths. */
  def oracle: Map[String, Any]
  /** Per-layer metrics from a traced pass (listeners attached);
    * `tracedCall` runs one checked call like the timed loop does.
    */
  def layers(trace: Tracer, untracedWallS: Double, tracedCall: () => Call): Map[String, Double]
}

final class Tracer(val spark: SparkSession) {
  val jobs = new LayerListener
  val plans = new PlanListener
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
  }
  def detach(): Unit = {
    spark.listenerManager.unregister(plans)
    spark.sparkContext.removeSparkListener(jobs)
  }
  def drain(): Unit = jobs.drain(spark.sparkContext)
  /** Plan-listener marks around the last traced call (after draining). */
  var callMarks: (Int, Int) = (0, 0)
}

/** Host readings: `/proc/stat` CPU windows and this JVM's peak RSS. */
object Host {
  final case class CpuSnap(busy: Long, steal: Long, total: Long, cpus: Int)

  def cpu(): CpuSnap = {
    val lines = scala.io.Source.fromFile("/proc/stat").getLines().takeWhile(_.startsWith("cpu")).toList
    val f = lines.head.trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal [guest guest_nice]
    CpuSnap(f(0) + f(1) + f(2) + f(5) + f(6), f(7), f.take(8).sum, lines.size - 1)
  }

  /** (steal fraction, busy cores) between two snapshots. */
  def window(a: CpuSnap, b: CpuSnap): (Double, Double) = {
    val dt = (b.total - a.total).max(1L).toDouble
    ((b.steal - a.steal) / dt, (b.busy - a.busy) / dt * b.cpus)
  }

  /** Share of the CPU time the host wanted between two snapshots that the
    * hypervisor gave to other guests: steal / (busy + steal). A call that
    * keeps its CPUs busy takes about 1 / (1 - this) times longer than it
    * would on a host nobody steals from.
    */
  def stolen(a: CpuSnap, b: CpuSnap): Double = {
    val steal = b.steal - a.steal
    steal.toDouble / (b.busy - a.busy + steal).max(1L)
  }

  def peakRssMb: Double = scala.io.Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

object Fs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def bytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }
}

object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Closed-loop runner: one batch job at a time on one driver JVM.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *   --result FILE --cores C
  */
object Main {
  val TracedCalls = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.ensureRegistered(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = opt("cores").toInt
    val spans = new Spans
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpuStart = Host.cpu()

    val spark = spans("session.start")(session(cores, work))
    val sessionS = (Clock.nowMs - jvmStart) / 1000
    val wl: Workload = name match {
      case "e2e_fresh" => new E2e(spark, spans, work, seed, cores)
      case "curate" => new Curate(spark, spans, work, seed, cores)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def timedCall(i: Int, label: String, tracer: Option[Tracer]): Call = {
      spans(s"$label.prepare")(wl.prepare())
      tracer.foreach(_.drain())
      val mark0 = tracer.map(_.plans.mark).getOrElse(0)
      val start = Clock.nowMs
      val cpu0 = Host.cpu()
      val t0 = System.nanoTime()
      val ran = try Right(spans(label, Map("i" -> i))(wl.call()))
        catch { case e: Throwable => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val stolen = Host.stolen(cpu0, Host.cpu())
      val end = Clock.nowMs
      tracer.foreach { t => t.drain(); t.callMarks = (mark0, t.plans.mark) }
      val checked = ran.flatMap(_ =>
        try Right(spans(s"$label.check")(wl.check())) catch { case e: Throwable => Left(e) })
      val err = checked.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
      err.foreach(e => System.err.println(s"[perfbench] $label $i failed: $e"))
      Call(wall, stolen, start, end, err, checked.getOrElse(Map.empty), wl.outputBytes)
    }

    // set-up: inputs from the seed, then untimed warm-up calls, so the
    // timed loop starts on compiled code and cached plans
    spans("setup") {
      spans("gen")(wl.setup())
      (1 to wl.warmupCalls).foreach { i =>
        spans("warmup", Map("i" -> i)) { wl.prepare(); wl.call() }
      }
    }
    val setupWallS = (Clock.nowMs - jvmStart) / 1000
    val setupStolen = Host.stolen(cpuStart, Host.cpu())

    // the measured window: closed loop until `seconds` have passed
    val cpu0 = Host.cpu()
    val loopStart = System.nanoTime()
    val calls = scala.collection.mutable.ArrayBuffer.empty[Call]
    while (calls.isEmpty || (System.nanoTime() - loopStart) / 1e9 < seconds)
      calls += timedCall(calls.size, "call", None)
    val (steal, busy) = Host.window(cpu0, Host.cpu())
    val wallS = median(calls.map(_.runS).toSeq)

    val tracedCalls = scala.collection.mutable.ArrayBuffer.empty[Call]
    val traced = if (!trace) Map.empty[String, Double] else {
      val tracer = new Tracer(spark)
      tracer.attach()
      try spans("trace")(wl.layers(tracer, wallS, () => {
        val c = timedCall(tracedCalls.size, "traced", Some(tracer))
        tracedCalls += c
        c
      }))
      finally tracer.detach()
    }
    def render(cs: Seq[Call]) = cs.map(c => Map("wall_s" -> c.wallS, "stolen" -> c.stolen,
      "error" -> c.error, "payload" -> c.payload, "out_bytes" -> c.outBytes))

    val result = Map(
      "workload" -> name, "seed" -> seed, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "session_s" -> sessionS, "setup_wall_s" -> setupWallS, "setup_stolen" -> setupStolen,
      "setup_s" -> setupWallS * (1 - setupStolen),
      "calls" -> render(calls.toSeq), "traced_calls" -> render(tracedCalls.toSeq),
      "wall_s" -> wallS, "raw_wall_s" -> median(calls.map(_.wallS).toSeq),
      "input_rows" -> wl.inputRows, "input_bytes" -> wl.inputBytes,
      "host_steal_frac" -> steal, "host_busy_cores" -> busy,
      "layers" -> traced, "oracle" -> wl.oracle,
      "peak_rss_mb" -> Host.peakRssMb,
      "spans" -> spans.toJson)
    Files.write(Paths.get(opt("result")), Json.render(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
