package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.enrich.Enrich
import graft.parse.PatternDictionary
import graft.pipeline.{Pipeline, PipelineQueries}
import graft.state.{ManifestStore, ParquetFormat}

object E2e {
  /** Input turns per run: sized so one fresh `Pipeline.run` takes a few
    * seconds at local[4] (the loop then gets several calls per window).
    */
  val Turns: Long = 60000L
  val LadderReps = 3

  /** Phase of a job, from the first `graft.*` frames of its call site. */
  def graftFrames(details: String): List[String] =
    details.split("\n").map(_.trim).filter(_.startsWith("graft.")).toList

  def phase(details: String): String = {
    val fs = graftFrames(details)
    def at(i: Int, prefix: String) = fs.lift(i).exists(_.startsWith(prefix))
    if (fs.exists(_.startsWith("graft.state.ManifestStore.committedPairs"))) "manifest.read"
    else if (fs.exists(_.startsWith("graft.state.ManifestStore"))) "manifest.commit"
    else if (at(0, "graft.state.ParquetFormat$.overwritePartitions") &&
      at(1, "graft.pipeline.Pipeline$.run(")) "write"
    else if (at(1, "graft.pipeline.Pipeline$.$anonfun$run")) "tail"
    else if (at(0, "graft.pipeline.Pipeline$.run(")) "audit"
    else "other"
  }

  /** Total length of the union of [start, end] intervals. */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (a, b) => total += b - a }
    total / 1000.0
  }
}

/** `Pipeline.run` over seeded transcripts into an empty output root. */
final class E2e(spark: SparkSession, spans: Spans, work: Path, seed: Long, cores: Int)
    extends Workload {
  import E2e._

  private val eventsPath = work.resolve("in/events.parquet")
  private val inputPath = work.resolve("in/transcripts.parquet")
  private val outRoot = work.resolve("out")
  private val manifestPath = outRoot.resolve("_manifest").toString
  private var runs = 0

  private def cfg() = {
    runs += 1
    PipelineQueries.e2eConfig.copy(inputPath = inputPath.toString,
      outputRoot = outRoot.toString, runId = s"run-$runs")
  }

  private def pairCounts(): Map[(String, Int), Long] =
    spark.read.parquet(outRoot.resolve("data").toString)
      .groupBy("sink", "bucket").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap

  def setup(): Unit = {
    Fs.delete(work.resolve("in"))
    Inputs.writeTranscripts(spark, Turns, seed, cores * 2, eventsPath.toString,
      inputPath.toString)
  }

  // after one warm-up the next two calls still ran 30-50 % slower than
  // the later ones; a third warm-up gained less than it cost in set-up
  def warmupCalls: Int = 2

  def prepare(): Unit = Fs.delete(outRoot)

  def call(): Unit = {
    val written = Pipeline.run(spark, cfg()).totalRows
    require(written == Turns, s"run wrote $written rows, input $Turns")
  }

  def check(): Map[String, Any] = {
    val pairs = pairCounts()
    require(pairs.values.sum == Turns, s"output holds ${pairs.values.sum} rows, input $Turns")
    val manifest = new ManifestStore(spark, manifestPath).read()
      .groupBy("sink", "bucket").agg(count(lit(1)), sum("rows")).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val bad = pairs.filter { case (k, n) => !manifest.get(k).contains((1L, n)) }
    require(bad.isEmpty && manifest.size == pairs.size,
      s"manifest disagrees with the data on ${bad.size} pairs (${manifest.size} vs ${pairs.size})")
    val lines = spark.read.parquet(outRoot.resolve("_aggregates").toString)
      .select("sink", "format", "n", "n_conv", "min_turn", "max_turn").collect()
      .map(_.toSeq.mkString("\t")).sorted.toSeq
    Map("lines" -> lines)
  }

  def inputRows: Long = Turns
  def inputBytes: Long = Fs.bytes(inputPath)
  def outputBytes: Long = Fs.bytes(outRoot)

  def oracle: Map[String, Any] = Map(
    "sql" -> PipelineQueries.oracleSql("pipe_e2e_counts"),
    "tables" -> Map("events" -> eventsPath.toString),
    "columns" -> Seq("sink", "format", "n", "n_conv", "min_turn", "max_turn"))

  def layers(t: Tracer, untracedWallS: Double, tracedCall: () => Call): Map[String, Double] = {
    val lookup = Enrich.defaultLookup(spark)
    val rc = PipelineQueries.e2eConfig
    def input = ParquetFormat.readSnapshot(spark, inputPath.toString)
    def parsed = PatternDictionary.parse(input, rc.runTsMillis, rc.formats)
    // cumulative rungs over the layers' public functions, forced through
    // the noop sink (every column materialized, nothing written)
    val rungs = Seq[(String, () => DataFrame)](
      "state.scan" -> (() => input),
      "parse" -> (() => parsed),
      "enrich" -> (() => Enrich.withLookup(parsed, lookup)),
      "route" -> (() => Pipeline.transform(input, rc, lookup)))
    // a rung's time is the wall of its Spark jobs: planning on the driver
    // is not a layer's cost and shows up in pipeline.driver.wall_s instead
    val ladder = rungs.map { case (name, df) =>
      val reps = (0 to LadderReps).map { i =>
        t.drain()
        val a = Clock.nowMs
        spans(s"ladder.$name", Map("i" -> i)) {
          df().write.format("noop").mode("overwrite").save()
        }
        val b = Clock.nowMs
        t.drain()
        val w = t.jobs.window(a, b)
        (union(w.jobs.map(j => (j.start, j.end))), w.cpuS)
      }.drop(1) // the first rep compiles this rung's plan
      (Main.median(reps.map(_._1)), Main.median(reps.map(_._2)))
    }
    val self = ladder.map(_._1).zip(0.0 +: ladder.map(_._1)).map { case (c, p) => c - p }

    val perCall = (1 to Main.TracedCalls).map { _ =>
      val c = tracedCall()
      val w = t.jobs.window(c.startMs, c.endMs)
      val files = t.plans.totals(t.callMarks._1, t.callMarks._2)._2
      callLayers(w, c, files, self.sum) ++ Map("trace.wall_s" -> c.runS)
    }
    val keys = perCall.head.keys
    val med = keys.map(k => k -> Main.median(perCall.map(_(k)))).toMap
    med ++ Map(
      "state.scan.wall_s" -> self(0), "parse.wall_s" -> self(1),
      "enrich.wall_s" -> self(2), "route.wall_s" -> self(3),
      "parse.cpu_s" -> (ladder(1)._2 - ladder(0)._2),
      "trace.overhead_s" -> (med("trace.wall_s") - untracedWallS))
  }

  /** Listener metrics of one traced `Pipeline.run`. */
  private def callLayers(w: Window, c: Call, files: Long, ladderS: Double)
      : Map[String, Double] = {
    w.jobs.foreach { j =>
      spans.add(s"job.${phase(j.callSite)}", spans.lastId("traced"), j.start, j.end,
        Map("job" -> j.jobId, "site" -> graftFrames(j.callSite).take(3)))
    }
    val byPhase = w.jobs.groupBy(j => phase(j.callSite))
    def jobsIn(ps: String*) = ps.flatMap(p => byPhase.getOrElse(p, Nil))
    def iv(js: Seq[JobRec]) = js.map(j => (j.start, j.end))
    val stageById = w.stages.map(s => s.stageId -> s).toMap
    val writeStages = jobsIn("write").flatMap(_.stageIds).distinct.flatMap(stageById.get)
    val mapStages = writeStages.filter(s => w.tasksOf(Set(s.stageId)).exists(_.shWriteRecs > 0))
    val sinkStages = writeStages.filter(s => w.tasksOf(Set(s.stageId)).exists(_.outBytes > 0))
    def tasksOf(ss: Seq[StageRec]) = w.tasksOf(ss.map(_.stageId).toSet)
    def wall(ss: Seq[StageRec]) = ss.map(s => s.completed - s.submitted).sum / 1000.0
    val mapT = tasksOf(mapStages)
    val sinkT = tasksOf(sinkStages)
    val runMs = sinkT.map(_.runMs.toDouble).sorted
    val mapRunMs = mapT.map(_.runMs).sum.max(1L)
    val shuffleWriteWall = wall(mapStages) * (mapT.map(_.shWriteNs).sum / 1e6) / mapRunMs
    // the map stage's job is what the ladder (+ shuffle write) explains;
    // every other job is measured directly, and the driver time is the
    // residual, so it is reported apart from the accounted layers
    val mapJobs = jobsIn("write").filter(j => j.stageIds.flatMap(stageById.get)
      .forall(s => mapStages.contains(s)))
    val driver = c.wallS - union(iv(w.jobs))
    val accounted = ladderS + shuffleWriteWall + union(iv(w.jobs.filterNot(mapJobs.contains)))
    Map(
      "pipeline.transform_stage.cpu_s" -> mapT.map(_.cpuNs).sum / 1e9,
      "pipeline.transform_stage.gc_s" -> mapT.map(_.gcMs).sum / 1e3,
      "pipeline.shuffle.bytes" -> mapT.map(_.shWriteBytes).sum.toDouble,
      "pipeline.shuffle.records" -> mapT.map(_.shWriteRecs).sum.toDouble,
      "pipeline.shuffle.write_wall_s" -> shuffleWriteWall,
      "pipeline.shuffle.fetch_wait_s" -> sinkT.map(_.fetchWaitMs).sum / 1e3,
      "pipeline.shuffle.spill_bytes" -> (mapT ++ sinkT).map(_.spillDisk).sum.toDouble,
      "pipeline.shuffle.task_skew" ->
        (if (runMs.isEmpty) 0.0 else runMs.last / Main.median(runMs).max(1.0)),
      "state.write.wall_s" -> wall(sinkStages),
      "state.write.cpu_s" -> sinkT.map(_.cpuNs).sum / 1e9,
      "state.write.bytes_out" -> sinkT.map(_.outBytes).sum.toDouble,
      "state.write.files" -> files.toDouble,
      "pipeline.audit.wall_s" -> union(iv(jobsIn("audit"))),
      "pipeline.audit.bytes_read" -> tasksOf(jobsIn("audit").flatMap(_.stageIds)
        .distinct.flatMap(stageById.get)).map(_.inBytes).sum.toDouble,
      "state.manifest.wall_s" -> union(iv(jobsIn("manifest.read", "manifest.commit"))),
      "pipeline.tail.wall_s" -> union(iv(jobsIn("manifest.commit", "tail"))),
      "pipeline.other.wall_s" -> union(iv(jobsIn("other"))),
      "pipeline.driver.wall_s" -> driver,
      "peak_task_mem_mb" -> (if (w.tasks.isEmpty) 0.0
        else w.tasks.map(_.peakMem).max / (1024.0 * 1024.0)),
      "trace.accounted_frac" -> accounted / c.wallS,
      "pipeline.driver.frac" -> driver / c.wallS,
      "pipeline.map_stage.explained_frac" -> (ladderS + shuffleWriteWall) / union(iv(mapJobs)).max(1e-3))
  }
}
