package graft

import org.apache.spark.sql.SparkSession

import graft.model.PipelineConfig
import graft.pipeline.{Pipeline, Transcripts}

/** Child-JVM entry for [[ScaleBench.corun]]: a full-size warmup pipeline
  * run (pays JIT compilation and the fresh-heap page faults of a cold
  * JVM — the parent's own trials are warm, so a cold child would
  * understate the narrow side 3x, measured), then the reported run.
  *
  * args: cpus input out turns execs
  */
object ScaleWorker {
  def main(args: Array[String]): Unit = {
    val t = ScaleBench.runOnce(args(0).toInt, args(1), args(2),
      args(3).toLong, execs = Some(args(4).toInt), warmInput = Some(args(1)))
    println(s"[worker] tput=${t.tput}")
  }
}

/** N vs 4N scaling trials for [[Bench]]'s `scaling_*` keys (sandbox
  * protocol in BASELINE.md): the FULL disk-to-disk pipeline (read parquet
  * -> parse -> enrich -> route -> per-sink ordered writes + manifest +
  * metrics) on the identical input at two `local-cluster` sizes, plus the
  * time-paired co-run leg and its selection rule.
  */
object ScaleBench {

  /** A `local-cluster[execs, cpus/execs, mem]` session — Spark's
    * standalone mode with FORKED executor JVMs on this host. This is the
    * faithful local analogue of "two cluster sizes" (1 worker vs 4
    * workers): each executor owns its heap, GC, allocator and JIT exactly
    * like a cluster node, and shuffle blocks travel executor-to-executor.
    * `local[n]` by contrast runs all workers in ONE heap whose shared
    * young-gen allocation rate and GC pauses couple the levels — measured
    * here: four concurrent 2-core JVMs aggregate ~173k turns/s where one
    * 8-thread JVM caps at ~132k on identical work, a single-JVM artifact
    * no real 4N-executor cluster exhibits.
    */
  private def session(cpus: Int, execs: Int): SparkSession = {
    val coresEach = cpus / execs
    val s = SparkSession.builder()
      .master(s"local-cluster[$execs,$coresEach,2048]")
      .appName(s"graft-scale-$cpus")
      .config("spark.sql.shuffle.partitions", (cpus * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // commit by rename-once: halves the driver-serial tail of the write
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      // shuffle spill to tmpfs: the sandbox disk throttles and serializes
      // concurrent writers (see tmpfs note on the output root)
      .config("spark.local.dir", s"/dev/shm/spark-local-$cpus")
      // the MAP stage's parallelism (scan -> parse -> shuffle write — the
      // CPU-heavy half of the job) is the input SPLIT count, and the
      // default 128 MB bin + 4 MB open-cost packed the ~65 MB compressed
      // input into ~3 splits: the big level ran its whole parse phase 3
      // tasks wide with 5 of 8 cores idle, which read as "poor scaling"
      // but was split granularity (the round-3 CLAUDE.md finding, now
      // applied to the scale harness too; at 100 TB splits are abundant).
      // 2 MB bins -> ~33 splits = 4+ task waves at 8 cores (and the same
      // 33 at 2 cores: Spark's maxSplitBytes = min(maxPartitionBytes,
      // totalBytes/defaultParallelism) would otherwise pick DIFFERENT
      // split counts per level); each split is still >= 30k rows
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.sql.files.openCostInBytes", "0")
      // executors are forked JVMs: ship the sbt classpath, size GC threads
      // to the executor's OWN cores (the default — machine cores — had 4
      // concurrent 2-core children fielding 128 GC threads), and pass the
      // scala version the standalone launcher needs when SPARK_HOME is a
      // binary dist (harmless when the env var is set). Heap is 2 GB,
      // -Xms=-Xmx AND AlwaysPreTouch: the host serves fresh pages at only
      // ~100-250 MB/s and the zeroing of a task thread's first touch is
      // charged to TASK CPU — 4 fresh 8 GB heaps put ~400 extra CPU-sec
      // INSIDE the measured window of every big-level trial (measured:
      // 528 vs ~90 steady CPU-sec, tput 23k vs 117k). A 2 GB pre-touched
      // heap moves all of it to the executor-fork window, and this job
      // needs well under 2 GB per 2-core executor (25k-row sort
      // partitions, broadcast-only joins).
      .config("spark.executor.memory", "2g")
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions",
        s"-Xms2g -XX:+AlwaysPreTouch " +
          s"-XX:ParallelGCThreads=${math.max(2, coresEach * 2)}")
      .config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
      // NOTE executor scratch dirs: standalone executors ignore
      // spark.local.dir ("overridden by the cluster manager") and
      // spark.executorEnv.* does not reach the scratch-dir resolution
      // either (verified via /proc/<executor>/environ) — the in-process
      // Worker decides from ITS env. build.sbt therefore exports
      // SPARK_LOCAL_DIRS=/dev/shm/... into every forked run JVM; without
      // it the shuffle lands on the throttled virtio /tmp (a measured
      // 27 s disk-bound shuffle at 8c).
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Worker count of a trial. Trials run only as `local-cluster`
    * sessions; `None` is rejected before anything is built.
    */
  private def clusterExecs(execs: Option[Int]): Int = {
    require(execs.isDefined,
      "ScaleBench trials run on local-cluster only: execs must be Some(workers)")
    execs.get
  }

  // ---- why trials run RAW (no clock-parity machinery) ------------------
  //
  // Clock parity was tried three ways in cluster mode and each perturbed
  // the measurement it was meant to clean (all measured on this host):
  // nice-19 spinners halved the big level's wall (util 0.39 vs 0.67 raw);
  // SCHED_IDLE spinners did the same (util 0.31) — cross-JVM RPC/shuffle
  // wakeups eat scheduler-class preemption latency thousands of times per
  // run; and a hard cpuset partition (executors pinned to disjoint core
  // slices, driver to its own "node", pinned spinners on the rest)
  // strangled the executors' OWN service threads (netty shuffle server,
  // GC, JIT) onto the task cores — util 0.45/0.30 at the two levels.
  // Raw trials carry the known idle-core-turbo confound instead: the
  // 1-worker level runs on an otherwise-idle box and is INFLATED ~1.2-1.3x
  // relative to what a loaded cluster node gets, which biases the reported
  // N->4N wall efficiency DOWNWARD — the conservative direction. The
  // hardware-normalized co-run leg (4 concurrent 1-worker clusters) is the
  // turbo-free wall estimate.

  /** One scaling trial's evidence: wall-clock throughput plus the summed
    * executor-task CPU time. CPU time is the NEIGHBOR-IMMUNE companion to
    * wall: a noisy co-tenant steals wall-clock (utilization drops) but
    * barely changes the cycles the tasks themselves burn, so the ratio of
    * per-turn CPU across parallelism levels isolates the engine's own
    * scaling overhead from ambient interference. (Wall efficiency factors
    * exactly into cpuEff x utilizationRatio.)
    */
  final case class Trial(tput: Double, wallMs: Long, cpuSec: Double) {
    def utilization(cores: Int): Double =
      if (wallMs <= 0) 0.0 else cpuSec / (wallMs / 1e3) / cores
  }

  /** Sums executor CPU/run time across all tasks of a session's jobs.
    * Read AFTER SparkContext.stop(): stop() drains the listener bus, so no
    * racy sleep-polling is needed.
    */
  private final class CpuTally extends org.apache.spark.scheduler.SparkListener {
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    val runMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val gcMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val fetchWaitMs = new java.util.concurrent.atomic.AtomicLong(0L)
    // (stageId, numTasks, wallMs) in completion order: a stage whose width
    // is far below the core count is a split-granularity bug, not poor
    // scaling; per-stage wall pinpoints WHERE a level's excess wall lives
    val stages =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long)]()
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      }
    }
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val wall = (for (s <- si.submissionTime; c <- si.completionTime)
        yield c - s).getOrElse(-1L)
      stages.add((si.stageId, si.numTasks, wall))
    }
    def stageWidths: String = {
      import scala.jdk.CollectionConverters._
      stages.asScala.toSeq.sortBy(_._1)
        .map { case (_, n, w) => s"$n:${w}ms" }.mkString("/")
    }
  }

  /** Whole-box busy-core estimate over a short /proc/stat window. Used to
    * GATE trial starts on ambient quiet: loadavg is the wrong signal here —
    * it decays over minutes and still counts our own just-finished
    * all-core trial, while the instantaneous busy fraction between trials
    * (when this JVM is idle) is almost all neighbor load.
    */
  private[graft] def busyCores(windowMs: Int = 500): Double = {
    def snap(): (Long, Long) = {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        val vals = f.drop(1).map(_.toLong)
        (vals.sum, vals(3) + vals(4)) // idle + iowait
      } finally src.close()
    }
    val (t0, i0) = snap()
    Thread.sleep(windowMs)
    val (t1, i1) = snap()
    val total = (t1 - t0).toDouble
    if (total <= 0) 0.0
    else (total - (i1 - i0)) / total * Runtime.getRuntime.availableProcessors()
  }

  /** Wait (bounded) for ambient load below `busyBar` cores; returns whether
    * the bar was met so the artifact can self-diagnose a noisy window.
    */
  private[graft] def awaitQuiet(maxWaitMs: Long, busyBar: Double): Boolean = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    var b = busyCores()
    while (b > busyBar && System.currentTimeMillis() < deadline) {
      Thread.sleep(2000)
      b = busyCores()
    }
    b <= busyBar
  }

  /** One full pipeline run on a `local-cluster` of `execs` workers sharing
    * `cpus` cores (`execs` must be `Some`). The job is IDENTICAL at every
    * parallelism level — same shuffle width (explicit repartition, so AQE
    * cannot coalesce it away differently per level) and same bucket
    * count — because the N -> 4N question is "same job, more workers":
    * scaling the width with cores bakes 4x the per-task fixed CPU (task
    * start, codegen instance, sort and parquet-writer setup) into the
    * small level and measures task overhead, not the engine. Width 80 =
    * 10 task waves at 8 cores: with only 2 waves (width 16) the
    * sink/bucket key skew left cores idle behind stragglers at the big
    * level (measured utilization 0.65 vs 0.84 at 2c), and 6 waves still
    * idled ~25% at the best 8c trials — scheduling granularity, not
    * engine scaling. 16 salt buckets keep
    * ordering/resume semantics intact while bounding the output at ~300
    * files (the commit/listing of a 1300-file layout was a fixed
    * post-write tail that never shrank with the write).
    */
  private[graft] def runOnce(cpus: Int, input: String, out: String, turns: Long,
      shuffleParts: Int = 80, execs: Option[Int],
      warmInput: Option[String] = None): Trial = {
    val workers = clusterExecs(execs)
    val spark = session(cpus, workers)
    val appId = spark.sparkContext.applicationId
    val tally = new CpuTally
    // wait for every executor JVM to register BEFORE the warm run, or
    // the warm rows land on whichever executors forked first and the
    // rest enter the measured window JIT-cold (measured: one cold
    // executor put +70 CPU-sec inside a 4-worker trial)
    val deadline = System.currentTimeMillis() + 60000
    while (spark.sparkContext.getExecutorMemoryStatus.size < workers + 1 &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
    // every trial forks FRESH executor JVMs: a warmup run inside the same
    // session pays codegen compilation, C2 warm-in and first-touch page
    // faults symmetrically at both levels, outside the measured window.
    // Raw: see the parity note above.
    warmInput.foreach { wi =>
      val wcfg = PipelineConfig.default(wi, s"$out-warm", Transcripts.RunTsMillis)
        .copy(shufflePartitions = shuffleParts, saltBuckets = 16,
          runId = s"scale-$cpus-warm")
      Pipeline.run(spark, wcfg)
    }
    spark.sparkContext.addSparkListener(tally)
    val cfg = PipelineConfig.default(input, out, Transcripts.RunTsMillis)
      .copy(shufflePartitions = shuffleParts, saltBuckets = 16,
        runId = s"scale-$cpus")
    val report = Pipeline.run(spark, cfg)
    require(report.totalRows == turns, s"expected $turns rows, got ${report.totalRows}")
    spark.stop() // drains the listener bus -> tally is complete
    // forked executors leave stdout/stderr under $SPARK_HOME/work — tidy up
    sys.env.get("SPARK_HOME").foreach { sh =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$sh/work/$appId"))
    }
    val t = Trial(report.turnsPerSec, report.wallMs, tally.cpuNs.get / 1e9)
    System.err.println(s"[scale] cpus=$cpus wall=${report.wallMs}ms " +
      s"write=${report.sinks.headOption.map(_.wallMs).getOrElse(0L)}ms " +
      s"tput=${report.turnsPerSec.round} cpuSec=${f"${t.cpuSec}%.1f"} " +
      s"runSec=${f"${tally.runMs.get / 1e3}%.1f"} " +
      s"gcSec=${f"${tally.gcMs.get / 1e3}%.1f"} " +
      s"fetchWaitSec=${f"${tally.fetchWaitMs.get / 1e3}%.1f"} " +
      s"util=${f"${t.utilization(cpus)}%.2f"} stages=${tally.stageWidths}")
    t
  }

  /** One co-run leg: aggregate throughput of the concurrent children plus
    * their mean measured-window task-CPU. The CPU figure is the leg's own
    * noise diagnosis: hypervisor steal is invisible to guest thread CPU
    * accounting (a stolen vCPU still accrues), so a leg whose children
    * burn 2-3x the lone-N trial's task-CPU per turn was hit by a host
    * neighbor window, not by engine-attributable contention.
    */
  private[graft] case class CorunLeg(aggTput: Double, childCpuSecMean: Double)

  /** Spawn `jobs` CHILD JVMs each running the identical pipeline at the
    * N-worker configuration concurrently, and return the aggregate
    * throughput. This is the hardware-normalized leg of the scaling
    * evidence: one 4N-cluster job vs four concurrent N-cluster jobs puts
    * the SAME aggregate cache/bandwidth/clock pressure on the box at both
    * configurations (unlike lone-N-vs-4N, where the small level's threads
    * enjoy the whole L3, uncontended DRAM and idle-core turbo — headroom
    * no real N-executor cluster has over its 4N sibling, since both have
    * the same per-core hardware). What remains is exactly the engine's
    * own wide-vs-narrow overhead: perfect-engine aggregate of the
    * N-cluster quartet == the 4N-cluster job. Children inherit this JVM's
    * flags minus the heap (each gets 4 GB and forks its own 2 GB executor
    * JVM) and run raw like the main trials.
    */
  private[graft] def corun(jobs: Int, cpusEach: Int, input: String,
      outRoot: String, turns: Long, execs: Option[Int]): Option[CorunLeg] = {
    import scala.jdk.CollectionConverters._
    val workers = clusterExecs(execs)
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-Xm") || a == "-XX:+AlwaysPreTouch")
    val cp = System.getProperty("java.class.path")
    val procs = (1 to jobs).map { i =>
      // children size GC to their OWN core share: the inherited default
      // (ParallelGCThreads = machine cores) made four concurrent children
      // on a 32-core host field 128 competing GC threads, tripling their wall
      val cmd = Seq(javaBin) ++ inherited ++
        Seq("-Xms4g", "-Xmx4g",
        s"-XX:ParallelGCThreads=${math.max(2, cpusEach * 2)}", "-cp", cp,
        "graft.ScaleWorker", cpusEach.toString, input, s"$outRoot/corun-$i",
        turns.toString, workers.toString)
      new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    }
    val cpuRe = """cpuSec=([0-9.]+)""".r
    val tputs = procs.zipWithIndex.map { case (p, i) =>
      val out = new String(p.getInputStream.readAllBytes())
      val exit = p.waitFor()
      out.linesIterator.filter(_.startsWith("[scale]"))
        .foreach(l => System.err.println(s"[corun-child-$i] $l"))
      val t = out.linesIterator.collectFirst {
        case l if l.startsWith("[worker] tput=") =>
          l.stripPrefix("[worker] tput=").toDouble
      }
      val cpu = out.linesIterator.collectFirst {
        case l if l.startsWith("[scale]") && l.contains("cpuSec=") =>
          cpuRe.findFirstMatchIn(l).map(_.group(1).toDouble)
      }.flatten.getOrElse(0.0)
      // a crashed or tput-less child must fail the LEG, not silently
      // shrink the aggregate denominator (which would inflate the reported
      // co-run efficiency — or divide by zero if all children died)
      if (exit != 0 || t.isEmpty) {
        System.err.println(s"[scale] corun child $i FAILED " +
          s"(exit=$exit, tputLine=${t.isDefined}); leg marked invalid")
        None
      } else t.map(tp => (tp, cpu))
    }
    System.err.println(s"[scale] corun ${jobs}x${cpusEach}c tputs=" +
      tputs.map(_.map(_._1.round.toString).getOrElse("FAIL")).mkString(", "))
    if (tputs.forall(_.isDefined)) {
      val ok = tputs.flatten
      Some(CorunLeg(ok.map(_._1).sum, ok.map(_._2).sum / ok.size))
    } else None
  }

  /** One TIME-PAIRED co-run leg: a fresh 4N-cluster trial immediately
    * followed by the concurrent N-cluster children, so the numerator and
    * denominator of the hardware-normalized ratio share one noise window.
    * (Taking tput_4N from the pairs phase and the aggregate minutes later
    * let host drift between phases enter the ratio directly — measured:
    * one run's 4N trials all fell ~15% between the pairs phase and the
    * co-run phase while the children ran clean, turning an engine ratio
    * into a weather report. This is the main pairs' interleaving principle
    * applied to this leg.)
    */
  private[graft] case class CorunPair(tputBig: Double, agg: Double,
      childCpuSecMean: Double, bigCpuSec: Double) {
    def eff: Double = tputBig / agg
    /** Combined measured task-CPU of the window — the steal diagnosis.
      * Hypervisor steal inflates guest task-CPU (a stolen vCPU still
      * accrues thread CPU time), so the leg burning the LEAST total CPU
      * for identical work ran in the cleanest window. Selecting on this
      * diagnostic — never on the published ratio — keeps the choice
      * independent of the metric it publishes.
      */
    def windowCpu: Double = bigCpuSec + childCpuSecMean
  }

  /** Select the reported co-run leg. A leg is VALID only if it passes two
    * symmetric contamination checks; among valid legs the one with the
    * lowest window task-CPU (the steal diagnosis) is reported, and if NO
    * leg is valid the co-run figure is null — the artifact keeps every
    * leg's ratio and CPU so the diagnosis is auditable, but a number the
    * diagnostics prove contaminated is never published as "the"
    * efficiency (a storm artifact in either direction misleads
    * round-over-round comparison exactly like the ungated per-query
    * timings the r4 verdict flagged).
    * (1) PLAUSIBILITY (storm hit the CHILDREN → ratio biased UP):
    * (nBig/nSmall) independent N-clusters cannot collectively run slower
    * than one 4N cluster on the same cores — they do strictly less
    * coordination and only their per-job driver tails (~3-5% of child
    * wall) subtract — so a leg ratio above ~1.05 is physical proof the
    * children were degraded mid-leg (measured: 1.399 in one steal
    * window).
    * (2) CPU CLEANLINESS (storm hit the 4N TRIAL → ratio biased DOWN):
    * hypervisor steal inflates guest task-CPU, so a leg whose combined
    * window task-CPU exceeds `maxWindowCpu` — 1.35x the same run's
    * steady-trial expectation (min 4N CPU + min N CPU from the
    * interleaved pairs; clean legs measure ~1.05-1.10x, a storm leg
    * measured 1.95x with its 4N trial at 40% of steady throughput) —
    * provably ran dirty. Without this check the filter was asymmetric:
    * it rejected storms that flatter the ratio but published storms that
    * crater it.
    */
  private[graft] def pickCorunLeg(legs: Seq[CorunPair],
      maxWindowCpu: Double): Option[CorunPair] =
    legs.filter(l => l.eff <= 1.05 && l.windowCpu <= maxWindowCpu)
      .minByOption(_.windowCpu)

  private[graft] def corunPaired(nSmall: Int, nBig: Int, input: String,
      outRoot: String, turns: Long, width: Int, execsSmall: Option[Int],
      execsBig: Option[Int], warmInput: Option[String]): Option[CorunPair] = {
    val big = runOnce(nBig, input, s"$outRoot/big", turns,
      shuffleParts = width, execs = execsBig, warmInput = warmInput)
    corun(nBig / nSmall, nSmall, input, s"$outRoot/kids", turns,
      execs = execsSmall).map(leg =>
      CorunPair(big.tput, leg.aggTput, leg.childCpuSecMean, big.cpuSec))
  }
}
