package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.TrainingOps

object Curate {
  /** Corpus size. A call's cost is mostly driver time in the
    * label-propagation rounds, so it barely shrinks with the corpus.
    */
  val Docs = 1000
  /** Forced runs per entry and traced calls: two each, so a traced run
    * stays well inside its time limit at ~7 s per call.
    */
  val EntryReps = 2
  val TracedCalls = 2

  def sha256(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}

/** `TrainingOps.queries("text_curate")` run to completion (written to
  * parquet) over a seeded documents corpus. `releaseCaches` runs before
  * every call, so each call recomputes from parquet.
  */
final class Curate(spark: SparkSession, spans: Spans, work: Path, seed: Long, cores: Int)
    extends Workload {
  import Curate._

  private val dir = work.resolve("in").toString
  private val out = work.resolve("out/curated")
  private var nDocs = 0L

  def setup(): Unit = {
    Fs.delete(work.resolve("in"))
    nDocs = Inputs.writeDocuments(spark, Docs, seed, cores * 2, dir)
  }

  // after one warm-up the next call still ran ~10 % slower than the later ones
  def warmupCalls: Int = 2

  def prepare(): Unit = {
    TrainingOps.releaseCaches(spark, dir)
    Fs.delete(out)
  }

  def call(): Unit = TrainingOps.queries("text_curate")(spark, dir).write.parquet(out.toString)

  def check(): Map[String, Any] = {
    val lines = spark.read.parquet(out.toString).select("doc_id", "quality", "n_tokens")
      .collect().map(_.toSeq.mkString("\t")).sorted.toSeq
    val first = work.resolve("curate_lines.txt")
    if (!Files.exists(first)) Files.write(first, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Map("digest" -> sha256(lines), "rows" -> lines.size)
  }

  def inputRows: Long = nDocs
  def inputBytes: Long = Fs.bytes(work.resolve("in/documents.parquet"))
  def outputBytes: Long = Fs.bytes(out)

  def oracle: Map[String, Any] = Map(
    "sql" -> TrainingOps.oracleSql("text_curate"),
    "tables" -> Map("documents" -> work.resolve("in/documents.parquet").toString),
    "columns" -> Seq("doc_id", "quality", "n_tokens"),
    "lines_file" -> work.resolve("curate_lines.txt").toString)

  def layers(t: Tracer, untracedWallS: Double, tracedCall: () => Call): Map[String, Double] = {
    // each public entry forced cold: caches released, then noop-written
    def force(name: String, entry: () => DataFrame): (Double, Double, Double, DataFrame) = {
      val reps = (1 to EntryReps).map { i =>
        TrainingOps.releaseCaches(spark, dir)
        t.drain()
        val m0 = t.plans.mark
        val a = Clock.nowMs
        val df = spans(s"entry.$name", Map("i" -> i)) {
          val df = entry()
          df.write.format("noop").mode("overwrite").save()
          df
        }
        val b = Clock.nowMs
        t.drain()
        ((b - a) / 1000, t.jobs.window(a, b).jobs.size.toDouble,
          t.plans.totals(m0, t.plans.mark)._1.toDouble, df)
      }
      (Main.median(reps.map(_._1)), Main.median(reps.map(_._2)),
        Main.median(reps.map(_._3)), reps.last._4)
    }
    val (ngramS, _, joinRows, pairs) = force("dedup_ngram",
      () => TrainingOps.dedupNgram(spark, dir, TrainingOps.ShingleFreqCap))
    val pairsOut = pairs.count().toDouble
    val (clustersS, clusterJobs, _, _) = force("dedup_clusters",
      () => TrainingOps.dedupClusters(spark, dir))
    val (decontamS, _, _, _) = force("text_decontaminate",
      () => TrainingOps.queries("text_decontaminate")(spark, dir))
    TrainingOps.releaseCaches(spark, dir)

    val traced = (1 to TracedCalls).map(_ => tracedCall().runS)
    val tracedS = Main.median(traced)
    Map(
      "ops.dedup_ngram.wall_s" -> ngramS,
      "ops.dedup_ngram.pairs_out" -> pairsOut,
      "ops.dedup_clusters.wall_s" -> clustersS,
      "ops.dedup_clusters.jobs" -> clusterJobs,
      "ops.text_decontaminate.wall_s" -> decontamS,
      "ops.join.rows_out" -> joinRows,
      "ops.pairs_verified_per_candidate" -> pairsOut / joinRows.max(1.0),
      "trace.wall_s" -> tracedS,
      "trace.overhead_s" -> (tracedS - untracedWallS),
      // dedup_clusters contains dedup_ngram; the rest of text_curate is the
      // quality funnel, its anti-joins and the write
      "trace.accounted_frac" -> (clustersS + decontamS) / tracedS)
  }
}
