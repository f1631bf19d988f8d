package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{TranscriptGen, Transcripts}

/** Seeded inputs. The same seed gives byte-identical tables; the program
  * under test only ever sees the parquet written here.
  */
object Inputs {

  /** Events-shaped frame (event_id, ts, user_id, event_type, value) of `n`
    * rows with TranscriptGen's conversation skew: ~1 % of the turns sit in
    * heavy conversations of 100x the normal length. The seed moves which
    * conversation ids exist (and so their salt buckets), the timestamps,
    * event types and values; event_id stays dense so the FIXTURES 8-format
    * text mix keeps its shares.
    */
  def events(spark: SparkSession, n: Long, seed: Long, slices: Int): DataFrame = {
    val heavyTurns = TranscriptGen.HeavyTurns
    val normalTurns = TranscriptGen.NormalTurns
    val nHeavy = math.max(1L, n / 100L / heavyTurns)
    val heavyTotal = nHeavy * heavyTurns
    val id = col("id")
    val conv = when(id < heavyTotal, (id / heavyTurns).cast("long"))
      .otherwise(lit(nHeavy) + ((id - heavyTotal) / normalTurns).cast("long"))
    val h = xxhash64(id, lit(seed))
    spark.range(0, n, 1, slices).select(
      id.as("event_id"),
      // 2024-01-01T00:00:00Z + up to ~231 days, inside the run clock's year
      timestamp_seconds(lit(1704067200L) + pmod(h, lit(20000000L))).as("ts"),
      // affine in conv so distinct convs stay distinct for every seed
      (conv * 7919L + lit(Math.floorMod(seed, 1000003L) * 100000000L)).as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("error"), lit("purchase")),
        (pmod(h, lit(4)) + 1).cast("int")).as("event_type"),
      (pmod(xxhash64(id, lit(seed + 1)), lit(1000)).cast("double") / 7.0).as("value"))
  }

  /** Writes `events.parquet` and the transcripts input derived from it by
    * `Transcripts.fromEvents`; returns the input row count.
    */
  def writeTranscripts(spark: SparkSession, n: Long, seed: Long, files: Int,
      eventsPath: String, inputPath: String): Long = {
    events(spark, n, seed, files).write.parquet(eventsPath)
    Transcripts.fromEvents(spark.read.parquet(eventsPath)).write.parquet(inputPath)
    n
  }

  // ---- documents corpus ----

  private val Stopwords = Array("the", "a", "of", "to", "and", "in", "is")

  /** Pronounceable pseudo-words; rank r of the Zipf law maps to word r. */
  private def vocabulary(size: Int, rnd: java.util.Random): Array[String] = {
    val onsets = Array("b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p",
      "r", "s", "t", "v", "w", "z", "br", "ch", "cl", "dr", "fl", "gr", "pl", "pr",
      "sh", "st", "str", "th", "tr")
    val vowels = Array("a", "e", "i", "o", "u", "ai", "ea", "io", "ou")
    val codas = Array("", "", "n", "r", "s", "t", "l", "m", "nd", "st", "ng", "x")
    val seen = scala.collection.mutable.LinkedHashSet[String](Stopwords.toIndexedSeq: _*)
    while (seen.size < size) {
      val syll = 1 + rnd.nextInt(3)
      val w = (0 until syll).map(_ => onsets(rnd.nextInt(onsets.length)) +
        vowels(rnd.nextInt(vowels.length))).mkString + codas(rnd.nextInt(codas.length))
      seen += w
    }
    seen.toArray
  }

  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)

  /** Near-duplicate chains have exactly this many hops, so label
    * propagation in `dedup_clusters` needs this many rounds on every seed.
    */
  val ChainHops = 3

  /** Seeded corpus of `n` docs. Token ranks follow a Zipf law (exponent
    * 0.95) over a 30k-word vocabulary whose head is the stopword list, so
    * shingle document frequencies have a realistic heavy tail. Planted
    * structure:
    *   - near-duplicate chains: ~5 % of docs of 60-110 tokens start a chain
    *     of [[ChainHops]] members (consecutive doc ids), each a copy of the
    *     previous member with one interior token replaced by another word.
    *     Neighbours share J >= 0.9 of their 3-word shingles; members two
    *     hops apart differ in two spaced positions and fall below 0.9 at
    *     this length, so each chain is a path and its far end is
    *     [[ChainHops]] propagation rounds from the root. ~15 % of chains
    *     end in one more member with 8-12 substitutions, a near miss that
    *     becomes a candidate pair but not a duplicate;
    *   - contamination: ~2 % of docs carry a 12-token passage copied from
    *     a benchmark doc (doc_id % 97 == 0);
    *   - length mix: ~5 % short docs (2-19 tokens) so every quality bucket
    *     is populated.
    */
  def documents(n: Int, seed: Long): Seq[Doc] = {
    val vocab = 30000
    val meanLen = 80
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
    val words = vocabulary(vocab, rnd)
    val cdf = {
      val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1, 0.95))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      words(math.min(if (i >= 0) i else -i - 1, vocab - 1))
    }
    def length(): Int = {
      val u = rnd.nextDouble()
      if (u < 0.05) 2 + rnd.nextInt(18)
      else if (u < 0.95) meanLen / 2 + rnd.nextInt(meanLen)
      else 200 + rnd.nextInt(80)
    }
    def mutate(toks: Array[String], edits: Int): Array[String] = {
      val out = toks.clone()
      (0 until edits).foreach(_ => out(rnd.nextInt(out.length)) = word())
      out
    }
    // one interior substitution, at least 3 tokens from the earlier ones of
    // the chain, so no two edits share a shingle
    def step(toks: Array[String], used: List[Int]): (Array[String], Int) = {
      var at = 0
      do at = 2 + rnd.nextInt(toks.length - 4)
      while (used.exists(u => math.abs(u - at) < 3))
      var w = word()
      while (w == toks(at)) w = word()
      val out = toks.clone()
      out(at) = w
      (out, at)
    }

    val texts = new Array[Array[String]](n)
    var i = 0
    while (i < n) {
      texts(i) = Array.fill(length())(word())
      val len = texts(i).length
      if (len >= 60 && len <= 110 && i + ChainHops < n && rnd.nextDouble() < 0.05) {
        var used = List.empty[Int]
        (1 to ChainHops).foreach { _ =>
          val (next, at) = step(texts(i), used)
          used = at :: used
          texts(i + 1) = next
          i += 1
        }
        if (i + 1 < n && rnd.nextDouble() < 0.15) {
          texts(i + 1) = mutate(texts(i), 8 + rnd.nextInt(5))
          i += 1
        }
      }
      i += 1
    }
    // contamination: splice a passage of a benchmark doc into other docs
    val benchIds = (0 until n by 97).filter(d => texts(d).length >= 12)
    if (benchIds.nonEmpty) (0 until n).foreach { d =>
      if (d % 97 != 0 && texts(d).length >= 20 && rnd.nextDouble() < 0.02) {
        val src = texts(benchIds(rnd.nextInt(benchIds.size)))
        val from = rnd.nextInt(src.length - 11)
        val at = rnd.nextInt(texts(d).length - 11)
        System.arraycopy(src, from, texts(d), at, 12)
      }
    }
    texts.indices.map { d =>
      val text = texts(d).mkString(" ")
      Doc(d.toLong, text, "en", s"s${d % 20}", text.length.toLong)
    }
  }

  def writeDocuments(spark: SparkSession, n: Int, seed: Long,
      files: Int, dir: String): Long = {
    import spark.implicits._
    val docs = documents(n, seed)
    docs.toDS().repartitionByRange(files, col("doc_id"))
      .write.parquet(s"$dir/documents.parquet")
    docs.size.toLong
  }
}
