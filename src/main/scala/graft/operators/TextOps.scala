package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operators over the `documents`/`pages`
  * tables — the training-data-pipeline half of the engine. All sketch
  * hashes are SQL-replicable integer math (31-polynomial base hash +
  * Carter–Wegman (a·x+b) mod 2³¹−1 universal-hash families with literal
  * coefficient tables), so minhash/simhash outputs are verified by DuckDB
  * oracles, not just frozen goldens. Per-document sketches (minhash,
  * simhash, fingerprints) are computed in a *map* (no explode → no
  * shuffle for the sketch phase); only the LSH band bucketing shuffles,
  * keyed by (band, band signature). Both sketch dedups hand their bucket
  * rows to [[Lsh.bandedPairs]] for capped bucketing and pair emission.
  */
object TextOps {

  def tokens(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  /** 2³¹−1 — the Mersenne prime every SQL-replicable sketch hash below
    * reduces by; all intermediates stay < 2⁶³ in both JVM longs and
    * DuckDB BIGINTs (no wraparound emulation needed).
    */
  val MersennePrime = 2147483647L

  /** 31-polynomial over chars mod 2³¹−1, kept in [0, p) — the base hash
    * shared by minhash (per shingle) and simhash (per token); exactly
    * replicable as a DuckDB list_reduce over ord(char).
    */
  def polyHashMod(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = (31 * h + s.charAt(i)) % MersennePrime; i += 1 }
    h
  }


  /** Text extraction from the raw `html` binary column — the per-row
    * invariant of the input contract is that extracted text stays
    * BYTE-IDENTICAL per url (driver query `q_extract_text` proves it by
    * hash equality against the source `text`). Tag-strip regex is enough
    * for the fixture corpus's wrapper markup; a production build swaps in
    * a real parser behind the same (url, extracted) schema. Pure column
    * expressions: map-side, codegen'd, no shuffle.
    */
  def extractText(pages: DataFrame): DataFrame =
    pages.select(col("url"),
      regexp_replace(decode(col("html"), "UTF-8"), "<[^>]*>", "").as("extracted"))

  // ---- sketches (per-row, shuffle-free) ----------------------------------

  val NumMinHashes = 32
  val Bands = 8 // 4 rows per band

  /** Universal-hash coefficient tables — the single source of truth for
    * both the Scala sketches and the generated oracle SQL (SparkEntry
    * embeds these values as literals). Derived from fixed LCG-style
    * recurrences purely for reproducibility; any nonzero `a` gives the
    * pairwise-independence the (a·x+b) mod p family guarantees.
    */
  val MinHashA: Array[Long] =
    Array.tabulate(NumMinHashes)(i => (1103515245L * (i + 1) + 12345L) % MersennePrime)
  val MinHashB: Array[Long] =
    Array.tabulate(NumMinHashes)(i => (974711L * (i + 1) + 31337L) % MersennePrime)
  val SimHashA: Array[Long] =
    Array.tabulate(64)(b => (22695477L * (b + 1) + 1L) % MersennePrime)
  val SimHashB: Array[Long] =
    Array.tabulate(64)(b => (48271L * (b + 3) + 7919L) % MersennePrime)

  def tokenShingles(text: String, n: Int = 3): Array[String] = {
    val ts = tokens(text)
    if (ts.length < n) Array(ts.mkString(" "))
    else ts.sliding(n).map(_.mkString(" ")).toArray
  }

  /** 32 minhash values: per-shingle base hash (31-polynomial mod p), then
    * the i-th (a·x+b) mod p universal hash, min over shingles — the
    * classic minwise scheme, with every step DuckDB-evaluable (oracle
    * `q_minhash_pairs` recomputes these values bit-for-bit).
    */
  def minHashes(text: String): Array[Long] = {
    val base = tokenShingles(text).map(polyHashMod)
    Array.tabulate(NumMinHashes) { i =>
      var m = Long.MaxValue
      var j = 0
      while (j < base.length) {
        val h = (MinHashA(i) * base(j) + MinHashB(i)) % MersennePrime
        if (h < m) m = h
        j += 1
      }
      m
    }
  }

  /** 64-bit simhash: per-token base hash, then bit b votes +1 when the
    * b-th universal hash of it lands in the lower half of [0, p) — a
    * uniform per-bit hash that DuckDB replicates exactly (`q_simhash_pairs`).
    */
  def simHash(text: String): Long = {
    val counts = new Array[Int](64)
    for (t <- tokens(text)) {
      val h0 = polyHashMod(t)
      var b = 0
      while (b < 64) {
        val v = (SimHashA(b) * h0 + SimHashB(b)) % MersennePrime
        if (2 * v < MersennePrime) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Winnowing document fingerprint: minimum k-gram rolling hash per
    * window, deduplicated — the classic published winnowing scheme
    * (Schleimer/Wilkerson/Aiken 2003), deterministic. The k-gram hash is
    * the standard 31-polynomial over chars (String.hashCode semantics,
    * int32 wraparound) — winnowing only needs a deterministic rolling-
    * friendly hash, and this one is exactly replicable by the DuckDB
    * oracle (`q_fingerprints`), flipping the operator from golden-only to
    * oracle-checked.
    */
  def fingerprints(text: String, k: Int = 8, window: Int = 16): Array[Long] = {
    val s = text.toLowerCase
    def polyHash(str: CharSequence, from: Int, until: Int): Long = {
      var h = 0
      var i = from
      while (i < until) { h = 31 * h + str.charAt(i); i += 1 }
      h.toLong
    }
    if (s.length < k) return Array(polyHash(s, 0, s.length))
    val grams = Array.tabulate(s.length - k + 1)(i => polyHash(s, i, i + k))
    if (grams.length <= window) Array(grams.min)
    else slidingMins(grams, window).distinct
  }

  /** O(n) sliding-window minima via a monotonic index deque — value-for-
    * value identical to `grams.sliding(window).map(_.min)` (which is
    * O(n·w) and visibly dominated q_fingerprints bench time).
    */
  private[operators] def slidingMins(grams: Array[Long], window: Int): Array[Long] = {
    val out = new Array[Long](grams.length - window + 1)
    val deque = new java.util.ArrayDeque[Int]()
    var i = 0
    while (i < grams.length) {
      while (!deque.isEmpty && grams(deque.peekLast()) > grams(i)) deque.pollLast()
      deque.addLast(i)
      if (deque.peekFirst() <= i - window) deque.pollFirst()
      if (i >= window - 1) out(i - window + 1) = grams(deque.peekFirst())
      i += 1
    }
    out
  }

  /** BPE-ish tokenizer: the GPT-2-style pre-tokenization regex (published
    * pattern: contractions, letter runs, digit runs, punctuation runs,
    * whitespace) — the standard proxy for LLM token counting when the
    * merges table isn't loaded.
    */
  private val bpePattern =
    java.util.regex.Pattern.compile("""'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+(?!\S)|\s+""")

  def bpeishTokenCount(text: String): Int = {
    val m = bpePattern.matcher(text)
    var n = 0
    while (m.find()) n += 1
    n
  }

  /** Token counting table: whitespace tokens (SQL-shared arithmetic in
    * qualitySql) + the BPE-ish regex count per document.
    */
  def tokenCounts(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) => (id, tokens(t).length.toLong, bpeishTokenCount(t).toLong) }
      .toDF("doc_id", "n_tokens_ws", "n_tokens_bpe")
  }

  def jaccard(a: Array[String], b: Array[String]): Double = {
    val sa = a.toSet; val sb = b.toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
  }

  // ---- operators ----------------------------------------------------------

  /** Exact dedup: hash-groupBy on content (md5 shared with the oracle).
    * One representative row (min doc_id) + duplicate count per content.
    */
  def exactDedup(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min("doc_id").as("rep_doc_id"), count(lit(1)).as("n_dups"))

  case class DocSketch(doc_id: Long, minhashes: Seq[Long])

  /** MinHash-LSH near-dup candidate pairs verified by exact shingle
    * Jaccard ≥ `threshold`. Sketch phase is a map; banding shuffles on
    * (band, bandHash); verification joins text back for the (few)
    * candidate pairs only.
    */
  def minhashDedup(documents: DataFrame, threshold: Double = 0.7,
                   maxBucket: Int = 10000): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val rows = NumMinHashes / Bands

    val sketches = documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) => DocSketch(id, minHashes(text).toSeq) }

    // bucket key is the band's minhash slice ITSELF (collision-free and
    // directly comparable in the DuckDB oracle — no band-hash function).
    // The cap never triggers at fixture scale.
    val buckets = sketches.flatMap { s =>
      (0 until Bands).iterator.map { b =>
        (b, s.minhashes.slice(b * rows, (b + 1) * rows), s.doc_id)
      }
    }.toDF("band", "key", "id")
      .select(col("band"), col("key"), struct(col("id")).as("member"))
    val pairs = Lsh.bandedPairs(buckets, maxBucket)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()

    val texts = documents.select(col("doc_id"), col("text"))
    pairs
      .join(texts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("text", "text_a"), Seq("doc_a"))
      .join(texts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("text", "text_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("text_a"), col("text_b"))
      .as[(Long, Long, String, String)]
      .map { case (a, b, ta, tb) => (a, b, jaccard(tokenShingles(ta), tokenShingles(tb))) }
      .toDF("doc_a", "doc_b", "jaccard")
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** SimHash near-dup: 64-bit sketches bucketed by 4 16-bit bands (any pair
    * within Hamming distance 3 shares ≥1 band — pigeonhole), then exact
    * Hamming verification ≤ `maxHamming`. `maxBucket` caps a (band,
    * bandVal) bucket as in [[Lsh.bandedPairs]]; the default never
    * triggers at fixture scale.
    */
  def simhashDedup(documents: DataFrame, maxHamming: Int = 3,
                   maxBucket: Int = 10000): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val sketches = documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) => (id, simHash(t)) }
      .toDF("doc_id", "simhash")

    val buckets = sketches.select(
      struct(col("doc_id").as("id"), col("simhash").as("sim")).as("member"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), expr(s"(simhash >> ${b * 16}) & 65535").as("key"))): _*)).as("bd"))
      .select(col("bd.band"), col("bd.key"), col("member"))
    Lsh.bandedPairs(buckets, maxBucket)
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .distinct()
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Language-ID: stopword-profile scoring over tokens (n-gram heuristic).
    * Returns (doc_id, lang_pred, score).
    */
  val langProfiles: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "a", "in", "is", "it", "for", "on"),
    "de" -> Set("der", "die", "und", "das", "ist", "ein", "zu", "mit", "auf", "von"),
    "fr" -> Set("le", "la", "et", "les", "des", "un", "une", "est", "pour", "que"),
    "es" -> Set("el", "los", "y", "de", "la", "que", "es", "un", "una", "por"))

  def langId(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val ts = tokens(text)
        val scores = langProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
          (lang, if (ts.isEmpty) 0.0 else ts.count(words.contains).toDouble / ts.length)
        }
        val best = scores.maxBy(s => (s._2, s._1))
        (id, if (best._2 > 0) best._1 else "und", best._2)
      }
      .toDF("doc_id", "lang_pred", "score")
  }

  /** Quality scoring with SQL-shared arithmetic (length / punctuation /
    * whitespace ratios) — the oracle runs the identical expressions.
    */
  val qualitySql: Seq[(String, String)] = Seq(
    "n_chars_obs" -> "CAST(length(text) AS BIGINT)",
    "n_tokens" -> "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)",
    "punct_ratio" -> "round((length(text) - length(replace(replace(replace(text, '.', ''), ',', ''), '!', ''))) * 1e0 / length(text), 6)",
    "space_ratio" -> "round((length(text) - length(replace(text, ' ', ''))) * 1e0 / length(text), 6)")

  def quality(documents: DataFrame): DataFrame =
    qualitySql.foldLeft(documents.select(col("doc_id"), col("text"), col("lang"))) {
      case (df, (name, sql)) => df.withColumn(name, expr(sql))
    }.drop("text")

  /** Winnowing fingerprint table (doc_id, fp) — exploded fingerprint set,
    * the shared-substring dedup primitive.
    */
  def fingerprintTable(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) => fingerprints(t).iterator.map(fp => (id, fp)) }
      .toDF("doc_id", "fp")
  }
}
