package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.BoundedCollect
import graft.operators.{Similarity, TextOps}

/** Near-duplicate detection over a seeded corpus: minhash and simhash
  * dedup of documents, and banded sign-random-projection dedup of
  * embeddings. The corpus holds planted near-duplicate pairs (a base
  * document and a copy with one or two token edits; a vector and a
  * perturbed copy) and one boilerplate cluster larger than `maxBucket`,
  * whose buckets the operators must drop. One operation runs all three.
  */
class NearDup(ctx: Ctx) extends Workload {
  import NearDup._
  import ctx.spark.implicits._
  private val spark = ctx.spark

  private val corpus = Corpus(ctx.seed)
  private var docsPath: String = _
  private var embPath: String = _
  private var first: Option[Found] = None

  def setup(): Unit = {
    val tag = System.nanoTime()
    docsPath = ctx.work.resolve(s"docs-$tag").toString
    embPath = ctx.work.resolve(s"emb-$tag").toString
    corpus.docs.toSeq.toDF("doc_id", "text").repartition(ctx.cores).write.parquet(docsPath)
    corpus.vecs.toSeq.toDF("vec_id", "embedding").repartition(ctx.cores).write.parquet(embPath)
  }

  private def docs(): DataFrame = spark.read.parquet(docsPath)
  private def emb(): DataFrame = spark.read.parquet(embPath)

  private def minhash(): DataFrame = TextOps.minhashDedup(docs(), JaccardMin, MaxBucket)
  private def simhash(): DataFrame = TextOps.simhashDedup(docs(), MaxHamming, MaxBucket)
  private def embed(): DataFrame = Similarity.embeddingDedupBlocked(emb(), CosineMin)

  case class Found(mh: Array[(Long, Long, Double)], sh: Array[(Long, Long, Int)],
                   eb: Array[(Long, Long, Double)]) {
    def docPairs: Set[(Long, Long)] = mh.map(p => (p._1, p._2)).toSet ++ sh.map(p => (p._1, p._2))
    def vecPairs: Set[(Long, Long)] = eb.map(p => (p._1, p._2)).toSet
    def fingerprint: Long = (mh.map(p => Stats.mix(p._1, p._2)) ++ sh.map(p => Stats.mix(p._1, p._2)) ++
      eb.map(p => Stats.mix(p._1, p._2, 1L))).sum
  }

  private def textPairs(): (Array[(Long, Long, Double)], Array[(Long, Long, Int)]) =
    (minhash().as[(Long, Long, Double)].collect(), simhash().as[(Long, Long, Int)].collect())
  private def vecPairs(): Array[(Long, Long, Double)] = embed().as[(Long, Long, Double)].collect()

  /** Every returned pair must re-verify against its threshold, no pair may
    * come from the over-cap boilerplate cluster, and every operation must
    * return what the first one did.
    */
  def check(f: Found): OpResult = OpResult(corpus.docs.length + corpus.vecs.length, checkPairs(f))

  private def checkPairs(f: Found): Seq[String] = {
    val text = corpus.docs.toMap
    val vec = corpus.vecs.toMap
    val badMh = f.mh.filterNot { case (a, b, j) =>
      val exact = TextOps.jaccard(TextOps.tokenShingles(text(a)), TextOps.tokenShingles(text(b)))
      exact >= JaccardMin && math.abs(exact - j) <= 1e-6
    }
    val badSh = f.sh.filterNot { case (a, b, h) =>
      val exact = java.lang.Long.bitCount(TextOps.simHash(text(a)) ^ TextOps.simHash(text(b)))
      exact <= MaxHamming && exact == h
    }
    val badEb = f.eb.filterNot { case (a, b, c) =>
      val exact = cosine(vec(a), vec(b))
      exact >= CosineMin - 1e-6 && math.abs(exact - c) <= 1e-6
    }
    val boiler = f.docPairs.count { case (a, b) => corpus.isBoilerplate(a) && corpus.isBoilerplate(b) }
    if (first.isEmpty) first = Some(f)
    Seq(
      if (badMh.nonEmpty) Some(s"near_dup: ${badMh.length} minhash pairs fail re-verification") else None,
      if (badSh.nonEmpty) Some(s"near_dup: ${badSh.length} simhash pairs fail re-verification") else None,
      if (badEb.nonEmpty) Some(s"near_dup: ${badEb.length} embedding pairs fail re-verification") else None,
      if (boiler > 0) Some(s"near_dup: $boiler pairs from the over-cap boilerplate cluster") else None,
      if (first.get.fingerprint != f.fingerprint) Some("near_dup: pairs differ from the first operation") else None,
    ).flatten
  }

  type Out = Found
  def run(): Found = {
    val (mh, sh) = textPairs()
    Found(mh, sh, vecPairs())
  }

  def recall(f: Found): Double = {
    val foundDocs = corpus.plantedDocPairs.count(f.docPairs)
    val foundVecs = corpus.plantedVecPairs.count(f.vecPairs)
    (foundDocs + foundVecs).toDouble / (corpus.plantedDocPairs.size + corpus.plantedVecPairs.size)
  }

  override def report(): Seq[(String, Double, String)] = first.toSeq.flatMap { f =>
    Seq(("dedup_recall", recall(f), "ratio"),
      ("dedup_recall_minhash", corpus.plantedDocPairs.count(f.mh.map(p => (p._1, p._2)).toSet).toDouble /
        corpus.plantedDocPairs.size, "ratio"),
      ("dedup_recall_simhash", corpus.plantedDocPairs.count(f.sh.map(p => (p._1, p._2)).toSet).toDouble /
        corpus.plantedDocPairs.size, "ratio"),
      ("dedup_recall_embedding", corpus.plantedVecPairs.count(f.vecPairs).toDouble /
        corpus.plantedVecPairs.size, "ratio"))
  }

  /** Candidate pairs: rows out of the pair-dedup aggregate that feeds each
    * operator's verify, read from the executed plan.
    */
  private def candidates(df: DataFrame, key: String): Long =
    PlanMetrics.operators(df.queryExecution.executedPlan)
      .filter(o => o.name == "HashAggregate" && o.desc.contains(s"keys=[$key") && o.desc.contains("functions=[]"))
      .map(_.rowsOut).minOption.getOrElse(0L)

  /** Buckets: groups out of the final bucket-collect aggregate. */
  private def buckets(df: DataFrame): Long =
    PlanMetrics.operators(df.queryExecution.executedPlan)
      .filter(o => (o.desc.contains("bounded_collect(") || o.desc.contains("collect_list(")) &&
        !o.desc.contains("partial_"))
      .map(_.rowsOut).maxOption.getOrElse(0L)

  /** Per text operator, three prefixes of its pipeline: the sketch
    * (noop sink), the sketch bucketed with the same BoundedCollect
    * aggregate and cap (returning bucket count and largest bucket), and
    * the whole operator. Self times are the differences.
    */
  def tracedOp(): Traced = {
    val (_, tScan, rScan) = ctx.call("sources") { ctx.noop(docs()); ctx.noop(emb()) }
    val texts = () => docs().select("doc_id", "text").as[(Long, String)]
    val rows = TextOps.NumMinHashes / TextOps.Bands
    def mhSketch() = texts().map { case (id, t) => (id, TextOps.minHashes(t).toSeq) }.toDF("doc_id", "minhashes")
    def mhBuckets() = mhSketch().select(col("doc_id"), posexplode(expr(
      s"transform(sequence(0, ${TextOps.Bands - 1}), b -> slice(minhashes, b * $rows + 1, $rows))"))
      .as(Seq("band", "sig"))).groupBy("band", "sig")
      .agg(BoundedCollect.bounded_collect(col("doc_id"), MaxBucket).as("bc"))
    def shSketch() = texts().map { case (id, t) => (id, TextOps.simHash(t)) }.toDF("doc_id", "simhash")
    def shBuckets() = shSketch().select(col("doc_id"), col("simhash"), posexplode(expr(
      "transform(sequence(0, 3), b -> (simhash >> (b * 16)) & 65535)")).as(Seq("band", "bandVal")))
      .groupBy("band", "bandVal")
      .agg(BoundedCollect.bounded_collect(struct(col("doc_id"), col("simhash")), MaxBucket).as("bc"))
    def bucketStats(b: DataFrame) = b.agg(count(lit(1)), max("bc.n")).as[(Long, Long)].head()
    // collected through the DataFrames themselves: a typed view would plan
    // and run a separate query, leaving these plans without metrics
    def pairs[A: scala.reflect.ClassTag](df: DataFrame)(f: org.apache.spark.sql.Row => A) = (df, df.collect().map(f))

    // each call builds its DataFrame too: plan analysis is the layer's work
    val (_, t1m, _) = ctx.call("neardup.sketch")(ctx.noop(mhSketch()))
    val (bm, t2m, _) = ctx.call("neardup.candidate")(bucketStats(mhBuckets()))
    val ((mhDf, mh), t3m, r3m) = ctx.call("neardup.verify")(
      pairs(minhash())(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    val (_, t1s, _) = ctx.call("neardup.sketch")(ctx.noop(shSketch()))
    val (bsh, t2s, _) = ctx.call("neardup.candidate")(bucketStats(shBuckets()))
    val ((shDf, sh), t3s, r3s) = ctx.call("neardup.verify")(
      pairs(simhash())(r => (r.getLong(0), r.getLong(1), r.getInt(2))))
    val ((ebDf, eb), t4, r4) = ctx.call("neardup.embed")(
      pairs(embed())(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))

    val found = Found(mh, sh, eb)
    val cands = candidates(mhDf, "doc_a") + candidates(shDf, "doc_a") + candidates(ebDf, "vec_a")
    val verified = mh.length + sh.length + eb.length
    val full = r3m + r3s + r4
    val samples = Map(
      "sources.scan_s" -> tScan,
      "neardup.sketch_s" -> (t1m + t1s),
      "neardup.candidate_s" -> (t2m - t1m + t2s - t1s),
      "neardup.verify_s" -> (t3m - t2m + t3s - t2s),
      "neardup.embed_s" -> t4,
      "neardup.buckets" -> (buckets(mhDf) + buckets(shDf) + buckets(ebDf)).toDouble,
      "neardup.max_bucket" -> math.max(bm._2, bsh._2).toDouble,
      "neardup.candidates" -> cands.toDouble,
      "neardup.verified" -> verified.toDouble,
      "neardup.verify_yield" -> verified.toDouble / cands,
      "neardup.shuffle_bytes" -> full.shuffleWriteBytes.toDouble,
      "neardup.recall" -> recall(found),
    ) ++ Main.runtimeMetrics("sources", rScan) ++ Main.runtimeMetrics("neardup", full)
    Traced(samples, check(found))
  }
}

object NearDup {
  val BaseDocs = 2000
  val PlantedDocs = 200
  val MaxBucket = 100
  val BoilerplateDocs = 150 // > MaxBucket: its buckets are dropped whole
  val Vocabulary = 600
  val BaseVecs = 600
  val PlantedVecs = 60
  val Dim = 64
  val JaccardMin = 0.7
  val MaxHamming = 3
  val CosineMin = 0.9

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d, na, nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na) / math.sqrt(nb)
  }

  /** The seeded corpus, with its planted pairs known in advance. */
  case class Corpus(seed: Long) {
    private def word(k: Long): String = s"w${Stats.below(Stats.mix(seed, 7L, k), Vocabulary)}"
    private def baseText(i: Int): Array[String] = {
      val len = 40 + Stats.below(Stats.mix(seed, 1L, i.toLong), 40)
      Array.tabulate(len)(k => word(Stats.mix(i.toLong, k.toLong)))
    }
    /** Planted copy p of base doc p·(BaseDocs/PlantedDocs): 1 or 2 tokens
      * replaced, which keeps shingle Jaccard well above 0.7.
      */
    private def edited(p: Int): Array[String] = {
      val src = baseText(p * (BaseDocs / PlantedDocs))
      val edits = 1 + Stats.below(Stats.mix(seed, 2L, p.toLong), 2)
      val out = src.clone()
      (0 until edits).foreach { e =>
        val pos = Stats.below(Stats.mix(seed, 3L, Stats.mix(p.toLong, e.toLong)), out.length)
        out(pos) = s"edit$p$e"
      }
      out
    }
    private val boiler = Array.tabulate(50)(k => word(Stats.mix(-1L, k.toLong)))

    val docs: Array[(Long, String)] =
      (0 until BaseDocs).map(i => (i.toLong, baseText(i).mkString(" "))).toArray ++
        (0 until PlantedDocs).map(p => ((BaseDocs + p).toLong, edited(p).mkString(" "))) ++
        (0 until BoilerplateDocs).map(b => ((BaseDocs + PlantedDocs + b).toLong, boiler.mkString(" ")))
    val plantedDocPairs: Set[(Long, Long)] =
      (0 until PlantedDocs).map(p => ((p * (BaseDocs / PlantedDocs)).toLong, (BaseDocs + p).toLong)).toSet
    def isBoilerplate(id: Long): Boolean = id >= BaseDocs + PlantedDocs

    private def gauss(k: Long): Double = {
      val u1 = math.max(Stats.unit(Stats.mix(seed, 4L, k)), 1e-300)
      val u2 = Stats.unit(Stats.mix(seed, 5L, k))
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    }
    private def baseVec(i: Int): Array[Double] = Array.tabulate(Dim)(d => gauss(i.toLong * Dim + d))
    val vecs: Array[(Long, Array[Double])] =
      (0 until BaseVecs).map(i => (i.toLong, baseVec(i))).toArray ++
        (0 until PlantedVecs).map { p =>
          val src = baseVec(p * (BaseVecs / PlantedVecs))
          ((BaseVecs + p).toLong, Array.tabulate(Dim)(d => src(d) + 0.05 * gauss(-1L - (p.toLong * Dim + d))))
        }
    val plantedVecPairs: Set[(Long, Long)] =
      (0 until PlantedVecs).map(p => ((p * (BaseVecs / PlantedVecs)).toLong, (BaseVecs + p).toLong)).toSet

    /** Order-independent fingerprint of the whole input. */
    def fingerprint: Long =
      docs.map { case (id, t) => Stats.mix(id, Stats.hashString(t)) }.sum +
        vecs.map { case (id, v) => Stats.mix(id, v.map(java.lang.Double.doubleToLongBits).foldLeft(0L)(Stats.mix)) }.sum
  }
}
