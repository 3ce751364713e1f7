package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkTestBase
import graft.cells.Cell

/** Hostile-input hardening: real corpora contain empty documents,
  * punctuation-only text, and boundary/garbage coordinates. None of these
  * may crash an operator or emit rows that violate its contract.
  */
class EdgeCaseSpec extends SparkTestBase {
  import spark.implicits._

  private val weirdDocs = Seq(
    (1L, ""),                          // empty
    (2L, "   \t\n  "),                 // whitespace only
    (3L, "!!! ??? ... ---"),           // punctuation only
    (4L, "word"),                      // single token (< shingle length)
    (5L, "a b"),                       // two tokens
    (6L, "x " * 5000)                  // long repetitive
  ).toDF("doc_id", "text")

  test("text operators survive degenerate documents") {
    val tok = TextOps.tokenCounts(weirdDocs).collect()
    assert(tok.length == 6)
    val fp = TextOps.fingerprintTable(weirdDocs).collect()
    assert(fp.nonEmpty) // every doc gets >= 1 fingerprint (short-doc path)
    val pairs = Clusters.jaccardPairs(weirdDocs, 0.3).collect()
    // sub-shingle-length docs have empty shingle sets -> never paired
    assert(!pairs.exists(r => r.getLong(0) <= 5L && r.getLong(1) <= 5L || r.getLong(0) == 4L))
    val clusters = Clusters.nearDupClusters(weirdDocs, 0.3).collect()
    assert(clusters.length == 6, "every doc labeled, empty ones as singletons")
    val lang = TextOps.langId(weirdDocs).collect()
    assert(lang.length == 6)
  }

  test("sketch dedup survives degenerate documents; token-free docs pair trivially") {
    // docs 1 (empty) and 2 (whitespace-only) have zero tokens: both
    // minhash over the single degenerate shingle "" and simhash 0 — they
    // must collide and verify (jaccard({""},{""}) = 1, hamming 0), not crash.
    // Doc 7 is repeated: a repeated id must never pair with itself.
    val docs = weirdDocs.union(Seq.fill(2)((7L, "one repeated document body")).toDF("doc_id", "text"))
    val mh = TextOps.minhashDedup(docs, 0.7)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(mh.contains((1L, 2L)), s"token-free docs must minhash-pair; got $mh")
    assert(!mh.exists(p => p._1 == p._2), s"minhash self-pair: $mh")
    val sh = TextOps.simhashDedup(docs, 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    assert(sh.exists(r => r._1 == 1L && r._2 == 2L && r._3 == 0))
    assert(!sh.exists(r => r._1 == r._2), s"simhash self-pair: ${sh.toSeq}")
    // zero vectors: cosine is defined as 0.0 (not a DIVIDE_BY_ZERO crash
    // under ANSI mode, not NaN — which Spark orders ABOVE every number,
    // so a NaN would slip through the >= threshold filter)
    val blocked = Similarity.embeddingDedupBlocked(
      Seq((1L, Seq.fill(8)(0.0f)), (2L, Seq.fill(8)(0.0f)), (3L, Seq.tabulate(8)(_.toFloat)))
        .toDF("vec_id", "embedding"), 0.4)
    assert(!blocked.collect().exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
    // a repeated vec_id fails loudly on the broadcast verify, never
    // collapsing to one of its vectors
    val repeated = Seq((4L, Seq.tabulate(8)(_.toFloat)), (4L, Seq.tabulate(8)(i => -i.toFloat)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException](
      Similarity.embeddingDedupBlocked(repeated, 0.4, verifyBroadcastBytes = Long.MaxValue))
    assert(e.getMessage.contains("vec_id must be unique"))
  }

  test("cell math at the poles, dateline, and garbage coordinates") {
    // corners of the coordinate space: valid cells at every level
    for ((lon, lat) <- Seq((-180.0, -90.0), (180.0, 90.0), (0.0, 0.0),
      (-180.0, 90.0), (179.999999, -89.999999))) {
      val leaf = Cell.leaf(lon, lat)
      assert(Cell.level(leaf) == Cell.MaxLevel)
      val anc = Cell.ancestors(leaf, 0, 22)
      assert(anc.length == 23 && anc.forall(a => Cell.contains(a, leaf)))
    }
    // out-of-range and NaN clamp instead of throwing
    assert(Cell.level(Cell.leaf(500.0, 99.0)) == Cell.MaxLevel)
    assert(Cell.level(Cell.leaf(Double.NaN, Double.NaN)) == Cell.MaxLevel)
  }

  test("PIP join tolerates pages at the domain boundary") {
    val polys = Ingest.polygons(spark, graft.sources.Fixtures.nodesDf(spark),
      graft.sources.Fixtures.waysDf(spark), graft.sources.Fixtures.relationsDf(spark),
      graft.sources.Fixtures.blacklist).cache()
    val covers = Ingest.cellCovers(polys)
    val edgePages = Seq(
      ("p1", -180.0, -90.0), ("p2", 180.0, 90.0), ("p3", 0.0, 0.0),
      ("p4", 4.35, 50.85) // inside country 100
    ).toDF("url", "lon", "lat")
    val m = PipJoin.matches(edgePages, covers, polys).collect()
    assert(m.exists(_.getString(0) == "p4"), "interior point must match")
    assert(!m.exists(r => r.getString(0) == "p1" || r.getString(0) == "p2"))
  }

  test("tile assignment clamps out-of-range geocodes to edge tiles (no negative indices)") {
    val pages = Seq(
      ("in", 4.35, 50.85),
      ("lowlat", 0.0, -90.5), ("highlat", 0.0, 90.5),
      ("lowlon", -180.5, 0.0), ("highlon", 180.5, 0.0)
    ).toDF("url", "lon", "lat")
    val t = Tiling.assign(pages, 10).select("url", "tx", "ty").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    t.values.foreach { case (tx, ty) =>
      assert(tx >= 0 && tx < 1024 && ty >= 0 && ty < 1024, s"tile out of grid: $t")
    }
    assert(t("lowlat")._2 == 0 && t("highlat")._2 == 1023)
    assert(t("lowlon")._1 == 0 && t("highlon")._1 == 1023)
  }

  test("PIP strategies survive an empty cover table (zero matches, no NPE)") {
    val polys = Ingest.polygons(spark, graft.sources.Fixtures.nodesDf(spark),
      graft.sources.Fixtures.waysDf(spark), graft.sources.Fixtures.relationsDf(spark),
      graft.sources.Fixtures.blacklist)
    val covers = Ingest.cellCovers(polys).filter(col("relId") < 0) // empty
    val pages = Seq(("p", 4.35, 50.85)).toDF("url", "lon", "lat")
    assert(PipJoin.matches(pages, covers, polys).count() == 0)
    assert(PipJoin.matchesPartitioned(pages, covers, polys).count() == 0)
    assert(PipJoin.matchesIndexed(pages, covers, polys).count() == 0)
  }

  test("matchesIndexed drops cover rows whose relation is absent from polygons, like matches") {
    val polys = Ingest.polygons(spark, graft.sources.Fixtures.nodesDf(spark),
      graft.sources.Fixtures.waysDf(spark), graft.sources.Fixtures.relationsDf(spark),
      graft.sources.Fixtures.blacklist).cache()
    val covers = Ingest.cellCovers(polys) // full cover set
    val onlyCountries = polys.filter(col("layer") === "countries")
    val pages = Seq(("p", 4.35, 50.85)).toDF("url", "lon", "lat")
    val viaJoin = PipJoin.matches(pages, covers, onlyCountries)
      .select("url", "layer", "relId").collect().toSet
    val viaIndex = PipJoin.matchesIndexed(pages, covers, onlyCountries)
      .select("url", "layer", "relId").collect().toSet
    assert(viaJoin == viaIndex)
    assert(viaJoin.nonEmpty)
  }
}
