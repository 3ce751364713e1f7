package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TopoPipeline

class HarnessSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-spec")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def pagesFingerprint(seed: Long, partitions: Int): Long =
    PipTiles.pages(spark.range(0, 5000, 1, partitions).toDF(), seed)
      .select(sum(xxhash64(col("url"), col("lang"), col("lon"), col("lat")).cast("decimal(38,0)")))
      .head().getDecimal(0).longValue()

  private def gridFingerprint(seed: Long): Long =
    Topology.grid(spark, 4, 5, seed)
      .select(sum(xxhash64(col("objId"), col("wkb")).cast("decimal(38,0)"))).head().getDecimal(0).longValue()

  private def snapshotFingerprint(seed: Long): Long = {
    val g = SnapshotMerge.Gen(seed)
    (0L until 2000L).map(id => SnapshotMerge.rowHash(g.row(id, 0))).sum
  }

  test("the same seed gives the same inputs, whatever the partitioning") {
    assert(pagesFingerprint(1, 3) == pagesFingerprint(1, 7))
    assert(gridFingerprint(1) == gridFingerprint(1))
    assert(NearDup.Corpus(1).fingerprint == NearDup.Corpus(1).fingerprint)
    assert(snapshotFingerprint(1) == snapshotFingerprint(1))
  }

  test("a different seed changes every workload's inputs") {
    assert(pagesFingerprint(1, 4) != pagesFingerprint(2, 4))
    assert(gridFingerprint(1) != gridFingerprint(2))
    assert(NearDup.Corpus(1).fingerprint != NearDup.Corpus(2).fingerprint)
    assert(snapshotFingerprint(1) != snapshotFingerprint(2))
  }

  test("planted near-duplicates are known and within the thresholds") {
    val c = NearDup.Corpus(3)
    val text = c.docs.toMap
    assert(c.plantedDocPairs.size == NearDup.PlantedDocs)
    c.plantedDocPairs.foreach { case (a, b) =>
      val j = graft.operators.TextOps.jaccard(
        graft.operators.TextOps.tokenShingles(text(a)), graft.operators.TextOps.tokenShingles(text(b)))
      assert(j >= NearDup.JaccardMin, s"planted pair ($a, $b) has Jaccard $j")
    }
    val vec = c.vecs.toMap
    c.plantedVecPairs.foreach { case (a, b) => assert(NearDup.cosine(vec(a), vec(b)) >= NearDup.CosineMin) }
  }

  test("tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 11).map(_.toDouble)).contains((100.0 / 11, 1.0, 11)))
    val (p, v, n) = Stats.tail(scala.util.Random.shuffle((1 to 200).map(_.toDouble))).get
    assert(p == 95.0 && v == 190.0 && n == 200)
    val xs = (1 to 37).map(_.toDouble)
    val (_, v37, _) = Stats.tail(xs).get
    assert(xs.count(_ > v37) == 10)
  }

  test("median and the seeded draws") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert((0 until 1000).forall { k => val u = Stats.unit(k); u >= 0 && u < 1 })
    assert((0 until 1000).forall { k => val b = Stats.below(Stats.mix(k.toLong), 7); b >= 0 && b < 7 })
  }

  test("self time is the span minus what its children cover") {
    def s(id: Int, a: Long, b: Long, parent: Int) = Span(id, s"s$id", a, b, parent, "r")
    val spans = Seq(
      s(0, 0, 100, -1),
      s(1, 10, 30, 0), s(2, 20, 50, 0), // overlapping children count once: 10..50
      s(3, 70, 80, 0),
      s(4, 90, 120, 0), // runs past its parent: only 90..100 is covered
      s(5, 12, 18, 1)) // a grandchild is its parent's, not the root's
    val self = Trace.selfTimes(spans)
    assert(self(0) == 100 - 40 - 10 - 10)
    assert(self(1) == 20 - 6)
    assert(self(5) == 6)
    assert(self(4) == 30)
  }

  test("a composite sums a metric its parts both report and keeps the rest") {
    val merged = Composite.merge(Seq(
      Map("sources.scan_s" -> 0.5, "topo.build_s" -> 2.0),
      Map("sources.scan_s" -> 0.25, "neardup.embed_s" -> 1.0)))
    assert(merged == Map("sources.scan_s" -> 0.75, "topo.build_s" -> 2.0, "neardup.embed_s" -> 1.0))
  }

  test("a tracer records parents and a disabled tracer records nothing") {
    val t = new Tracer(true, "r")
    t.span("a") { t.span("b")(()); t.span("c")(()) }
    assert(t.recorded.map(s => (s.name, s.parent)) == Seq(("a", -1), ("b", 0), ("c", 0)))
    val off = new Tracer(false, "r")
    assert(off.span("a")(42) == 42 && off.recorded.isEmpty)
  }

  test("topology closed form matches TopoPipeline on a small grid") {
    for (g <- Seq(2, 3)) {
      val t = TopoPipeline.topology(Topology.grid(spark, g, 6, 5), Topology.SimplifyDigits, Topology.Quantize)
      val want = Topology.expected(g)
      assert(t.arcs.count() == want.arcs)
      assert(t.uses.count() == want.uses)
      import spark.implicits._
      val pts = t.arcs.groupBy(size(col("pts"))).count().as[(Int, Long)].collect().toMap
      assert(pts == want.pointsPerArc)
      t.release()
    }
    assert(Topology.expected(20).arcs == 836 && Topology.expected(20).uses == 1596)
  }

  test("BENCHMARK.json declares exactly the metrics the harness prints") {
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    def names(section: String): Seq[String] = {
      val body = json.split("\"" + section + "\"")(1).split("]")(0)
      "\"name\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSeq
    }
    assert(names("end_to_end") == Main.EndToEnd.map(_._1))
    assert(names("per_layer") == Main.PerLayer.map(_._1))
    assert(names("workloads") == Main.Workloads)
  }
}
