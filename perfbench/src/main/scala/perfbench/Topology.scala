package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geom.Jts
import graft.operators.TopoPipeline

/** Shared-arc topology of a G×G grid of unit squares whose edges are
  * subdivided into S points: every interior edge is a full vertex chain
  * shared by two objects, so junction cutting and arc dedup do real
  * volume, and the result has a closed form. One operation is one
  * `TopoPipeline.topology` build with simplify and quantize on.
  */
class Topology(ctx: Ctx) extends Workload {
  import Topology._
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private var path: String = _

  def setup(): Unit = {
    path = ctx.work.resolve(s"grid-${System.nanoTime()}").toString
    grid(spark, Grid, Segments, ctx.seed).write.parquet(path)
  }

  private def features(): DataFrame = spark.read.parquet(path)

  /** Uses, and arcs by point count before and after quantization. */
  type Out = (Long, Map[Int, Long], Map[Int, Long])

  def run(): Out = {
    val t = TopoPipeline.topology(features(), SimplifyDigits, Quantize)
    try (t.uses.count(),
      t.arcs.groupBy(size(col("pts")).as("n")).count().as[(Int, Long)].collect().toMap,
      t.arcsQ.get.groupBy(size(col("qpts")).as("n")).count().as[(Int, Long)].collect().toMap)
    finally t.release()
  }

  /** Checks arcs, uses and points per arc against the closed form. */
  def check(out: Out): OpResult = {
    val (uses, pts, qpts) = out
    val arcs = pts.values.sum
    val want = expected(Grid)
    OpResult(Grid.toLong * Grid, Seq(
      if (arcs != want.arcs) Some(s"topology: $arcs arcs, expected ${want.arcs}") else None,
      if (uses != want.uses) Some(s"topology: $uses uses, expected ${want.uses}") else None,
      if (pts != want.pointsPerArc) Some(s"topology: points per arc $pts, expected ${want.pointsPerArc}") else None,
      if (qpts != want.pointsPerArc) Some(s"topology: quantized points per arc $qpts, expected ${want.pointsPerArc}") else None,
    ).flatten)
  }

  def tracedOp(): Traced = {
    val f = features()
    val (_, t1, r1) = ctx.call("sources")(ctx.noop(f))
    val (_, t2, r2) = ctx.call("topo.rings")(ctx.noop(TopoPipeline.rings(f)))
    val (_, t3, r3) = ctx.call("topo.build") {
      val t = TopoPipeline.topology(f, 0, 0)
      try { t.arcs.count(); t.uses.count() } finally t.release()
    }
    val (out, t4, r4) = ctx.call("topo.simplify_quantize")(run())
    val samples = Map(
      "sources.scan_s" -> t1,
      "topo.rings_s" -> (t2 - t1),
      "topo.build_s" -> (t3 - t2),
      "topo.simplify_quantize_s" -> (t4 - t3),
      "topo.shuffle_bytes_per_point" -> r4.shuffleWriteBytes.toDouble / inputPoints,
      "topo.spill_bytes" -> r4.spillBytes.toDouble,
      "topo.jobs" -> r4.jobs.toDouble,
    ) ++ Main.runtimeMetrics("sources", r1) ++ Main.runtimeMetrics("topo", r4 - r1)
    Traced(samples, check(out))
  }
}

object Topology {
  val Grid = 20
  val Segments = 16
  val SimplifyDigits = 3
  val Quantize = 1e6
  /** Jitter across an edge stays below the simplify tolerance (1e-3), so
    * simplification removes every subdivision point of a straight edge.
    */
  val Jitter = 4e-4

  def inputPoints: Long = Grid.toLong * Grid * 4 * Segments

  case class Expected(arcs: Long, uses: Long, pointsPerArc: Map[Int, Long])

  /** Closed form. Junctions are the grid corners, so arcs are the grid
    * edges, except at the four outer corners of the grid: those are
    * degree-1 points of a single ring, so the two boundary edges meeting
    * there form one arc and that ring uses one arc fewer. After
    * simplification a straight arc keeps its 2 ends and each of the four
    * corner arcs keeps its corner too.
    */
  def expected(g: Int): Expected = {
    val arcs = 2L * g * (g + 1) - 4
    Expected(arcs, 4L * g * g - 4, Map(2 -> (arcs - 4), 3 -> 4L))
  }

  /** The grid as (objId, wkb, bbox). Every edge is generated once from its
    * low corner, with a seeded jitter across the edge on each subdivision
    * point, and reversed as a list where a ring walks it the other way, so
    * the two rings sharing an edge have bit-identical coordinates.
    */
  def grid(spark: SparkSession, g: Int, s: Int, seed: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, g.toLong * g, 1L, spark.sparkContext.defaultParallelism).map { n =>
      val i = (n % g).toInt
      val j = (n / g).toInt
      def jit(kind: Long, x0: Int, y0: Int, k: Int): Double =
        if (k == 0 || k == s) 0.0
        else (Stats.unit(Stats.mix(seed, kind, Stats.mix(x0.toLong, y0.toLong, k.toLong))) * 2 - 1) * Jitter
      def hEdge(x0: Int, y0: Int): IndexedSeq[(Double, Double)] =
        (0 to s).map(k => (x0 + k.toDouble / s, y0 + jit(0, x0, y0, k)))
      def vEdge(x0: Int, y0: Int): IndexedSeq[(Double, Double)] =
        (0 to s).map(k => (x0 + jit(1, x0, y0, k), y0 + k.toDouble / s))
      val ring =
        hEdge(i, j).dropRight(1) ++
          vEdge(i + 1, j).dropRight(1) ++
          hEdge(i, j + 1).reverse.dropRight(1) ++
          vEdge(i, j).reverse.dropRight(1)
      (n, Jts.toWkb(Jts.polygon(ring :+ ring.head)), i - Jitter, j - Jitter, i + 1 + Jitter, j + 1 + Jitter)
    }.toDF("objId", "wkb", "minx", "miny", "maxx", "maxy")
      .select(col("objId"), col("wkb"),
        struct(col("minx"), col("miny"), col("maxx"), col("maxy")).as("bbox"))
  }
}
