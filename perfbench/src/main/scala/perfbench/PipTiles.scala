package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.locationtech.jts.algorithm.locate.IndexedPointInAreaLocator
import org.locationtech.jts.geom.{Coordinate, GeometryFactory, Location}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory

import graft.cells.Cell
import graft.geom.Jts
import graft.operators.{Ingest, PipIndex, PipJoin, Tiling}
import graft.sources.Fixtures

/** The headline user pipeline: a seeded pages table is scanned from
  * parquet, joined point-in-polygon against the fixture admin and water
  * dims by `PipJoin.matchesIndexed`, and aggregated into zoom-10 tiles by
  * `Tiling.tileCounts`. One operation is one pass over the whole table.
  */
class PipTiles(ctx: Ctx) extends Workload {
  import PipTiles._
  import ctx.spark.implicits._
  private val spark = ctx.spark

  private var pagesPath: String = _
  private var polys: DataFrame = _
  private var covers: DataFrame = _
  private var sample: Array[(String, Double, Double)] = Array.empty
  private var expectedTiles: (Long, Long) = (-1L, 0L)

  /** A pass costs about a second warm, five cold: the first few passes
    * are still well above the steady state.
    */
  override def warmupOps: Int = 4

  def setup(): Unit = {
    if (polys != null) { polys.unpersist(); covers.unpersist() }
    pagesPath = ctx.work.resolve(s"pages-${System.nanoTime()}").toString
    pages(spark.range(0, Pages, 1, Files).toDF(), ctx.seed).write.parquet(pagesPath)
    polys = dims().cache()
    covers = Ingest.cellCovers(polys).cache()
    polys.count(); covers.count()
  }

  /** The fixture's admin polygons and water relation, as the OSM import
    * assembles them, plus the shapefile water polygon (ocean with an island
    * hole), as (relId, layer, wkb). Built from the fixture's ground-truth
    * rings: the import's own cost is not part of this workload.
    */
  private def dims(): DataFrame = {
    val admin = Fixtures.oracleDims.map { case (layer, relId, _, _, outer, holes) =>
      (relId, layer, Jts.toWkb(Jts.polygon(outer, holes)))
    }
    val Seq(ocean, island) = Fixtures.memberWaterRings
    val water = (WaterRelId, "water", Jts.toWkb(Jts.polygon(ocean, Seq(island))))
    (admin :+ water).toDF("relId", "layer", "wkb")
  }

  private def tableBytes: Long = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(pagesPath))
    try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(java.nio.file.Files.size).sum
    finally walk.close()
  }

  private def matches(): DataFrame =
    PipJoin.matchesIndexed(spark.read.parquet(pagesPath), covers, polys, Seq("lang", "lon", "lat"))

  private def tiles(m: DataFrame): Array[(Long, Long, Long, Long)] =
    Tiling.tileCounts(m.select("url", "lang", "lon", "lat"), TileZoom)
      .select("tx", "ty", "n_pages", "n_langs").as[(Long, Long, Long, Long)].collect()

  /** The tiles, and matchesIndexed's row count, observed in the same job. */
  type Out = (Array[(Long, Long, Long, Long)], Long)
  def run(): Out = {
    val obs = Observation()
    val ts = tiles(matches().observe(obs, count(lit(1)).as("rows")))
    (ts, obs.get("rows").asInstanceOf[Long])
  }

  /** Σ n_pages over tiles must equal the matched rows, and every pass must
    * give the same tiles as the first.
    */
  def check(out: Out): OpResult = {
    val (ts, matched) = out
    val sum = ts.map(_._3).sum
    val fp = (ts.length.toLong, ts.map { case (x, y, n, l) => Stats.mix(x, y, Stats.mix(n, l)) }.sum)
    if (expectedTiles._1 < 0) expectedTiles = fp
    OpResult(Pages, Seq(
      if (sum != matched) Some(s"pip_tiles: sum(n_pages)=$sum but matchesIndexed gave $matched rows") else None,
      if (fp != expectedTiles) Some(s"pip_tiles: tile table differs from the first pass") else None,
    ).flatten)
  }

  /** matchesIndexed's rows for a seeded page sample against a brute-force
    * JTS check. The probe is row-wise, so running it over the sample alone
    * gives that sample's rows of the full join.
    */
  override def gate(): Seq[String] = {
    val samplePages = spark.read.parquet(pagesPath)
      .where(pmod(xxhash64(col("url"), lit(ctx.seed)), lit(SampleEvery)) === 0)
      .select("url", "lon", "lat").cache()
    sample = samplePages.as[(String, Double, Double)].collect().sortBy(_._1)
    val got = PipJoin.matchesIndexed(samplePages, covers, polys)
      .select("url", "layer", "relId").as[(String, String, Long)].collect().toSet
    samplePages.unpersist()
    val want = bruteForce()
    if (got == want) Nil
    else Seq(s"pip_tiles: matchesIndexed disagrees with brute-force JTS on the " +
      s"${sample.length}-page sample: ${(got -- want).size} extra, ${(want -- got).size} missing")
  }

  /** Point-in-polygon by plain JTS over every polygon that has a cover
    * (only those are reachable through the cell index).
    */
  private def bruteForce(): Set[(String, String, Long)] = {
    val covered = covers.select("relId").distinct().as[Long].collect().toSet
    val gf = new GeometryFactory()
    val ps = polys.select("relId", "layer", "wkb").as[(Long, String, Array[Byte])].collect()
      .filter(p => covered(p._1))
      .map { case (id, layer, wkb) => (id, layer, PreparedGeometryFactory.prepare(Jts.fromWkb(wkb))) }
    sample.iterator.flatMap { case (url, lon, lat) =>
      val pt = gf.createPoint(new Coordinate(lon, lat))
      ps.iterator.filter(_._3.contains(pt)).map(p => (url, p._2, p._1))
    }.toSet
  }

  /** The index matchesIndexed builds, rebuilt from the same public parts. */
  private def index(): PipIndex = {
    val coverArr = covers.select("relId", "layer", "cellId").as[(Long, String, Long)].collect()
    val polyMap = polys.select("relId", "wkb").as[(Long, Array[Byte])].collect().toMap
    PipIndex.build(coverArr.filter(c => polyMap.contains(c._1)), polyMap)
  }

  def tracedOp(): Traced = {
    val (m, tIdx, rIdx) = ctx.call("pipindex")(matches())
    // prefixes keep only the columns the tile aggregation reads, as column
    // pruning does for the whole pipeline; otherwise they do more work
    val used = Seq("lang", "lon", "lat").map(col)
    val (_, t1, r1) = ctx.call("sources")(ctx.noop(spark.read.parquet(pagesPath).select(used: _*)))
    val (_, t2, r2) = ctx.call("pipjoin")(ctx.noop(m.select(used: _*)))
    val obs = Observation()
    val (ts, t3, r3) = ctx.call("tiling")(tiles(m.observe(obs, count(lit(1)).as("rows"))))
    val samples = Map(
      "pipindex.build_s" -> tIdx,
      "sources.scan_s" -> t1,
      "sources.scan_bytes_per_page" -> tableBytes.toDouble / Pages,
      "pipjoin.probe_s" -> (t2 - t1),
      "tiling.agg_s" -> (t3 - t2),
      "tiling.shuffle_bytes" -> (r3.shuffleWriteBytes - r2.shuffleWriteBytes).toDouble,
      "tiling.tiles_out" -> ts.length.toDouble,
    ) ++ Main.runtimeMetrics("pipindex", rIdx) ++ Main.runtimeMetrics("sources", r1) ++
      Main.runtimeMetrics("pipjoin", r2 - r1) ++ Main.runtimeMetrics("tiling", r3 - r2)
    Traced(samples, check((ts, obs.get("rows").asInstanceOf[Long])))
  }

  override def layerCounts(): Map[String, Double] = {
    val idx = index()
    val p = ProbeCounts.of(idx, sample.map(s => (s._2, s._3)))
    val bytes = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bytes)
    oos.writeObject(idx); oos.close()
    val nPolys = covers.select("relId").distinct().count()
    Map(
      "pipindex.broadcast_bytes" -> bytes.size().toDouble,
      "cells.cover_cells_per_polygon" -> covers.count().toDouble / nPolys,
      "pipjoin.sample_pages" -> p.pages.toDouble,
      "pipjoin.sample_candidates" -> p.candidates.toDouble,
      "pipjoin.levels_stabbed_per_page" -> p.stabs.toDouble / p.pages,
      "pipjoin.candidates_per_page" -> p.candidates.toDouble / p.pages,
      "pipjoin.matches_per_page" -> p.matches.toDouble / p.pages,
      "pipjoin.refine_yield" -> p.matches.toDouble / p.candidates,
      "pipjoin.interior_stab_frac" -> p.interior.toDouble / p.candidates,
    )
  }
}

object PipTiles {
  val Pages = 600000L
  val Files = 4
  val TileZoom = 10
  /** One page in this many is in the gate's brute-force sample. */
  val SampleEvery = 300
  val WaterRelId = 1000001L
  val Langs = Seq("en", "de", "fr", "nl", "es")

  /** The pages table: 60 % of pages within ±0.5° of the five fixture
    * cities, the rest uniform over the globe. Each row depends only on its
    * id and the seed, so the table is the same however it is partitioned.
    */
  def pages(ids: DataFrame, seed: Long): DataFrame = {
    // seeded uniform draws in [0, 1), one column per stream, computed once
    val draws = ids.select(col("id") +: (0 to 4).map { k =>
      (pmod(xxhash64(col("id"), lit(seed), lit(k)), lit(1L << 30)) / lit((1L << 30).toDouble)).as(s"u$k")
    }: _*)
    def pick[A](xs: Seq[A]) = element_at(array(xs.map(lit): _*), (floor(col("u1") * xs.length) + 1).cast("int"))
    val clustered = col("u0") < 0.6
    draws.select(
      concat(lit("https://bench.test/page/"), col("id")).as("url"),
      element_at(array(Langs.map(lit): _*), (floor(col("u4") * Langs.length) + 1).cast("int")).as("lang"),
      when(clustered, pick(Fixtures.cities.map(_._2)) + col("u2") - 0.5)
        .otherwise(col("u2") * 360 - 180).as("lon"),
      when(clustered, pick(Fixtures.cities.map(_._3)) + col("u3") - 0.5)
        .otherwise(col("u3") * 180 - 90).as("lat"))
  }
}

/** PIP probe work counted from outside over a page sample, replaying the
  * probe's loop with the public index: every level of the cover band is
  * stabbed, every candidate is refined. A candidate is interior when its
  * stabbed cell lies strictly inside the polygon, so a true-hit filter
  * could emit it without a refine.
  */
case class ProbeCounts(pages: Long, stabs: Long, candidates: Long, matches: Long, interior: Long)

object ProbeCounts {
  def of(idx: PipIndex, points: Seq[(Double, Double)]): ProbeCounts = {
    val gf = new GeometryFactory()
    val geoms = idx.polys.map(p => Jts.fromWkb(p.wkb))
    val locators = geoms.map(g => new IndexedPointInAreaLocator(g))
    val prepared = geoms.map(g => PreparedGeometryFactory.prepare(g))
    var stabs, cands, hits, interior = 0L
    points.foreach { case (lon, lat) =>
      val leaf = Cell.leaf(lon, lat)
      val coord = new Coordinate(lon, lat)
      (idx.minLevel to idx.maxLevel).foreach { l =>
        stabs += 1
        val cell = Cell.parent(leaf, l)
        val os = idx.cellToOrdinals.get(cell)
        if (os != null) os.foreach { o =>
          cands += 1
          if (locators(o).locate(coord) == Location.INTERIOR) hits += 1
          val (x0, y0, x1, y1) = Cell.bounds(cell)
          val rect = gf.toGeometry(new org.locationtech.jts.geom.Envelope(x0, x1, y0, y1))
          if (prepared(o).containsProperly(rect)) interior += 1
        }
      }
    }
    ProbeCounts(points.length, stabs, cands, hits, interior)
  }
}
