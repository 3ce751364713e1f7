package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.cells.Cell
import graft.sources.{Fixtures, SnapshotTable}

/** Writes beside reads: a seeded pages table is committed as a snapshot
  * table partitioned by a coarse cell key, then changesets of upserts and
  * deletes, skewed toward a few hot cells, are merged one after another.
  * One operation is one changeset: `SnapshotTable.merge`, then a
  * read-after-write check of the new snapshot against the table the
  * generator expects.
  */
class SnapshotMerge(ctx: Ctx) extends Workload {
  import SnapshotMerge._
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val gen = Gen(ctx.seed)

  private var base: String = _
  // the table the generator expects: live id → version, row count, content hash
  private val versions = mutable.LongMap[Int]()
  private var nextId = 0L
  private var expectedHash = 0L
  private var livePayload = 0L
  private var seq = 0L
  private val hotIds = mutable.ArrayBuffer[Long]()

  private val mergeMs = mutable.ArrayBuffer[Double]()
  private val rewritten = mutable.ArrayBuffer[(Int, Int, Long)]() // (rewritten, partitions, bytes)
  private var changedBytes = 0L
  private var commitS = 0.0

  private var input: String = _

  def setup(): Unit = {
    input = ctx.work.resolve(s"input-${System.nanoTime()}").toString
    val g = gen
    spark.range(0L, BaseRows, 1L, ctx.cores).as[Long].map(id => g.row(id, 0))
      .repartition(ctx.cores, col("cell")).write.parquet(input)
    versions.clear(); hotIds.clear(); mergeMs.clear(); rewritten.clear()
    expectedHash = 0L; livePayload = 0L; seq = 0L; changedBytes = 0L
    (0L until BaseRows).foreach(addRow(_, 0))
    nextId = BaseRows
  }

  /** Commits the generated table into an empty table directory. */
  override def load(): Unit = {
    base = ctx.work.resolve("table").toString
    commitS = ctx.call("snapshot.commit")(SnapshotTable.commit(spark.read.parquet(input), base, Table, PartCol))._2
  }

  private def addRow(id: Long, v: Int): Unit = {
    val r = gen.row(id, v)
    versions(id) = v
    expectedHash += rowHash(r)
    livePayload += payload(r)
    if (gen.hotCells.contains(r.cell) && v == 0) hotIds += id
  }

  private def dropRow(id: Long): Long = {
    val r = gen.row(id, versions(id))
    versions.remove(id)
    expectedHash -= rowHash(r)
    livePayload -= payload(r)
    payload(r)
  }

  /** Changeset `c`: updates and deletes drawn mostly from hot cells, plus
    * inserts of new ids; a pure function of the seed, `c` and the table.
    */
  private def changeset(c: Long): (Seq[Long], Seq[Long], Seq[Long]) = {
    val picked = mutable.LinkedHashSet[Long]()
    var k = 0L
    while (picked.size < Updates + Deletes) {
      val key = Stats.mix(ctx.seed, c, k)
      val id =
        if (Stats.unit(key) < HotShare) hotIds(Stats.below(Stats.mix(key), hotIds.length))
        else java.lang.Math.floorMod(Stats.mix(key, 1L), nextId)
      if (versions.contains(id)) picked += id
      k += 1
    }
    val (upd, del) = picked.toSeq.splitAt(Updates)
    (upd, del, nextId until nextId + Inserts)
  }

  private def merge(): Long = {
    seq += 1
    val (upd, del, ins) = changeset(seq)
    val upRows = upd.map(id => gen.row(id, versions(id) + 1)) ++ ins.map(id => gen.row(id, 0))
    val t0 = System.nanoTime()
    val m = SnapshotTable.merge(spark, base, Table, PartCol, "url",
      upRows.toDS().toDF(), del.map(gen.url).toDF("url"), seq)
    mergeMs += (System.nanoTime() - t0) / 1e6
    upd.foreach { id => val v = versions(id); changedBytes += dropRow(id); addRow(id, v + 1) }
    ins.foreach { id => addRow(id, 0); changedBytes += payload(gen.row(id, 0)) }
    del.foreach(id => changedBytes += dropRow(id))
    nextId += Inserts
    val fresh = m.partitions.filter(_.path.contains(s"snapshot=${m.snapshot}"))
    rewritten += ((fresh.length, m.partitions.length, fresh.map(_.bytes).sum))
    upd.length + del.length + ins.length
  }

  /** Row count and order-independent content hash of the latest snapshot. */
  private def readBack(): (Long, Long) =
    SnapshotTable.read(spark, base, Table)
      .select("url", "warc_ts", "html", "text", "lang", "lon", "lat", PartCol).as[PageRow]
      .mapPartitions { it =>
        var n = 0L; var h = 0L
        it.foreach { r => n += 1; h += rowHash(r) }
        Iterator.single((n, h))
      }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  /** Changed rows, and the table read back after the merge. */
  type Out = (Long, (Long, Long))
  def run(): Out = (merge(), readBack())

  /** Read-after-write: the table read back must equal the expected one. */
  def check(out: Out): OpResult = {
    val (items, (n, h)) = out
    OpResult(items, Seq(
      if (n != versions.size) Some(s"snapshot_merge: read back $n rows, expected ${versions.size}") else None,
      if (h != expectedHash) Some(s"snapshot_merge: content hash differs after changeset $seq") else None,
    ).flatten)
  }

  def tracedOp(): Traced = {
    val (items, tm, rm) = ctx.call("snapshot.merge")(merge())
    val (read, tr, rr) = ctx.call("snapshot.read")(readBack())
    val samples = Map(
      "snapshot.merge_s" -> tm,
      "snapshot.read_s" -> tr,
      "snapshot.bytes_written" -> rewritten.last._3.toDouble,
    ) ++ Main.runtimeMetrics("snapshot", rm + rr)
    Traced(samples, check((items, read)))
  }

  private def liveStats(): (Double, Double) = {
    val m = SnapshotTable.latest(base, Table).get
    val files = m.partitions.map { p =>
      val s = Files.list(Paths.get(p.path))
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")) finally s.close()
    }.sum
    (m.partitions.map(_.bytes).sum.toDouble / livePayload, files.toDouble / m.partitions.length)
  }

  private def writeAmp: Double = rewritten.map(_._3).sum.toDouble / changedBytes

  override def layerCounts(): Map[String, Double] = {
    val firstK = rewritten.take(RewriteSample)
    val (bpu, fpp) = liveStats()
    Map(
      "snapshot.commit_s" -> commitS,
      "snapshot.merges" -> mergeMs.length.toDouble,
      "snapshot.merge_tail_ms" -> Stats.tail(mergeMs.toSeq).map(_._2).getOrElse(0.0),
      "snapshot.partitions_rewritten" -> firstK.map(_._1).sum.toDouble,
      "snapshot.partitions" -> firstK.map(_._2).sum.toDouble,
      "snapshot.rewrite_frac" -> firstK.map(_._1).sum.toDouble / firstK.map(_._2).sum,
      "snapshot.files_per_partition" -> fpp,
      "snapshot.write_amp" -> writeAmp,
      "snapshot.bytes_per_user_byte" -> bpu,
    )
  }

  override def report(): Seq[(String, Double, String)] = {
    val (bpu, _) = liveStats()
    Seq(("merge_p50_ms", Stats.median(mergeMs.toSeq), "ms")) ++
      Stats.tail(mergeMs.toSeq).map { case (p, v, n) => (f"merge_tail_ms(p$p%.1f,n=$n)", v, "ms") } ++
      Seq(("bytes_per_user_byte", bpu, "ratio"), ("write_amp", writeAmp, "ratio"))
  }

}

case class PageRow(url: String, warc_ts: Timestamp, html: Array[Byte], text: String, lang: String,
                   lon: Double, lat: Double, cell: Long)

object SnapshotMerge {
  val Table = "pages"
  val PartCol = "cell"
  val CellLevel = 3
  val BaseRows = 10000L
  val Updates = 160
  val Inserts = 40
  val Deletes = 40
  val HotShare = 0.95
  /** Merges over which rewrite_frac is taken: a fixed count, so the ratio
    * repeats exactly for a seed however many merges a run completes.
    */
  val RewriteSample = 3

  def rowHash(r: PageRow): Long =
    Stats.mix(Stats.mix(Stats.hashString(r.url), r.warc_ts.getTime, Stats.hashBytes(r.html)),
      Stats.mix(Stats.hashString(r.text), Stats.hashString(r.lang), r.cell),
      Stats.mix(java.lang.Double.doubleToLongBits(r.lon), java.lang.Double.doubleToLongBits(r.lat)))

  /** User payload bytes of a row: its field values, as a user would count them. */
  def payload(r: PageRow): Long =
    r.url.length + 8 + r.html.length + r.text.length + r.lang.length + 8 + 8 + 8

  /** Row contents as a pure function of (seed, id, version). */
  case class Gen(seed: Long) {
    private val cityCells = Fixtures.cities.map { case (_, lon, lat) => Cell.cellAt(lon, lat, CellLevel) }
    /** The hot cells: those holding the first three fixture cities. */
    val hotCells: Set[Long] = cityCells.take(3).toSet

    def url(id: Long): String = s"https://bench.test/snap/$id"

    def row(id: Long, version: Int): PageRow = {
      val u = (k: Long) => Stats.unit(Stats.mix(seed, k, id))
      // the base table: 60 % around the five cities, the rest anywhere;
      // inserted rows (ids past the base table) around the hot cities
      val inserted = id >= BaseRows
      val (lon, lat) =
        if (inserted || u(0) < 0.6) {
          val nCities = if (inserted) 3 else Fixtures.cities.length
          val (_, cx, cy) = Fixtures.cities(Stats.below(Stats.mix(seed, 1L, id), nCities))
          (cx + u(2) - 0.5, cy + u(3) - 0.5)
        } else (u(2) * 360 - 180, u(3) * 180 - 90)
      val words = Array.tabulate(30)(k => s"w${Stats.below(Stats.mix(seed, Stats.mix(id, version.toLong), k.toLong), 500)}")
      val text = words.mkString(" ")
      PageRow(url(id), new Timestamp((1704067200L + id + version * 86400L) * 1000L),
        s"<html><body>$text</body></html>".getBytes("UTF-8"), text,
        Seq("en", "de", "fr", "nl", "es")(Stats.below(Stats.mix(seed, 4L, id), 5)),
        lon, lat, Cell.cellAt(lon, lat, CellLevel))
    }
  }
}
