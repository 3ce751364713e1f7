package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one operation of a workload did: items processed and the
  * correctness-gate failures it found (empty when it passed).
  */
case class OpResult(items: Long, failures: Seq[String])

/** A traced operation: per-layer samples and the gate result. */
case class Traced(samples: Map[String, Double], result: OpResult)

/** Everything a workload needs from the harness. */
class Ctx(val spark: SparkSession, val seed: Long, val work: Path,
          val collector: Collector, val tracer: Tracer) {
  val cores: Int = spark.sparkContext.defaultParallelism
  private var calls = 0
  private val groups = scala.collection.mutable.ArrayBuffer[String]()

  /** One call into `layer`: its own span and its own job group, so the
    * Spark tasks it runs are filed under it. Returns the result, the wall
    * seconds and the group's runtime totals.
    */
  def call[A](layer: String)(body: => A): (A, Double, TaskTotals) = {
    calls += 1
    val g = s"$layer#$calls"
    groups += g
    val t0 = System.nanoTime()
    val r = tracer.span(layer)(collector.within(g)(body))
    val secs = (System.nanoTime() - t0) / 1e9
    (r, secs, collector.group(g))
  }

  /** Runtime totals of every call made so far. */
  def allCalls: TaskTotals = groups.map(collector.group).foldLeft(TaskTotals())(_ + _)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** A workload: seeded inputs, one repeatable operation with a correctness
  * gate, and a traced variant of that operation that splits it by layer.
  */
trait Workload {
  /** Generates the inputs and builds what operations read; called several
    * times, each call replacing the previous inputs.
    */
  def setup(): Unit
  /** First write of the state operations work on, after the last set-up;
    * program work, so not part of set-up time.
    */
  def load(): Unit = ()
  /** What one operation's program calls return. */
  type Out
  /** One operation: the calls into the program, timed. */
  def run(): Out
  /** The operation's correctness gate, untimed. */
  def check(out: Out): OpResult
  /** Checks the program's output in depth; run once, after the warm-up. */
  def gate(): Seq[String] = Nil
  /** Untimed operations before the timed ones: a fixed count, so every
    * run's timed operations start at the same place on the JIT warm-up
    * curve, however fast the host is that minute.
    */
  def warmupOps: Int = 1
  /** One operation with each layer run as its own call: either a prefix
    * of the pipeline written to a noop sink, so a layer's self time is the
    * difference between consecutive prefixes, or a call that runs its own
    * jobs.
    */
  def tracedOp(): Traced
  /** Per-layer counts that do not depend on timing; computed once. */
  def layerCounts(): Map[String, Double] = Map.empty
  /** Workload-specific end-to-end figures for the printed table. */
  def report(): Seq[(String, Double, String)] = Nil
}

object Main {
  val SetupReps = 3
  /** Operations a run measures at the least, however long they take: with
    * a fixed floor every run's median sits at the same place on the JIT
    * warm-up curve, rather than moving with how many operations fit.
    */
  val MinOps = 2
  val Workloads = Seq("pip_tiles", "topo_neardup_snapshot")

  /** End-to-end metrics: name → unit. Every workload reports all of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "op_p50_ms" -> "ms", "peak_exec_mem_mb" -> "MB")

  val RuntimeLayers = Seq("sources", "pipindex", "pipjoin", "tiling", "topo", "neardup", "snapshot")

  /** Per-layer metrics: name → unit. A layer a workload does not call
    * reads 0 on that workload.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.scan_bytes_per_page" -> "B",
    "pipindex.build_s" -> "s", "pipindex.broadcast_bytes" -> "B",
    "pipjoin.probe_s" -> "s", "pipjoin.levels_stabbed_per_page" -> "count",
    "pipjoin.candidates_per_page" -> "count", "pipjoin.matches_per_page" -> "count",
    "pipjoin.refine_yield" -> "ratio", "pipjoin.interior_stab_frac" -> "ratio",
    "pipjoin.sample_pages" -> "count", "pipjoin.sample_candidates" -> "count",
    "cells.cover_cells_per_polygon" -> "count",
    "tiling.agg_s" -> "s", "tiling.shuffle_bytes" -> "B", "tiling.tiles_out" -> "count",
    "topo.rings_s" -> "s", "topo.build_s" -> "s", "topo.simplify_quantize_s" -> "s",
    "topo.shuffle_bytes_per_point" -> "B", "topo.spill_bytes" -> "B", "topo.jobs" -> "count",
    "neardup.sketch_s" -> "s", "neardup.candidate_s" -> "s", "neardup.verify_s" -> "s",
    "neardup.embed_s" -> "s", "neardup.buckets" -> "count", "neardup.max_bucket" -> "count",
    "neardup.candidates" -> "count", "neardup.verified" -> "count",
    "neardup.verify_yield" -> "ratio", "neardup.shuffle_bytes" -> "B", "neardup.recall" -> "ratio",
    "snapshot.commit_s" -> "s", "snapshot.merge_s" -> "s", "snapshot.read_s" -> "s",
    "snapshot.merges" -> "count", "snapshot.merge_tail_ms" -> "ms",
    "snapshot.rewrite_frac" -> "ratio", "snapshot.partitions_rewritten" -> "count",
    "snapshot.partitions" -> "count", "snapshot.bytes_written" -> "B",
    "snapshot.files_per_partition" -> "count", "snapshot.write_amp" -> "ratio",
    "snapshot.bytes_per_user_byte" -> "ratio",
  ) ++ RuntimeLayers.flatMap(l => Seq(s"$l.task_s" -> "s", s"$l.sched_delay_s" -> "s",
    s"$l.gc_s" -> "s", s"$l.stages" -> "count", s"$l.failed_tasks" -> "count")) ++ Seq(
    "runtime.core_util" -> "ratio", "trace.accounted_frac" -> "ratio", "trace.overhead_frac" -> "ratio")

  /** Runtime metrics of one layer call (or of a prefix difference). */
  def runtimeMetrics(layer: String, r: TaskTotals): Map[String, Double] = Map(
    s"$layer.task_s" -> r.taskMs / 1e3, s"$layer.sched_delay_s" -> r.schedDelayMs / 1e3,
    s"$layer.gc_s" -> r.gcMs / 1e3, s"$layer.stages" -> r.stages.toDouble,
    s"$layer.failed_tasks" -> r.failedTasks.toDouble)

  case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, buildDir: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(m.getOrElse("build-dir", ".bench_build")))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def session(buildDir: Path): SparkSession = {
    val cores = java.lang.Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // room for the generated classes of every part of a composite
      // workload: at the default 100 entries the parts evict each other's
      // classes and every operation recompiles its plans
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.local.dir", buildDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", buildDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "pip_tiles" => new PipTiles(ctx)
    case "topo_neardup_snapshot" => new Composite(Seq(
      "topology" -> new Topology(ctx), "near_dup" -> new NearDup(ctx),
      "snapshot_merge" -> new SnapshotMerge(ctx)))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val runId = s"${args.workload}-s${args.seed}-${ProcessHandle.current().pid()}"
    val work = args.buildDir.resolve("work").resolve(runId)
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = session(args.buildDir)
    val collector = new Collector(spark.sparkContext)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(args.trace, runId)
    val ctx = new Ctx(spark, args.seed, work, collector, tracer)
    val w = workload(args.workload, ctx)

    var attempted = 0
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    def attempt(r: => OpResult): Option[OpResult] = {
      attempted += 1
      try {
        val res = r
        if (res.failures.nonEmpty) failures += res.failures.mkString("; ")
        if (res.failures.isEmpty) Some(res) else None
      } catch {
        case e: Exception =>
          failures += s"${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }

    val out = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    try {
      // Set-up runs several times so its median is steady; each repetition
      // regenerates the inputs, and the operations read the last one.
      val setups = (1 to SetupReps).map { _ =>
        val s0 = System.nanoTime()
        collector.within("setup")(w.setup())
        (System.nanoTime() - s0) / 1e9
      }
      w.load()
      // warm-up operations (JIT, codegen, OS page cache), then the full gate
      val w0 = System.nanoTime()
      (1 to w.warmupOps).foreach(_ => attempt(collector.within("warmup")(w.check(w.run()))))
      val g0 = System.nanoTime()
      attempt(OpResult(0, collector.within("gate")(w.gate())))
      val warmS = ((g0 - w0) / 1e9, (System.nanoTime() - g0) / 1e9)

      if (!args.trace) {
        // closed loop, one client: each operation starts when the previous
        // one and its gate are done; only the program calls are timed
        val lat = scala.collection.mutable.ArrayBuffer[Double]()
        var items = 0L
        val l0 = System.nanoTime()
        while ((System.nanoTime() - l0) / 1e9 < args.seconds || lat.length < MinOps) {
          var ms = 0.0
          attempt {
            val o0 = System.nanoTime()
            val out = collector.within("op")(w.run())
            ms = (System.nanoTime() - o0) / 1e6
            w.check(out)
          }.foreach { r =>
            items += r.items
            lat += ms
          }
        }
        val loopS = lat.sum / 1e3
        val peak = collector.group("op").peakExecMem
        val e2e = Map(
          "setup_s" -> (sessionS + Stats.median(setups)),
          "items_per_s" -> items / loopS,
          "op_p50_ms" -> (if (lat.isEmpty) 0.0 else Stats.median(lat.toSeq)),
          "peak_exec_mem_mb" -> peak / 1048576.0)
        EndToEnd.foreach { case (n, u) => out(n) = (e2e(n), u) }
        println(f"workload ${args.workload} seed ${args.seed}: ${lat.length} ops, $loopS%.2f s in program calls " +
          f"(session ${sessionS}%.2f s, set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s, " +
          f"warm-up ${w.warmupOps} ops ${warmS._1}%.2f s, gate ${warmS._2}%.2f s)")
        println(s"op_ms ${lat.map(x => f"$x%.0f").mkString(" ")}")
        val tailTxt = Stats.tail(lat.toSeq)
          .map { case (p, v, n) => f"op_tail_ms $v%.1f ms (p$p%.1f of $n ops)" }
          .getOrElse(s"op_tail_ms n/a (${lat.length} ops; needs 11)")
        println(tailTxt)
        println(f"failed_ops_frac ${failures.length.toDouble / math.max(1, attempted)}%.4f " +
          s"(${failures.length} of $attempted)")
        w.report().foreach { case (n, v, u) => println(f"$n $v%.6g $u") }
      } else {
        // Each round runs the operation plain and as one traced call (span,
        // job group, listener drain) in the order plain, traced, traced,
        // plain, so a JIT still warming up favours neither; the tracing
        // overhead compares the two. Then the operation split by layer.
        val plain = scala.collection.mutable.ArrayBuffer[Double]()
        val whole = scala.collection.mutable.ArrayBuffer[Double]()
        val samples = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
        val l0 = System.nanoTime()
        var tracedS = 0.0
        var busyMs = 0L
        val root = tracer.recorded.length
        tracer.span("traced_run") {
          while ((System.nanoTime() - l0) / 1e9 < args.seconds) {
            def runPlain(): Unit = attempt {
              val o0 = System.nanoTime()
              val out = w.run()
              plain += (System.nanoTime() - o0) / 1e9
              w.check(out)
            }
            def runWhole(): Unit = attempt {
              val (out, secs, _) = ctx.call("whole_op")(w.run())
              whole += secs
              w.check(out)
            }
            runPlain(); runWhole(); runWhole(); runPlain()
            val t0 = System.nanoTime()
            val b0 = ctx.allCalls.taskMs
            attempt {
              val t = tracer.span("op")(w.tracedOp())
              samples += t.samples
              t.result
            }
            tracedS += (System.nanoTime() - t0) / 1e9
            busyMs += ctx.allCalls.taskMs - b0
          }
        }
        val spans = tracer.recorded
        val self = Trace.selfTimes(spans)
        // layer spans under the traced operations: their self times against
        // the wall time of those operations
        val ops = spans.filter(s => s.name == "op" && s.parent == root).map(_.id).toSet
        val layerSelf = spans.filter(s => ops(s.parent)).map(s => self(s.id)).sum / 1e9
        val perLayer = scala.collection.mutable.LinkedHashMap[String, Double]()
        PerLayer.foreach { case (n, _) => perLayer(n) = 0.0 }
        samples.flatMap(_.keys).distinct.foreach { k =>
          perLayer(k) = Stats.median(samples.flatMap(_.get(k)).toSeq)
        }
        perLayer ++= w.layerCounts()
        perLayer("runtime.core_util") = busyMs / 1e3 / (tracedS * ctx.cores)
        perLayer("trace.accounted_frac") = layerSelf / tracedS
        if (plain.nonEmpty && whole.nonEmpty)
          perLayer("trace.overhead_frac") = whole.sum / plain.sum - 1
        tracer.write(args.buildDir.resolve("traces").resolve(s"$runId.jsonl"))
        val unknown = perLayer.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
        PerLayer.foreach { case (n, u) => out(n) = (perLayer(n), u) }
        println(s"workload ${args.workload} seed ${args.seed}: ${samples.length} traced ops; " +
          s"spans in ${args.buildDir.resolve("traces").resolve(s"$runId.jsonl")}")
      }
    } catch {
      case e: Exception =>
        attempted += 1
        failures += s"${e.getClass.getSimpleName}: ${e.getMessage}"
    } finally {
      spark.stop()
      deleteTree(work)
    }

    failures.take(5).foreach(f => System.err.println(s"perfbench: FAILED: $f"))
    val correct = failures.isEmpty
    val metrics = out.map { case (n, (v, u)) => s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }
    println(s"""{"correct":$correct,"attempted":${math.max(1, attempted)},""" +
      s""""failed":${failures.length},"metrics":{${metrics.mkString(",")}}}""")
    System.out.flush()
    if (!correct) sys.exit(1)
  }
}
