package perfbench

import scala.collection.mutable

/** Several workloads run as one: each operation runs one operation of
  * every part, in order, and passes only when every part's gate passes.
  * A run pays the session start and the cold JIT once for all its parts,
  * which is what lets the benchmark cover every layer in the time a run
  * of the whole benchmark may take.
  *
  * Items are the parts' items summed. Per-layer samples of the parts are
  * merged, summing a metric two parts both report (`sources.*`), so it
  * reads as that layer's total in one operation.
  */
class Composite(parts: Seq[(String, Workload)]) extends Workload {
  /** Each part's latency in every operation, in call order. */
  private val partMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  parts.foreach { case (n, _) => partMs(n) = mutable.ArrayBuffer() }

  def setup(): Unit = parts.foreach(_._2.setup())
  override def load(): Unit = parts.foreach(_._2.load())

  type Out = Seq[Any]
  def run(): Out = parts.map { case (n, p) =>
    val t0 = System.nanoTime()
    val o = p.run()
    partMs(n) += (System.nanoTime() - t0) / 1e6
    o
  }

  def check(out: Out): OpResult = {
    val rs = parts.zip(out).map { case ((_, p), o) => p.check(o.asInstanceOf[p.Out]) }
    OpResult(rs.map(_.items).sum, rs.flatMap(_.failures))
  }

  override def gate(): Seq[String] = parts.flatMap(_._2.gate())

  def tracedOp(): Traced = {
    val ts = parts.map(_._2.tracedOp())
    Traced(Composite.merge(ts.map(_.samples)),
      OpResult(ts.map(_.result.items).sum, ts.flatMap(_.result.failures)))
  }

  override def layerCounts(): Map[String, Double] = Composite.merge(parts.map(_._2.layerCounts()))

  /** The parts' own figures, then each part's median latency over the
    * timed operations (those after the warm-up).
    */
  override def report(): Seq[(String, Double, String)] =
    parts.flatMap(_._2.report()) ++ partMs.collect {
      case (n, ms) if ms.length > warmupOps => (s"${n}_p50_ms", Stats.median(ms.drop(warmupOps).toSeq), "ms")
    }
}

object Composite {
  def merge(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatten.groupMapReduce(_._1)(_._2)(_ + _)
}
