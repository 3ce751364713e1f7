package perfbench

/** Summary statistics shared by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Highest percentile that has at least ten samples beyond it, by
    * nearest rank: the sample at rank n-10, so exactly ten samples rank
    * above it. Returns (percentile, value, samples), or None below 11
    * samples, where no such percentile exists.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val n = xs.length
    if (n < 11) None
    else {
      val rank = n - 10
      Some((100.0 * rank / n, xs.sorted.apply(rank - 1), n))
    }
  }

  /** 64-bit mix (splitmix64 finalizer); the building block of every
    * seeded draw and content hash in the harness.
    */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def mix(a: Long, b: Long): Long = mix(mix(a) ^ b)
  def mix(a: Long, b: Long, c: Long): Long = mix(mix(a, b) ^ c)

  /** Uniform draw in [0, n) from an already mixed key. */
  def below(key: Long, n: Int): Int = java.lang.Math.floorMod(key, n.toLong).toInt

  /** Uniform draw in [0, 1) from a key. */
  def unit(key: Long): Double = (mix(key) >>> 11) * (1.0 / (1L << 53))

  def hashString(s: String): Long = {
    var h = 0x84222325CBF29CE4L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001B3L; i += 1 }
    mix(h)
  }

  def hashBytes(b: Array[Byte]): Long = {
    var h = 0x84222325CBF29CE4L
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001B3L; i += 1 }
    mix(h)
  }
}
