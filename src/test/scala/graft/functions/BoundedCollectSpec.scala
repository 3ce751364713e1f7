package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** bounded_collect: complete lists for groups within the cap, overflow
  * detected by count with at most limit+1 elements ever buffered, and
  * the (count, drop) outcome identical to collect_list + size filter.
  */
class BoundedCollectSpec extends SparkTestBase {
  import spark.implicits._

  test("within-cap groups carry complete lists; over-cap groups flagged by count") {
    // group g has g*7 + 1 members (1, 8, 15, 22, 29, ...)
    val df = (0 until 5).flatMap(g => (0 until g * 7 + 1).map(i => (g, g * 1000L + i)))
      .toDF("g", "v").repartition(8)
    // Int.MaxValue is the uncapped form: every group within the cap, so
    // every value kept and n exact across the partial-aggregate merge
    for (limit <- Seq(10, Int.MaxValue)) {
      val got = df.groupBy("g")
        .agg(BoundedCollect.bounded_collect(col("v"), limit).as("bc"))
        .select(col("g"), col("bc.n"), col("bc.vals"))
        .as[(Int, Long, Seq[Long])].collect().map(r => r._1 -> (r._2, r._3)).toMap
      for (g <- 0 until 5) {
        val n = g * 7 + 1
        assert(got(g)._1 == n, s"group $g count")
        if (n <= limit) {
          assert(got(g)._2.sorted == (0 until n).map(i => g * 1000L + i),
            s"group $g must carry its COMPLETE list")
        } else {
          assert(got(g)._2.length <= limit + 1, s"group $g buffered more than limit+1")
        }
      }
      // exact equivalence with collect_list + size filter on the kept set
      val viaPlain = df.groupBy("g").agg(collect_list(col("v")).as("ids"))
        .filter(size(col("ids")) <= limit)
        .as[(Int, Seq[Long])].collect().map(r => r._1 -> r._2.sorted).toMap
      val viaBounded = df.groupBy("g")
        .agg(BoundedCollect.bounded_collect(col("v"), limit).as("bc"))
        .filter(col("bc.n") <= limit)
        .select(col("g"), col("bc.vals"))
        .as[(Int, Seq[Long])].collect().map(r => r._1 -> r._2.sorted).toMap
      assert(viaBounded == viaPlain)
    }
  }

  test("struct elements round-trip through partial serialization") {
    val df = (0 until 300).map(i => (i % 3, i.toLong, s"s$i"))
      .toDF("g", "a", "b").repartition(7)
    val got = df.groupBy("g")
      .agg(BoundedCollect.bounded_collect(struct(col("a"), col("b")), 200).as("bc"))
      .select(col("g"), col("bc.n"), col("bc.vals"))
      .as[(Int, Long, Seq[(Long, String)])].collect()
    got.foreach { case (g, n, vals) =>
      assert(n == 100 && vals.length == 100)
      vals.foreach { case (a, b) => assert(a % 3 == g && b == s"s$a") }
    }
  }
}
