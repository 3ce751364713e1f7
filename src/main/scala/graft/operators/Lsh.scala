package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.BoundedCollect.bounded_collect

/** Banded-LSH candidate generation, shared by minhash, simhash and SRP
  * dedup. Each caller sketches its rows and builds bucket rows
  * `(band, key, member)`: `key` is the band's slice of the sketch and
  * `member` a struct whose `id` field names the row (other fields ride
  * along to the verify). Rows sharing a (band, key) bucket are candidates.
  */
object Lsh {

  /** Every intra-bucket member pair `(a, b)` with `a.id < b.id`, one row
    * per pair per shared bucket — callers dedup across bands on their own
    * columns. Buckets with more than `cap` members are dropped whole:
    * near-identical boilerplate hashing to one band value gives a
    * quadratic pair set, and pairs found only through such a bucket are
    * missed. `bounded_collect` keeps at most `cap + 1` members per bucket,
    * so an over-cap bucket never holds its full list before it is dropped.
    *
    * Pairs come from a codegen'd explode × explode + filter. A per-pair
    * Scala closure (encoder per row) and a higher-order
    * `filter(ms, x -> ...)` (lambda interpreted per element) both
    * measured slower at sf0.1, the lambda by 16× on 2000-member buckets.
    * The comparison is on id values, so a repeated id never pairs with
    * itself.
    */
  def bandedPairs(buckets: DataFrame, cap: Int): DataFrame =
    buckets.groupBy("band", "key")
      .agg(bounded_collect(col("member"), cap).as("bc"))
      .filter(col("bc.n") <= cap)
      .select(explode(col("bc.vals")).as("a"), col("bc.vals").as("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id"))
}
