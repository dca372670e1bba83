package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for heavy-hitter AGGREGATION keys (q58).
  *
  * AQE's skew-join splitting already handles skewed sort-merge joins
  * (AqeSkewSpec); it does not help an aggregate, where one reducer owns
  * the hot key. Salting trades an extra partial phase for even task
  * sizes — at 100 TB a single hot key (the empty document, a default
  * user id, a null-ish sentinel) otherwise turns one task into the job's
  * critical path.
  */
object Skew {

  /** Two-phase salted sum: groupBy(key, salt) partial-aggregates the hot
    * key across `buckets` reducers, then a second cheap aggregate over at
    * most `buckets` rows per key merges the partials. Correct for any
    * commutative-associative aggregate; exact here via DECIMAL.
    *
    * The salt is derived from a second column (any roughly-uniform column
    * works — row identity, a hash of the payload) so it is deterministic,
    * unlike `rand()`-based salting which breaks retry idempotence.
    */
  def saltedSum(df: DataFrame, key: Column, value: Column, saltBy: Column,
      buckets: Int): DataFrame =
    df.select(key.as("k"), value.cast("decimal(18,2)").as("v"),
        pmod(hash(saltBy), lit(buckets)).as("_salt"))
      .groupBy("k", "_salt")
      .agg(sum(col("v")).as("pv"), count(lit(1)).as("pn"))
      .groupBy("k")
      .agg(sum(col("pv")).cast("double").as("total"),
        sum(col("pn")).as("n"))
}
