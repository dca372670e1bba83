package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf0001

  test("saltedSum equals plain groupBy sum (exact via decimal)") {
    val ev = Tables.events(spark, sf)
    val plain = ev.groupBy(col("event_type").as("k"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("total"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    val salted = Skew.saltedSum(ev, col("event_type"), col("value"),
        col("event_id"), buckets = 8)
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(salted == plain)
  }

  test("saltedSum spreads a hot key over `buckets` partial groups") {
    val ev = Tables.events(spark, sf)
    val partials = ev.select(col("event_type").as("k"),
        pmod(hash(col("event_id")), lit(8)).as("_salt"))
      .groupBy("k", "_salt").count()
    // every key occupies (close to) all 8 salt buckets
    val spread = partials.groupBy("k").count().collect().map(_.getLong(1))
    assert(spread.forall(_ >= 7))
  }

  test("saltedJoin equals the plain equi-join") {
    val ev = Tables.events(spark, sf).withColumn("nation_key", col("user_id") % 25)
    val dim = Tables.nation(spark, sf).withColumnRenamed("n_nationkey", "nation_key")
    val plain = ev.join(dim, Seq("nation_key"))
      .select("event_id", "n_name").collect().toSet
    // the fact side salted in [0, 4), the dim side replicated per salt
    val salted = ev.withColumn("_salt", pmod(hash(col("event_id")), lit(4)))
      .join(dim.withColumn("_salt", explode(array((0 until 4).map(lit): _*))),
        Seq("nation_key", "_salt"))
      .select("event_id", "n_name").collect().toSet
    assert(salted == plain)
  }
}
