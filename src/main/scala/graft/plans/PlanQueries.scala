package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{QueryModule, QuerySpec}
import graft.sinks.BucketedStore
import graft.sources.Tables

/** Oracle-checked demonstrations of the two physical-layout tools the
  * engine ships for 100 TB joins: deterministic salting (hot-key skew)
  * and bucketed co-location (zero-shuffle fact-fact joins).
  *
  * Both produce results that are invariant to the layout — a plain-SQL
  * DuckDB oracle certifies the SEMANTICS here; the physical claims (salt
  * spreads partitions, bucketed join plans no Exchange) are asserted on
  * the plans in SaltedJoinSpec / BucketedStoreSpec.
  *
  * Aggregates follow the engine's determinism discipline: quantities are
  * summed as DECIMAL (exact, order-independent) with one final double
  * cast — never a raw double sum.
  */
object PlanQueries extends QueryModule {
  private def sumQty(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** lineitem ⋈ orders with the big side salted 8 ways on the
    * (l_orderkey, l_linenumber) row identity, rolled up per priority. */
  def saltedRollup(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      // row identity as a struct: xxhash64 hashes the fields directly —
      // no per-row string materialization in the 6M-row hot path
      .withColumn("__uid", struct(col("l_orderkey"), col("l_linenumber")))
    val ord = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    SaltedJoin.join(li, ord, "l_orderkey", "o_orderkey", "__uid", salts = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), sumQty(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  /** lineitem ⋈ orders through the bucketed layout: both sides staged
    * once per fixture as 8-bucket tables on the order key, joined
    * shuffle-free, rolled up per status. */
  /** Stage a bucketed table once per session; `writeBucketed` itself
    * sweeps an orphaned warehouse location from a previous JVM. */
  private def ensureBucketed(spark: SparkSession, table: String)
                            (write: => Unit): Unit =
    if (!spark.catalog.tableExists(table)) write

  def bucketedRollup(spark: SparkSession, dir: String): DataFrame = {
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    // per-JVM names: a concurrent driver (Bench alongside Verify) stages
    // its own copy instead of racing overwrite-vs-read on one location
    val liT = BucketedStore.jvmLocal(spark, s"li_bkt_$tag")
    val ordT = BucketedStore.jvmLocal(spark, s"ord_bkt_$tag")
    ensureBucketed(spark, liT) {
      BucketedStore.writeBucketed(
        Tables(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_quantity")),
        liT, "l_orderkey", buckets = 8)
    }
    ensureBucketed(spark, ordT) {
      BucketedStore.writeBucketed(
        Tables(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus")),
        ordT, "o_orderkey", buckets = 8)
    }
    BucketedStore.cozyJoin(spark, liT, ordT, "l_orderkey", "o_orderkey")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_items"), sumQty(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderstatus")
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("salted_join", (s, d) => saltedRollup(s, d),
      """SELECT o_orderpriority, count(*) AS n_items,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    QuerySpec("bucketed_join", (s, d) => bucketedRollup(s, d),
      """SELECT o_orderstatus, count(*) AS n_items,
        |CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin))
}
