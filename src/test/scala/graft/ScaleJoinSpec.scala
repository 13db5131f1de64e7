package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

/** Scale-mechanics proofs: bucketing removes the join shuffle entirely,
  * and salted joins spread a hot key without changing results.
  */
class ScaleJoinSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("bucketed tables join with ZERO shuffle exchanges (co-located join)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val orders = graft.queries.Tables(spark, dir, "orders")
      val customer = graft.queries.Tables(spark, dir, "customer")
      orders.write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
      customer.write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")

      val bucketed = spark.table("b_orders")
        .join(spark.table("b_customer"), col("o_custkey") === col("c_custkey"))
      val plan = bucketed.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must be exchange-free, got:\n$plan")

      val plain = orders.join(customer, col("o_custkey") === col("c_custkey"))
      assert(plain.queryExecution.executedPlan.toString.contains("Exchange"),
        "sanity: the unbucketed shuffle join does exchange")
      assert(bucketed.count() === plain.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("saltedJoin equals the plain join on a skewed key distribution") {
    // heavy-tailed: 80% of rows share one key
    val big = (0 until 5000).map { i =>
      (if (i % 5 == 0) i % 7 else 1L, i.toLong)
    }.toDF("k", "payload")
    val small = Seq((0L, "zero"), (1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("k", "name")
    val plain = big.join(small, Seq("k"))
      .select("k", "payload", "name").as[(Long, Long, String)].collect().toSet
    val salted = Skew.saltedJoin(big, small, Seq("k"), saltSource = col("payload"))
      .select("k", "payload", "name").as[(Long, Long, String)].collect().toSet
    assert(salted === plain)
    assert(plain.nonEmpty)
  }

  test("AQE skew-join splits the hot partition automatically (the preferred fix)") {
    // The Skew scaladoc says: prefer AQE's skew splitting, salt only when
    // it can't apply. Prove AQE actually does it: sort-merge join a
    // 90%-hot-key fact against a dim with the skew thresholds lowered to
    // test scale, and assert the final adaptive plan marks the join
    // skew-handled.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val big = spark.range(200000).select(
        when(col("id") % 10 === 0, (col("id") % 100) + 1).otherwise(lit(0L)).as("k"),
        col("id").as("v"))
      val small = spark.range(101).select(col("id").as("k"), (col("id") * 3).as("w"))
      val joined = big.join(small, Seq("k")).agg(sum(col("v") + col("w")))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE must mark the skewed join handled:\n$p")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("salting collapses the hot key's straggler partition (deterministic mechanism)") {
    // 100k rows, ~90% on key 0: hash-partitioning on k alone lands them
    // all in ONE partition — the straggler task that holds the stage at
    // 100 TB. Salting spreads the hot key over r partitions; this checks
    // the mechanism by row counts, with no flaky wall-clock assertion
    // (`ScaleBench skew_join` is the timing artifact).
    val r = 16
    val big = spark.range(100000).select(
      when(col("id") % 10 === 0, (col("id") % 100) + 1).otherwise(lit(0L)).as("k"),
      col("id"))
    def maxPartRows(df: org.apache.spark.sql.DataFrame,
        keys: Seq[org.apache.spark.sql.Column]): Long =
      df.repartition(32, keys: _*)
        .select(spark_partition_id().as("p"))
        .groupBy("p").count()
        .agg(max("count")).as[Long].head()
    val unsalted = maxPartRows(big, Seq(col("k")))
    val salted = maxPartRows(
      big.withColumn("_salt", pmod(hash(col("id")), lit(r))),
      Seq(col("k"), col("_salt")))
    assert(unsalted >= 90000L, s"sanity: hot key concentrates ($unsalted)")
    // r salt buckets can collide under hash partitioning (two buckets →
    // one partition), so assert a conservative 4× collapse, not r×
    // (observed ~8× with r=16 into 32 partitions).
    assert(salted <= unsalted / 4,
      s"salting must spread the hot key: max $unsalted -> $salted rows/partition")
  }
}
