package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Proves the co-located-join scale posture: writing both join sides
  * bucketed by the join key lets Spark plan a SortMergeJoin with ZERO
  * Exchange — at 100 TB this converts every repeated fact-to-fact join
  * on the same key into a shuffle-free local merge. (SURVEY.md §2.2
  * "Joins"; the reference's only join analog is its manually
  * co-partitioned Schur cogroup,
  * /root/reference/Matrix/LUDecomposition.java:653-659 — bucketing is
  * the declarative Spark form of that manual exchange.) */
class BucketedJoinSpec extends AnyFunSuite with SparkTest.TempDirs {
  lazy val spark: SparkSession = SparkTest.session

  test("bucketed tables join without any Exchange") {
    // external tables via explicit path — warehouse dir is static config
    val wh = tempDir("graft_wh")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the SMJ path
    try {
      val sf = "/root/testdata/sf0.001"
      spark.read.parquet(s"$sf/orders.parquet")
        .write.format("parquet").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/orders_b").mode("overwrite").saveAsTable("orders_b")
      spark.read.parquet(s"$sf/lineitem.parquet")
        .write.format("parquet").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/lineitem_b").mode("overwrite").saveAsTable("lineitem_b")

      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
