package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sink-side scale posture: partitioned parquet layout gives partition
  * PRUNING (a filter on the partition column never touches other
  * directories), and the sources round-trip losslessly. The reference's
  * only "layout" tool is its directory-tree-as-schema
  * (/root/reference/Matrix/Read_LU.java:40-64); Hive-style partitioning
  * is the engine's declarative equivalent. */
class SinkSpec extends AnyFunSuite with SparkTest.TempDirs {
  lazy val spark: SparkSession = SparkTest.session
  val sf = "/root/testdata/sf0.001"

  test("partitioned parquet sink prunes partitions on read") {
    val dir = tempDir("graft_part")
    val ev = graft.sources.Tables.events(spark, sf)
    ev.write.partitionBy("event_type").mode("overwrite").parquet(dir)

    val pruned = spark.read.parquet(dir).filter(col("event_type") === "click")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"),
      s"expected partition filter in scan:\n$plan")
    assert(pruned.count() == ev.filter(col("event_type") === "click").count())
    // only the matching directory exists under the pruned path
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.contains("event_type=click") && dirs.length == 5)
  }

  test("documents partitioned by lang: lang='en' scans exactly one partition") {
    val dir = tempDir("graft_lang")
    val docs = graft.sources.Tables.documents(spark, sf)
    docs.write.partitionBy("lang").mode("overwrite").parquet(dir)

    val pruned = spark.read.parquet(dir).filter(col("lang") === "en")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in plan"))
    // the partition filter must reach the scan, and the file index must
    // resolve it to exactly the lang=en directory — pruning, not a
    // post-scan filter over every partition
    assert(scan.partitionFilters.nonEmpty, s"no PartitionFilters:\n$scan")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 selected partition, got ${scan.selectedPartitions.partitionCount}")
    assert(pruned.count() == docs.filter(col("lang") === "en").count())
  }

  test("csv and json sources round-trip the relational schema") {
    val dir = tempDir("graft_fmt")
    val nat = spark.read.parquet(s"$sf/nation.parquet")
    nat.write.option("header", "true").mode("overwrite").csv(s"$dir/csv")
    nat.write.mode("overwrite").json(s"$dir/json")
    val backCsv = spark.read.option("header", "true").schema(nat.schema).csv(s"$dir/csv")
    val backJson = spark.read.schema(nat.schema).json(s"$dir/json")
    assert(backCsv.orderBy("n_nationkey").collect()
      .sameElements(nat.orderBy("n_nationkey").collect()))
    assert(backJson.orderBy("n_nationkey").collect()
      .sameElements(nat.orderBy("n_nationkey").collect()))
  }

  test("orc source round-trips lineitem incl. timestamps, with predicate pushdown") {
    val dir = tempDir("graft_orc")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    li.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == li.schema)
    assert(back.orderBy("l_orderkey", "l_linenumber").collect()
      .sameElements(li.orderBy("l_orderkey", "l_linenumber").collect()))
    val plan = back.filter(col("l_quantity") > 25.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      s"expected ORC filter pushdown:\n$plan")
  }
}
