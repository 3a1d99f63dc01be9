package graft

/** Ad-hoc single-query runner: `runMain graft.Run <sfDir> <name> [n]`
  * prints the first n rows WITHOUT the Verify invariant gate — the tool
  * for inspecting a query whose `pass` column just went red. */
object Run {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val name = args(1)
    val n = if (args.length > 2) args(2).toInt else 20
    val spark = GraftSession.local()
    SparkEntry.queries(name)(spark, sfDir).show(n, truncate = false)
    spark.stop()
  }
}
