package graft
import org.apache.spark.sql.functions._

/** Sweep-scale gate audit: run named SparkEntry queries against any
  * corpus dir, apply the Verify invariant gate
  * ([[Verify.gateInvariants]]: every `pass`/`*_pass`/`*_ok` column
  * must hold on every row) and report any `recall4`/`reach4`
  * measurements' MAX. The sf0.01 Verify gate enforces these in-run;
  * this main is how a deep-decade sweep proves the same gates hold
  * where the oracle harness doesn't reach (e.g. recall floors after an
  * index-kernel change at scales where the new lane actually engages).
  * Exits 1 when any query fails its gate or errors. */
object GateCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = GraftSession.local()
    var bad = 0
    args.drop(1).foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir).localCheckpoint(true)
        val gate = try { Verify.gateInvariants(df); "" } catch {
          case e: IllegalStateException =>
            bad += 1
            s"  <-- GATE FAILED: ${e.getMessage}"
        }
        val measureCols = df.schema.fields.map(_.name)
          .filter(n => n.endsWith("4") && (n.startsWith("recall") || n.startsWith("reach")))
        val measures =
          if (measureCols.isEmpty) ""
          else {
            val aggs = measureCols.map(c => max(col(c)).as(c))
            val r = df.agg(aggs.head, aggs.tail: _*).head() // bounded: ONE aggregate row
            measureCols.zipWithIndex.map { case (c, i) => s" $c=${r.get(i)}" }.mkString
          }
        println(s"[gate] $name rows=${df.count()}$measures$gate")
        spark.catalog.clearCache()
      } catch {
        case e: Throwable =>
          bad += 1
          println(s"[gate] $name ERROR ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
