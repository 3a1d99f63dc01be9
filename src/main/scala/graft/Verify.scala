package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Invariant gating: queries without a SQL oracle (m1-m9) carry their
    * correctness as boolean `pass`/`*_pass`/`*_ok` columns. A false
    * invariant must FAIL the query here — otherwise the driver's
    * CORRECTNESS records a green `no_oracle` row for a wrong answer and
    * the per-round gate never sees matrix regressions. Eager: throws
    * `IllegalStateException` when any invariant row is false. */
  def gateInvariants(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val passCols = df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.BooleanType &&
        (f.name == "pass" || f.name.endsWith("_pass") ||
          f.name.endsWith("_ok")) => f.name
    }
    if (passCols.isEmpty) df
    else {
      val cached = df.cache()
      val bad = cached.filter(
        passCols.map(c => !org.apache.spark.sql.functions.col(c))
          .reduce(_ || _)).count()
      if (bad > 0)
        throw new IllegalStateException(
          s"invariant violated: $bad rows with false ${passCols.mkString("/")}")
      cached
    }
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — iterate on a few
    // queries without paying for the whole surface (driver passes 2 args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(e => keep(e._1)).foreach { case (name, fn) =>
      try gateInvariants(fn(spark, sfDir))
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Keep the sweep's executor-storage footprint flat: drop every
      // CacheManager entry this query (or gateInvariants) created once
      // its result is on disk. localCheckpoint-backed state (e.g. the
      // P1/P5 pair cache) lives in RDD blocks, not the CacheManager, so
      // intentional cross-query reuse survives this.
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
