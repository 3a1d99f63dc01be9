package graft

/** Sweep-scale serving audit for the graph index: serve a corpus dir's
  * base graph artifact at explicit beam widths and print (beam,
  * recall, reach) rows — how [[graft.operators.Similarity.beamForAnchors]]'s
  * log-n constant is sized against a measured decade instead of
  * assumed (round-16 audit: fixed L = 8 read reach 0.69 at 100× on the
  * kNN-cut build; the α-diversified build is re-measured with this).
  * Usage: GraphReach <corpusDir> [beams=8,16,32] [parts] [incr]
  * — `incr` audits the INCREMENTAL artifact (base+delta+back through
  * the merged fetch, reach over 32 appended nodes), the row that
  * sizes `beamForAnchorsIncr`. */
object GraphReach {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val beams =
      if (args.length > 1) args(1).split(",").map(_.toInt).toSeq
      else Seq(8, 16, 32)
    val incr = args.contains("incr")
    // deep-decade runs scale shuffle partitions past the core count so
    // the build's diversify shuffle spills instead of OOMing (the x30
    // envelope lesson: partition count, not algorithm)
    val parts =
      if (args.length > 2) Seq("spark.sql.shuffle.partitions" -> args(2))
      else Nil
    val spark = GraftSession.local(parts: _*)
    val t0 = System.nanoTime()
    val rows =
      if (incr) graft.operators.Similarity.graphIncrReachAt(spark, dir, beams)
      else graft.operators.Similarity.graphReachAt(spark, dir, beams)
    val dt = (System.nanoTime() - t0) / 1e9
    rows.foreach { case (b, recall, reach, sec) =>
      println(f"[reach] beam=$b%d recall=$recall%.4f reach=$reach%.4f serve=$sec%.2f s")
    }
    println(f"[reach] total=$dt%.1f s dir=$dir")
    spark.stop()
  }
}
