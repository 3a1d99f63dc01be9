package graft.matrix

import java.util.stream.IntStream
import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.mllib.linalg.{DenseMatrix => MlDM}
import org.apache.spark.rdd.RDD
import BlockModel.Blocks

/** The per-step protocol every factorization and solve here runs on:
  * the inverse's Gauss-Jordan sweep ([[Inversion]]), [[BlockLU]] on
  * block rows, [[BlockCholesky]] on block columns and the substitution
  * solves on [factor row | right-hand side] lines. A q×q block matrix
  * is held as q lines, each an array of its blocks (q slots, more when
  * the lines carry a right-hand side), null for an absent (zero) block:
  *
  *   group the blocks into lines once               [the only shuffle]
  *   for k in the step order:
  *     one job materializes step k−1, fetches line k
  *     pivot work on line k                         [driver, its cores]
  *     broadcast the step's blocks, one per broadcast, concurrently
  *     one narrow mapPartitions update of every line
  *     release step k−1's RDD and broadcasts
  *
  * A step fetches and broadcasts at most one line: n·blk doubles in a
  * factorization; a solve with m right-hand sides fetches only the
  * diagonal block and B's slots and broadcasts blk·m. Each step's lines
  * are persisted and cut by [[graft.Lineage.truncate]] before its job
  * (reliable checkpoint when a checkpoint dir is set, local otherwise),
  * so the DAG never grows with q. */
private[matrix] object BlockSweep {
  type Line = Array[MlDM]
  type Lines = RDD[(Int, Line)]

  /** Step k's driver result: the blocks to broadcast (null = none) and
    * the update each line applies, given its index, its blocks and the
    * broadcasts. */
  final case class Step(blocks: Array[MlDM], update: (Int, Line, Array[Broadcast[MlDM]]) => Line)

  /** Block (i, j) goes to line i at slot j, or to line j at slot i when
    * `byColumn`; q lines of `slots` slots, one partition per line. */
  def group(a: Blocks, q: Int, slots: Int, byColumn: Boolean = false): Lines =
    a.map { case ((i, j), m) => if (byColumn) (j, (i, m)) else (i, (j, m)) }
      .groupByKey(new HashPartitioner(q))
      .mapValues { bs => val line = new Array[MlDM](slots); bs.foreach { case (s, m) => line(s) = m }; line }

  /** One job per step, one step per line index in `order`: `step(s,
    * line order(s))` on the driver, an absent line read as `width` nulls.
    * Step k fetches only the slots j of line k with `fetch(k, j)`, the
    * others read as null. With `materialize` one more job computes the
    * persisted, truncated result, and every step's RDD and broadcasts
    * are released. Without it the last step runs in the caller's action,
    * its RDD and broadcasts kept for it. */
  def run(sc: SparkContext, lines0: Lines, order: Seq[Int], width: Int, materialize: Boolean,
      fetch: (Int, Int) => Boolean = (_, _) => true)(step: (Int, Line) => Step): Lines = {
    var lines = lines0
    var prev: Lines = null
    var prevPiv = Array.empty[Broadcast[MlDM]]
    // the caller's lines are materialized, and nothing reads the previous
    // step's RDD or broadcasts again. Its closure still ships inside the
    // next step's tasks, so the released handles leave it.
    def release(): Unit = {
      if (prev != null) prev.unpersist(blocking = false)
      for (j <- prevPiv.indices if prevPiv(j) != null) { prevPiv(j).destroy(); prevPiv(j) = null }
    }
    for ((k, s) <- order.zipWithIndex) {
      graft.Lineage.truncate(lines.persist())
      val lineK = lines.flatMap { case (i, line) =>
        if (i == k) Iterator.single(Array.tabulate(line.length)(j => if (fetch(k, j)) line(j) else null))
        else Iterator.empty
      }.collect().headOption.getOrElse(new Array[MlDM](width)) // bounded: ONE line
      release()
      prev = lines
      val st = step(s, lineK)
      val piv = new Array[Broadcast[MlDM]](st.blocks.length)
      IntStream.range(0, piv.length).parallel().forEach(j => if (st.blocks(j) != null) piv(j) = sc.broadcast(st.blocks(j)))
      prevPiv = piv
      val update = st.update // not st: its blocks reach the tasks only as broadcasts
      lines = lines.mapPartitions(_.map { case (i, line) => (i, update(i, line, piv)) }, preservesPartitioning = true)
    }
    if (materialize) {
      graft.Lineage.truncate(lines.persist())
      lines.count()
      release()
    }
    lines
  }
}
