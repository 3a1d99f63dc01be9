package graft.matrix

import java.util.stream.IntStream
import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.mllib.linalg.{DenseMatrix => MlDM}
import org.apache.spark.rdd.RDD
import BlockModel.Blocks

/** The per-step protocol every factorization here runs on: the
  * inverse's Gauss-Jordan sweep ([[Inversion]]), [[BlockLU]] on block
  * rows and [[BlockCholesky]] on block columns. A q×q block matrix is
  * held as q lines, each an array of its q blocks, null for an absent
  * (zero) block:
  *
  *   group the blocks into lines once               [the only shuffle]
  *   for k in 0..q-1:
  *     one job materializes step k−1, fetches line k
  *     pivot work on line k                         [driver, its cores]
  *     broadcast the step's blocks, one per broadcast, concurrently
  *     one narrow mapPartitions update of every line
  *     release step k−1's RDD and broadcasts
  *
  * A step broadcasts at most one line, n·blk doubles. Each step's lines
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
    * `byColumn`. */
  def group(a: Blocks, q: Int, byColumn: Boolean = false): Lines =
    a.map { case ((i, j), m) => if (byColumn) (j, (i, m)) else (i, (j, m)) }
      .groupByKey(new HashPartitioner(q))
      .mapValues { bs => val line = new Array[MlDM](q); bs.foreach { case (s, m) => line(s) = m }; line }

  /** Runs the q steps, `step(k, line k)` on the driver. With
    * `materialize` the result is persisted, truncated and computed by one
    * more job, and every step's RDD and broadcasts are released: q+1
    * jobs. Without it the last step runs in the caller's action, and its
    * input RDD and broadcasts stay for it: q jobs. */
  def run(sc: SparkContext, lines0: Lines, q: Int, materialize: Boolean)(step: (Int, Line) => Step): Lines = {
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
    for (k <- 0 until q) {
      graft.Lineage.truncate(lines.persist())
      val lineK = lines.flatMap { case (i, line) => if (i == k) Iterator.single(line) else Iterator.empty }
        .collect().headOption.getOrElse(new Array[MlDM](q)) // bounded: ONE line
      release()
      prev = lines
      val s = step(k, lineK)
      val piv = new Array[Broadcast[MlDM]](q)
      IntStream.range(0, q).parallel().forEach(j => if (s.blocks(j) != null) piv(j) = sc.broadcast(s.blocks(j)))
      prevPiv = piv
      val update = s.update // not s: its blocks reach the tasks only as broadcasts
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
