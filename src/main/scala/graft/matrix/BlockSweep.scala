package graft.matrix

import java.util.stream.IntStream
import org.apache.spark.{NarrowDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.mllib.linalg.{DenseMatrix => MlDM}
import org.apache.spark.rdd.RDD
import BlockModel.{Blocks, RowPartitioner}

/** The per-step protocol every factorization and solve here runs on:
  * the inverse's Gauss-Jordan sweep ([[Inversion]]), [[BlockLU]] on
  * block rows, [[BlockCholesky]] on block columns and the substitution
  * solves on [factor row | right-hand side] lines. A q×q block matrix
  * is held as q lines, each an array of its blocks (q slots, more when
  * the lines carry a right-hand side), null for an absent (zero) block,
  * line i in partition i ([[BlockModel.RowPartitioner]]):
  *
  *   group the blocks into lines once     [no shuffle for row-laid-out
  *                                         input, else one]
  *   for k in the step order:
  *     one job materializes step k−1, fetches the slots of line k
  *       the step asks for
  *     pivot work on them                            [driver, its cores]
  *     broadcast the step's blocks, one per broadcast, concurrently
  *     one narrow update of every line: partition i reads line i and,
  *       only if its update asks, line k, both from the step's cache
  *     release step k−1's RDD and broadcasts
  *
  * What a step of the inverse moves, n = q·blk. It fetches only M_kk
  * and broadcasts only D⁻¹; its updates read M_kj from line k:
  *
  *   |                                 | shipping row k | this sweep     |
  *   |---------------------------------|----------------|----------------|
  *   | driver receives                 | n·blk doubles  | blk² doubles   |
  *   | driver broadcasts               | n·blk doubles  | blk² doubles   |
  *   | each update task not on the     | —              | n·blk doubles, |
  *   | executor holding line k reads   |                | block manager  |
  *
  * In local mode that read is of the cached line in the same process.
  * On a cluster it trades the broadcast's torrent fan-out for q−1 reads
  * from the one executor that caches line k; nothing here has measured
  * that trade on a cluster. LU, Cholesky and the solves broadcast the
  * blocks their driver step computes (U_kj, L_ik, Y_k) and read no line
  * k: a factorization fetches line k whole (n·blk doubles), a solve with
  * m right-hand sides its diagonal block and B's slots. Each step's
  * lines are persisted and cut by [[graft.Lineage.truncate]] before its
  * job (reliable checkpoint when a checkpoint dir is set, local
  * otherwise), so the DAG never grows with q. */
private[matrix] object BlockSweep {
  type Line = Array[MlDM]
  type Lines = RDD[(Int, Line)]

  /** Step k's driver result: the blocks to broadcast (null = none) and
    * the update each line applies, given its index, its blocks, line k
    * of the step's input (read on first call) and the broadcasts. */
  final case class Step(blocks: Array[MlDM], update: (Int, Line, () => Line, Array[Broadcast[MlDM]]) => Line)

  /** Block (i, j) goes to line i at slot j, or to line j at slot i when
    * `byColumn`; q lines of `slots` slots in the row layout. Input with
    * that layout, grouped by row, is grouped in place; any other input
    * takes one shuffle. */
  def group(a: Blocks, q: Int, slots: Int, byColumn: Boolean = false): Lines =
    (if (byColumn) a.map { case ((i, j), m) => (j, (i, m)) } else BlockModel.byRow(a, q) { case ((_, j), m) => (j, m) })
      .groupByKey(new RowPartitioner(q))
      .mapValues { bs => val line = new Array[MlDM](slots); bs.foreach { case (s, m) => line(s) = m }; line }

  /** Partition i of step k's update: partitions i and k of its input. */
  private final class StepPartition(val index: Int, val own: Partition, val pivot: Partition) extends Partition

  /** Step k's update of every line. Partition i depends narrowly on
    * partitions i and k of the step's input, in that order, so the
    * scheduler places task i where line i is cached; line k is read
    * only when `update` asks for it. */
  private final class StepRDD(private var prev: Lines, k: Int, width: Int,
      update: (Int, Line, () => Line) => Line)
      extends RDD[(Int, Line)](prev.sparkContext, Seq(new NarrowDependency(prev) {
        def getParents(i: Int): Seq[Int] = if (i == k) Seq(i) else Seq(i, k)
      })) {
    override val partitioner = prev.partitioner
    protected def getPartitions: Array[Partition] = {
      val in = prev.partitions
      Array.tabulate[Partition](in.length)(i => new StepPartition(i, in(i), in(k)))
    }
    def compute(split: Partition, context: TaskContext): Iterator[(Int, Line)] = {
      val p = split.asInstanceOf[StepPartition]; val input = prev
      lazy val lineK = input.iterator(p.pivot, context)
        .collectFirst { case (`k`, line) => line }.getOrElse(new Array[MlDM](width))
      input.iterator(p.own, context).map { case (i, line) => (i, update(i, line, () => lineK)) }
    }
    override def clearDependencies(): Unit = { super.clearDependencies(); prev = null }
  }

  /** One job per step, one step per line index in `order`: `step(s,
    * line order(s))` on the driver, an absent line read as `width` nulls.
    * Step k fetches only the slots j of line k with `fetch(k, j)`, the
    * others read as null. With `materialize` one more job computes the
    * persisted, truncated result, and every step's RDD and broadcasts
    * are released. Without it the last step runs in the caller's action,
    * its RDD and broadcasts kept for it. */
  def run(sc: SparkContext, lines0: Lines, order: Seq[Int], width: Int, materialize: Boolean,
      fetch: (Int, Int) => Boolean = (_, _) => true)(step: (Int, Line) => Step): Lines = {
    require(lines0.partitioner.exists(_.isInstanceOf[RowPartitioner]), "lines must be in the row layout")
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
      lines = new StepRDD(lines, k, width, (i, line, lineK) => update(i, line, lineK, piv))
    }
    if (materialize) {
      graft.Lineage.truncate(lines.persist())
      lines.count()
      release()
    }
    lines
  }
}
