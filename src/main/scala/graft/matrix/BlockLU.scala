package graft.matrix

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.mllib.linalg.{DenseMatrix => MlDM}
import scala.collection.mutable.ArrayBuffer
import BlockModel.{Blocks, dmSub}
import LocalLA._

/** Result of a distributed block LU: P·A = L·U where P = ⊕ₖ Pₖ permutes
  * rows only within each block row (the reference's contract — pivoting
  * confined to base-case blocks with the permutation carried as an index
  * vector, /root/reference/Matrix/LUDecomposition.java:92-106,141-146). */
final case class BlockLUResult(l: Blocks, u: Blocks, perms: Array[Array[Int]], n: Int, blk: Int) {
  /** Global permutation: row i of L·U is original row globalPerm(i). */
  def globalPerm: Array[Int] =
    perms.zipWithIndex.flatMap { case (p, k) => p.map(_ + k * blk) }
}

/** Right-looking blocked LU factorization, driver-orchestrated.
  *
  * The reference realizes the same math as a recursive 2×2 quadrant
  * scheme over MapReduce: base-case `ludcmp` on the driver, distributed
  * TRSM strips (L2 = A3·U1⁻¹, U2 = L1⁻¹·A2,
  * /root/reference/Matrix/LUDecomposition.java:410-493) and a distributed
  * Schur complement A4 − L2·U2 (:495-651). Here the panel solves are
  * against the broadcast base-case factor only (never a distributed
  * triangular solve — same insight the reference exploits with its
  * replication-20 HDFS "broadcast" of l/u/index, :148-150), and the
  * Schur/trailing update is block GEMM:
  *
  *   for k in 0..q-1:
  *     ludcmp on diag block (k,k)        [driver, ≤ blk² doubles]
  *     U_kj = L_kk⁻¹ · P_k·A_kj  (j>k)   [map over row panel]
  *     L_ik = A_ik · U_kk⁻¹      (i>k)   [map over col panel]
  *     A_ij -= L_ik·U_kj       (i,j>k)   [panel-broadcast map, or
  *                                        RDD join when panels > threshold]
  *
  * Scale notes: a panel is (q−k)·blk² doubles; below
  * `broadcastPanelBytes` it ships as a broadcast (no shuffle — the
  * trailing update is then a narrow map). Above it, the update is two
  * RDD joins keyed by block row / block col. Lineage is truncated with
  * `Lineage.truncate` every iteration (reliable checkpoint when a
  * checkpoint dir is set, local otherwise) — the Spark equivalent of the
  * reference's per-level HDFS materialization (SURVEY.md §7 hazard #1).
  */
object BlockLU {

  def factor(sc: SparkContext, blocks: Blocks, n: Int, blk: Int,
             broadcastPanelBytes: Long = 256L << 20): BlockLUResult = {
    require(n % blk == 0, s"n=$n must be a multiple of blk=$blk")
    val q = n / blk
    val parts = math.min(q * q, 64).max(1)

    var rest: Blocks = blocks.partitionBy(new HashPartitioner(parts)).persist()
    graft.Lineage.truncate(rest)
    // The materialization action doubles as the diagonal-block fetch:
    // instead of count() + a separate per-iteration lookup job, the one
    // pass that has to touch every partition anyway hands back the next
    // diagonal block. One action per iteration, not two.
    def materializeAndFetchDiag(r: Blocks, kk: (Int, Int)): MlDM =
      r.flatMap { case (key, m) => if (key == kk) Iterator.single(m) else Iterator.empty }
        .collect().head // bounded: ONE diagonal block
    var diagBlock: MlDM = materializeAndFetchDiag(rest, (0, 0))

    val perms = new Array[Array[Int]](q)
    val diagL = new ArrayBuffer[((Int, Int), MlDM)]
    val diagU = new ArrayBuffer[((Int, Int), MlDM)]
    val lPanels = new ArrayBuffer[Blocks]
    val uPanels = new ArrayBuffer[Blocks]

    for (k <- 0 until q) {
      // base case: factor the (updated) diagonal block on the driver
      val packed = fromDM(diagBlock)
      val indx = ludcmp(packed)
      Inversion.countClamps(packed)
      perms(k) = indx
      val (lkk, ukk) = splitLU(packed)
      diagL += (((k, k), toDM(lkk)))
      diagU += (((k, k), toDM(ukk)))

      if (k < q - 1) {
        val bc = sc.broadcast((lkk, ukk, indx))
        val rowPanel = rest
          .filter { case ((i, j), _) => i == k && j > k }
          .mapValues(m => toDM(forwardSolveUnitLower(bc.value._1, permuteRows(fromDM(m), bc.value._3))))
          .persist()
        val colPanel = rest
          .filter { case ((i, j), _) => j == k && i > k }
          .mapValues(m => toDM(solveXU(fromDM(m), bc.value._2)))
          .persist()
        graft.Lineage.truncate(rowPanel); graft.Lineage.truncate(colPanel)
        uPanels += rowPanel
        lPanels += colPanel

        val trailing = rest.filter { case ((i, j), _) => i > k && j > k }
        val panelBytes = (q - k - 1).toLong * blk * blk * 8
        val newRest: Blocks =
          if (panelBytes <= broadcastPanelBytes) {
            val colMap = sc.broadcast(colPanel.map { case ((i, _), m) => (i, m) }.collectAsMap())
            val rowMap = sc.broadcast(rowPanel.map { case ((_, j), m) => (j, m) }.collectAsMap())
            // keys are unchanged, so preserve the hash partitioning: the
            // partitionBy below then recognizes the layout and the
            // trailing matrix is NEVER re-shuffled on the broadcast path
            // (previously: one full shuffle of the trailing blocks per
            // iteration, q shuffles per factorization, for nothing)
            trailing.mapPartitions(_.map { case ((i, j), m) =>
              ((i, j), dmSub(m, colMap.value(i).multiply(rowMap.value(j))))
            }, preservesPartitioning = true)
          } else {
            // shuffle path for panels too large to broadcast: join trailing
            // blocks with their L block (by block row) then U block (by col)
            trailing.map { case ((i, j), m) => (i, (j, m)) }
              .join(colPanel.map { case ((i, _), m) => (i, m) })
              .map { case (i, ((j, m), lik)) => (j, (i, m, lik)) }
              .join(rowPanel.map { case ((_, j), m) => (j, m) })
              .map { case (j, ((i, m, lik), ukj)) => ((i, j), dmSub(m, lik.multiply(ukj))) }
          }
        val materialized = newRest.partitionBy(new HashPartitioner(parts)).persist()
        graft.Lineage.truncate(materialized)
        // single action: materializes the trailing update (and, through
        // its lineage, the panels) and returns the next diagonal block
        diagBlock = materializeAndFetchDiag(materialized, (k + 1, k + 1))
        rest.unpersist(blocking = false)
        rest = materialized
      }
    }
    rest.unpersist(blocking = false)

    // Finalize L: apply P_i to every already-written sub-diagonal block of
    // block row i (the raw panels were computed before block row i pivoted).
    val permsB = sc.broadcast(perms)
    val lBelow =
      if (lPanels.isEmpty) sc.emptyRDD[((Int, Int), MlDM)]
      else sc.union(lPanels.toSeq).map { case ((i, j), m) =>
        ((i, j), toDM(permuteRows(fromDM(m), permsB.value(i))))
      }
    val l = lBelow.union(sc.parallelize(diagL.toSeq, math.min(q, 32)))
    val uAbove =
      if (uPanels.isEmpty) sc.emptyRDD[((Int, Int), MlDM)]
      else sc.union(uPanels.toSeq)
    val u = uAbove.union(sc.parallelize(diagU.toSeq, math.min(q, 32)))
    BlockLUResult(l, u, perms, n, blk)
  }
}
