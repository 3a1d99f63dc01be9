package graft.matrix

import java.util.stream.IntStream
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.mllib.linalg.{DenseMatrix => MlDM}
import BlockModel.Blocks
import LocalLA._

/** Result of a distributed block LU: P·A = L·U where P = ⊕ₖ Pₖ permutes
  * rows only within each block row (the reference's contract — pivoting
  * confined to base-case blocks with the permutation carried as an index
  * vector, reference Matrix/LUDecomposition.java:92-106,141-146).
  * `lines` is the persisted factor in the row layout
  * ([[BlockModel.RowPartitioner]]): line i holds L_ij (j<i), the packed
  * L\U_ii and U_ij (j>i); L and U are narrow views of it that keep the
  * layout. */
final case class BlockLUResult(lines: BlockSweep.Lines, perms: Array[Array[Int]], n: Int, blk: Int) {
  val l: Blocks = view(_ >= _, splitLU(_)._1)
  val u: Blocks = view(_ <= _, splitLU(_)._2)
  /** Global permutation: row i of L·U is original row globalPerm(i). */
  def globalPerm: Array[Int] =
    perms.zipWithIndex.flatMap { case (p, k) => p.map(_ + k * blk) }

  private def view(keep: (Int, Int) => Boolean, diag: Array[Array[Double]] => Array[Array[Double]]): Blocks =
    lines.mapPartitions(_.flatMap { case (i, row) =>
      row.indices.iterator.filter(j => row(j) != null && keep(i, j))
        .map(j => ((i, j), if (i == j) toDM(diag(fromDM(row(j)))) else row(j)))
    }, preservesPartitioning = true)
}

/** Right-looking blocked LU factorization on block rows, one
  * [[BlockSweep]] (q+1 jobs: one per step, one to materialize the
  * factor; A in the row layout is grouped into rows with no shuffle).
  *
  * The reference realizes the same math as a recursive 2×2 quadrant
  * scheme over MapReduce: base-case `ludcmp` on the driver, distributed
  * TRSM strips (L2 = A3·U1⁻¹, U2 = L1⁻¹·A2,
  * /root/reference/Matrix/LUDecomposition.java:410-493) and a distributed
  * Schur complement A4 − L2·U2 (:495-651). Here the panel solves are
  * against the broadcast base-case factor only (never a distributed
  * triangular solve — same insight the reference exploits with its
  * replication-20 HDFS "broadcast" of l/u/index, :148-150), and the
  * Schur/trailing update is one [[BlockKernel.gemm]] pass per block:
  *
  *   for k in 0..q-1:
  *     ludcmp on diag block (k,k)          [driver]
  *     U_kj = L_kk⁻¹·P_k·A_kj    (j>k)     [driver, in parallel]
  *     broadcast L\U_kk and U_kj           [≤ n·blk doubles]
  *     row k:  P_k·L_kj (j<k), L\U_kk, U_kj (j>k)
  *     row i>k: L_ik = A_ik·U_kk⁻¹, A_ij −= L_ik·U_kj (j>k)
  *
  * An absent block is a zero block: it stays absent until an update
  * fills it in. The factor is persisted once, as block rows
  * ([[BlockLUResult.lines]]); L and U are narrow views of it.
  */
object BlockLU {

  def factor(sc: SparkContext, blocks: Blocks, n: Int, blk: Int): BlockLUResult = {
    require(n % blk == 0, s"n=$n must be a multiple of blk=$blk")
    val q = n / blk
    val perms = new Array[Array[Int]](q)
    val lu = BlockSweep.run(sc, BlockSweep.group(blocks, q, q), 0 until q, q, materialize = true) { (k, rowK) =>
      val packed = fromDM(Option(rowK(k)).getOrElse(MlDM.zeros(blk, blk)))
      val indx = ludcmp(packed)
      Inversion.countClamps(packed)
      perms(k) = indx
      // packed is L below its diagonal, U on and above; each solve reads only its own triangle
      val piv = new Array[MlDM](q)
      piv(k) = toDM(packed)
      IntStream.range(k + 1, q).parallel().forEach { j =>
        if (rowK(j) != null) piv(j) = toDM(forwardSolveUnitLower(packed, permuteRows(fromDM(rowK(j)), indx)))
      }
      BlockSweep.Step(piv, (i, row, _, b) => eliminate(row, i, k, indx, b))
    }
    BlockLUResult(lu, perms, n, blk)
  }

  /** Step k on block row i; `piv` holds L\U_kk in slot k and U_kj in slot j>k. */
  private def eliminate(row: Array[MlDM], i: Int, k: Int, indx: Array[Int], piv: Array[Broadcast[MlDM]]): Array[MlDM] =
    if (i < k) row
    else if (i == k) Array.tabulate(row.length) { j =>
      if (j >= k) (if (piv(j) == null) null else piv(j).value)
      else if (row(j) == null) null
      else toDM(permuteRows(fromDM(row(j)), indx))
    }
    else if (row(k) == null) row // L_ik = 0
    else {
      val lik = toDM(solveXU(fromDM(row(k)), fromDM(piv(k).value)))
      Array.tabulate(row.length) { j =>
        if (j < k) row(j)
        else if (j == k) lik
        else if (piv(j) == null) row(j)
        else BlockKernel.gemm(row(j), -1, lik, piv(j).value)
      }
    }
}
