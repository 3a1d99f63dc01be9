package graft.matrix

import java.util.stream.IntStream
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.mllib.linalg.{DenseMatrix => MlDM}
import BlockModel.Blocks
import LocalLA._

/** Right-looking blocked Cholesky factorization A = L·Lᵀ for symmetric
  * positive-definite A — the SPD fast path the reference engine lacks
  * (its only factorization is pivoted LU,
  * /root/reference/Matrix/LUDecomposition.java:55-106).
  *
  * Half the flops of LU (one triangular factor instead of two) and NO
  * pivoting, so there is no permutation state to carry and the update
  * touches only the lower triangle. One [[BlockSweep]] on the block
  * columns of the lower triangle (q+1 jobs):
  *
  *   for k in 0..q-1:
  *     L_kk = chol(A_kk)                  [driver]
  *     L_ik = A_ik·L_kkᵀ⁻¹    (i>k)       [driver, in parallel]
  *     broadcast column k of L            [≤ n·blk doubles]
  *     column j>k: A_ij −= L_ik·L_jkᵀ (i≥j)   [one BlockKernel.gemm]
  *
  * Only blocks with i ≥ j are ever stored or updated — the upper
  * triangle is implicit by symmetry. An absent block is a zero block: it
  * stays absent until an update fills it in.
  */
object BlockCholesky {

  /** Distributed lower Cholesky factor of the SPD matrix given by its
    * LOWER-triangle blocks (keys with i ≥ j; any upper blocks in the
    * input are ignored). Returns the lower-triangular L as blocks with
    * i ≥ j: a narrow view of the one persisted factor. */
  def factor(sc: SparkContext, blocks: Blocks, n: Int, blk: Int): Blocks = view(columns(sc, blocks, n, blk))

  private[matrix] def view(cols: BlockSweep.Lines): Blocks =
    cols.flatMap { case (j, col) => col.indices.iterator.filter(col(_) != null).map(i => ((i, j), col(i))) }

  /** The persisted factor behind [[factor]]: column j of L in line j. */
  private[matrix] def columns(sc: SparkContext, blocks: Blocks, n: Int, blk: Int): BlockSweep.Lines = {
    require(n % blk == 0, s"n=$n must be a multiple of blk=$blk")
    val q = n / blk
    val lower = blocks.filter { case ((i, j), _) => i >= j }
    BlockSweep.run(sc, BlockSweep.group(lower, q, q, byColumn = true), 0 until q, q, materialize = true) { (k, colK) =>
      val lkk = cholesky(fromDM(Option(colK(k)).getOrElse(MlDM.zeros(blk, blk))))
      // L_kkᵀ is upper-triangular, so solveXU applies unchanged
      val lkkT = transpose(lkk)
      val piv = new Array[MlDM](q)
      piv(k) = toDM(lkk)
      IntStream.range(k + 1, q).parallel().forEach { i =>
        if (colK(i) != null) piv(i) = toDM(solveXU(fromDM(colK(i)), lkkT))
      }
      BlockSweep.Step(piv, (j, col, _, b) => update(col, j, k, b))
    }
  }

  /** Step k on block column j; `piv` holds column k of L. */
  private def update(col: Array[MlDM], j: Int, k: Int, piv: Array[Broadcast[MlDM]]): Array[MlDM] =
    if (j < k) col
    else if (j == k) piv.map(b => if (b == null) null else b.value)
    else if (piv(j) == null) col // L_jk = 0
    else {
      val ljkT = piv(j).value.transpose
      Array.tabulate(col.length) { i =>
        if (i < j || piv(i) == null) col(i)
        else BlockKernel.gemm(col(i), -1, piv(i).value, ljkT)
      }
    }

  /** Symmetric-positive-definite seeded generator: block (i,j) of
    * (A + Aᵀ)/2 + boost·I for the [[MatrixGen]] matrix A — each block
    * is built locally from the two deterministic generator blocks
    * (i,j) and (j,i), so SPD-ness costs no data exchange. Only i ≥ j
    * blocks are emitted (the factorization's input contract). */
  def spdBlocks(sc: SparkContext, n: Int, blk: Int, seed: Long, boost: Double): Blocks = {
    require(n % blk == 0)
    val q = n / blk
    val ids = for (bi <- 0 until q; bj <- 0 to bi) yield (bi, bj)
    sc.parallelize(ids, math.min(ids.size, 64)).map { case (bi, bj) =>
      val a = MatrixGen.localBlock(blk, seed, bi, bj, 0.0)
      val at = MatrixGen.localBlock(blk, seed, bj, bi, 0.0)
      val m = Array.ofDim[Double](blk, blk)
      var i = 0
      while (i < blk) {
        var j = 0
        while (j < blk) {
          m(i)(j) = (a(i)(j) + at(j)(i)) / 2
          if (bi == bj && i == j) m(i)(j) += boost
          j += 1
        }
        i += 1
      }
      ((bi, bj), LocalLA.toDM(m))
    }
  }

  /** Local replica of [[spdBlocks]] (test oracle). */
  def spdLocal(n: Int, blk: Int, seed: Long, boost: Double): Array[Array[Double]] = {
    val a = MatrixGen.local(n, blk, seed)
    Array.tabulate(n, n)((i, j) => (a(i)(j) + a(j)(i)) / 2 + (if (i == j) boost else 0.0))
  }
}
