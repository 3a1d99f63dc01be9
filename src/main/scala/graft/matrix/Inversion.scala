package graft.matrix

import java.util.stream.IntStream
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.mllib.linalg.{DenseMatrix => MlDM}
import org.apache.spark.rdd.RDD
import BlockModel._
import BlockKernel.gemm
import LocalLA.{backSolveUpper, forwardSolveUnitLower, fromDM, toDM}

/** Distributed inversion (the reference's operators O17/O18,
  * Matrix/LUInverse.java) and substitution solves.
  *
  * The inverse is one in-place block Gauss-Jordan sweep over the block
  * rows M of A, the same 2n³ flops as LU + triangular inverses + GEMM:
  *
  *   for k in 0..q-1:  D⁻¹ = M_kk⁻¹ on the driver, then one narrow job
  *     row k:   M_kj ← D⁻¹·M_kj (j≠k), M_kk ← D⁻¹
  *     row i≠k: N = −M_ik·D⁻¹, M_ij ← M_ij + N·M_kj (j≠k), M_ik ← N
  *
  * Each block product, fused with its update, is one
  * [[BlockKernel.gemm]] pass (C + s·A·B), as in every sweep here.
  * It runs on [[BlockSweep]], the protocol BlockLU and BlockCholesky
  * share: A is grouped by block row once, with no shuffle when A is in
  * the row layout ([[BlockModel.RowPartitioner]]) and one otherwise;
  * each step fetches only M_kk and broadcasts only D⁻¹ (blk² doubles
  * each way), every row i≠k reads M_kj from row k in the step's cache,
  * and the previous step's RDD and broadcasts are released once its job
  * has materialized the rows. The pivot
  * inversion is the driver's serial work between two step jobs, while
  * every executor core idles; its solves run in column panels across
  * the driver's cores. The last step runs in the caller's action.
  * The pivot blocks are the Schur complements BlockLU factors, so
  * pivoting stays inside diagonal blocks (the reference's contract), and
  * D⁻¹ = U⁻¹·L⁻¹·P carries the permutation. Absent blocks are zero
  * blocks and stay absent, so triangular input costs triangular flops. */
object Inversion {

  /** Inverses of a unit-lower and of an upper block-triangular matrix (q×q blocks). */
  def invLower(l: Blocks, q: Int, blk: Int): Blocks = sweep(l, q, blk)
  def invUpper(u: Blocks, q: Int, blk: Int): Blocks = sweep(u, q, blk)

  /** Full inverse: q jobs, the last step runs in the caller's action. */
  def inverse(sc: SparkContext, a: Blocks, n: Int, blk: Int): Blocks = {
    require(n % blk == 0, s"n=$n must be a multiple of blk=$blk")
    inverseInvocations.incrementAndGet()
    sweep(a, n / blk, blk)
  }

  /** Step k fetches M_kk and broadcasts D⁻¹ alone; the result keeps the row layout. */
  private def sweep(a: Blocks, q: Int, blk: Int): Blocks =
    BlockSweep.run(a.sparkContext, BlockSweep.group(a, q, q), 0 until q, q, materialize = false,
        fetch = (k, j) => j == k) { (k, rowK) =>
      val piv = new Array[MlDM](q)
      piv(k) = invertPivot(Option(rowK(k)).getOrElse(MlDM.zeros(blk, blk)))
      BlockSweep.Step(piv, (i, row, lineK, b) => eliminate(row, i, k, b(k), lineK))
    }.mapPartitions(_.flatMap { case (i, row) => row.iterator.zipWithIndex.collect { case (m, j) if m != null => ((i, j), m) } },
      preservesPartitioning = true)

  /** Step k of the sweep on block row i: `dInv` is D⁻¹'s broadcast,
    * `rowK` reads row k of the step's input (not called by row k). */
  private def eliminate(row: Array[MlDM], i: Int, k: Int, dInvB: Broadcast[MlDM], rowK: () => Array[MlDM]): Array[MlDM] =
    if (i != k && row(k) == null) row // N = 0
    else {
      val dInv = dInvB.value
      if (i == k) Array.tabulate(row.length)(j => if (j == k) dInv else if (row(j) == null) null else gemm(null, 1, dInv, row(j)))
      else {
        val negC = gemm(null, -1, row(k), dInv)
        val mk = rowK()
        Array.tabulate(row.length) { j =>
          if (j == k) negC
          else if (mk(j) == null) row(j)
          else gemm(row(j), 1, negC, mk(j))
        }
      }
    }

  /** D⁻¹ with partial pivoting inside the block: ludcmp gives P·D = L·U,
    * so D⁻¹ = U⁻¹·L⁻¹·P, two substitutions against P·I. They run in
    * column panels, one per driver core, each on its own slice of P·I,
    * writing its columns of D⁻¹ in place. A column's flops and their
    * order do not depend on the panel, so D⁻¹ is bit-identical to one
    * serial solve. */
  private[graft] def invertPivot(d: MlDM): MlDM = {
    val n = d.numRows
    val packed = fromDM(d)
    val indx = LocalLA.ludcmp(packed)
    countClamps(packed)
    val inv = new Array[Double](n * n)
    val panels = math.max(1, math.min(Runtime.getRuntime.availableProcessors, n / 64))
    IntStream.range(0, panels).parallel().forEach { p =>
      val c0 = p * n / panels; val w = (p + 1) * n / panels - c0
      val pI = Array.ofDim[Double](n, w)
      var r = 0
      while (r < n) { val c = indx(r) - c0; if (c >= 0 && c < w) pI(r)(c) = 1.0; r += 1 }
      // packed is L below its diagonal, U on and above; each solve reads only its own triangle
      val x = backSolveUpper(packed, forwardSolveUnitLower(packed, pI))
      var c = 0
      while (c < w) {
        val off = (c0 + c) * n
        r = 0
        while (r < n) { inv(off + r) = x(r)(c); r += 1 }
        c += 1
      }
    }
    new MlDM(n, n, inv)
  }

  /** Inverse for ARBITRARY n (not a block multiple) over a row
    * representation: pad to `[[A, 0], [0, I]]` (identity corner keeps
    * the factorization well-defined), invert, slice the top-left back
    * out. The padding adds ≤ blk−1 rows — negligible at any scale. */
  def inverseAny(sc: SparkContext, rows: RDD[(Long, Array[Double])],
                 n: Int, blk: Int): RDD[(Long, Array[Double])] = {
    val np = ((n + blk - 1) / blk) * blk
    val inv = inverse(sc, fromRowsPadded(rows, n, blk), np, blk)
    toRows(inv, np, blk)
      .filter(_._1 < n)
      .mapValues(v => java.util.Arrays.copyOf(v, n))
  }

  /** Count of full-inversion invocations — lets MatrixSpec assert that
    * [[solve]] never routes through [[inverse]] (solve-by-substitution,
    * not solve-by-inverse). */
  val inverseInvocations = new java.util.concurrent.atomic.AtomicLong(0)

  /** Pivots clamped to [[LocalLA.Tiny]] by block-confined pivoting, in
    * the sweep's pivot blocks and in [[BlockLU.factor]]'s diagonal
    * blocks: nonzero means such a block was exactly singular, so the
    * result is not faithful to A even if A is nonsingular. */
  val pivotClamps = new java.util.concurrent.atomic.AtomicLong(0)

  /** Adds the pivots `ludcmp` clamped in `packed`, its in-place result, to [[pivotClamps]]. */
  private[matrix] def countClamps(packed: Array[Array[Double]]): Unit =
    pivotClamps.addAndGet(packed.indices.count(j => packed(j)(j) == LocalLA.Tiny))

  /** solve(A, X) = B by blocked triangular substitution (the
    * reference's O12 TRSM semantics,
    * reference Matrix/LUDecomposition.java:410-493): factor
    * P·A = L·U once, then L·Y = P·B by a forward block sweep and U·X = Y
    * by a backward one. Half the flops of inverse-then-multiply, and no
    * inverse is formed. The factor is released after the sweeps: at most
    * 3q+2 jobs with the caller's action. */
  def solve(sc: SparkContext, a: Blocks, b: Blocks, n: Int, m: Int, blk: Int): Blocks = {
    val lu = BlockLU.factor(sc, a, n, blk)
    val x = solveFactored(sc, lu, b, m)
    lu.lines.unpersist(blocking = false)
    x
  }

  /** [[solve]] against an existing factor, which stays persisted. P·B
    * is joined onto the factor's lines, which are in the row layout: no
    * shuffle when B is too, one shuffle of B otherwise. 2q jobs, and the
    * last step runs in the caller's action: 2q+1 with it. */
  def solveFactored(sc: SparkContext, lu: BlockLUResult, b: Blocks, m: Int): Blocks = {
    val blk = lu.blk; val q = lu.n / blk; val w = (m + blk - 1) / blk; val perms = lu.perms
    // the permutation is block-diagonal: within-block row remaps
    val pb = byRow(b, q) { case ((i, j), mb) => (j, toDM(LocalLA.permuteRows(fromDM(mb), perms(i)))) }
    val lines = lu.lines.cogroup(pb, new RowPartitioner(q)).mapValues { case (rows, bs) =>
      val line = java.util.Arrays.copyOf(rows.headOption.getOrElse(new Array[MlDM](q)), q + w)
      bs.foreach { case (j, mb) => line(q + j) = mb }
      line
    }
    substitute(sc, lines, q, w, blk, forwardSolveUnitLower, backSolveUpper)
  }

  /** solve(A, B) for SPD A through the Cholesky factor, which is
    * released after the sweeps: L·Y = B forward, Lᵀ·X = Y backward. */
  def solveSPD(sc: SparkContext, a: Blocks, b: Blocks, n: Int, m: Int, blk: Int): Blocks = {
    val cols = BlockCholesky.columns(sc, a, n, blk)
    val x = solveCholFactored(sc, BlockCholesky.view(cols), b, n, blk)
    cols.unpersist(blocking = false)
    x
  }

  /** [[solveSPD]] against an existing factor: one job finds the width
    * of B, then L_ij goes to line i, L_ijᵀ to line j (the row of Lᵀ the
    * backward sweep reads) and B_ij to line i, one shuffle. */
  def solveCholFactored(sc: SparkContext, l: Blocks, b: Blocks, n: Int, blk: Int): Blocks = {
    import LocalLA.{forwardSolveLower, transpose}
    val q = n / blk; val w = b.map(_._1._2 + 1).fold(0)(math.max)
    val entries = l.flatMap { case ((i, j), mm) =>
      if (i == j) Iterator(((i, j), mm)) else Iterator(((i, j), mm), ((j, i), toDM(transpose(fromDM(mm)))))
    }.union(b.map { case ((i, j), mb) => ((i, q + j), mb) })
    substitute(sc, BlockSweep.group(entries, q, q + w), q, w, blk, forwardSolveLower,
      (d, y) => backSolveUpper(transpose(d), y))
  }

  /** Forward then backward block substitution on lines [factor row i |
    * B row i]: the lower factor left of the diagonal, the upper right of
    * it, B_ij in slot q+j. Step k fetches only line k's diagonal block
    * and B slots, solves the B slots against the block on the driver and
    * broadcasts them (blk·m doubles);
    * forward, lines i>k apply B_i −= L_ik·Y_k, backward lines i<k apply
    * Y_i −= U_ik·X_k. An absent block is a zero block, filled in. */
  private def substitute(sc: SparkContext, lines: BlockSweep.Lines, q: Int, w: Int, blk: Int,
      forward: (Array[Array[Double]], Array[Array[Double]]) => Array[Array[Double]],
      backward: (Array[Array[Double]], Array[Array[Double]]) => Array[Array[Double]]): Blocks = {
    val order = (0 until q) ++ (q - 1 to 0 by -1)
    BlockSweep.run(sc, lines, order, q + w, materialize = false, fetch = (k, c) => c == k || c >= q) { (s, line) =>
      val k = order(s); val down = s < q
      val solve = if (down) forward else backward
      val d = fromDM(Option(line(k)).getOrElse(MlDM.zeros(blk, blk)))
      val piv = new Array[MlDM](q + w)
      IntStream.range(q, q + w).parallel().forEach(c => if (line(c) != null) piv(c) = toDM(solve(d, fromDM(line(c)))))
      BlockSweep.Step(piv, (i, row, _, b) => substituteRow(row, if (down) i > k else i < k, i == k, k, b))
    }.mapPartitions(_.flatMap { case (i, line) => (q until q + w).iterator.filter(line(_) != null).map(c => ((i, c - q), line(c))) },
      preservesPartitioning = true)
  }

  /** One line's step k; `piv` holds line k's solved B slots. */
  private def substituteRow(row: Array[MlDM], updated: Boolean, pivot: Boolean, k: Int,
      piv: Array[Broadcast[MlDM]]): Array[MlDM] =
    if (pivot) Array.tabulate(row.length)(c => if (piv(c) == null) row(c) else piv(c).value)
    else if (!updated || row(k) == null) row
    else {
      val f = row(k)
      Array.tabulate(row.length)(c => if (piv(c) == null) row(c) else gemm(row(c), -1, f, piv(c).value))
    }
}
