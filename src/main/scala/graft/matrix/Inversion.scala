package graft.matrix

import java.util.stream.IntStream
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.mllib.linalg.{DenseMatrix => MlDM}
import org.apache.spark.rdd.RDD
import BlockModel._
import LocalLA.{backSolveUpper, forwardSolveUnitLower, fromDM, toDM}

/** Distributed inversion (the reference's operators O17/O18,
  * Matrix/LUInverse.java) and substitution solves.
  *
  * The inverse is one in-place block Gauss-Jordan sweep over the block
  * rows M of A, the same 2n³ flops as LU + triangular inverses + GEMM:
  *
  *   for k in 0..q-1:  D⁻¹ = M_kk⁻¹ on the driver, then one narrow job
  *     row k:   M_kj ← D⁻¹·M_kj (j≠k), M_kk ← D⁻¹
  *     row i≠k: C = M_ik·D⁻¹, M_ij ← M_ij − C·M_kj (j≠k), M_ik ← −C
  *
  * It runs on [[BlockSweep]], the protocol BlockLU and BlockCholesky
  * share: A is grouped by block row once, its only shuffle; each step
  * broadcasts row k with D⁻¹ in place of M_kk, one broadcast per block
  * (at most n·blk doubles), and releases the previous step's RDD and
  * broadcasts once its job has materialized the rows. The pivot
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

  /** Step k broadcasts row k with D⁻¹ in slot k (no task reads M_kk). */
  private def sweep(a: Blocks, q: Int, blk: Int): Blocks =
    BlockSweep.run(a.sparkContext, BlockSweep.group(a, q), q, materialize = false) { (k, rowK) =>
      val piv = rowK.clone()
      piv(k) = invertPivot(Option(rowK(k)).getOrElse(MlDM.zeros(blk, blk)))
      BlockSweep.Step(piv, (i, row, b) => eliminate(row, i, k, b))
    }.flatMap { case (i, row) => row.iterator.zipWithIndex.collect { case (m, j) if m != null => ((i, j), m) } }

  /** Step k of the sweep on block row i; `piv` holds row k's broadcasts. */
  private def eliminate(row: Array[MlDM], i: Int, k: Int, piv: Array[Broadcast[MlDM]]): Array[MlDM] =
    if (i != k && row(k) == null) row // C = 0
    else {
      val dInv = piv(k).value
      if (i == k) row.indices.map(j => if (j == k) dInv else if (row(j) == null) null else dInv.multiply(row(j))).toArray
      else {
        val c = row(k).multiply(dInv)
        row.indices.map { j =>
          if (j == k) dmNeg(c)
          else if (piv(j) == null) row(j)
          else if (row(j) == null) dmNeg(c.multiply(piv(j).value))
          else dmSub(row(j), c.multiply(piv(j).value))
        }.toArray
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

  /** solve(A, X) = B by TRUE blocked triangular substitution (the
    * reference's O12 TRSM semantics,
    * /root/reference/Matrix/LUDecomposition.java:410-493 — forward
    * substitution at :477-486): factor P·A = L·U once, then L·Y = P·B by
    * a forward block sweep and U·X = Y by a backward block sweep. Half
    * the flops of inverse-then-multiply and numerically stronger (no
    * explicit inverse is ever formed).
    *
    * Distributed shape (wavefront TRSM): at step k the solved block row
    * Y_k (blk×m doubles — the RHS is assumed skinny; for m ≈ n prefer
    * [[inverse]]+multiply) is broadcast, and the remaining RHS
    * rows take the rank-blk update B_i ← B_i − L_ik·Y_k as one job that
    * joins the RHS blocks with the L column panel by block row — the
    * same broadcast-the-factor insight as the reference's replication-20
    * HDFS side files (:148-150). Per sweep: q tiny base solves + q
    * panel-update jobs over B-sized data only; A-sized data is touched
    * exactly once, by the factorization. */
  def solve(sc: SparkContext, a: Blocks, b: Blocks, n: Int, m: Int, blk: Int): Blocks =
    solveFactored(sc, BlockLU.factor(sc, a, n, blk), b, m)

  /** One triangular wavefront: solve block row k against the broadcast
    * diagonal factor, push the update into the remaining rows through
    * the `panels` column k, repeat in `order`. Consumes (and
    * unpersists) `cur0`. Shared by the LU and Cholesky solves. */
  private def sweepSolve(sc: SparkContext, cur0: Blocks,
      diag: scala.collection.Map[(Int, Int), MlDM],
      panels: Blocks,
      order: Seq[Int],
      remains: (Int, Int) => Boolean,
      base: (Array[Array[Double]], Array[Array[Double]]) => Array[Array[Double]])
      : Seq[((Int, Int), MlDM)] = {
    var cur = cur0
    val solved = scala.collection.mutable.ArrayBuffer.empty[((Int, Int), MlDM)]
    for (k <- order) {
      val dkk = fromDM(diag((k, k)))
      val rowK = cur.filter { case ((i, _), _) => i == k }
        .mapValues(mb => toDM(base(dkk, fromDM(mb))))
        .collect() // bounded: one q-block panel row
      solved ++= rowK
      if (order.last != k) {
        val rowB = sc.broadcast(rowK.map { case ((_, j), mm) => (j, mm) }.toMap)
        val pan = panels
          .filter { case ((i, j2), _) => j2 == k && remains(i, k) }
          .map { case ((i, _), mm) => (i, mm) }
        val next: Blocks = cur
          .filter { case ((i, _), _) => remains(i, k) }
          .map { case ((i, j), mm) => (i, (j, mm)) }
          .join(pan)
          .map { case (i, ((j, mm), pik)) =>
            ((i, j), dmSub(mm, pik.multiply(rowB.value(j)))) }
          .persist()
        graft.Lineage.truncate(next)
        next.count()
        cur.unpersist(blocking = false)
        cur = next
      }
    }
    cur.unpersist(blocking = false)
    solved.toSeq
  }

  def solveFactored(sc: SparkContext, lu: BlockLUResult, b: Blocks, m: Int): Blocks = {
    val blk = lu.blk; val q = lu.n / blk
    val permsB = sc.broadcast(lu.perms)
    val lDiag = lu.l.filter { case ((i, j), _) => i == j }.collectAsMap()
    val uDiag = lu.u.filter { case ((i, j), _) => i == j }.collectAsMap()

    // P·B: the permutation is block-diagonal, so it folds in as
    // within-block row remaps — a narrow map.
    val pb: Blocks = b.map { case ((i, j), mb) =>
      ((i, j), toDM(LocalLA.permuteRows(fromDM(mb), permsB.value(i))))
    }.persist()

    // forward: L·Y = P·B (unit-lower diag solves, update rows below)
    val y = sweepSolve(sc, pb, lDiag, lu.l, 0 until q, (i, k) => i > k, forwardSolveUnitLower)
    val yR: Blocks = sc.parallelize(y, math.min(y.size.max(1), 32)).persist()
    // backward: U·X = Y (upper diag solves, update rows above)
    val x = sweepSolve(sc, yR, uDiag, lu.u, (q - 1) to 0 by -1, (i, k) => i < k, backSolveUpper)
    sc.parallelize(x, math.min(x.size.max(1), 32))
  }

  /** solve(A, B) for SPD A through the Cholesky factorization — the
    * same two-sweep wavefront as [[solveFactored]] but with ONE factor:
    * L·Y = B forward, then Lᵀ·X = Y backward (the Lᵀ panels and
    * diagonals are per-block transposes of L — a narrow map, nothing
    * re-factored). No permutation fold-in: Cholesky never pivots. */
  def solveSPD(sc: SparkContext, a: Blocks, b: Blocks, n: Int, m: Int, blk: Int): Blocks =
    solveCholFactored(sc, BlockCholesky.factor(sc, a, n, blk), b, n, blk)

  def solveCholFactored(sc: SparkContext, l: Blocks, b: Blocks, n: Int, blk: Int): Blocks = {
    import LocalLA.{backSolveUpper, forwardSolveLower, transpose}
    val q = n / blk
    val lc = l.persist()
    val lDiag = lc.filter { case ((i, j), _) => i == j }.collectAsMap()
    val ltDiag = lDiag.map { case (k, mm) => (k, toDM(transpose(fromDM(mm)))) }
    val lt: Blocks = lc.map { case ((i, j), mm) => ((j, i), toDM(transpose(fromDM(mm)))) }

    val cur0: Blocks = b.persist()
    // forward: L·Y = B (non-unit lower diag solves, update rows below)
    val y = sweepSolve(sc, cur0, lDiag, lc, 0 until q, (i, k) => i > k, forwardSolveLower)
    val yR: Blocks = sc.parallelize(y, math.min(y.size.max(1), 32)).persist()
    // backward: Lᵀ·X = Y (upper diag solves, update rows above)
    val x = sweepSolve(sc, yR, ltDiag, lt, (q - 1) to 0 by -1, (i, k) => i < k, backSolveUpper)
    lc.unpersist(blocking = false)
    sc.parallelize(x, math.min(x.size.max(1), 32))
  }
}
