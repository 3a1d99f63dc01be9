package graft.matrix

import org.apache.spark.sql.{DataFrame, SparkSession}
import BlockModel._
import BlockVecs.BlockVec

/** The matrix capability surface as driver-checkable queries m1–m20
  * (SURVEY.md §2.3). Floating-point residual checks (m2–m5, m7–m20)
  * are not SQL-expressible, so they carry their correctness as boolean
  * `pass`/`*_ok` columns that [[graft.Verify.gateInvariants]] enforces
  * driver-side; the tight assertions also live in MatrixSpec. m1 and
  * m6 produce fully deterministic integer/string output, so they DO
  * carry pinned-constant DuckDB oracles ([[oracles]]) and get the full
  * rows+schema+hash verdict.
  *
  * Sizes are kept moderate (n=512) so the per-round Verify stays fast;
  * the same code paths scale by construction: the factorizations run
  * one block-line sweep ([[BlockSweep]]) of one narrow job per pivot
  * step, and the iterative family (m9, m15–m20) runs on the
  * [[BlockVecs]] block-vector layer.
  */
object MatrixQueries {
  private val Seed = 42L

  /** M1: seeded distributed generator — row counts + seed-stable
    * checksum, gated against the local generator producing the same
    * matrix. The checksum is INTEGER-EXACT (Σᵢ (i+1)·Σⱼ ⌊vᵢⱼ·2²⁰⌋, a
    * long sum — order-independent at any parallelism), so the whole
    * output row is a deterministic constant and the driver gets a real
    * DuckDB oracle verdict, not a rows-only check. */
  def m1Generate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = 256; val blk = 64
    def rowSum(v: Array[Double]): Long = {
      var acc = 0L; var j = 0
      while (j < v.length) { acc += math.floor(v(j) * 1048576).toLong; j += 1 }
      acc
    }
    val rows = MatrixGen.rows(s.sparkContext, n, blk, Seed)
    val checksum = rows.map { case (i, v) => (i + 1) * rowSum(v) }.sum()
    val count = rows.count()
    val local = MatrixGen.local(n, blk, Seed)
    val checksumLoc = local.zipWithIndex.map { case (v, i) => (i + 1) * rowSum(v) }.sum
    val pass = count == n.toLong && checksum.toLong == checksumLoc
    Seq((count, n.toLong, checksum.toLong, pass))
      .toDF("n_rows", "n_cols", "checksum", "pass")
  }

  /** M2: base-case LU on the driver — ‖L·U − A[indx,:]‖∞. */
  def m2LocalLU(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = 256
    val a = MatrixGen.local(n, 64, Seed)
    val packed = a.map(_.clone())
    val indx = LocalLA.ludcmp(packed)
    val (l, u) = LocalLA.splitLU(packed)
    val resid = LocalLA.maxAbsDiff(LocalLA.gemm(l, u), LocalLA.permuteRows(a, indx))
    Seq((n, resid, resid < 1e-8 * n)).toDF("n", "residual", "pass")
  }

  /** M3: distributed block LU — ‖L·U − P·A‖∞ at n=512, blk=128. */
  def m3DistLU(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sc = s.sparkContext
    val n = 512; val blk = 128
    val a = MatrixGen.blocks(sc, n, blk, Seed)
    val lu = BlockLU.factor(sc, a, n, blk)
    val prod = multiply(lu.l, lu.u, blk, n.toLong, n.toLong, n.toLong)
    val permsB = sc.broadcast(lu.perms)
    val pa = a.map { case ((i, j), m) =>
      ((i, j), LocalLA.toDM(LocalLA.permuteRows(LocalLA.fromDM(m), permsB.value(i))))
    }
    val resid = maxAbsDiff(prod, pa)
    Seq((n, blk, resid, resid < 1e-8 * n)).toDF("n", "blk", "residual", "pass")
  }

  /** M4: full inverse — ‖A·A⁻¹ − I‖∞ at n=512 (diagonally dominant). */
  def m4Inverse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sc = s.sparkContext
    val n = 512; val blk = 128
    val a = MatrixGen.blocks(sc, n, blk, Seed, diagBoost = n.toDouble)
    val ainv = Inversion.inverse(sc, a, n, blk)
    val prod = multiply(a, ainv, blk, n.toLong, n.toLong, n.toLong)
    val resid = maxAbsMinusIdentity(prod, blk)
    Seq((n, blk, resid, resid < 1e-6 * n)).toDF("n", "blk", "residual", "pass")
  }

  /** M5: solve(A, B) — ‖A·X − B‖∞ for an n×blk right-hand side. */
  def m5Solve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sc = s.sparkContext
    val n = 512; val blk = 128
    val a = MatrixGen.blocks(sc, n, blk, Seed, diagBoost = n.toDouble)
    val b = MatrixGen.blocks(sc, n, blk, Seed + 1).filter { case ((_, j), _) => j == 0 }
    val x = Inversion.solve(sc, a, b, n, blk, blk)
    val ax = multiply(a, x, blk, n.toLong, n.toLong, blk.toLong)
    val resid = maxAbsDiff(ax, b)
    Seq((n, blk, resid, resid < 1e-6 * n)).toDF("n", "blk", "residual", "pass")
  }

  /** M6: reference binary codec round trip on the golden fixtures
    * /root/reference/out/A.0, out/A.1 (FIXTURES.md A2), plus the
    * round-2 distributed sink + windowed re-read path: a generated
    * matrix is written per-task in reference format, then a window
    * crossing file boundaries is re-read with [[MatrixBlockIO
    * .readWindow]] and compared against the local generator. Both are
    * driver-gated through the `roundtrip_ok` column. */
  def m6Codec(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Seq("/root/reference/out/A.0", "/root/reference/out/A.1").flatMap { p =>
      val f = new java.io.File(p)
      if (!f.exists()) None
      else {
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val blockByteIdentical = java.util.Arrays.equals(bytes, MatrixBlockIO.encode(MatrixBlockIO.decode(bytes)))
        val b = MatrixBlockIO.decode(bytes)
        Some((p, b.i0, b.i1, b.j0, b.j1, bytes.length.toLong, blockByteIdentical))
      }
    }

    val n = 256; val blk = 64
    val tmp = java.nio.file.Files.createTempDirectory("m6sink").toFile
    val (sinkOk, sinkBytes) = try {
      MatrixBlockIO.writeBlocks(
        MatrixBlockIO.toRefBlocks(MatrixGen.blocks(s.sparkContext, n, blk, Seed), blk),
        tmp.getPath)
      val loc = MatrixGen.local(n, blk, Seed)
      val (wi, wj, wr, wc) = (37, 5, 101, 133)   // spans multiple files
      val win = Array.ofDim[Double](wr, wc)
      tmp.listFiles().foreach(f => MatrixBlockIO.readWindow(f.getPath, wi, wj, win))
      val ok =
        (0 until wr).forall(r => (0 until wc).forall(c => win(r)(c) == loc(wi + r)(wj + c))) &&
          tmp.listFiles().length == (n / blk) * (n / blk)
      (ok, tmp.listFiles().map(_.length).sum)
    } finally {
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
    // bytes is the SUMMED actual file length — the pinned oracle constant
    // (528640 = (n/blk)²·(16-byte header + 4·blk row indices) + 8·n²)
    // therefore gates the codec's real on-disk size, not an arithmetic
    // claim about it. Each file stores its blk row indices itself, so the
    // row-index term scales with the file COUNT: 4·blk·(n/blk)².
    val sinkRow = ("dist-sink+window", 0, n, 0, n, sinkBytes, sinkOk)

    (rows :+ sinkRow).toDF("path", "i0", "i1", "j0", "j1", "bytes", "roundtrip_ok")
      .orderBy("path")
  }

  /** Sign of a permutation via cycle decomposition (an even-length
    * cycle flips parity). */
  private def permSign(p: Array[Int]): Int = {
    val seen = new Array[Boolean](p.length)
    var sgn = 1
    for (i <- p.indices) if (!seen(i)) {
      var j = i; var len = 0
      while (!seen(j)) { seen(j) = true; j = p(j); len += 1 }
      if (len % 2 == 0) sgn = -sgn
    }
    sgn
  }

  /** M7: determinant from the block factorization — det(A) =
    * sign(P)·Π diag(U), computed as a distributed per-diagonal-block
    * (Σ log|u_ii|, Π sign) aggregate (log-domain so n=10⁶ wouldn't
    * overflow a double), the permutation sign driver-side from the
    * composed pivot vector. Checked against a driver-local LU of the
    * same matrix — a genuinely independent factorization (different
    * pivoting), so agreement is a real invariant, not an echo. */
  def m7Determinant(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sc = s.sparkContext
    val n = 512; val blk = 128
    val a = MatrixGen.blocks(sc, n, blk, Seed, diagBoost = n.toDouble)
    val lu = BlockLU.factor(sc, a, n, blk)
    val (logAbs, sgnU) = lu.u
      .filter { case ((i, j), _) => i == j }
      .map { case (_, m) =>
        val d = LocalLA.fromDM(toDense(m))
        var la = 0.0; var sg = 1; var i = 0
        while (i < d.length) {
          la += math.log(math.abs(d(i)(i))); if (d(i)(i) < 0) sg = -sg; i += 1
        }
        (la, sg)
      }
      .reduce { case ((l1, s1), (l2, s2)) => (l1 + l2, s1 * s2) }
    val sgn = sgnU * permSign(lu.globalPerm)

    val packed = MatrixGen.local(n, blk, Seed, diagBoost = n.toDouble)
    val indx = LocalLA.ludcmp(packed)
    var logLoc = 0.0; var sgnLoc = permSign(indx)
    for (i <- 0 until n) {
      logLoc += math.log(math.abs(packed(i)(i)))
      if (packed(i)(i) < 0) sgnLoc = -sgnLoc
    }
    val pass = sgn == sgnLoc && math.abs(logAbs - logLoc) < 1e-8 * n
    Seq((n, blk, math.round(logAbs * 1e6) / 1e6, sgn, pass))
      .toDF("n", "blk", "logabs_det", "sign", "pass")
  }

  /** Column-abs-sum max (1-norm) over the block Dataset: per-block
    * partial column sums, combined per block-column, max over columns.
    * Two tiny shuffles (q keys, then a scalar max) regardless of n. */
  private def distNorm1(bs: BlockModel.Blocks): Double =
    bs.map { case ((_, bj), m) =>
      val d = LocalLA.fromDM(toDense(m))
      val cols = new Array[Double](d(0).length)
      var i = 0
      while (i < d.length) {
        var j = 0; while (j < cols.length) { cols(j) += math.abs(d(i)(j)); j += 1 }
        i += 1
      }
      (bj, cols)
    }.reduceByKey { (x, y) =>
      val z = x.clone(); var j = 0
      while (j < z.length) { z(j) += y(j); j += 1 }; z
    }.map(_._2.max).max()

  /** Row-abs-sum max (∞-norm): same shape keyed by block-row. */
  private def distNormInf(bs: BlockModel.Blocks): Double =
    bs.map { case ((bi, _), m) =>
      val d = LocalLA.fromDM(toDense(m))
      val rows = new Array[Double](d.length)
      var i = 0
      while (i < d.length) {
        var j = 0; while (j < d(i).length) { rows(i) += math.abs(d(i)(j)); j += 1 }
        i += 1
      }
      (bi, rows)
    }.reduceByKey { (x, y) =>
      val z = x.clone(); var j = 0
      while (j < z.length) { z(j) += y(j); j += 1 }; z
    }.map(_._2.max).max()

  /** M8: distributed matrix norms (1, ∞, Frobenius) and the 1-norm
    * condition number κ₁ = ‖A‖₁·‖A⁻¹‖₁ (reusing the distributed
    * inverse). Norms are cross-checked against a driver-local
    * computation of the same matrix; κ must be ≥ 1 by definition. */
  def m8Norms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sc = s.sparkContext
    val n = 256; val blk = 64
    val a = MatrixGen.blocks(sc, n, blk, Seed, diagBoost = n.toDouble)
    val n1 = distNorm1(a)
    val nInf = distNormInf(a)
    val frob = math.sqrt(a.map { case (_, m) =>
      val v = toDense(m).values; var acc = 0.0; var i = 0
      while (i < v.length) { acc += v(i) * v(i); i += 1 }; acc
    }.sum())
    val cond1 = n1 * distNorm1(Inversion.inverse(sc, a, n, blk))

    val al = MatrixGen.local(n, blk, Seed, diagBoost = n.toDouble)
    val n1Loc = (0 until n).map(j => (0 until n).map(i => math.abs(al(i)(j))).sum).max
    val nInfLoc = al.map(_.map(math.abs).sum).max
    val frobLoc = math.sqrt(al.map(_.map(x => x * x).sum).sum)
    def rel(x: Double, y: Double) = math.abs(x - y) / math.max(math.abs(y), 1e-300)
    val pass = rel(n1, n1Loc) < 1e-9 && rel(nInf, nInfLoc) < 1e-9 &&
      rel(frob, frobLoc) < 1e-9 && cond1 >= 1.0 && !cond1.isNaN && !cond1.isInfinite
    Seq((n, blk, math.round(n1 * 1e4) / 1e4, math.round(nInf * 1e4) / 1e4,
      math.round(frob * 1e4) / 1e4, math.round(cond1 * 1e4) / 1e4, pass))
      .toDF("n", "blk", "norm1", "norm_inf", "frobenius", "cond1", "pass")
  }

  /** M9: spectral norm ‖A‖₂ = √λmax(A·Aᵀ) by power iteration — each
    * round is TWO distributed matvecs y = A·(Aᵀ·x) (the Gram matrix is
    * never materialized: at 100 TB A·Aᵀ is a dense n×n product you
    * cannot afford, but a matvec is one pass over the blocks). The
    * iterate is a [[BlockVecs]] block vector co-partitioned with the
    * matrix layout: each round is two narrow join+GEMV+reduce matvecs
    * whose shuffle carries ≤ q² partials of blk doubles, one scalar dot
    * product to the driver, and a narrow per-block rescale. Nothing
    * O(n) ever reaches the driver. A is nonsymmetric, so TWO
    * column-keyed layouts are laid out once: A by column (for A·z) and
    * Aᵀ by ITS column = A's row (for Aᵀ·x). A·Aᵀ is symmetric PSD, so
    * convergence is monotone — no complex-eigenpair oscillation risk
    * on the nonsymmetric A itself. Lineage is checkpointed every 8
    * rounds. Checked against the same iteration run driver-locally,
    * plus the ‖A‖₂ ≤ √(‖A‖₁·‖A‖∞) and ≥ ‖A‖F/√n norm-equivalence
    * bounds. */
  def m9SpectralNorm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sc = s.sparkContext
    val n = 256; val blk = 64; val iters = 15
    val x0 = 1.0 / math.sqrt(n.toDouble)
    val sigma = BlockVecs.scoped(sc, n / blk, blk) { bv =>
      val blocks = MatrixGen.blocks(sc, n, blk, Seed, diagBoost = n.toDouble)
        .mapValues(m => LocalLA.fromDM(toDense(m)))
      val aByCol = bv.byCol(blocks)
      val atByCol = bv.byCol(blocks.map { case ((bi, bj), d) => ((bj, bi), LocalLA.transpose(d)) })
      var x = bv.keep(bv.vec(_ => x0))
      var sigma2 = 0.0
      var it = 0
      while (it < iters) {
        val y = bv.keep(bv.matvec(aByCol, bv.matvec(atByCol, x))) // A·(Aᵀ·x)
        val nrm = math.sqrt(bv.dot(y, y)) // the ONLY driver traffic: one scalar
        sigma2 = nrm // ‖AAᵀx‖ for unit x → λmax(AAᵀ) at convergence
        x = bv.keep(bv.scale(y, 1.0 / nrm))
        if (it % 8 == 7) bv.checkpoint(x)
        it += 1
      }
      math.sqrt(sigma2)
    }

    // driver-local replica of the same iteration (same arithmetic graph
    // up to block-summation order)
    val al = MatrixGen.local(n, blk, Seed, diagBoost = n.toDouble)
    var xl = Array.fill(n)(x0)
    var s2 = 0.0
    for (_ <- 0 until iters) {
      val z = Array.tabulate(n)(i => (0 until n).map(j => al(j)(i) * xl(j)).sum)
      val y = Array.tabulate(n)(i => (0 until n).map(j => al(i)(j) * z(j)).sum)
      val nrm = math.sqrt(y.map(v => v * v).sum)
      s2 = nrm
      xl = y.map(_ / nrm)
    }
    val sigmaLoc = math.sqrt(s2)

    val n1 = (0 until n).map(j => (0 until n).map(i => math.abs(al(i)(j))).sum).max
    val nInf = al.map(_.map(math.abs).sum).max
    val frob = math.sqrt(al.map(_.map(v => v * v).sum).sum)
    val pass = math.abs(sigma - sigmaLoc) / sigmaLoc < 1e-9 &&
      sigma <= math.sqrt(n1 * nInf) * (1 + 1e-12) &&
      sigma >= frob / math.sqrt(n.toDouble) * (1 - 1e-12)
    Seq((n, blk, iters, math.round(sigma * 1e4) / 1e4, pass))
      .toDF("n", "blk", "iters", "spectral_norm", "pass")
  }

  /** M10: distributed block Cholesky on an SPD matrix — the pivot-free
    * half-flops factorization LU cannot replace ([[BlockCholesky]]).
    * Gated on the residual ‖L·Lᵀ − A‖∞ AND element-wise agreement with
    * a driver-local Cholesky of the same matrix (the factor is unique
    * for SPD input, so agreement is a real invariant). */
  def m10Cholesky(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sc = s.sparkContext
    val n = 512; val blk = 128
    val a = BlockCholesky.spdBlocks(sc, n, blk, Seed, boost = n.toDouble)
    val l = BlockCholesky.factor(sc, a, n, blk).cache()

    val lt = l.map { case ((i, j), m) =>
      ((j, i), LocalLA.toDM(LocalLA.transpose(LocalLA.fromDM(toDense(m)))))
    }
    val prod = multiply(l, lt, blk, n.toLong, n.toLong, n.toLong)
    val aFull = a.flatMap { case ((i, j), m) =>
      if (i == j) Iterator(((i, j), m))
      else Iterator(((i, j), m),
        ((j, i), LocalLA.toDM(LocalLA.transpose(LocalLA.fromDM(toDense(m))))))
    }
    val resid = maxAbsDiff(prod, aFull)

    val llocB = sc.broadcast(
      LocalLA.cholesky(BlockCholesky.spdLocal(n, blk, Seed, n.toDouble)))
    val vsLocal = l.map { case ((bi, bj), m) =>
      val d = LocalLA.fromDM(toDense(m))
      var mx = 0.0; var i = 0
      while (i < d.length) {
        var j = 0
        while (j < d(i).length) {
          val diff = math.abs(d(i)(j) - llocB.value(bi * blk + i)(bj * blk + j))
          if (diff > mx) mx = diff
          j += 1
        }
        i += 1
      }
      mx
    }.max()
    val pass = resid < 1e-8 * n && vsLocal < 1e-8 * n
    Seq((n, blk, resid, vsLocal, pass))
      .toDF("n", "blk", "residual", "vs_local", "pass")
  }

  /** M11: distributed least squares — min ‖A·X − B‖F for a TALL A
    * (m×n, m > n) via the normal equations: G = AᵀA and c = AᵀB are two
    * block GEMMs that STREAM over A (the transpose is a narrow key-swap
    * map, never a shuffle of data within blocks), then G·X = c goes
    * through the SPD fast path ([[BlockCholesky.factor]] +
    * [[Inversion.solveCholFactored]] — no inverse is ever formed).
    *
    * The scale story is the point: everything after the two GEMMs is
    * n×n — INDEPENDENT of the row count m. At 100 TB, A is a tall thin
    * design matrix (m ~ 10¹⁰ rows, n ~ 10³ features); each GEMM is one
    * map-side pass emitting q·(q+1)/2 partial products per block row,
    * reduced by block key, and the Cholesky solve is a few-MB problem.
    * Gated on the relative normal-equations residual
    * ‖Aᵀ(A·X − B)‖∞ / ‖AᵀB‖∞ (zero in exact arithmetic — THE defining
    * property of the least-squares solution) and agreement with a
    * driver-local solve of the same system. */
  def m11LeastSquares(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sc = s.sparkContext
    val mRows = 512; val n = 256; val blk = 64
    val p = mRows / blk; val q = n / blk

    val aIds = for (bi <- 0 until p; bj <- 0 until q) yield (bi, bj)
    val a: Blocks = sc.parallelize(aIds, math.min(aIds.size, 64)).map { case (bi, bj) =>
      ((bi, bj), LocalLA.toDM(MatrixGen.localBlock(blk, Seed, bi, bj, 0.0)))
    }
    val b: Blocks = sc.parallelize(0 until p, math.min(p, 32)).map { bi =>
      ((bi, 0), LocalLA.toDM(MatrixGen.localBlock(blk, Seed + 7, bi, 0, 0.0)))
    }
    val at = a.map { case ((i, j), blkM) =>
      ((j, i), LocalLA.toDM(LocalLA.transpose(LocalLA.fromDM(toDense(blkM)))))
    }
    val g = multiply(at, a, blk, n.toLong, mRows.toLong, n.toLong)
    val c = multiply(at, b, blk, n.toLong, mRows.toLong, blk.toLong)
    val l = BlockCholesky.factor(sc, g.filter { case ((i, j), _) => i >= j }, n, blk)
    val x = Inversion.solveCholFactored(sc, l, c, n, blk)

    // driver-local oracle at gate scale (the matrices are small here;
    // the invariant is the normal-equations residual, not the oracle)
    val xd = toLocal(x, n, blk, blk)
    val al = Array.ofDim[Double](mRows, n)
    for ((bi, bj) <- aIds) {
      val t = MatrixGen.localBlock(blk, Seed, bi, bj, 0.0)
      for (i <- 0 until blk) System.arraycopy(t(i), 0, al(bi * blk + i), bj * blk, blk)
    }
    val bl = Array.ofDim[Double](mRows, blk)
    for (bi <- 0 until p) {
      val t = MatrixGen.localBlock(blk, Seed + 7, bi, 0, 0.0)
      for (i <- 0 until blk) System.arraycopy(t(i), 0, bl(bi * blk + i), 0, blk)
    }
    val ax = LocalLA.gemm(al, xd)
    val atl = LocalLA.transpose(al)
    val ntRes = LocalLA.gemm(atl, LocalLA.sub(ax, bl)) // Aᵀ(AX − B)
    val atb = LocalLA.gemm(atl, bl)
    val scale = atb.map(_.map(math.abs).max).max
    val residRel = ntRes.map(_.map(math.abs).max).max / scale

    val gl = LocalLA.gemm(atl, al)
    val ll = LocalLA.cholesky(gl)
    val xl = LocalLA.backSolveUpper(LocalLA.transpose(ll),
      LocalLA.forwardSolveLower(ll, atb))
    val vsLocal = LocalLA.maxAbsDiff(xd, xl)

    val pass = residRel < 1e-8 && vsLocal < 1e-8 * n
    Seq((mRows, n, blk, residRel, vsLocal, pass))
      .toDF("m", "n", "blk", "resid_rel", "vs_local", "pass")
  }

  /** M12: distributed TSQR — the communication-avoiding QR for TALL
    * matrices ([[TallSkinny.tsqrR]]): per-partition Householder QR,
    * then a reduction tree over d×d R triangles. A is scanned once and
    * never shuffled; at 100 TB the cross-executor traffic stays
    * O(log p) tiny triangles regardless of the row count — the same
    * single-pass shape as M11's normal equations but BACKWARD STABLE
    * in κ(A) instead of κ(A)² (Householder never squares the
    * condition number).
    *
    * Three invariants feed `pass`:
    *  - element-wise agreement of the sign-canonical R with a driver-
    *    local QR of the same rows (canonical R is unique for full-rank
    *    input, so this is equality up to roundoff, not just a residual);
    *  - orthonormality of the distributed Q = A·R⁻¹ (max|QᵀQ − I|);
    *  - the QR least-squares path recovering a planted solution from
    *    b = A·x (computed in the same narrow pass, no join). */
  def m12Tsqr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sc = s.sparkContext
    val m = 2048; val d = 32; val blk = 64
    val rows = TallSkinny.tallRows(sc, m, d, blk, Seed)
    val r = TallSkinny.tsqrR(rows, d)

    // driver-local oracle over the same rows (m×d is small at gate scale)
    val al = (0 until m / blk).flatMap { bi =>
      MatrixGen.localBlock(blk, Seed, bi, 0, 0.0).map(_.take(d)) // local: Array.take on a local block row
    }.toArray
    val rl = LocalLA.canonUpper(LocalLA.qrR(al))
    val rScale = rl.map(_.map(math.abs).max).max
    val vsLocal = LocalLA.maxAbsDiff(r, rl) / rScale

    val qtq = TallSkinny.gram(TallSkinny.qOf(rows, r), d)
    var orth = 0.0
    for (i <- 0 until d; j <- 0 until d) {
      val e = math.abs(qtq(i)(j) - (if (i == j) 1.0 else 0.0))
      if (e > orth) orth = e
    }

    val xTrue = Array.tabulate(d)(j => ((j % 7) - 3).toDouble / 4)
    val xTrueB = sc.broadcast(xTrue)
    val rowsWithB = rows.map { case (_, v) =>
      var b = 0.0; var j = 0
      while (j < v.length) { b += v(j) * xTrueB.value(j); j += 1 }
      (v, b)
    }
    val x = TallSkinny.lstsqQR(rowsWithB, r, d)
    val lsErr = x.zip(xTrue).map { case (a, b) => math.abs(a - b) }.max

    val pass = vsLocal < 1e-9 && orth < 1e-9 && lsErr < 1e-9
    Seq((m, d, vsLocal, orth, lsErr, pass))
      .toDF("m", "d", "vs_local_rel", "orth_resid", "lstsq_err", "pass")
  }

  /** M13: randomized low-rank approximation (the Halko–Martinsson–Tropp
    * range finder — the front half of randomized SVD/PCA): Y = A·Ω for
    * a seeded n×(r+p) Gaussian-free sign sketch, Q = TSQR(Y), then
    * B = QᵀA so that A ≈ Q·B with rank r+p. THE way to take an SVD/PCA
    * of a matrix too tall to factor directly: TWO narrow passes over A
    * (sketch+range, then projection/error), no shuffle of A at any
    * point — Ω and B are broadcast-sized ((r+p)·n doubles), and both
    * reductions move (r+p)×n partials up a tree.
    *
    * The input plants rank r₀ = 8 structure (A = L·Rᵀ, L m×r₀, R n×r₀,
    * seeded) plus 10⁻³ uniform noise, so the r = 16 range must capture
    * ≥ 99.9% of the Frobenius energy — a REAL approximation bound, not
    * just internal consistency — alongside QᵀQ = I and the projection
    * error ‖A − Q·B‖F/‖A‖F ≤ 0.02 (the noise floor is ~3·10⁻⁴ of ‖A‖F).
    *
    * Because the planted input makes Y = A·Ω nearly rank-r₀, forming
    * Q as Y·R⁻¹ from ONE factorization loses orthogonality through the
    * ill-conditioned R (the classic CholeskyQR failure); a second TSQR
    * of Y·R₁⁻¹ (CholeskyQR2) restores QᵀQ = I to machine precision at
    * the cost of one more narrow pass — three passes total, still no
    * shuffle of A anywhere. */
  /** Shared plumbing of the randomized-SVD pair (M13 range finder, M14
    * completed SVD): seeded generation of the planted-rank input and
    * the three narrow passes that produce B = QᵀA, ‖A‖F² and QᵀQ. */
  private object Rsvd {
    val M = 2048; val N = 256; val R0 = 8; val Rp = 24 // r=16 + p=8 oversampling

    // Per-entry seeded uniforms via splitmix64 — NOT per-entry
    // java.util.Random(linear seed): a Random's FIRST draw correlates
    // strongly across nearby seeds (same failure family as the
    // Carter-Wegman MinHash degeneracy), which here made Ω's columns
    // near-linearly-dependent and Y exactly rank-deficient.
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def u01(s: Long): Double = (mix(s) >>> 11).toDouble / (1L << 53).toDouble

    // planted factors: R (n×r0) and Ω (n×rp) are driver-seeded constants
    lazy val rFac: Array[Array[Double]] =
      Array.tabulate(N, R0) { (i, k) => u01(Seed * 31 + i * 131 + k) }
    lazy val omega: Array[Array[Double]] =
      Array.tabulate(N, Rp) { (i, k) =>
        if ((mix(Seed * 37 + i * 151 + k) & 1L) == 1L) 1.0 else -1.0
      }

    /** Row i of A = L·Rᵀ + 1e-3·noise — the same arithmetic on the
      * executors (distributed passes) and the driver (M14's oracle). */
    def aRow(i: Long, rf: Array[Array[Double]]): Array[Double] = {
      val l = Array.tabulate(R0)(k => u01(Seed * 41 + i * 1009 + k))
      val v = new Array[Double](N)
      var j = 0
      while (j < N) {
        var acc = 0.0; var k = 0
        while (k < R0) { acc += l(k) * rf(j)(k); k += 1 }
        v(j) = acc + 1e-3 * u01(Seed * 43 + i * 2003 + j)
        j += 1
      }
      v
    }
  }

  def m13RandomizedSvd(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = Rsvd.M; val n = Rsvd.N; val r0 = Rsvd.R0; val rp = Rsvd.Rp
    val (b, aF2, qtq) = rsvdRange(s)
    var orth = 0.0
    for (i <- 0 until rp; j <- 0 until rp) {
      val e = math.abs(qtq(i)(j) - (if (i == j) 1.0 else 0.0))
      if (e > orth) orth = e
    }
    var bF2 = 0.0
    for (k <- 0 until rp; j <- 0 until n) bF2 += b(k)(j) * b(k)(j)
    val errF2 = math.max(0.0, aF2 - bF2)

    val capture = 1.0 - errF2 / aF2
    val relErr = math.sqrt(errF2 / aF2)
    val pass = orth < 1e-9 && capture > 0.999 && relErr < 0.02
    Seq((m, n, r0, rp, capture, relErr, orth, pass))
      .toDF("m", "n", "rank_planted", "rank_sketch",
        "energy_captured", "rel_err_f", "orth_resid", "pass")
  }

  /** The three narrow passes of the HMT range finder (sketch, TSQR,
    * CholeskyQR2 re-factor, projection): returns (B = QᵀA, ‖A‖F², QᵀQ).
    * A is generated in place and never stored; every reduction moves
    * broadcast-sized partials up a tree — no shuffle of A anywhere. */
  private def rsvdRange(s: SparkSession): (Array[Array[Double]], Double, Array[Array[Double]]) = {
    val sc = s.sparkContext
    val m = Rsvd.M; val n = Rsvd.N; val rp = Rsvd.Rp
    val rFacB = sc.broadcast(Rsvd.rFac); val omegaB = sc.broadcast(Rsvd.omega)
    def aRows = sc.range(0, m, numSlices = 32).map { i =>
      (i, Rsvd.aRow(i, rFacB.value))
    }

    // pass 1: sketch Y = A·Ω rowwise (narrow), TSQR of Y
    def sketch(v: Array[Double]): Array[Double] = {
      val y = new Array[Double](rp)
      var j = 0
      while (j < n) {
        val vj = v(j); val oj = omegaB.value(j)
        var k = 0
        while (k < rp) { y(k) += vj * oj(k); k += 1 }
        j += 1
      }
      y
    }
    val rq1 = TallSkinny.tsqrR(aRows.map { case (i, v) => (i, sketch(v)) }, rp)
    val rq1B = sc.broadcast(rq1)
    // CholeskyQR2 pass: re-factor Y·R₁⁻¹ so Q is orthonormal despite
    // κ(Y) being driven by the planted rank deficiency
    val rq2 = TallSkinny.tsqrR(aRows.map { case (i, v) =>
      (i, LocalLA.solveXU(Array(sketch(v)), rq1B.value)(0))
    }, rp)
    val rq2B = sc.broadcast(rq2)
    def qRow(v: Array[Double]): Array[Double] =
      LocalLA.solveXU(LocalLA.solveXU(Array(sketch(v)), rq1B.value), rq2B.value)(0)

    // final pass: accumulate B = QᵀA, ‖A‖F² and QᵀQ together (q_i is
    // re-derived in place). The projection error then needs NO further
    // pass: with Q orthonormal, ‖A − Q·B‖F² = ‖A‖F² − ‖B‖F² exactly.
    val (b, aF2, qtq) = aRows.mapPartitions { it =>
      val accB = Array.ofDim[Double](rp, n)
      val accQ = Array.ofDim[Double](rp, rp)
      var af = 0.0
      it.foreach { case (_, v) =>
        val q = qRow(v)
        var k = 0
        while (k < rp) {
          val qk = q(k); val bk = accB(k); val qq = accQ(k)
          var j = 0
          while (j < n) { bk(j) += qk * v(j); j += 1 }
          j = 0
          while (j < rp) { qq(j) += qk * q(j); j += 1 }
          k += 1
        }
        var j = 0
        while (j < n) { af += v(j) * v(j); j += 1 }
      }
      Iterator((accB, af, accQ))
    }.treeReduce({ (x, y) =>
      var k = 0
      while (k < rp) {
        var j = 0
        while (j < n) { x._1(k)(j) += y._1(k)(j); j += 1 }
        j = 0
        while (j < rp) { x._3(k)(j) += y._3(k)(j); j += 1 }
        k += 1
      }
      (x._1, x._2 + y._2, x._3)
    }, depth = 2)
    (b, aF2, qtq)
  }

  /** M14: the COMPLETED randomized SVD — M13 stops at A ≈ Q·B (range +
    * projection); the singular values and right vectors are one
    * driver-side eigensolve of the broadcast-sized B away:
    * B·Bᵀ = U_B·Λ·U_Bᵀ (rp×rp, Jacobi — [[LocalLA.symEig]]), σ = √Λ,
    * V = Bᵀ·U_B·Σ⁻¹, and A ≈ (Q·U_B)·Σ·Vᵀ. Nothing new touches the
    * distributed data: the passes are M13's three narrow scans, the SVD
    * tail is O(rp²·n) on the driver — exactly the split a 100 TB PCA
    * wants (the (r+p)×n B is megabytes at any corpus size).
    *
    * Gates (REAL approximation bounds vs an independent driver-local
    * eigensolve of AᵀA over the same generated rows, not
    * self-consistency):
    *  - top-r₀ singular values match the local spectrum to 1e-2 rel
    *    (the binding error is Weyl's bound ‖A − Q·B‖₂, the projection
    *    residual — measured ~1e-5 here; the gate leaves margin);
    *  - the top right-singular vector aligns (|cos| > 0.999);
    *  - VᵀV = I to 1e-8 (V's columns are exactly orthonormal in exact
    *    arithmetic — B·Bᵀ diagonalization, not a power iteration);
    *  - σ₉/σ₁ < 1e-2: the planted rank-8 spectrum drops to the 1e-3
    *    noise floor, so the sketch neither hallucinates nor misses
    *    structure. */
  def m14CompletedSvd(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = Rsvd.N; val r0 = Rsvd.R0; val rp = Rsvd.Rp
    val (b, aF2, _) = rsvdRange(s)

    // SVD tail on the driver: B·Bᵀ (rp×rp) eigensolve
    val bbT = LocalLA.gemm(b, LocalLA.transpose(b))
    val (lam, uB) = LocalLA.symEig(bbT)
    val sig = lam.map(l => math.sqrt(math.max(l, 0.0)))
    // V = Bᵀ·U_B·Σ⁻¹ (n×rp)
    val bTu = LocalLA.gemm(LocalLA.transpose(b), uB)
    val v = Array.tabulate(n, rp)((i, k) =>
      if (sig(k) > 0) bTu(i)(k) / sig(k) else 0.0)
    var vOrth = 0.0
    for (i <- 0 until rp; j <- 0 until rp) {
      var acc = 0.0; var t = 0
      while (t < n) { acc += v(t)(i) * v(t)(j); t += 1 }
      val e = math.abs(acc - (if (i == j) 1.0 else 0.0))
      if (e > vOrth) vOrth = e
    }

    // independent driver-local oracle: eig(AᵀA) over the SAME rows
    val al = Array.tabulate(Rsvd.M)(i => Rsvd.aRow(i.toLong, Rsvd.rFac))
    val g = LocalLA.gemm(LocalLA.transpose(al), al)
    val (lamLoc, vLoc) = LocalLA.symEig(g)
    val sigLoc = lamLoc.map(l => math.sqrt(math.max(l, 0.0)))
    val relTop = (0 until r0).map(k =>
      math.abs(sig(k) - sigLoc(k)) / sigLoc(k)).max
    var align1 = 0.0
    for (i <- 0 until n) align1 += v(i)(0) * vLoc(i)(0)
    val tailRatio = sig(r0) / sig(0)
    // energy identity: Σσ² = ‖B‖F² ≤ ‖A‖F²
    val sigEnergy = sig.map(x => x * x).sum / aF2

    val pass = relTop < 1e-2 && math.abs(align1) > 0.999 &&
      vOrth < 1e-8 && tailRatio < 1e-2 && sigEnergy <= 1.0 + 1e-12
    Seq((Rsvd.M, n, r0, rp,
      math.round(sig(0) * 1e4) / 1e4, math.round(sig(r0 - 1) * 1e4) / 1e4,
      relTop, math.abs(align1), vOrth, tailRatio, pass))
      .toDF("m", "n", "rank_planted", "rank_sketch", "sig1_4", "sig8_4",
        "rel_top8", "align1", "v_orth", "tail_ratio", "pass")
  }

  /** M15: conjugate-gradient solve of the SPD system A·x = b — the
    * ITERATIVE member of the solver family (direct LU m3–m5, Cholesky
    * m10, QR m12, randomized m13/m14): when a factorization is
    * unaffordable, CG needs only a matvec per iteration. The loop is
    * FULLY distributed on [[BlockVecs]]: x/r/p are block vectors
    * co-partitioned with the matrix layout, every vector update (axpy)
    * is a narrow co-partitioned join, and the ONLY values that ever
    * reach the driver are the CG scalars — two dot products per
    * iteration, 16 bytes regardless of n.
    *
    * Storage trade, stated: the symmetric matrix is laid out ONCE in
    * full block form keyed by COLUMN block ([[BlockVecs.spdByCol]]),
    * 2× block storage for a broadcast-free, collect-free iteration. The
    * factorizations keep lower-only storage ([[BlockCholesky]]) because
    * their driver never needs the iterate; an iterative solver's hot
    * loop earns the duplicate. Lineage: every iteration's vectors are
    * cached (q·blk doubles — trivial) and checkpointed every 8
    * iterations, so a long solve can neither rebuild past iterations
    * nor grow an unbounded DAG. b is PLANTED as A·x* through the same
    * distributed matvec, so recovering x* is a real end-to-end
    * invariant; the gate checks the TRUE residual (one extra matvec),
    * not the recurrence residual, in the same job as the x* error. */
  def m15ConjugateGradient(s: SparkSession, dir: String): DataFrame =
    m15At(s, 512, 128)

  /** The CG solve at a caller-chosen problem size — the gate query is
    * [[m15ConjugateGradient]] at n = 512; ScaleSweep times 2×/4× n to
    * put a measured trend point behind the iterative family's scale
    * claims (everything else about the loop is identical). */
  private[graft] def m15At(s: SparkSession, n: Int, blk: Int): DataFrame = {
    import s.implicits._
    val (iters, (residTrue, relErr)) = BlockVecs.scoped(s.sparkContext, n / blk, blk) { bv =>
      val aByCol = bv.spdByCol(Seed)
      val sys = bv.plant(bv.matvec(aByCol, _))
      var x = bv.keep(bv.vec(_ => 0.0))
      var r = sys.b
      var p = r
      var rs = bv.dot(r, r)
      var it = 0
      while (it < n && math.sqrt(rs) / sys.bNrm > 1e-12) {
        val ap = bv.keep(bv.matvec(aByCol, p))
        val alpha = rs / bv.dot(p, ap)
        val xN = bv.keep(bv.axpy(alpha, p, x))
        val rN = bv.keep(bv.axpy(-alpha, ap, r))
        val rsN = bv.dot(rN, rN)
        val pN = bv.keep(bv.axpy(rsN / rs, p, rN))
        if (it % 8 == 7) bv.checkpoint(xN, rN, pN)
        x = xN; r = rN; p = pN
        rs = rsN
        it += 1
      }
      (it, bv.check(sys, x))
    }
    val pass = residTrue < 1e-10 && relErr < 1e-8
    Seq((n, blk, iters, residTrue, relErr, pass))
      .toDF("n", "blk", "iters", "resid_rel", "err_rel", "pass")
  }

  /** M16: Jacobi-PRECONDITIONED conjugate gradient — M15's loop with
    * the one extra narrow join per iteration (z = M⁻¹r, M = diag(A))
    * that makes CG practical on badly SCALED systems, the common real
    * case (features in wildly different units). The test matrix is
    * M15's well-conditioned SPD core congruence-scaled by
    * D = diag(1 + i mod 4) — SPD is preserved, the condition number
    * inflates ~16×, and Jacobi exactly undoes the scaling, so the
    * preconditioned iteration count must fall back to the unscaled
    * regime. Both solves run on [[BlockVecs]] at exactly TWO
    * scalar-reduction jobs per iteration — the PCG recurrence's r·z
    * and convergence r·r come out of one [[BlockVecs.dots]] job, since
    * launch overhead (not data) dominates these reductions; the query
    * reports BOTH iteration counts and gates on pcg_iters < cg_iters in
    * addition to the true-residual/solution invariants, so a silently
    * broken preconditioner (z = r) flips the driver's correctness row. */
  def m16PreconditionedCg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = 512; val blk = 128
    def scaleOf(i: Int): Double = 1.0 + (i % 4)
    val (cg, pcg) = BlockVecs.scoped(s.sparkContext, n / blk, blk) { bv =>
      val aByCol = bv.spdByCol(Seed, (bi, bj, d) =>
        Array.tabulate(d.length, d(0).length)((i, j) =>
          d(i)(j) * scaleOf(bi * blk + i) * scaleOf(bj * blk + j)))
      // diag(A)⁻¹ extracted from the stored diagonal blocks — stays a
      // distributed block vector like everything else in the loop
      val invDiag = bv.pin(aByCol
        .flatMap { case (bj, (bi, d)) =>
          if (bi == bj) Iterator((bi, Array.tabulate(d.length)(i => 1.0 / d(i)(i))))
          else Iterator.empty
        }.partitionBy(bv.part))
      def applyPrecond(r: BlockVec): BlockVec =
        r.join(invDiag, bv.part).mapValues { case (a, m) =>
          Array.tabulate(a.length)(i => a(i) * m(i))
        }
      val sys = bv.plant(bv.matvec(aByCol, _))

      /** One CG solve; identity preconditioner when `precond` is false.
        * Returns (iterations, (true relative residual, relative x* error)). */
      def solve(precond: Boolean): (Int, (Double, Double)) = {
        var x = bv.keep(bv.vec(_ => 0.0))
        var r = sys.b
        var z = if (precond) bv.keep(applyPrecond(r)) else r
        var p = z
        var rz = bv.dot(r, z)
        var rr = if (precond) bv.dot(r, r) else rz // z = r without preconditioning
        var it = 0
        while (it < n && math.sqrt(rr) / sys.bNrm > 1e-12) {
          val ap = bv.keep(bv.matvec(aByCol, p))
          val alpha = rz / bv.dot(p, ap)
          val xN = bv.keep(bv.axpy(alpha, p, x))
          val rN = bv.keep(bv.axpy(-alpha, ap, r))
          val zN = if (precond) bv.keep(applyPrecond(rN)) else rN
          val Array(rzN, rrN) = bv.dots(rN -> zN, rN -> rN)
          val pN = bv.keep(bv.axpy(rzN / rz, p, zN))
          if (it % 8 == 7) bv.checkpoint(xN, rN, zN, pN)
          x = xN; r = rN; z = zN; p = pN
          rz = rzN; rr = rrN
          it += 1
        }
        (it, bv.check(sys, x))
      }

      (solve(precond = false), solve(precond = true))
    }
    val (itCg, (residCg, _)) = cg
    val (itPcg, (residPcg, relErr)) = pcg
    val pass = residCg < 1e-10 && residPcg < 1e-10 && relErr < 1e-8 &&
      itPcg < itCg
    Seq((n, blk, itCg, itPcg, residCg, residPcg, relErr, pass))
      .toDF("n", "blk", "cg_iters", "pcg_iters", "resid_cg", "resid_pcg",
        "err_rel", "pass")
  }

  /** Pinned-constant DuckDB oracles for the two matrix queries whose
    * output is deterministic to the last bit: m1 (integer-exact
    * checksum of the seeded generator — the constant is the local
    * generator's value, independently recomputed inside the query) and
    * m6 (golden-fixture extents/sizes from FIXTURES.md A2 plus the
    * arithmetic size of the distributed-sink round trip). A generator
    * or codec regression now flips the driver's hash gate, not just
    * `sbt test`. */
  val oracles: Map[String, String] = Map(
    "m1_generate" ->
      """SELECT CAST(256 AS BIGINT) AS n_rows, CAST(256 AS BIGINT) AS n_cols,
        |       CAST(4407163425331 AS BIGINT) AS checksum, TRUE AS pass""".stripMargin,
    "m6_codec" ->
      """SELECT * FROM (VALUES
        |  ('/root/reference/out/A.0', 1024, 1536, 1024, 1536, 2099216, TRUE),
        |  ('/root/reference/out/A.1', 1024, 1536, 1536, 2048, 2099216, TRUE),
        |  ('dist-sink+window', 0, 256, 0, 256, 528640, TRUE)
        |) AS t(path, i0, i1, j0, j1, bytes, roundtrip_ok)
        |ORDER BY path""".stripMargin)

  // ---------------------------------------------------------------- M17
  /** M17: distributed LANCZOS — top-k eigenpairs of the SPD matrix,
    * the eigen-member of the iterative family (m15/m16 solve, m17
    * spectrally decomposes; m9 bounds only the largest singular value,
    * m17 extracts PAIRS): k=3 Ritz pairs from an m-step Krylov basis
    * with FULL reorthogonalization, the standard workhorse for "top
    * eigenvectors of a matrix you can only afford to multiply by"
    * (spectral embeddings, PCA of huge Grams, stability analysis).
    *
    * Distribution discipline = [[BlockVecs]]: the matrix is the
    * column-keyed full-symmetric block layout, every matvec is a narrow
    * join + map-side-combined reduce, every vector op is a
    * co-partitioned join, and the Krylov BASIS lives distributed as
    * one (block → m×blk slab) frame — so full reorthogonalization is
    * TWO jobs per iteration regardless of basis size (one fused
    * Basisᵀ·w reduction producing m driver scalars, one fused
    * w −= Basis·c update), not m separate dot-jobs; done twice
    * ("twice is enough", Parlett) for orthogonality to machine
    * precision. The driver sees only the tridiagonal (α, β) — its
    * m×m eigensolve reuses m14's cyclic-Jacobi [[LocalLA.symEig]].
    * Iteration stops when the FREE Lanczos residual bound
    * |β_m·s_{m,k}| clears the tolerance for all k (or at mMax); the
    * gate then checks the TRUE distributed residual ‖A·y − θ·y‖ /
    * (|θ|·‖y‖) per extracted pair plus pairwise Ritz-vector
    * orthonormality — not the recurrence's own estimate.
    *
    * Scale: per iteration ONE matvec + a bounded number of narrow
    * joins; driver state = m scalars per reduction; basis storage
    * m·n doubles spread over the blocks. Lineage is checkpointed every
    * iteration. */
  def m17LanczosEigen(s: SparkSession, dir: String): DataFrame =
    m17At(s, 512, 128)

  private[graft] def m17At(s: SparkSession, n: Int, blk: Int): DataFrame = {
    import s.implicits._
    val K = 3
    val mMax = math.min(96, n)
    val alphas = scala.collection.mutable.ArrayBuffer.empty[Double]
    val betas = scala.collection.mutable.ArrayBuffer.empty[Double]
    def tridiagonal: Array[Array[Double]] = {
      val m = alphas.length
      Array.tabulate(m, m)((i, j) =>
        if (i == j) alphas(i)
        else if (math.abs(i - j) == 1) betas(math.min(i, j)) else 0.0)
    }
    val (theta, gram, r2) = BlockVecs.scoped(s.sparkContext, n / blk, blk) { bv =>
      // m15's SPD core + THREE planted spectral spikes: uₖ = the uniform
      // unit vector on block k's indices (disjoint supports ⇒ exactly
      // orthonormal, each rank-1 bump touches ONE diagonal block:
      // +cₖ/blk on every entry), cₖ = (3−k)·n. The boosted random bulk
      // sits in n ± O(√n) — a CLUSTERED edge, the classic slow case for
      // any Krylov method — while the planted extremes at ~4n/3n/2n are
      // separated by n, so the top-3 extraction converges in tens of
      // iterations; the dense-spectrum spec cross-checks against the
      // SAME planted matrix, so the plant is tested, not assumed.
      val plantK = 3
      val aByCol = bv.spdByCol(Seed, (bi, bj, d) =>
        if (bi == bj && bi < plantK) {
          val bump = (plantK - bi) * n.toDouble / blk
          Array.tabulate(d.length, d(0).length)((i, j) => d(i)(j) + bump)
        } else d)
      // the |β·s| bound is ABSOLUTE — scale it to the spectrum (running
      // max |α| tracks ‖T‖ within 2×) so the stop is ~1e-8 RELATIVE;
      // an absolute 1e-9 against eigenvalues of size n never fires
      var tScale = 0.0
      // deterministic non-degenerate start, normalized
      val v0raw = bv.keep(bv.vec(i => 1.0 + math.sin(i * 0.7)))
      var v = bv.keep(bv.scale(v0raw, 1.0 / math.sqrt(bv.dot(v0raw, v0raw))))
      var vPrev: BlockVec = null
      var basis = bv.slab(v)
      var beta = 0.0
      var converged = false
      var breakdown = false
      while (alphas.length < mMax && !converged && !breakdown) {
        var w = bv.keep(bv.matvec(aByCol, v))
        if (vPrev != null) w = bv.keep(bv.axpy(-beta, vPrev, w))
        val alpha = bv.dot(w, v)
        w = bv.keep(bv.axpy(-alpha, v, w))
        alphas += alpha
        tScale = math.max(tScale, math.abs(alpha))
        // full reorthogonalization, twice: c = Basisᵀw (ONE fused
        // reduction job however wide the basis), then w −= Basis·c
        for (_ <- 0 until 2) w = bv.keep(bv.subtract(basis, w, bv.project(basis, w)._1))
        beta = math.sqrt(bv.dot(w, w))
        if (beta < 1e-12 * math.abs(alpha)) breakdown = true // invariant subspace
        else {
          betas += beta
          vPrev = v
          v = bv.keep(bv.scale(w, 1.0 / beta))
          // truncate EVERY live reference the next iteration's joins
          // will serialize, EVERY iteration: a chained vPrev overflows
          // the task deserializer's stack within ~30 iterations
          bv.checkpoint(v, vPrev, basis)
          basis = bv.append(basis, v)
          // FREE residual bound from the tridiagonal: |β_m · s_{m,k}|
          val m = alphas.length
          if (m > K) {
            val (_, evec) = LocalLA.symEig(tridiagonal)
            converged = (0 until K).forall(k =>
              math.abs(beta * evec(m - 1)(k)) < 1e-8 * tScale)
          }
        }
      }
      val m = alphas.length
      val (theta, sVec) = LocalLA.symEig(tridiagonal)
      // an early invariant-subspace breakdown can leave m < K Ritz
      // pairs; Ritz vectors y_k = V·s_k, each in ONE pass over the
      // basis (which carries m+1 vectors — v_{m+1} is appended before
      // the convergence check — the blend uses exactly the first m)
      val ys = (0 until math.min(K, m)).map(k =>
        bv.keep(bv.blend(basis, Array.tabulate(m)(i => sVec(i)(k)))))
      // pairwise Gram of the Ritz vectors — one reduction job
      val pairs = for (a <- ys.indices; b <- a until ys.length) yield (a, b)
      val gram = Array.ofDim[Double](ys.length, ys.length)
      pairs.zip(bv.dots(pairs.map { case (a, b) => ys(a) -> ys(b) }: _*)).foreach {
        case ((a, b), x) => gram(a)(b) = x; gram(b)(a) = x
      }
      // TRUE residuals ‖A·y − θ·y‖² via a distributed matvec per pair
      val r2 = ys.indices.map { k =>
        val r = bv.axpy(-theta(k), ys(k), bv.matvec(aByCol, ys(k)))
        bv.dot(r, r)
      }
      (theta, gram, r2)
    }
    // record a Ritz-pair shortfall as a GATE column (`rank_complete`):
    // fewer-but-green rows would otherwise pass Verify.gateInvariants
    // vacuously (boolean checks can't see a missing row)
    val kEff = gram.length
    val rankComplete = kEff == K
    val orthoErr = (for (a <- 0 until kEff; b <- 0 until kEff) yield
      math.abs(gram(a)(b) - (if (a == b) 1.0 else 0.0))).max
    val rows = (0 until kEff).map { k =>
      val th = theta(k)
      val residRel = math.sqrt(r2(k)) / (math.abs(th) * math.sqrt(gram(k)(k)))
      (k + 1, th, residRel, orthoErr, alphas.length, rankComplete,
        residRel < 1e-7 && orthoErr < 1e-8 && th > 0.0 &&
          (k == 0 || th <= theta(k - 1)))
    }
    rows.toDF("rank", "theta", "resid_rel", "ortho_err", "iters",
        "rank_complete_ok", "pass")
      .orderBy("rank")
  }

  /** M18: BiCGSTAB solve of a NONSYMMETRIC system A·x = b — the
    * general-matrix member of the iterative family (m15/m16 require
    * SPD, m17 symmetric; until now a general dense A had only the
    * direct LU path when a factorization is unaffordable). Van der
    * Vorst's stabilized bi-conjugate gradient on [[BlockVecs]]: TWO
    * distributed matvecs per iteration on the column-keyed block
    * layout, every vector update a narrow co-partitioned axpy join,
    * and the ONLY driver traffic is five recurrence scalars per
    * iteration (three fused reduction jobs), regardless of n.
    *
    * The system is DELIBERATELY nonsymmetric: [[MatrixGen.blocks]]'s
    * seeded dense blocks (a_ij ≠ a_ji — MatrixSpec asserts the
    * asymmetry has teeth) with diagonal boost n, so row dominance
    * keeps it well-conditioned and a convergence failure or recurrence
    * breakdown (ρ→0 / ω→0 — both exit LOUD as `pass=false`, never a
    * hang: the iteration cap is n) would be an engine bug, not an
    * ill-conditioning artifact. b is PLANTED as A·x* through the same
    * distributed matvec; the gate checks the TRUE residual
    * ‖A·x̂−b‖/‖b‖ (one extra matvec) AND recovery of x*, and
    * MatrixSpec sandwiches x̂ against an independent driver-local LU
    * solve of the same system. Lineage: checkpointed every 8
    * iterations. */
  def m18BicgStab(s: SparkSession, dir: String): DataFrame =
    m18At(s, 512, 128)

  /** The BiCGSTAB solve at a caller-chosen size (ScaleSweep trend
    * points ride this, m15At's pattern). */
  private[graft] def m18At(s: SparkSession, n: Int, blk: Int): DataFrame = {
    import s.implicits._
    val sc = s.sparkContext
    val (iters, breakdown, (residTrue, relErr)) = BlockVecs.scoped(sc, n / blk, blk) { bv =>
      val aByCol = bv.byCol(MatrixGen.blocks(sc, n, blk, Seed, diagBoost = n.toDouble)
        .mapValues(m => LocalLA.fromDM(toDense(m))))
      val sys = bv.plant(bv.matvec(aByCol, _))
      var x = bv.keep(bv.vec(_ => 0.0))
      var r = sys.b // r₀ = b − A·0
      val rHat = sys.b // shadow residual r̂₀ = r₀, fixed for the whole solve
      var p = r
      var rho = sys.bNrm * sys.bNrm // ⟨r̂,r⟩ with r = r̂ = b
      var rNrm2 = rho
      var it = 0
      var breakdown = false
      while (it < n && math.sqrt(rNrm2) / sys.bNrm > 1e-12 && !breakdown) {
        val av = bv.keep(bv.matvec(aByCol, p))
        val rhv = bv.dot(rHat, av)
        if (math.abs(rhv) < 1e-300) breakdown = true
        else {
          val alpha = rho / rhv
          val sv = bv.keep(bv.axpy(-alpha, av, r))
          val t = bv.keep(bv.matvec(aByCol, sv))
          val Array(ts, tt) = bv.dots(sv -> t, t -> t)
          if (tt < 1e-300) {
            // t = A·s = 0 with nonsingular A ⇒ s = 0: the half-step
            // already converged — take it and let the loop condition exit
            x = bv.keep(bv.axpy(alpha, p, x)); r = sv
            rNrm2 = 0.0; it += 1
          } else {
            val omega = ts / tt
            val xN = bv.keep(bv.axpy(omega, sv, bv.keep(bv.axpy(alpha, p, x))))
            val rN = bv.keep(bv.axpy(-omega, t, sv))
            val Array(rhoN, rN2) = bv.dots(rHat -> rN, rN -> rN)
            if (math.abs(omega) < 1e-300 ||
                (math.abs(rhoN) < 1e-300 && math.sqrt(rN2) / sys.bNrm > 1e-12))
              breakdown = true
            else {
              val beta = (rhoN / rho) * (alpha / omega)
              val pN = bv.keep(bv.axpy(beta, bv.keep(bv.axpy(-omega, av, p)), rN))
              if (it % 8 == 7) bv.checkpoint(xN, rN, pN)
              x = xN; r = rN; p = pN
              rho = rhoN; rNrm2 = rN2
            }
            it += 1
          }
        }
      }
      (it, breakdown, bv.check(sys, x))
    }
    val pass = !breakdown && residTrue < 1e-10 && relErr < 1e-8
    Seq((n, blk, iters, residTrue, relErr, pass))
      .toDF("n", "blk", "iters", "resid_rel", "err_rel", "pass")
  }

  /** M19: restarted GMRES(m) solve of a NORMAL-but-COMPLEX-spectrum
    * system — the Krylov member [[m18BicgStab]] provably cannot cover.
    * BiCGSTAB's stabilizer step is a REAL degree-1 polynomial (ω from
    * one real least-squares), so it cannot damp eigenpairs whose
    * imaginary part dominates: on A = δI + S with S skew-symmetric
    * (spectrum δ ± iσ, σ/δ = 7 here) the m18 recurrence measurably
    * breaks down at residual ~1e-6 (MatrixSpec runs the demonstration
    * driver-locally), while GMRES minimizes the TRUE residual over the
    * full Krylov subspace with complex-capable rotations and converges
    * in a handful of restarts.
    *
    * Fully distributed on [[BlockVecs]]: the skew operator lives as
    * column-keyed blocks ([[BlockVecs.skewByCol]], no transpose
    * shuffle); δ is SELF-TUNED to the spectrum by a distributed power
    * iteration on −S² ([[BlockVecs.skewSigma2]]), never hardcoded to
    * one n; every A·v is a matvec + a narrow δ-axpy join; the Arnoldi
    * basis is the checkpointed slab with the fused two-pass CGS2
    * ([[BlockVecs.cgs2]]); H̄ is (m+1)×m on the DRIVER, rotated
    * incrementally by Givens (m14's small-driver-solve discipline), so
    * driver traffic per iteration is one m-vector of coefficients +
    * two scalars regardless of n. Restarts blend x += V·y in ONE pass
    * over the basis, then re-derive the TRUE residual with a fresh
    * matvec — restarted GMRES's stagnation-proofing. Lineage:
    * basis/x checkpointed every iteration/restart, retired iterates
    * dropped at each barrier. Gate: true residual < 1e-10 AND
    * planted-x* recovery < 1e-8 AND no stagnation exit. */
  def m19Gmres(s: SparkSession, dir: String): DataFrame =
    m19At(s, 512, 128, 40, polyDeg = 12)

  /** The GMRES(m) solve at caller-chosen size/restart length
    * (MatrixSpec and ScaleSweep trend points ride this).
    *
    * `polyDeg` > 0 enables the CHEBYSHEV RIGHT-PRECONDITIONER (0 = the
    * plain GMRES the preconditioned-vs-plain spec compares against).
    * The lever is the system's known structure: for A = δI + S with S
    * skew, A·Ā = δ²I − S² is SPD with spectrum exactly [δ², δ²+σ²] —
    * the vertical segment δ ± i[0,σ] that forces plain GMRES through
    * ~σ/δ·m iterations COLLAPSES onto a real interval of condition
    * 1 + (σ/δ)². With M⁻¹ = Ā·q_d(AĀ), where q_d is the degree-d
    * Chebyshev-iteration polynomial for (AĀ)⁻¹ on that interval, the
    * right-preconditioned operator A·M⁻¹ = (AĀ)·q_d(AĀ) is normal with
    * spectrum in 1 ± ε_d (ε_d ≈ 4·(σ₁+√(σ₁²−1))^−d): GMRES contracts
    * ~ε_d per step, so ~200 sequential Arnoldi rounds become ~10. The
    * polynomial itself is LAZY — its 2d+2 narrow matvec joins evaluate
    * inside the Arnoldi step's own reduction job, so the per-iteration
    * JOB count (the job-launch-bound cost at bench scale) is unchanged
    * while iterations drop ~20×. Right preconditioning preserves the
    * residual (b − AM⁻¹u = b − Ax), so the inner Givens estimate, the
    * restart logic, and all three gates are untouched; the interval
    * ends carry a 2% guard for the power-iteration σ̂ error. */
  private[graft] def m19At(s: SparkSession, n: Int, blk: Int,
                           mRestart: Int, polyDeg: Int = 0): DataFrame = {
    import s.implicits._
    val sc = s.sparkContext
    val q = n / blk
    val (restarts, iters, delta, (residTrue, relErr), stagnant) = BlockVecs.scoped(sc, q, blk) { bv =>
      val sByCol = bv.skewByCol(Seed)
      // 12 power steps pin the dominant eigenvalue σ² well inside the
      // tolerance the c = σ/δ = 7 construction needs (BiCGSTAB fails and
      // GMRES converges across c ∈ [6, 10] — measured while designing
      // the system, so σ̂ drift is harmless)
      val sigma2 = bv.skewSigma2(sByCol)
      val delta = math.sqrt(math.max(sigma2, 0.0)) / 7.0
      val amat = bv.shifted(sByCol, delta) _
      // Ā·v = δ·v − S·v and B·v = (A·Ā)·v = δ²·v − S·(S·v) — the SPD
      // collapse of the vertical-segment spectrum (scaladoc above)
      def aadj(v: BlockVec): BlockVec = bv.axpy(-1.0, bv.matvec(sByCol, v), bv.scale(v, delta))
      // C = S² blocks, built ONLY when the preconditioner runs: the
      // generator's determinism removes the distributed-GEMM shuffle —
      // each (bi,bj) task derives all q contributing S blocks locally
      // (the same trick that builds sByCol transpose-free) and pays q
      // local blk³ GEMMs. One extra matrix of block storage, bought so
      // B·v costs ONE shuffle instead of the S·(S·v) chain's two — the
      // polynomial's cost at bench scale is sequential-stage count.
      lazy val cByCol = {
        val ids = for (bi <- 0 until q; bj <- 0 until q) yield (bi, bj)
        bv.byCol(sc.parallelize(ids, math.min(ids.size, 64)).map { case (bi, bj) =>
          val c0 = Array.ofDim[Double](blk, blk)
          var bk = 0
          while (bk < q) {
            val l = MatrixGen.localBlock(blk, Seed, bi, bk, 0.0)
            val lt = MatrixGen.localBlock(blk, Seed, bk, bi, 0.0)
            val r0 = MatrixGen.localBlock(blk, Seed, bk, bj, 0.0)
            val rt = MatrixGen.localBlock(blk, Seed, bj, bk, 0.0)
            var i = 0
            while (i < blk) {
              var k = 0
              while (k < blk) {
                val sik = (l(i)(k) - lt(k)(i)) / 2
                if (sik != 0.0) {
                  val ci = c0(i); var j2 = 0
                  while (j2 < blk) {
                    ci(j2) += sik * ((r0(k)(j2) - rt(j2)(k)) / 2); j2 += 1
                  }
                }
                k += 1
              }
              i += 1
            }
            bk += 1
          }
          ((bi, bj), c0)
        })
      }
      def bmat(v: BlockVec): BlockVec =
        bv.axpy(-1.0, bv.matvec(cByCol, v), bv.scale(v, delta * delta))
      // q_d(B)·v by polyDeg Chebyshev-iteration steps on [lo, hi] ⊇
      // spec(B) — all LAZY RDD transformations: the caller's reduction
      // evaluates the whole polynomial chain inside its own job. Every
      // step's r/d/x IS kept (still lazy, zero extra jobs): each has
      // TWO lazy consumers (r feeds r' and d'; d feeds d', x and B·d), and
      // without block-level memoization that diamond makes the pure-DAG
      // evaluation tree FIBONACCI-shaped in the degree — measured 0.6 →
      // 9.7 → 75 s/iteration at d = 8/10/12 before the fix, flat after.
      // The kept steps are retired at the iteration barrier like every
      // other per-iteration intermediate.
      def qcheb(v: BlockVec): BlockVec = {
        val lo = 0.98 * delta * delta
        val hi = delta * delta + 1.02 * sigma2
        val theta = (hi + lo) / 2; val half = (hi - lo) / 2
        val sigma1 = theta / half
        val d2 = delta * delta
        var rho = 1.0 / sigma1
        // the whole (x, r, d) recurrence state rides ONE tuple-valued RDD
        // per step: a three-RDD formulation costs ~30 RDD objects (and
        // their closure-cleaning) per step on the DRIVER — measured at
        // half the per-iteration wall time before this fusion
        var st = bv.keep(v.mapValues { a =>
          val d0 = a.map(_ / theta)
          (d0.clone(), a.clone(), d0)
        })
        var k = 0
        while (k < polyDeg - 1) {
          val rhoN = 1.0 / (2 * sigma1 - rho)
          val cd = rhoN * rho; val cr = 2 * rhoN / half
          val ssd = bv.matvec(cByCol, st.mapValues(_._3)) // S²·d
          st = bv.keep(st.join(ssd, bv.part).mapValues { case ((xa, ra, da), sv) =>
            val m2 = da.length
            val xn = new Array[Double](m2)
            val rn = new Array[Double](m2)
            val dn = new Array[Double](m2)
            var i = 0
            while (i < m2) {
              val bd = d2 * da(i) - sv(i) // (B·d)(i)
              rn(i) = ra(i) - bd
              dn(i) = cd * da(i) + cr * rn(i)
              xn(i) = xa(i) + dn(i)
              i += 1
            }
            (xn, rn, dn)
          })
          rho = rhoN
          k += 1
        }
        st.mapValues(_._1)
      }
      // Arnoldi operator and solution map of the right-preconditioned
      // system: A·M⁻¹ = B·q(B); x = M⁻¹u = Ā·q(B)·u (S-polynomials
      // commute). polyDeg = 0 degrades to plain GMRES.
      def aop(v: BlockVec): BlockVec =
        if (polyDeg == 0) amat(v) else bmat(qcheb(v))
      def minv(v: BlockVec): BlockVec =
        if (polyDeg == 0) v else aadj(qcheb(v))

      val sys = bv.plant(amat)
      val tol = 1e-12
      var x = bv.keep(bv.vec(_ => 0.0))
      var restarts = 0
      var iters = 0
      var resid = 1.0
      var stagnant = false
      val maxRestarts = 16
      var done = false
      while (!done && !stagnant && restarts < maxRestarts) {
        // r = b − A·x; the TRUE residual starts every cycle (restarted
        // GMRES's defense against recurrence drift)
        val r = bv.keep(bv.axpy(-1.0, amat(x), sys.b))
        val beta0 = math.sqrt(bv.dot(r, r))
        val prevResid = resid
        resid = beta0 / sys.bNrm
        if (resid < tol * 10) done = true // already at the gate target
        else if (restarts > 0 && resid > prevResid * 0.99) {
          stagnant = true // a full cycle bought < 1% — exit LOUD
        } else {
          var v = bv.keep(bv.scale(r, 1.0 / beta0))
          var basis = bv.slab(v)
          val h = Array.ofDim[Double](mRestart + 1, mRestart)
          val g = new Array[Double](mRestart + 1); g(0) = beta0
          val cs = new Array[Double](mRestart)
          val sn = new Array[Double](mRestart)
          var j = 0
          var inner = true
          while (inner && j < mRestart) {
            val (hCol, hj1, w) = bv.cgs2(basis, bv.keep(aop(v)))
            var i = 0
            while (i <= j) { h(i)(j) = hCol(i); i += 1 }
            h(j + 1)(j) = hj1
            // incremental Givens: rotate the new column, update g
            i = 0
            while (i < j) {
              val t0 = cs(i) * h(i)(j) + sn(i) * h(i + 1)(j)
              h(i + 1)(j) = -sn(i) * h(i)(j) + cs(i) * h(i + 1)(j)
              h(i)(j) = t0
              i += 1
            }
            val dgn = math.hypot(h(j)(j), h(j + 1)(j))
            cs(j) = h(j)(j) / dgn; sn(j) = h(j + 1)(j) / dgn
            h(j)(j) = dgn; h(j + 1)(j) = 0.0
            g(j + 1) = -sn(j) * g(j); g(j) = cs(j) * g(j)
            iters += 1
            j += 1
            if (math.abs(g(j)) / sys.bNrm < tol) inner = false // converged
            else if (hj1 < 1e-300) inner = false // happy breakdown
            else if (j < mRestart) {
              // append the NORMALIZED w straight into the slab, then
              // derive v as the slab's last column: ONE checkpointed +
              // materialized RDD per iteration, and v's lineage is
              // depth-1 on the fresh checkpoint, so the task-serializer
              // overflow can't chain. The checkpoint is the barrier
              // retire needs — with basis's blocks live, this window's
              // w intermediates are dead.
              basis = bv.append(basis, bv.scale(w, 1.0 / hj1))
              v = bv.keep(basis.mapValues(_.last))
              bv.retire(basis, v, x)
            }
          }
          // back-substitute y from the rotated triangular H
          val y = new Array[Double](j)
          var bi = j - 1
          while (bi >= 0) {
            var acc = g(bi); var k = bi + 1
            while (k < j) { acc -= h(bi)(k) * y(k); k += 1 }
            y(bi) = acc / h(bi)(bi)
            bi -= 1
          }
          // blend u = V_j·y in ONE pass over the slab, then map through
          // M⁻¹ (identity when unpreconditioned): x += M⁻¹·u
          x = bv.keep(bv.axpy(1.0, minv(bv.blend(basis, y)), x))
          bv.checkpoint(x)
          restarts += 1
        }
      }
      (restarts, iters, delta, bv.check(sys, x), stagnant)
    }
    val pass = !stagnant && residTrue < 1e-10 && relErr < 1e-8
    Seq((n, blk, mRestart, polyDeg, restarts, iters, delta, residTrue,
      relErr, pass))
      .toDF("n", "blk", "m", "poly_deg", "restarts", "iters", "delta",
        "resid_rel", "err_rel", "pass")
  }

  // ---------------------------------------------------------------- M20
  /** M20: top eigenpairs of a NONSYMMETRIC operator via one Arnoldi
    * sweep + a driver-side Hessenberg eigensolve — the EIGEN analog of
    * the m18→m19 move. [[m17LanczosEigen]] covers only the symmetric
    * case: its tridiagonal Ritz values are REAL by construction, so on
    * A = δI + S (S skew; spectrum the vertical segment δ ± iσ_k) the
    * symmetric member is structurally blind — the same family-
    * separation argument that motivated m19 beside m18.
    *
    * Distributed shape is m19's, on the same [[BlockVecs]] pieces: the
    * skew operator as column-keyed paired-generator blocks (no
    * transpose shuffle), σ̂ self-tuned by the same fused lazy power
    * iteration on −S² (so m19 and m20 report the same δ at the same
    * n), the Arnoldi basis as ONE checkpointed slab per step with the
    * fused two-pass CGS2, so driver traffic per iteration is one
    * j-vector of Gram coefficients + one scalar, whatever n. The eigensolve runs
    * on the m×m Hessenberg ON THE DRIVER via LAPACK dgeev
    * (`breeze.linalg.eig` — Spark's own bundled linalg; m14/m17
    * hand-roll Jacobi because their driver matrices are symmetric,
    * dgeev is the nonsymmetric tool). Ritz residuals come free from
    * the Arnoldi identity ‖A·(Vy) − λ·(Vy)‖ = h_{m+1,m}·|eₘᵀy| — no
    * extra distributed pass.
    *
    * Gates — provable, not tautological: A is NORMAL (shift + skew),
    * so every Ritz value lies within its OWN residual bound of a true
    * eigenvalue, and the construction pins the truth:
    *  - `resid_ok`: the dominant pair's residual bound < 1e-8 of the
    *    spectral scale √(δ²+σ̂²) and every returned pair < 5e-6
    *    (measured 2.9e-9 / 5.1e-7 at the gate m = 80 — deterministic
    *    arithmetic, so the 3–10× margins are real margins, not noise
    *    allowances);
    *  - `re_ok`: each returned Ritz value's real part equals δ (exact
    *    for δI + S) within its residual bound + 1e-8 of scale;
    *  - `match_ok`: the INDEPENDENT power-iteration σ̂ obeys the
    *    Rayleigh theorem against the dominant pair — σ̂ ≤ |Im λ₁| up
    *    to the Ritz bound (Rayleigh quotients UNDERestimate the max:
    *    measured 3.5% low at 12 steps, the edge-clustered spectrum's
    *    slow power convergence) and σ̂ > 0.8·|Im λ₁| as the sanity
    *    floor. */
  def m20ArnoldiEigen(s: SparkSession, dir: String): DataFrame =
    m20At(s, 512, 128, 80)

  private[graft] def m20At(s: SparkSession, n: Int, blk: Int,
                           mKrylov: Int): DataFrame = {
    import s.implicits._
    val (h, j, sigma2, delta) = BlockVecs.scoped(s.sparkContext, n / blk, blk) { bv =>
      val sByCol = bv.skewByCol(Seed)
      val sigma2 = bv.skewSigma2(sByCol)
      val delta = math.sqrt(math.max(sigma2, 0.0)) / 7.0
      // one Arnoldi sweep — m19's slab + fused CGS2, minus Givens/solve
      val v0 = bv.keep(bv.vec(i => 1.0 + math.sin(i * 0.7)))
      var v = bv.keep(bv.scale(v0, 1.0 / math.sqrt(bv.dot(v0, v0))))
      var basis = bv.slab(v)
      val h = Array.ofDim[Double](mKrylov + 1, mKrylov)
      var j = 0
      var breakdown = false
      while (j < mKrylov && !breakdown) {
        val (hCol, hj1, w) = bv.cgs2(basis, bv.keep(bv.shifted(sByCol, delta)(v)))
        var i = 0
        while (i <= j) { h(i)(j) = hCol(i); i += 1 }
        h(j + 1)(j) = hj1
        j += 1
        if (hj1 < 1e-300) breakdown = true // happy breakdown: H exact
        else if (j < mKrylov) {
          basis = bv.append(basis, bv.scale(w, 1.0 / hj1))
          v = bv.keep(basis.mapValues(_.last))
          bv.retire(basis, v)
        }
      }
      (h, j, sigma2, delta)
    }
    val sigmaHat = math.sqrt(math.max(sigma2, 0.0))
    // driver eigensolve of the j×j Hessenberg (dgeev via breeze)
    val hm = new breeze.linalg.DenseMatrix[Double](j, j)
    var r0 = 0
    while (r0 < j) {
      var c0 = 0
      while (c0 < j) { hm(r0, c0) = h(r0)(c0); c0 += 1 }
      r0 += 1
    }
    val eg = breeze.linalg.eig(hm)
    val hLast = h(j)(j - 1) // 0 under happy breakdown ⇒ exact Ritz
    // Ritz values + Arnoldi-identity residual bounds (complex pairs
    // stored LAPACK-style: col p = Re y, col p+1 = Im y)
    case class Ritz(re: Double, im: Double, resid: Double)
    val ritz = collection.mutable.ArrayBuffer.empty[Ritz]
    var p = 0
    while (p < j) {
      val im = eg.eigenvaluesComplex(p)
      if (im > 0 || im == 0.0) {
        val isPair = im > 0
        var n2 = 0.0; var t = 0
        while (t < j) {
          val re0 = eg.eigenvectors(t, p)
          val im0 = if (isPair) eg.eigenvectors(t, p + 1) else 0.0
          n2 += re0 * re0 + im0 * im0; t += 1
        }
        val yLast = math.hypot(eg.eigenvectors(j - 1, p),
          if (isPair) eg.eigenvectors(j - 1, p + 1) else 0.0)
        val r = hLast * yLast / math.sqrt(n2)
        ritz += Ritz(eg.eigenvalues(p), im, r)
        if (isPair) ritz += Ritz(eg.eigenvalues(p), -im, r)
      }
      p += (if (im > 0) 2 else 1)
    }
    val scaleA = math.sqrt(delta * delta + sigma2) // ≈ ‖A‖₂ (normal)
    val top = ritz.sortBy(z => (-math.hypot(z.re, z.im), -z.im)).take(4) // local: j Ritz values on the driver
    // A is NORMAL: each Ritz value lies within its residual bound of a
    // true eigenvalue δ ± iσ_k ⇒ the gates below are theorems, not fits
    // local: top.head / forall over ≤4 driver-side Ritz records
    val residOk = top.take(2).forall(_.resid < 1e-8 * scaleA) &&
      top.forall(_.resid < 5e-6 * scaleA)
    val reOk = top.forall(z =>
      math.abs(z.re - delta) <= z.resid + 1e-8 * scaleA)
    val imTop = math.abs(top.head.im) // local: head of the 4 driver-side Ritz records
    // local: top.head.resid reads the same driver-side record
    val matchOk = sigmaHat <= imTop + top.head.resid + 1e-9 * scaleA &&
      sigmaHat > 0.8 * imTop
    val pass = residOk && reOk && matchOk && !top.exists(_.im == 0.0)
    top.toSeq.zipWithIndex.map { case (z, r1) =>
      (n, blk, mKrylov, j, r1 + 1, z.re, z.im, z.resid / scaleA,
        sigmaHat, delta, residOk, reOk, matchOk, pass)
    }.toDF("n", "blk", "m", "iters", "rank", "re", "im", "resid_rel",
      "sigma_hat", "delta", "resid_ok", "re_ok", "match_ok", "pass")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m20_arnoldi_eigen" -> (m20ArnoldiEigen _),
    "m19_gmres" -> (m19Gmres _),
    "m18_bicgstab" -> (m18BicgStab _),
    "m17_lanczos_eigen" -> (m17LanczosEigen _),
    "m1_generate"   -> (m1Generate _),
    "m2_local_lu"   -> (m2LocalLU _),
    "m3_dist_lu"    -> (m3DistLU _),
    "m4_inverse"    -> (m4Inverse _),
    "m5_solve"      -> (m5Solve _),
    "m6_codec"      -> (m6Codec _),
    "m7_determinant" -> (m7Determinant _),
    "m8_norms"      -> (m8Norms _),
    "m9_spectral_norm" -> (m9SpectralNorm _),
    "m10_cholesky"  -> (m10Cholesky _),
    "m11_least_squares" -> (m11LeastSquares _),
    "m12_tsqr"      -> (m12Tsqr _),
    "m13_randomized_svd" -> (m13RandomizedSvd _),
    "m14_completed_svd" -> (m14CompletedSvd _),
    "m15_conjugate_gradient" -> (m15ConjugateGradient _),
    "m16_preconditioned_cg" -> (m16PreconditionedCg _))
}
