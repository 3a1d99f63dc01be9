package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.matrix._
import graft.matrix.BlockModel._
import org.apache.spark.mllib.linalg.{DenseMatrix => MlDM}

/** Invariant tests for the matrix engine (FIXTURES.md A4, SURVEY.md §5):
  * residual bounds against the verified semantics L·U = A[indx,:] and
  * A⁻¹[:,indx] = U⁻¹·L⁻¹, plus local-vs-distributed agreement and the
  * M6 byte round trip on the reference golden files. */
class MatrixSpec extends AnyFunSuite with SparkTest.TempDirs {
  lazy val spark = SparkTest.session
  lazy val sc = spark.sparkContext
  val seed = 42L

  test("local ludcmp: L·U == A[indx,:] (n=64, raw uniform)") {
    val n = 64
    val a = MatrixGen.local(n, 16, seed)
    val packed = a.map(_.clone())
    val indx = LocalLA.ludcmp(packed)
    val (l, u) = LocalLA.splitLU(packed)
    val resid = LocalLA.maxAbsDiff(LocalLA.gemm(l, u), LocalLA.permuteRows(a, indx))
    assert(resid < 1e-8 * n, s"residual $resid")
  }

  test("local triangular inverses") {
    val n = 32
    val a = MatrixGen.local(n, 8, seed, diagBoost = n.toDouble)
    val packed = a.map(_.clone())
    LocalLA.ludcmp(packed)
    val (l, u) = LocalLA.splitLU(packed)
    val li = LocalLA.invUnitLower(l)
    val ui = LocalLA.invUpper(u)
    val eye = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    assert(LocalLA.maxAbsDiff(LocalLA.gemm(l, li), eye) < 1e-9 * n)
    assert(LocalLA.maxAbsDiff(LocalLA.gemm(u, ui), eye) < 1e-9 * n)
  }

  test("distributed gen matches local gen") {
    val n = 128; val blk = 32
    val dist = toLocal(MatrixGen.blocks(sc, n, blk, seed), n, n, blk)
    val loc = MatrixGen.local(n, blk, seed)
    assert(LocalLA.maxAbsDiff(dist, loc) == 0.0)
  }

  test("fromRows round trip") {
    val n = 128; val blk = 32
    val rows = MatrixGen.rows(sc, n, blk, seed)
    val blocks = fromRows(rows, n, blk)
    val loc = MatrixGen.local(n, blk, seed)
    assert(LocalLA.maxAbsDiff(toLocal(blocks, n, n, blk), loc) == 0.0)
  }

  test("distributed block LU: L·U == P·A (n=256, blk=64, raw uniform)") {
    val n = 256; val blk = 64
    val a = MatrixGen.blocks(sc, n, blk, seed)
    val lu = BlockLU.factor(sc, a, n, blk)
    val prod = multiply(lu.l, lu.u, blk, n.toLong, n.toLong, n.toLong)
    val permsB = sc.broadcast(lu.perms)
    val pa = a.map { case ((i, j), m) =>
      ((i, j), LocalLA.toDM(LocalLA.permuteRows(LocalLA.fromDM(m), permsB.value(i))))
    }
    assert(maxAbsDiff(prod, pa) < 1e-8 * n)
  }

  /** A's blocks as a local rows×cols grid, null where a block is absent. */
  private def grid(a: Blocks, rows: Int, cols: Int): Array[Array[MlDM]] = {
    val g = Array.ofDim[MlDM](rows, cols)
    a.collect().foreach { case ((i, j), m) => g(i)(j) = m }
    g
  }

  /** Exactly equal block sets: same keys, same bits in every block. */
  private def assertSameBits(got: Blocks, want: Map[(Int, Int), MlDM], what: String): Unit =
    assertSameBits(got.collect().toMap, want, what)
  private def assertSameBits(g: Map[(Int, Int), MlDM], want: Map[(Int, Int), MlDM], what: String): Unit = {
    assert(g.keySet == want.keySet, s"$what: block keys differ")
    for ((key, m) <- want)
      assert(java.util.Arrays.equals(toDense(g(key)).values, toDense(m).values), s"$what $key not bit-identical")
  }

  /** Close block sets: same keys, every block within `tol` of its pair. */
  private def assertClose(got: Blocks, want: Map[(Int, Int), MlDM], tol: Double, what: String): Unit = {
    val g = got.collect().toMap
    assert(g.keySet == want.keySet, s"$what: block keys differ")
    for ((key, m) <- want) {
      val d = toDense(g(key)).values.zip(toDense(m).values).map { case (x, y) => math.abs(x - y) }.max
      assert(d <= tol, s"$what $key differs by $d > $tol")
    }
  }

  /** A block update C − A·B: `kernelUpdate` is the sweeps' one kernel,
    * `mllibUpdate` the MLlib product and elementwise subtraction the
    * sweeps ran before it. */
  private type Update = (MlDM, MlDM, MlDM) => MlDM
  private val kernelUpdate: Update = (c, a, b) => BlockKernel.gemm(c, -1, a, b)
  private val mllibUpdate: Update = (c, a, b) => {
    val cv = toDense(c).values; val p = a.multiply(b).values
    new MlDM(c.numRows, c.numCols, Array.tabulate(cv.length)(i => cv(i) - p(i)))
  }

  /** Blocked LU on the driver in the per-step loop's order: per block
    * the same LocalLA kernels and `update`. */
  private def blockedLU(a0: Array[Array[MlDM]], update: Update) = {
    import LocalLA._
    val q = a0.length; val a = a0.map(_.clone())
    val perms = new Array[Array[Int]](q)
    val l = scala.collection.mutable.Map.empty[(Int, Int), MlDM]
    val u = scala.collection.mutable.Map.empty[(Int, Int), MlDM]
    for (k <- 0 until q) {
      val packed = fromDM(a(k)(k))
      perms(k) = ludcmp(packed)
      val (lkk, ukk) = splitLU(packed)
      l((k, k)) = toDM(lkk); u((k, k)) = toDM(ukk)
      for (j <- k + 1 until q) u((k, j)) = toDM(forwardSolveUnitLower(lkk, permuteRows(fromDM(a(k)(j)), perms(k))))
      for (i <- k + 1 until q) l((i, k)) = toDM(solveXU(fromDM(a(i)(k)), ukk))
      for (i <- k + 1 until q; j <- k + 1 until q) a(i)(j) = update(a(i)(j), l((i, k)), u((k, j)))
    }
    val lp = l.map { case ((i, j), m) => ((i, j), if (i > j) toDM(permuteRows(fromDM(m), perms(i))) else m) }
    (lp.toMap, u.toMap, perms)
  }

  /** Blocked Cholesky on the driver in the per-step loop's order. */
  private def blockedCholesky(a0: Array[Array[MlDM]], update: Update): Map[(Int, Int), MlDM] = {
    import LocalLA._
    val q = a0.length; val a = a0.map(_.clone())
    val l = scala.collection.mutable.Map.empty[(Int, Int), MlDM]
    for (k <- 0 until q) {
      val lkk = cholesky(fromDM(a(k)(k)))
      l((k, k)) = toDM(lkk)
      val lkkT = transpose(lkk)
      for (i <- k + 1 until q) l((i, k)) = toDM(solveXU(fromDM(a(i)(k)), lkkT))
      for (j <- k + 1 until q; i <- j until q) a(i)(j) = update(a(i)(j), l((i, k)), l((j, k)).transpose)
    }
    l.toMap
  }

  test("BlockKernel.gemm equals C + s·A·B through DenseMatrix.multiply and an elementwise add, to 1e-12·k·max|A|·max|B|") {
    val rng = new scala.util.Random(seed)
    def rand(rows: Int, cols: Int, scale: Double) = new MlDM(rows, cols, Array.fill(rows * cols)(scale * (2 * rng.nextDouble() - 1)))
    def maxAbs(m: MlDM) = m.values.foldLeft(0.0)((x, v) => math.max(x, math.abs(v)))
    // C stored: None = absent, Some(false) = column-major, Some(true) = a transposed view
    def check(m: Int, k: Int, n: Int, tA: Boolean, tB: Boolean, s: Double, cForm: Option[Boolean]): Unit = {
      val a = if (tA) rand(k, m, 3.0).transpose else rand(m, k, 3.0)
      val b = if (tB) rand(n, k, 0.5).transpose else rand(k, n, 0.5)
      val c = cForm.map(t => if (t) rand(n, m, 1.0).transpose else rand(m, n, 1.0))
      val cBefore = c.map(_.values.clone())
      val got = BlockKernel.gemm(c.orNull, s, a, b)
      val what = s"m=$m k=$k n=$n transA=$tA transB=$tB s=$s C=$cForm"
      assert(got.numRows == m && got.numCols == n && !got.isTransposed, s"$what: shape")
      val p = a.multiply(b)
      val want = Array.tabulate(m * n)(e => c.fold(0.0)(cm => cm(e % m, e / m)) + s * p.values(e))
      val tol = 1e-12 * k * maxAbs(a) * maxAbs(b)
      val err = got.values.zip(want).map { case (x, y) => math.abs(x - y) }.max
      assert(err <= tol, s"$what: max error $err > $tol")
      assert(c.map(_.values.toSeq) == cBefore.map(_.toSeq), s"$what: C was written")
    }
    val sizes = Seq(1, 7, 8, 31, 33, 100, 128, 300, 512)
    for (m <- sizes; k <- sizes; n <- sizes) check(m, k, n, tA = false, tB = false, s = -1, cForm = Some(false))
    for (m <- Seq(1, 7, 33, 100); k <- Seq(1, 8, 31, 300); n <- Seq(1, 7, 33, 100);
         tA <- Seq(false, true); tB <- Seq(false, true); s <- Seq(-1.0, 1.0); cForm <- Seq(None, Some(false), Some(true)))
      check(m, k, n, tA, tB, s, cForm)
  }

  private val bitCheckShapes = Seq((1, 16), (3, 16), (4, 32), (16, 8))

  test("block LU is bit-identical to the blocked driver loop (q ∈ {1, 3, 4, 16})") {
    for ((q, blk) <- bitCheckShapes) {
      val n = q * blk
      val a = MatrixGen.blocks(sc, n, blk, seed + q)
      val lu = BlockLU.factor(sc, a, n, blk)
      val (l, u, perms) = blockedLU(grid(a, q, q), kernelUpdate)
      assert(lu.perms.map(_.toSeq).toSeq == perms.map(_.toSeq).toSeq, s"q=$q perms differ")
      assertSameBits(lu.l, l, s"q=$q L")
      assertSameBits(lu.u, u, s"q=$q U")
      val (lOld, uOld, permsOld) = blockedLU(grid(a, q, q), mllibUpdate)
      assert(lu.perms.map(_.toSeq).toSeq == permsOld.map(_.toSeq).toSeq, s"q=$q perms differ from the MLlib loop")
      assertClose(lu.l, lOld, 1e-10 * n, s"q=$q L vs the MLlib loop")
      assertClose(lu.u, uOld, 1e-10 * n, s"q=$q U vs the MLlib loop")
    }
  }

  test("block Cholesky is bit-identical to the blocked driver loop (q ∈ {1, 3, 4, 16})") {
    for ((q, blk) <- bitCheckShapes) {
      val n = q * blk
      val spd = BlockCholesky.spdBlocks(sc, n, blk, seed + q, boost = n.toDouble)
      val l = BlockCholesky.factor(sc, spd, n, blk)
      assertSameBits(l, blockedCholesky(grid(spd, q, q), kernelUpdate), s"q=$q Cholesky L")
      assertClose(l, blockedCholesky(grid(spd, q, q), mllibUpdate), 1e-10 * n, s"q=$q Cholesky L vs the MLlib loop")
    }
  }

  test("block-sparse arrowhead: LU, Cholesky and solve treat absent blocks as zero blocks") {
    // a dense first block row and column plus the diagonal blocks, every
    // other block absent; symmetric and diagonally dominant, so SPD
    val blk = 16; val q = 4; val n = q * blk
    val rng = new scala.util.Random(seed)
    val full = Array.ofDim[Double](n, n)
    for (i <- 0 until n; j <- 0 to i if i / blk == j / blk || j / blk == 0) {
      val v = rng.nextDouble() + (if (i == j) n else 0)
      full(i)(j) = v; full(j)(i) = v
    }
    val a = localToBlocks(sc, full, blk).filter { case ((i, j), _) => i == j || i == 0 || j == 0 }
    val lu = BlockLU.factor(sc, a, n, blk)
    val lLoc = toLocal(lu.l, n, n, blk); val uLoc = toLocal(lu.u, n, n, blk)
    val luResid = LocalLA.maxAbsDiff(LocalLA.gemm(lLoc, uLoc), LocalLA.permuteRows(full, lu.globalPerm))
    assert(luResid < 1e-8 * n, s"‖L·U − P·A‖ = $luResid")
    val l = toLocal(BlockCholesky.factor(sc, a, n, blk), n, n, blk)
    val cholResid = LocalLA.maxAbsDiff(LocalLA.gemm(l, LocalLA.transpose(l)), full)
    assert(cholResid < 1e-8 * n, s"‖L·Lᵀ − A‖ = $cholResid")
    val b = MatrixGen.blocks(sc, n, blk, seed + 1).filter { case ((_, j), _) => j == 0 }
    val x = Inversion.solve(sc, a, b, n, blk, blk)
    val resid = maxAbsDiff(multiply(a, x, blk, n.toLong, n.toLong, blk.toLong), b)
    assert(resid < 1e-8 * n, s"solve residual $resid")
  }

  test("BlockLU and BlockCholesky: at most q+1 jobs, every broadcast released, one RDD persisted (q=4, q=8)") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val blk = 16
    for (q <- Seq(4, 8); name <- Seq("LU", "Cholesky")) {
      val n = q * blk
      val a = (if (name == "LU") MatrixGen.blocks(sc, n, blk, seed, diagBoost = n.toDouble)
               else BlockCholesky.spdBlocks(sc, n, blk, seed, boost = n.toDouble)).persist()
      a.count()
      // any value type but byte arrays: the scheduler's task binaries live until GC
      def live() = org.apache.spark.LiveBroadcasts[AnyRef](sc) -- org.apache.spark.LiveBroadcasts[Array[Byte]](sc)
      val bcBefore = live()
      val rddBefore = sc.getPersistentRDDs.keySet
      val (jobs, _) = org.apache.spark.JobCounter(sc) {
        if (name == "LU") BlockLU.factor(sc, a, n, blk) else BlockCholesky.factor(sc, a, n, blk)
      }
      assert(jobs <= q + 1, s"$name q=$q: $jobs jobs")
      val persisted = sc.getPersistentRDDs.keySet -- rddBefore
      assert(persisted.size == 1, s"$name q=$q: ${persisted.size} RDDs left persisted")
      eventually(timeout(10.seconds)) {
        val left = live() -- bcBefore
        assert(left.isEmpty, s"$name q=$q: broadcasts $left still live")
      }
      persisted.foreach(id => sc.getPersistentRDDs(id).unpersist())
      a.unpersist()
    }
  }

  test("m11 least squares: normal-equations residual ~ 0, matches local solve") {
    val df = graft.matrix.MatrixQueries.m11LeastSquares(spark, "")
    val row = df.collect()(0)
    assert(row.getAs[Boolean]("pass"),
      s"resid_rel=${row.getAs[Double]("resid_rel")} vs_local=${row.getAs[Double]("vs_local")}")
  }

  test("distributed triangular inversion") {
    val n = 128; val blk = 32; val q = n / blk
    val a = MatrixGen.blocks(sc, n, blk, seed, diagBoost = n.toDouble)
    val lu = BlockLU.factor(sc, a, n, blk)
    val li = Inversion.invLower(lu.l, q, blk)
    val prod = multiply(lu.l, li, blk, n.toLong, n.toLong, n.toLong)
    assert(maxAbsMinusIdentity(prod, blk) < 1e-8 * n)
    val ui = Inversion.invUpper(lu.u, q, blk)
    val prodU = multiply(lu.u, ui, blk, n.toLong, n.toLong, n.toLong)
    assert(maxAbsMinusIdentity(prodU, blk) < 1e-8 * n)
  }

  test("inverse: A·A⁻¹ == I (n=256, diagonally dominant, tight ε)") {
    val n = 256; val blk = 64
    val a = MatrixGen.blocks(sc, n, blk, seed, diagBoost = n.toDouble)
    val ainv = Inversion.inverse(sc, a, n, blk)
    val prod = multiply(a, ainv, blk, n.toLong, n.toLong, n.toLong)
    assert(maxAbsMinusIdentity(prod, blk) < 1e-6 * n)
  }

  test("inverse: raw uniform(0,1) matrix, loose ε (FIXTURES.md A4)") {
    val n = 256; val blk = 64
    val a = MatrixGen.blocks(sc, n, blk, seed)
    val ainv = Inversion.inverse(sc, a, n, blk)
    val prod = multiply(a, ainv, blk, n.toLong, n.toLong, n.toLong)
    assert(maxAbsMinusIdentity(prod, blk) < 1e-4 * n)
  }

  test("inverse matches local oracle (n=128)") {
    val n = 128; val blk = 32
    val a = MatrixGen.blocks(sc, n, blk, seed, diagBoost = n.toDouble)
    val dist = toLocal(Inversion.inverse(sc, a, n, blk), n, n, blk)
    val oracle = gepInverse(MatrixGen.local(n, blk, seed, diagBoost = n.toDouble))
    assert(LocalLA.maxAbsDiff(dist, oracle) < 1e-9 * n)
  }

  /** Local oracle: A⁻¹ by GEPP over the whole matrix,
    * A⁻¹[:, indx] = U⁻¹·L⁻¹. */
  private def gepInverse(a: Array[Array[Double]]): Array[Array[Double]] = {
    val n = a.length
    val packed = a.map(_.clone())
    val indx = LocalLA.ludcmp(packed)
    val (l, u) = LocalLA.splitLU(packed)
    val uiLi = LocalLA.gemm(LocalLA.invUpper(u), LocalLA.invUnitLower(l))
    val oracle = Array.ofDim[Double](n, n)
    for (i <- 0 until n; c <- 0 until n) oracle(i)(indx(c)) = uiLi(i)(c)
    oracle
  }

  /** ‖A·X − I‖∞ (max-abs entry) of local matrices. */
  private def residual(a: Array[Array[Double]], x: Array[Array[Double]]): Double =
    LocalLA.maxAbsDiff(LocalLA.gemm(a, x),
      Array.tabulate(a.length, a.length)((i, j) => if (i == j) 1.0 else 0.0))

  test("inverse: odd and single block counts q ∈ {1, 3, 5} match the local oracle") {
    val blk = 16
    for (q <- Seq(1, 3, 5)) {
      val n = q * blk
      val a = MatrixGen.blocks(sc, n, blk, seed + q, diagBoost = n.toDouble)
      val dist = toLocal(Inversion.inverse(sc, a, n, blk), n, n, blk)
      val loc = MatrixGen.local(n, blk, seed + q, diagBoost = n.toDouble)
      assert(residual(loc, dist) < 1e-6 * n, s"q=$q residual")
      assert(LocalLA.maxAbsDiff(dist, gepInverse(loc)) < 1e-9 * n, s"q=$q vs oracle")
    }
  }

  test("inverse: zero-diagonal pivot blocks fold the in-block permutation in") {
    // block-reversal permutations on the diagonal (every diagonal entry
    // 0, so each pivot block needs row swaps) plus a small coupling in
    // the off-diagonal blocks
    val blk = 8; val q = 3; val n = q * blk
    val rng = new scala.util.Random(seed)
    val a = Array.tabulate(n, n) { (i, j) =>
      if (i / blk != j / blk) 0.01 * rng.nextDouble()
      else if (i % blk + j % blk == blk - 1) 1.0 else 0.0
    }
    val dist = toLocal(Inversion.inverse(sc, localToBlocks(sc, a, blk), n, blk), n, n, blk)
    assert(residual(a, dist) < 1e-6 * n)
    assert(LocalLA.maxAbsDiff(dist, gepInverse(a)) < 1e-9 * n)
  }

  test("inverse(...).count() launches at most q+1 jobs (q=4, q=8)") {
    val blk = 16
    for (q <- Seq(4, 8)) {
      val n = q * blk
      val a = MatrixGen.blocks(sc, n, blk, seed, diagBoost = n.toDouble).persist()
      a.count()
      val (jobs, _) = org.apache.spark.JobCounter(sc)(Inversion.inverse(sc, a, n, blk).count())
      assert(jobs <= q + 1, s"q=$q: $jobs jobs")
      a.unpersist()
    }
  }

  test("row layout: on MatrixGen input the inverse, BlockLU.factor and solveFactored shuffle nothing; " +
    "an unlaid-out copy takes exactly one shuffle and gives the same bits (q=4, q=8)") {
    val blk = 16
    for (q <- Seq(4, 8)) {
      val n = q * blk; val m = 2 * blk
      val a = MatrixGen.blocks(sc, n, blk, seed, diagBoost = n.toDouble).persist()
      val b = MatrixGen.blocks(sc, n, blk, seed + 1).filter { case ((_, j), _) => j < 2 }.persist()
      // map drops the partitioner: the same blocks, in no declared layout
      val aCopy = a.map(identity).persist(); val bCopy = b.map(identity).persist()
      Seq(a, b, aCopy, bCopy).foreach(_.count())
      assert(a.partitioner.contains(new RowPartitioner(q)) && aCopy.partitioner.isEmpty)
      // the blocks `body` returns, after checking the shuffles its action ran
      def shuffles[A](what: String, laidOut: Boolean)(body: => A): A = {
        val (bytes, stages, out) = org.apache.spark.ShuffleCounter(sc)(body)
        if (laidOut) assert(bytes == 0 && stages == 0, s"q=$q $what: $stages shuffles, $bytes bytes")
        else assert(bytes > 0 && stages == 1, s"q=$q unlaid-out $what: $stages shuffles, $bytes bytes")
        out
      }
      def blocks(x: => Blocks) = x.collect().toMap
      assertSameBits(shuffles("inverse", laidOut = false)(blocks(Inversion.inverse(sc, aCopy, n, blk))),
        shuffles("inverse", laidOut = true)(blocks(Inversion.inverse(sc, a, n, blk))), s"q=$q inverse")
      val lu = shuffles("BlockLU.factor", laidOut = true)(BlockLU.factor(sc, a, n, blk))
      val luCopy = shuffles("BlockLU.factor", laidOut = false)(BlockLU.factor(sc, aCopy, n, blk))
      assertSameBits(luCopy.l, blocks(lu.l), s"q=$q L"); assertSameBits(luCopy.u, blocks(lu.u), s"q=$q U")
      assertSameBits(shuffles("solveFactored", laidOut = false)(blocks(Inversion.solveFactored(sc, lu, bCopy, m))),
        shuffles("solveFactored", laidOut = true)(blocks(Inversion.solveFactored(sc, lu, b, m))), s"q=$q X")
      sc.getPersistentRDDs.values.filterNot(r => Set(a.id, b.id, aCopy.id, bCopy.id)(r.id)).foreach(_.unpersist())
      Seq(a, b, aCopy, bCopy).foreach(_.unpersist())
    }
  }

  test("RowPartitioner equals no HashPartitioner: joins of row-laid-out and hash-partitioned blocks still match every key") {
    import org.apache.spark.HashPartitioner
    val q = 4; val blk = 8; val n = q * blk
    val rows = new RowPartitioner(q)
    assert(!(rows: org.apache.spark.Partitioner).isInstanceOf[HashPartitioner])
    assert(rows != new HashPartitioner(q) && new HashPartitioner(q) != rows)
    assert(rows == new RowPartitioner(q) && rows != new RowPartitioner(q + 1))
    val a = MatrixGen.blocks(sc, n, blk, seed)
    val hashed = a.map(identity).partitionBy(new HashPartitioner(q))
    assert(a.partitioner.contains(rows) && hashed.partitioner.contains(new HashPartitioner(q)))
    assert(maxAbsDiff(a, hashed) == 0.0 && maxAbsDiff(hashed, a) == 0.0)
    for ((x, y) <- Seq((a, hashed), (hashed, a))) {
      val joined = x.fullOuterJoin(y).collect()
      assert(joined.length == q * q && joined.forall { case (_, (l, r)) => l.isDefined && r.isDefined })
    }
  }

  test("inverse: an exactly singular leading pivot block raises pivotClamps") {
    // A = [[0, I], [I, I]] is nonsingular (A⁻¹ = [[−I, I], [I, 0]]), but
    // its leading diagonal block is zero: block-confined pivoting must
    // clamp every pivot of it, and say so
    val blk = 8; val n = 2 * blk
    val a = Array.tabulate(n, n)((i, j) => if (i >= blk && i == j || (i - j).abs == blk) 1.0 else 0.0)
    val before = Inversion.pivotClamps.get()
    Inversion.inverse(sc, localToBlocks(sc, a, blk), n, blk).count()
    assert(Inversion.pivotClamps.get() - before == blk)
    // a pivot-safe matrix clamps nothing
    val ok = Inversion.pivotClamps.get()
    Inversion.inverse(sc, MatrixGen.blocks(sc, n, blk, seed, diagBoost = n.toDouble), n, blk).count()
    assert(Inversion.pivotClamps.get() == ok)
  }

  test("pivot inverse: column panels are bit-identical to one serial solve, same clamps") {
    import org.apache.spark.mllib.linalg.{DenseMatrix => MlDM}
    val rng = new scala.util.Random(seed)
    // the last block has three zero columns, so ludcmp clamps three pivots
    val blocks = Seq(1, 2, 7, 63, 64, 300, 512).map(n => Array.fill(n, n)(rng.nextDouble())) :+
      Array.tabulate(7, 7)((i, j) => if (j < 3) 0.0 else (i + 1) * (j + 2) % 5 + 1.0)
    val clamped = for (a <- blocks) yield {
      val n = a.length
      val packed = a.map(_.clone())
      val indx = LocalLA.ludcmp(packed)
      val clamps = packed.indices.count(j => packed(j)(j) == LocalLA.Tiny)
      val (l, u) = LocalLA.splitLU(packed)
      val pI = Array.tabulate(n, n)((r, c) => if (indx(r) == c) 1.0 else 0.0)
      val serial = LocalLA.toDM(LocalLA.backSolveUpper(u, LocalLA.forwardSolveUnitLower(l, pI)))
      val before = Inversion.pivotClamps.get()
      val panel = Inversion.invertPivot(LocalLA.toDM(a))
      assert(Inversion.pivotClamps.get() - before == clamps, s"n=$n clamps")
      assert(java.util.Arrays.equals(panel.values, serial.values), s"n=$n not bit-identical")
      clamps
    }
    assert(clamped.last >= 3)
  }

  test("BlockLU.factor counts clamped diagonal-block pivots in pivotClamps") {
    val blk = 8; val n = 2 * blk
    val a = Array.tabulate(n, n)((i, j) => if (i >= blk && i == j || (i - j).abs == blk) 1.0 else 0.0)
    val before = Inversion.pivotClamps.get()
    BlockLU.factor(sc, localToBlocks(sc, a, blk), n, blk)
    assert(Inversion.pivotClamps.get() - before == blk)
    val ok = Inversion.pivotClamps.get()
    BlockLU.factor(sc, MatrixGen.blocks(sc, n, blk, seed, diagBoost = n.toDouble), n, blk)
    assert(Inversion.pivotClamps.get() == ok)
  }

  test("transpose equals the index definition on n×n, 1×n and n×1") {
    val rng = new scala.util.Random(seed)
    for ((r, c) <- Seq((5, 5), (1, 7), (7, 1), (1, 1))) {
      val a = Array.fill(r, c)(rng.nextDouble())
      val t = LocalLA.transpose(a)
      assert(t.length == c && t.forall(_.length == r))
      assert(t.indices.forall(i => t(i).indices.forall(j => t(i)(j) == a(j)(i))))
    }
    assert(LocalLA.transpose(Array.empty[Array[Double]]).isEmpty)
  }

  test("inverse releases every step's broadcasts but the last's (q=4)") {
    import org.apache.spark.mllib.linalg.{DenseMatrix => MlDM}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val blk = 16; val q = 4; val n = q * blk
    val a = MatrixGen.blocks(sc, n, blk, seed, diagBoost = n.toDouble).persist()
    a.count()
    val before = org.apache.spark.LiveBroadcasts[MlDM](sc)
    Inversion.inverse(sc, a, n, blk).count()
    // a step broadcasts D⁻¹ alone; the last step's stays for the caller's action
    eventually(timeout(10.seconds)) {
      assert((org.apache.spark.LiveBroadcasts[MlDM](sc) -- before).size <= 1)
    }
    a.unpersist()
  }

  test("inverseAny: arbitrary n (not a block multiple) via identity padding") {
    val n = 300; val blk = 64
    val a = MatrixGen.local(n, n, 5L, diagBoost = n.toDouble)
    val rows = spark.sparkContext.parallelize(
      a.indices.map(i => (i.toLong, a(i))), 8)
    // one shuffle of A into the row layout, one of A⁻¹ back into rows
    val (_, shuffles, inv0) = org.apache.spark.ShuffleCounter(sc)(Inversion.inverseAny(sc, rows, n, blk).collect())
    assert(shuffles == 2, s"inverseAny ran $shuffles shuffles")
    val inv = inv0.sortBy(_._1).map(_._2)
    val prod = LocalLA.gemm(a, inv)
    var resid = 0.0
    for (i <- 0 until n; j <- 0 until n) {
      val e = if (i == j) 1.0 else 0.0
      resid = math.max(resid, math.abs(prod(i)(j) - e))
    }
    assert(resid < 1e-7 * n, s"residual $resid")
  }

  test("solve: blocked TRSM substitution, no full inversion in the path") {
    val n = 256; val blk = 64
    val a = MatrixGen.blocks(sc, n, blk, seed, diagBoost = n.toDouble)
    val b = MatrixGen.blocks(sc, n, blk, seed + 1).filter { case ((_, j), _) => j == 0 }
    val invBefore = Inversion.inverseInvocations.get()
    val x = Inversion.solve(sc, a, b, n, blk, blk)
    val ax = multiply(a, x, blk, n.toLong, n.toLong, blk.toLong)
    val resid = maxAbsDiff(ax, b)
    assert(resid < 1e-8 * n, s"residual $resid")
    assert(Inversion.inverseInvocations.get() == invBefore,
      "solve must substitute over the factored blocks, never form A⁻¹")
    // agrees with the local substitution oracle
    val loc = MatrixGen.local(n, blk, seed, diagBoost = n.toDouble)
    val packed = loc.map(_.clone())
    val indx = LocalLA.ludcmp(packed)
    val (l, u) = LocalLA.splitLU(packed)
    val bLoc = toLocal(b, n, blk, blk)
    val xLoc = LocalLA.backSolveUpper(u,
      LocalLA.forwardSolveUnitLower(l, LocalLA.permuteRows(bLoc, indx)))
    assert(LocalLA.maxAbsDiff(toLocal(x, n, blk, blk), xLoc) < 1e-9 * n)
  }

  test("solveFactored: one factorization serves many right-hand sides") {
    val n = 128; val blk = 32
    val a = MatrixGen.blocks(sc, n, blk, seed, diagBoost = n.toDouble)
    val lu = BlockLU.factor(sc, a, n, blk)
    for (s <- 1 to 3) {
      val b = MatrixGen.blocks(sc, n, blk, seed + s).filter { case ((_, j), _) => j == 0 }
      val x = Inversion.solveFactored(sc, lu, b, blk)
      val ax = multiply(a, x, blk, n.toLong, n.toLong, blk.toLong)
      assert(maxAbsDiff(ax, b) < 1e-8 * n, s"rhs $s residual")
    }
  }

  test("local cholesky: L·Lᵀ == A on SPD input; lower-triangular, positive diag") {
    val n = 64
    val a = BlockCholesky.spdLocal(n, 16, seed, boost = n.toDouble)
    val l = LocalLA.cholesky(a)
    assert(LocalLA.maxAbsDiff(LocalLA.gemm(l, LocalLA.transpose(l)), a) < 1e-9 * n)
    for (i <- 0 until n) {
      assert(l(i)(i) > 0, s"non-positive diag at $i")
      for (j <- i + 1 until n) assert(l(i)(j) == 0.0, s"upper entry at ($i,$j)")
    }
  }

  test("distributed block Cholesky equals local; L·Lᵀ == A (n=256, blk=64)") {
    val n = 256; val blk = 64
    val a = BlockCholesky.spdBlocks(sc, n, blk, seed, boost = n.toDouble)
    val lBlocks = BlockCholesky.factor(sc, a, n, blk).collect()
    assert(lBlocks.map(_._1).toSet == (for (i <- 0 until 4; j <- 0 to i) yield (i, j)).toSet)
    val l = Array.ofDim[Double](n, n)
    lBlocks.foreach { case ((bi, bj), m) =>
      val d = LocalLA.fromDM(toDense(m))
      for (i <- 0 until blk; j <- 0 until blk) l(bi * blk + i)(bj * blk + j) = d(i)(j)
    }
    val aLoc = BlockCholesky.spdLocal(n, blk, seed, boost = n.toDouble)
    assert(LocalLA.maxAbsDiff(LocalLA.gemm(l, LocalLA.transpose(l)), aLoc) < 1e-8 * n)
    val lLoc = LocalLA.cholesky(aLoc)
    assert(LocalLA.maxAbsDiff(l, lLoc) < 1e-8 * n, "distributed factor differs from local")
  }

  test("solveSPD: Cholesky substitution solve, residual bound, equals LU solve") {
    val n = 256; val blk = 64
    val a = BlockCholesky.spdBlocks(sc, n, blk, seed, boost = n.toDouble)
    // mirror the lower-triangle blocks to a full symmetric A for the
    // LU path and the residual check
    val aFull = a.flatMap { case ((i, j), m) =>
      if (i == j) Iterator(((i, j), m))
      else Iterator(((i, j), m),
        ((j, i), LocalLA.toDM(LocalLA.transpose(LocalLA.fromDM(toDense(m))))))
    }
    val b = MatrixGen.blocks(sc, n, blk, seed + 9).filter { case ((_, j), _) => j == 0 }
    val x = Inversion.solveSPD(sc, a, b, n, blk, blk)
    val ax = multiply(aFull, x, blk, n.toLong, n.toLong, blk.toLong)
    val resid = maxAbsDiff(ax, b)
    assert(resid < 1e-8 * n, s"Cholesky-solve residual $resid")
    val xLU = Inversion.solve(sc, aFull, b, n, blk, blk)
    assert(maxAbsDiff(x, xLU) < 1e-8 * n, "SPD solve disagrees with LU solve")
  }

  test("solveXU: the row-oriented loop is bit-identical to the column loop (n ∈ {1, 2, 7, 64, 300, 512}, rectangular B)") {
    // the column loop solveXU ran before: x_j = (b_j − Σ_{k<j} x_k·u_kj) / u_jj
    def columnLoop(b: Array[Array[Double]], u: Array[Array[Double]]): Array[Array[Double]] = {
      val x = b.map(_.clone())
      for (xr <- x; j <- u.indices) {
        var s = xr(j)
        var k = 0
        while (k < j) { s -= xr(k) * u(k)(j); k += 1 }
        xr(j) = s / (if (u(j)(j) == 0.0) LocalLA.Tiny else u(j)(j))
      }
      x
    }
    val rng = new scala.util.Random(seed)
    for (n <- Seq(1, 2, 7, 64, 300, 512); rows <- Seq(n, n / 2 + 3)) {
      val u = Array.tabulate(n, n)((i, j) => if (j < i) 0.0 else rng.nextDouble() + (if (i == j) 1 else 0))
      if (n == 7) u(3)(3) = 0.0 // a clamped pivot
      val b = Array.fill(rows, n)(rng.nextDouble())
      val got = LocalLA.solveXU(b, u); val want = columnLoop(b, u)
      assert(got.length == rows, s"n=$n rows=$rows")
      assert(got.indices.forall(r => java.util.Arrays.equals(got(r), want(r))), s"n=$n rows=$rows not bit-identical")
    }
  }

  test("maxAbsDiff counts a block absent on one side as a zero block") {
    val n = 64; val blk = 16
    val a = MatrixGen.blocks(sc, n, blk, seed)
    val dropped = a.filter { case (key, _) => key != (1, 2) }
    val block = a.lookup((1, 2)).head.values.map(math.abs).max
    assert(block > 0)
    assert(maxAbsDiff(a, dropped) == block)
    assert(maxAbsDiff(dropped, a) == block)
    assert(maxAbsDiff(a, a) == 0.0)
  }

  /** ‖A·X − B‖ < 1e-8·n through toLocal, and X holds every block of the
    * local GEPP solution that has a nonzero entry. */
  private def assertSolves(aLoc: Array[Array[Double]], b: Blocks, x: Blocks, m: Int, blk: Int, what: String): Unit = {
    val n = aLoc.length
    val bLoc = toLocal(b, n, m, blk)
    val resid = LocalLA.maxAbsDiff(LocalLA.gemm(aLoc, toLocal(x, n, m, blk)), bLoc)
    assert(resid < 1e-8 * n, s"$what: ‖A·X − B‖ = $resid")
    val packed = aLoc.map(_.clone())
    val indx = LocalLA.ludcmp(packed)
    val (l, u) = LocalLA.splitLU(packed)
    val exact = LocalLA.backSolveUpper(u, LocalLA.forwardSolveUnitLower(l, LocalLA.permuteRows(bLoc, indx)))
    val nonzero = for (bi <- 0 until n / blk; bj <- 0 until m / blk
      if (0 until blk).exists(r => (0 until blk).exists(c => exact(bi * blk + r)(bj * blk + c) != 0.0))) yield (bi, bj)
    val keys = x.keys.collect().toSet
    assert(nonzero.nonEmpty && nonzero.forall(keys), s"$what: X lacks blocks ${nonzero.filterNot(keys)}")
  }

  /** The blocks of a local matrix, keeping only those `keep` selects. */
  private def blocksOf(a: Array[Array[Double]], blk: Int)(keep: (Int, Int) => Boolean): Blocks =
    localToBlocks(sc, a, blk).filter { case ((i, j), _) => keep(i, j) }

  test("block-diagonal A: solve and solveFactored return every X block") {
    val blk = 16; val q = 4; val n = q * blk
    val dense = MatrixGen.local(n, blk, seed, diagBoost = n.toDouble)
    val aLoc = Array.tabulate(n, n)((i, j) => if (i / blk == j / blk) dense(i)(j) else 0.0)
    val a = blocksOf(aLoc, blk)(_ == _)
    for (w <- Seq(1, 2)) {
      val b = MatrixGen.blocks(sc, n, blk, seed + 1).filter { case ((_, j), _) => j < w }
      assertSolves(aLoc, b, Inversion.solve(sc, a, b, n, w * blk, blk), w * blk, blk, s"solve m=${w * blk}")
      val lu = BlockLU.factor(sc, a, n, blk)
      assertSolves(aLoc, b, Inversion.solveFactored(sc, lu, b, w * blk), w * blk, blk, s"solveFactored m=${w * blk}")
      lu.lines.unpersist()
    }
  }

  test("block-diagonal SPD A: solveSPD and solveCholFactored return every X block") {
    val blk = 16; val q = 4; val n = q * blk
    val spd = BlockCholesky.spdLocal(n, blk, seed, boost = n.toDouble)
    val aLoc = Array.tabulate(n, n)((i, j) => if (i / blk == j / blk) spd(i)(j) else 0.0)
    val a = blocksOf(aLoc, blk)(_ == _)
    for (w <- Seq(1, 2)) {
      val b = MatrixGen.blocks(sc, n, blk, seed + 1).filter { case ((_, j), _) => j < w }
      assertSolves(aLoc, b, Inversion.solveSPD(sc, a, b, n, w * blk, blk), w * blk, blk, s"solveSPD m=${w * blk}")
      val l = BlockCholesky.factor(sc, a, n, blk)
      assertSolves(aLoc, b, Inversion.solveCholFactored(sc, l, b, n, blk), w * blk, blk, s"solveCholFactored m=${w * blk}")
    }
  }

  test("B present only in block row 0: the LU and Cholesky solves fill in every X block") {
    val blk = 16; val q = 4; val n = q * blk; val m = 2 * blk
    val b = MatrixGen.blocks(sc, n, blk, seed + 1).filter { case ((i, j), _) => i == 0 && j < 2 }
    val aLoc = MatrixGen.local(n, blk, seed, diagBoost = n.toDouble)
    val a = blocksOf(aLoc, blk)((_, _) => true)
    assertSolves(aLoc, b, Inversion.solve(sc, a, b, n, m, blk), m, blk, "solve")
    val lu = BlockLU.factor(sc, a, n, blk)
    assertSolves(aLoc, b, Inversion.solveFactored(sc, lu, b, m), m, blk, "solveFactored")
    lu.lines.unpersist()
    val spd = BlockCholesky.spdLocal(n, blk, seed, boost = n.toDouble)
    val lower = blocksOf(spd, blk)(_ >= _)
    assertSolves(spd, b, Inversion.solveSPD(sc, lower, b, n, m, blk), m, blk, "solveSPD")
    val l = BlockCholesky.factor(sc, lower, n, blk)
    assertSolves(spd, b, Inversion.solveCholFactored(sc, l, b, n, blk), m, blk, "solveCholFactored")
  }

  /** Forward then backward blocked substitution on the driver in the
    * per-step loop's order, per block the same LocalLA kernels and
    * `update`: `lower`/`upper` are the factor grids, `b` the right-hand
    * side's q×w grid, all blocks present. */
  private def blockedSubstitution(lower: Array[Array[MlDM]], upper: Array[Array[MlDM]], b: Array[Array[MlDM]],
      forward: (Array[Array[Double]], Array[Array[Double]]) => Array[Array[Double]],
      backward: (Array[Array[Double]], Array[Array[Double]]) => Array[Array[Double]],
      update: Update): Map[(Int, Int), MlDM] = {
    import LocalLA.{fromDM, toDM}
    val q = b.length; val y = b.map(_.clone())
    for (k <- 0 until q) {
      for (j <- y(k).indices) y(k)(j) = toDM(forward(fromDM(lower(k)(k)), fromDM(y(k)(j))))
      for (i <- k + 1 until q; j <- y(i).indices) y(i)(j) = update(y(i)(j), lower(i)(k), y(k)(j))
    }
    for (k <- q - 1 to 0 by -1) {
      for (j <- y(k).indices) y(k)(j) = toDM(backward(fromDM(upper(k)(k)), fromDM(y(k)(j))))
      for (i <- 0 until k; j <- y(i).indices) y(i)(j) = update(y(i)(j), upper(i)(k), y(k)(j))
    }
    (for (i <- 0 until q; j <- y(i).indices) yield ((i, j), y(i)(j))).toMap
  }

  test("solveFactored and solveCholFactored are bit-identical to the blocked substitution loop (q ∈ {1, 3, 4}, m ∈ {blk, 2·blk})") {
    import LocalLA._
    for ((q, blk) <- Seq((1, 16), (3, 16), (4, 32)); w <- Seq(1, 2)) {
      val n = q * blk; val m = w * blk
      val ids = for (i <- 0 until q; j <- 0 until w) yield (i, j)
      val bSeed = seed + 7 // not seed: the closure would capture the suite
      val b: Blocks = sc.parallelize(ids, ids.size).map { case (i, j) =>
        ((i, j), LocalLA.toDM(MatrixGen.localBlock(blk, bSeed, i, j, 0.0)))
      }
      val bGrid = grid(b, q, w)
      val lu = BlockLU.factor(sc, MatrixGen.blocks(sc, n, blk, seed + q), n, blk)
      val pb = bGrid.zipWithIndex.map { case (row, i) => row.map(mb => toDM(permuteRows(fromDM(mb), lu.perms(i)))) }
      val x = Inversion.solveFactored(sc, lu, b, m)
      def luLoop(update: Update) =
        blockedSubstitution(grid(lu.l, q, q), grid(lu.u, q, q), pb, forwardSolveUnitLower, backSolveUpper, update)
      assertSameBits(x, luLoop(kernelUpdate), s"q=$q m=$m LU X")
      assertClose(x, luLoop(mllibUpdate), 1e-10 * n, s"q=$q m=$m LU X vs the MLlib loop")
      lu.lines.unpersist()
      val l = BlockCholesky.factor(sc, BlockCholesky.spdBlocks(sc, n, blk, seed + q, boost = n.toDouble), n, blk)
      val lGrid = grid(l, q, q)
      val ltGrid = Array.tabulate(q, q)((i, k) => if (i > k) null else toDM(transpose(fromDM(lGrid(k)(i)))))
      val xChol = Inversion.solveCholFactored(sc, l, b, n, blk)
      def cholLoop(update: Update) = blockedSubstitution(lGrid, ltGrid, bGrid, forwardSolveLower, backSolveUpper, update)
      assertSameBits(xChol, cholLoop(kernelUpdate), s"q=$q m=$m Cholesky X")
      assertClose(xChol, cholLoop(mllibUpdate), 1e-10 * n, s"q=$q m=$m Cholesky X vs the MLlib loop")
    }
  }

  test("solveFactored(...).count(): at most 2q+2 jobs, only the last step's RDD and broadcasts left, the factor " +
    "kept; solve at most 3q+3 jobs, solve and solveSPD release their factor (q=4, q=8)") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val blk = 16; val m = 2 * blk
    for (q <- Seq(4, 8)) {
      val n = q * blk
      val a = MatrixGen.blocks(sc, n, blk, seed, diagBoost = n.toDouble).persist()
      val spd = BlockCholesky.spdBlocks(sc, n, blk, seed, boost = n.toDouble).persist()
      val b = MatrixGen.blocks(sc, n, blk, seed + 1).filter { case ((_, j), _) => j < 2 }.persist()
      a.count(); spd.count(); b.count()
      val lu = BlockLU.factor(sc, a, n, blk)
      val bcBefore = org.apache.spark.LiveBroadcasts[MlDM](sc)
      val rddBefore = sc.getPersistentRDDs.keySet
      val (jobs, _) = org.apache.spark.JobCounter(sc)(Inversion.solveFactored(sc, lu, b, m).count())
      assert(jobs <= 2 * q + 2, s"q=$q: solveFactored took $jobs jobs")
      val persisted = sc.getPersistentRDDs.keySet -- rddBefore
      assert(persisted.size <= 1, s"q=$q: ${persisted.size} RDDs left persisted")
      assert(sc.getPersistentRDDs.contains(lu.lines.id), s"q=$q: the factor was unpersisted")
      eventually(timeout(10.seconds)) {
        val left = org.apache.spark.LiveBroadcasts[MlDM](sc) -- bcBefore
        assert(left.size <= m / blk, s"q=$q: broadcasts $left still live")
      }
      persisted.foreach(id => sc.getPersistentRDDs(id).unpersist())
      lu.lines.unpersist()
      for (name <- Seq("solve", "solveSPD")) {
        val before = sc.getPersistentRDDs.keySet
        val (solveJobs, _) = org.apache.spark.JobCounter(sc) {
          (if (name == "solve") Inversion.solve(sc, a, b, n, m, blk) else Inversion.solveSPD(sc, spd, b, n, m, blk)).count()
        }
        if (name == "solve") assert(solveJobs <= 3 * q + 3, s"q=$q: solve took $solveJobs jobs")
        val left = sc.getPersistentRDDs.keySet -- before
        assert(left.size <= 1, s"q=$q: $name left ${left.size} RDDs persisted")
        left.foreach(id => sc.getPersistentRDDs(id).unpersist())
      }
      a.unpersist(); spd.unpersist(); b.unpersist()
    }
  }

  test("M6: golden fixture byte round trip (out/A.0, out/A.1)") {
    for (p <- Seq("/root/reference/out/A.0", "/root/reference/out/A.1")) {
      assume(new java.io.File(p).exists())
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
      val block = MatrixBlockIO.decode(bytes)
      assert(bytes.length == 2099216)
      assert(block.i0 == 1024 && block.i1 == 1536)
      assert(java.util.Arrays.equals(MatrixBlockIO.encode(block), bytes))
    }
  }

  test("reliable checkpoint: LU under sc.setCheckpointDir writes recoverable state") {
    val dir = new java.io.File(tempDir("graft_ckpt"))
    val n = 128; val blk = 32
    val inverse = Inversion.inverse(sc, MatrixGen.blocks(sc, n, blk, seed), n, blk).collect().toMap
    sc.setCheckpointDir(dir.getPath)
    try {
      val a = MatrixGen.blocks(sc, n, blk, seed)
      // the updates read row k from checkpointed steps: the same bits
      assertSameBits(Inversion.inverse(sc, a, n, blk), inverse, "checkpointed inverse")
      val lu = BlockLU.factor(sc, a, n, blk)
      val prod = multiply(lu.l, lu.u, blk, n.toLong, n.toLong, n.toLong)
      val permsB = sc.broadcast(lu.perms)
      val pa = a.map { case ((i, j), m) =>
        ((i, j), LocalLA.toDM(LocalLA.permuteRows(LocalLA.fromDM(m), permsB.value(i))))
      }
      assert(maxAbsDiff(prod, pa) < 1e-8 * n)
      // recovery-capable checkpoint files landed under the dir (the
      // localCheckpoint fallback writes nothing here)
      def countFiles(f: java.io.File): Int =
        if (f.isFile) 1
        else Option(f.listFiles).map(_.map(countFiles).sum).getOrElse(0)
      assert(countFiles(dir) > 0, "no reliable checkpoint files written")
    } finally sc.setCheckpointDir(null)
  }

  test("distributed sink + windowed/transposed re-read (2048², 16 files)") {
    val n = 2048; val blk = 512
    val dir = tempDir("graft_refsink")
    val blocks = MatrixGen.blocks(sc, n, blk, seed)
    MatrixBlockIO.writeBlocks(MatrixBlockIO.toRefBlocks(blocks, blk), dir)
    assert(new java.io.File(dir).listFiles().length == (n / blk) * (n / blk))

    val loc = MatrixGen.local(n, blk, seed)
    // full distributed re-read: value-identical
    val back = MatrixBlockIO.readBlocks(sc, s"$dir/A.*").collect()
    assert(back.length == 16)
    back.foreach { b =>
      for (r <- 0 until b.numRows; c <- 0 until b.numCols)
        assert(b.data(r)(c) == loc(b.i0 + r)(b.j0 + c))
    }
    // windowed read across file boundaries: only the overlap lands
    val (wi, wj, wr, wc) = (700, 300, 200, 900)
    val win = Array.ofDim[Double](wr, wc)
    new java.io.File(dir).listFiles().foreach(f =>
      MatrixBlockIO.readWindow(f.getPath, wi, wj, win))
    for (r <- 0 until wr; c <- 0 until wc)
      assert(win(r)(c) == loc(wi + r)(wj + c))
    // transposed window (the reference's 'T' mode)
    val winT = Array.ofDim[Double](wc, wr)
    new java.io.File(dir).listFiles().foreach(f =>
      MatrixBlockIO.readWindow(f.getPath, wi, wj, winT, transposed = true))
    for (r <- 0 until wr; c <- 0 until wc)
      assert(winT(c)(r) == loc(wi + r)(wj + c))
    // byte-identical re-encode of a written file
    val one = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/A.512.1024"))
    assert(java.util.Arrays.equals(
      MatrixBlockIO.encode(MatrixBlockIO.decode(one)), one))
  }

  test("codec round trip on generated block + distributed read") {
    val dir = tempDir("graft_refblocks")
    val data = MatrixGen.local(64, 16, seed)
    val b = MatrixBlockIO.RefBlock(0, 64, 0, 64, Array.tabulate(64)(identity), data)
    MatrixBlockIO.write(s"$dir/A.0", b)
    val back = MatrixBlockIO.read(s"$dir/A.0")
    assert(LocalLA.maxAbsDiff(back.data, data) == 0.0)
    val rdd = MatrixBlockIO.readBlocks(sc, s"$dir/A.*")
    assert(rdd.count() == 1)
  }

  test("TSQR: canonical R unique across partitionings, Q orthonormal, QR lstsq recovers planted x") {
    val m = 512; val d = 16; val blk = 32
    val rows = TallSkinny.tallRows(sc, m, d, blk, seed)
    val r = TallSkinny.tsqrR(rows, d)
    // uniqueness: a DIFFERENT partitioning (different reduction tree,
    // different fp order) must produce the same canonical R up to roundoff
    val r7 = TallSkinny.tsqrR(rows.repartition(7), d)
    val rl = LocalLA.canonUpper(LocalLA.qrR(
      rows.collect().sortBy(_._1).map(_._2)))
    val scale = rl.map(_.map(math.abs).max).max
    assert(LocalLA.maxAbsDiff(r, rl) / scale < 1e-12)
    assert(LocalLA.maxAbsDiff(r7, rl) / scale < 1e-12)
    // R upper triangular with positive diagonal
    for (i <- 0 until d) {
      assert(r(i)(i) > 0.0)
      for (j <- 0 until i) assert(r(i)(j) == 0.0)
    }
    // Q orthonormal
    val qtq = TallSkinny.gram(TallSkinny.qOf(rows, r), d)
    for (i <- 0 until d; j <- 0 until d)
      assert(math.abs(qtq(i)(j) - (if (i == j) 1.0 else 0.0)) < 1e-12)
    // least squares through QR recovers a planted solution
    val xTrue = Array.tabulate(d)(j => (j - 5).toDouble / 3)
    val rowsWithB = rows.map { case (_, v) =>
      (v, v.zip(xTrue).map { case (a, b) => a * b }.sum)
    }
    val x = TallSkinny.lstsqQR(rowsWithB, r, d)
    assert(x.zip(xTrue).map { case (a, b) => math.abs(a - b) }.max < 1e-10)
  }

  test("symEig: Jacobi recovers a planted spectrum; eigenvectors orthonormal") {
    val n = 24
    val rng = new scala.util.Random(7)
    // plant: A = V·diag(λ)·Vᵀ with a random orthogonal V (via QR)
    val lam = Array.tabulate(n)(i => (n - i).toDouble * (n - i))
    val raw = Array.fill(n, n)(rng.nextGaussian())
    val r = LocalLA.qrR(raw.map(_.clone()))
    val v = LocalLA.solveXU(raw, r) // Q of the QR: orthogonal
    val a = Array.tabulate(n, n) { (i, j) =>
      var s = 0.0; var k = 0
      while (k < n) { s += v(i)(k) * lam(k) * v(j)(k); k += 1 }
      s
    }
    val (got, vecs) = LocalLA.symEig(a)
    assert(got.zip(lam).map { case (x, y) => math.abs(x - y) }.max < 1e-8 * lam.max)
    // vectors orthonormal and satisfy A·v = λ·v
    for (i <- 0 until n; j <- 0 until n) {
      var dot = 0.0; var k = 0
      while (k < n) { dot += vecs(k)(i) * vecs(k)(j); k += 1 }
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-10)
    }
    for (c <- 0 until 3) {
      val av = a.map(row => row.indices.map(k => row(k) * vecs(k)(c)).sum)
      val resid = av.zipWithIndex.map { case (x, i) =>
        math.abs(x - got(c) * vecs(i)(c)) }.max
      assert(resid < 1e-7 * lam.max, s"A·v ≠ λv for eigenpair $c: $resid")
    }
  }

  test("m14: completed randomized SVD matches a driver-local spectrum, V orthonormal") {
    val row = MatrixQueries.m14CompletedSvd(spark, "").collect()(0)
    info(s"sig1=${row.getAs[Double]("sig1_4")} sig8=${row.getAs[Double]("sig8_4")} " +
      f"relTop8=${row.getAs[Double]("rel_top8")}%.2e align1=${row.getAs[Double]("align1")}%.6f " +
      f"vOrth=${row.getAs[Double]("v_orth")}%.2e tail=${row.getAs[Double]("tail_ratio")}%.2e")
    assert(row.getAs[Boolean]("pass"), row.toString)
    assert(row.getAs[Double]("rel_top8") < 1e-3,
      "top-8 singular values drifted beyond the projection-residual bound")
  }

  /** Rows of `query` and the Spark jobs it launched (its collect
    * included); fails when the query leaves an RDD persisted, since
    * `spark.catalog.clearCache()` in Bench and Verify does not release
    * RDDs. */
  private def counted(query: => org.apache.spark.sql.DataFrame): (Int, Array[org.apache.spark.sql.Row]) = {
    val before = sc.getPersistentRDDs.keySet
    val (jobs, rows) = org.apache.spark.JobCounter(sc)(query.collect())
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"the query left ${left.size} RDDs persisted: ${left.toSeq.sorted.mkString(", ")}")
    (jobs, rows)
  }

  test("m9: block-vector power iteration matches the driver-local replica and norm bounds") {
    val (jobs, rows) = counted(MatrixQueries.m9SpectralNorm(spark, ""))
    val row = rows(0)
    assert(row.getAs[Boolean]("pass"),
      s"m9 invariant gate failed after the collect-free rewrite: $row")
    // 15 rounds: one dot job each, one checkpoint job at round 8
    assert(jobs == 16, s"m9 launched $jobs jobs")
  }

  test("a block-vector scope unpersists everything it cached when its body throws") {
    val before = sc.getPersistentRDDs.keySet
    val boom = intercept[IllegalStateException] {
      BlockVecs.scoped(sc, 4, 8) { bv =>
        val a = bv.spdByCol(seed)
        val x = bv.keep(bv.vec(i => i.toDouble))
        val y = bv.keep(bv.matvec(a, x))
        bv.checkpoint(x, y)
        assert(bv.dot(y, y) > 0)
        throw new IllegalStateException("failed inside the scope")
      }
    }
    assert(boom.getMessage == "failed inside the scope")
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"${left.size} RDDs stayed persisted after the scope threw")
  }

  test("m15 block-vector matvec: distributed SpMV equals a local dense matvec") {
    // the CG loop's kernel on the layout the queries build: column-keyed
    // full-symmetric blocks, narrow join against the block iterate,
    // q²·blk-double partial reduce — verified against a driver-local
    // dense matvec over the SAME matrix
    val n = 256; val blk = 64; val q = n / blk
    val xLoc = Array.tabulate(n)(i => math.sin(i + 1.0))
    val got = BlockVecs.scoped(sc, q, blk) { bv =>
      bv.matvec(bv.spdByCol(seed), bv.vec(xLoc(_)))
        .collect().sortBy(_._1).flatMap(_._2)
    }
    assert(got.length == n)
    val aLoc = Array.ofDim[Double](n, n)
    for (bi <- 0 until q; bj <- 0 to bi) {
      val a = MatrixGen.localBlock(blk, seed, bi, bj, 0.0)
      val at = MatrixGen.localBlock(blk, seed, bj, bi, 0.0)
      for (i <- 0 until blk; j <- 0 until blk) {
        var v = (a(i)(j) + at(j)(i)) / 2
        if (bi == bj && i == j) v += n.toDouble
        aLoc(bi * blk + i)(bj * blk + j) = v
        aLoc(bj * blk + j)(bi * blk + i) = v
      }
    }
    val want = aLoc.map { row =>
      var acc = 0.0; var i = 0
      while (i < n) { acc += row(i) * xLoc(i); i += 1 }
      acc
    }
    val diff = got.zip(want).map { case (g, w) => math.abs(g - w) }.max
    assert(diff < 1e-10, s"distributed matvec drifted from local by $diff")
  }

  test("m15: CG recovers the planted SPD solution, true residual at tolerance") {
    val (jobs, rows) = counted(MatrixQueries.m15ConjugateGradient(spark, ""))
    val row = rows(0)
    info(f"iters=${row.getAs[Int]("iters")} resid=${row.getAs[Double]("resid_rel")}%.2e " +
      f"err=${row.getAs[Double]("err_rel")}%.2e")
    assert(row.getAs[Boolean]("pass"), row.toString)
    // the boosted-diagonal SPD matrix is well-conditioned (kappa ~ few):
    // CG must converge far below the n-iteration worst case
    assert(row.getAs[Int]("iters") < 100,
      s"CG took ${row.getAs[Int]("iters")} iterations — conditioning or recurrence broken")
    // ‖b‖ and r·r, two dots per iteration, one residual-and-error check
    assert(row.getAs[Int]("iters") == 7 && jobs == 17, s"m15 launched $jobs jobs")
  }

  test("m16: Jacobi PCG beats plain CG on the badly scaled system, solution exact") {
    val (jobs, rows) = counted(MatrixQueries.m16PreconditionedCg(spark, ""))
    val row = rows(0)
    info(s"cg_iters=${row.getAs[Int]("cg_iters")} pcg_iters=${row.getAs[Int]("pcg_iters")} " +
      f"resid_cg=${row.getAs[Double]("resid_cg")}%.2e resid_pcg=${row.getAs[Double]("resid_pcg")}%.2e")
    assert(row.getAs[Boolean]("pass"), row.toString)
    // the diagonal scaling (spread 8) is exactly what Jacobi undoes:
    // the preconditioned count must fall back near the unscaled regime
    // (m15 converges in ~7), while plain CG pays for the scaling
    assert(row.getAs[Int]("pcg_iters") * 2 <= row.getAs[Int]("cg_iters"),
      s"preconditioner bought <2x: cg=${row.getAs[Int]("cg_iters")} pcg=${row.getAs[Int]("pcg_iters")}")
    // 72 dot, norm and check jobs plus one job per checkpoint (3)
    assert(row.getAs[Int]("cg_iters") == 26 && row.getAs[Int]("pcg_iters") == 7 && jobs == 75,
      s"m16 launched $jobs jobs")
  }

  test("m17: Lanczos top-3 Ritz values match the dense spectrum; gates green") {
    val n = 256; val blk = 64; val q = n / blk
    val (jobs, rows) = counted(MatrixQueries.m17At(spark, n, blk))
    assert(rows.length == 3)
    assert(rows(0).getAs[Int]("iters") == 8 && jobs == 56, s"m17 launched $jobs jobs")
    rows.foreach(r => assert(r.getAs[Boolean]("pass") &&
      r.getAs[Boolean]("rank_complete_ok"), r.toString))
    info(rows.map(r => f"theta${r.getAs[Int]("rank")}=${r.getAs[Double]("theta")}%.6f " +
      f"resid=${r.getAs[Double]("resid_rel")}%.2e").mkString(" "))
    // dense ground truth over the SAME matrix (m15-spec assembly +
    // m17's planted spikes: +cₖ/blk on diagonal block k, cₖ = (3−k)·n)
    val aLoc = Array.ofDim[Double](n, n)
    for (bi <- 0 until q; bj <- 0 to bi) {
      val a = MatrixGen.localBlock(blk, seed, bi, bj, 0.0)
      val at = MatrixGen.localBlock(blk, seed, bj, bi, 0.0)
      val bump = if (bi == bj && bi < 3) (3 - bi) * n.toDouble / blk else 0.0
      for (i <- 0 until blk; j <- 0 until blk) {
        var v = (a(i)(j) + at(j)(i)) / 2 + bump
        if (bi == bj && i == j) v += n.toDouble
        aLoc(bi * blk + i)(bj * blk + j) = v
        aLoc(bj * blk + j)(bi * blk + i) = v
      }
    }
    val (lam, _) = LocalLA.symEig(aLoc)
    rows.foreach { r =>
      val k = r.getAs[Int]("rank") - 1
      val th = r.getAs[Double]("theta")
      assert(math.abs(th - lam(k)) <= 1e-6 * math.abs(lam(k)),
        f"Ritz value $k drifted: theta=$th%.9f dense=${lam(k)}%.9f")
    }
  }

  test("m18: BiCGSTAB recovers the planted solution on a genuinely " +
    "nonsymmetric system; independent local LU solve agrees") {
    val n = 256; val blk = 64; val q = n / blk
    val (jobs, rows) = counted(MatrixQueries.m18At(spark, n, blk))
    val row = rows(0)
    info(f"iters=${row.getAs[Int]("iters")} resid=${row.getAs[Double]("resid_rel")}%.2e " +
      f"err=${row.getAs[Double]("err_rel")}%.2e")
    assert(row.getAs[Boolean]("pass"), row.toString)
    // row-dominant (boost n) ⇒ well-conditioned: far below the n cap
    assert(row.getAs[Int]("iters") < 60,
      s"BiCGSTAB took ${row.getAs[Int]("iters")} iterations — recurrence broken")
    // ‖b‖, three fused reductions per iteration, one residual-and-error check
    assert(row.getAs[Int]("iters") == 4 && jobs == 14, s"m18 launched $jobs jobs")
    // the SAME matrix assembled locally: m18 uses MatrixGen.blocks
    // as-is (NO symmetrization) — first prove the asymmetry has teeth
    val aLoc = Array.ofDim[Double](n, n)
    for (bi <- 0 until q; bj <- 0 until q) {
      val a = MatrixGen.localBlock(blk, seed, bi, bj, 0.0)
      for (i <- 0 until blk; j <- 0 until blk) {
        aLoc(bi * blk + i)(bj * blk + j) =
          a(i)(j) + (if (bi == bj && i == j) n.toDouble else 0.0)
      }
    }
    val asym = (for (i <- 0 until n; j <- 0 until i) yield
      math.abs(aLoc(i)(j) - aLoc(j)(i))).max
    assert(asym > 0.1, s"test matrix is near-symmetric (max asym $asym) — " +
      "the nonsymmetric claim would be vacuous")
    // independent driver-local solve: plain Gaussian elimination with
    // partial pivoting (no shared code with the distributed path);
    // recovering the same planted x* sandwiches x̂ = x_LU within 2e-8
    val xStar = Array.tabulate(n)(i => 1.0 + (i % 7) * 0.25)
    val bLoc = aLoc.map { r0 =>
      var acc = 0.0; var i = 0
      while (i < n) { acc += r0(i) * xStar(i); i += 1 }
      acc
    }
    val m = aLoc.map(_.clone()); val bb = bLoc.clone()
    for (k <- 0 until n) {
      val piv = (k until n).maxBy(i => math.abs(m(i)(k)))
      val tr = m(k); m(k) = m(piv); m(piv) = tr
      val tb = bb(k); bb(k) = bb(piv); bb(piv) = tb
      for (i <- k + 1 until n) {
        val f = m(i)(k) / m(k)(k)
        for (j <- k until n) m(i)(j) -= f * m(k)(j)
        bb(i) -= f * bb(k)
      }
    }
    val xLu = new Array[Double](n)
    for (i <- n - 1 to 0 by -1) {
      var acc = bb(i)
      for (j <- i + 1 until n) acc -= m(i)(j) * xLu(j)
      xLu(i) = acc / m(i)(i)
    }
    val luErr = xLu.zip(xStar).map { case (a, b) => math.abs(a - b) }.max
    assert(luErr < 1e-8, s"local LU drifted from planted x* by $luErr — " +
      "system assembly mismatch")
  }

  test("m19 Chebyshev right-preconditioner: same gates, same planted " +
    "answer, iteration count cut well below half of plain GMRES") {
    val n = 256; val blk = 64
    val (plainJobs, plainRows) = counted(MatrixQueries.m19At(spark, n, blk, 32))
    val (preJobs, preRows) = counted(MatrixQueries.m19At(spark, n, blk, 32, polyDeg = 12))
    val plain = plainRows(0); val pre = preRows(0)
    info(s"plain iters=${plain.getAs[Int]("iters")} " +
      s"restarts=${plain.getAs[Int]("restarts")}; " +
      s"precond iters=${pre.getAs[Int]("iters")} " +
      s"restarts=${pre.getAs[Int]("restarts")} " +
      f"resid=${pre.getAs[Double]("resid_rel")}%.2e " +
      f"err=${pre.getAs[Double]("err_rel")}%.2e")
    // agreement: both solve the SAME system through the SAME gates —
    // true residual < 1e-10 and the planted x* recovered < 1e-8; the
    // preconditioner cannot trade accuracy for speed
    assert(plain.getAs[Boolean]("pass"), s"plain GMRES red: $plain")
    assert(pre.getAs[Boolean]("pass"), s"preconditioned GMRES red: $pre")
    // the point of the polynomial: the ~σ/δ·m Arnoldi rounds collapse
    assert(pre.getAs[Int]("iters") * 2 < plain.getAs[Int]("iters"),
      s"preconditioner bought < 2x: ${pre.getAs[Int]("iters")} vs " +
        s"${plain.getAs[Int]("iters")} plain")
    assert(plain.getAs[Int]("restarts") == 6 && plain.getAs[Int]("iters") == 188 && plainJobs == 574,
      s"plain GMRES launched $plainJobs jobs")
    assert(pre.getAs[Int]("restarts") == 1 && pre.getAs[Int]("iters") == 10 && preJobs == 35,
      s"preconditioned GMRES launched $preJobs jobs")
  }

  test("m19: GMRES(m) converges on the skew-dominant system BiCGSTAB " +
    "demonstrably fails on; independent local LU solve agrees") {
    val n = 256; val blk = 64; val q = n / blk
    val (jobs, rows) = counted(MatrixQueries.m19At(spark, n, blk, 32))
    val row = rows(0)
    assert(jobs == 574, s"plain GMRES launched $jobs jobs")
    info(f"restarts=${row.getAs[Int]("restarts")} iters=${row.getAs[Int]("iters")} " +
      f"delta=${row.getAs[Double]("delta")}%.4f resid=${row.getAs[Double]("resid_rel")}%.2e " +
      f"err=${row.getAs[Double]("err_rel")}%.2e")
    assert(row.getAs[Boolean]("pass"), row.toString)
    val delta = row.getAs[Double]("delta")
    // the SAME skew system assembled locally, with the SAME self-tuned
    // δ the distributed power iteration produced
    val aLoc = Array.ofDim[Double](n, n)
    for (bi <- 0 until q; bj <- 0 until q) {
      val a = MatrixGen.localBlock(blk, seed, bi, bj, 0.0)
      val b = MatrixGen.localBlock(blk, seed, bj, bi, 0.0)
      for (i <- 0 until blk; j <- 0 until blk) {
        aLoc(bi * blk + i)(bj * blk + j) = (a(i)(j) - b(j)(i)) / 2 +
          (if (bi == bj && i == j) delta else 0.0)
      }
    }
    // skew + δI really is what it claims: A + Aᵀ = 2δI
    val symOff = (for (i <- 0 until n; j <- 0 until n if i != j) yield
      math.abs(aLoc(i)(j) + aLoc(j)(i))).max
    assert(symOff < 1e-12, s"off-diagonal symmetrization residue $symOff")
    val xStar = Array.tabulate(n)(i => 1.0 + (i % 7) * 0.25)
    val bLoc = aLoc.map { r0 =>
      var acc = 0.0; var i = 0
      while (i < n) { acc += r0(i) * xStar(i); i += 1 }
      acc
    }
    // independent driver-local Gaussian elimination recovers the same
    // planted x* the gate checked — the m18-spec sandwich
    val m0 = aLoc.map(_.clone()); val bb = bLoc.clone()
    for (k <- 0 until n) {
      val piv = (k until n).maxBy(i => math.abs(m0(i)(k)))
      val tr = m0(k); m0(k) = m0(piv); m0(piv) = tr
      val tb = bb(k); bb(k) = bb(piv); bb(piv) = tb
      for (i <- k + 1 until n) {
        val f = m0(i)(k) / m0(k)(k)
        for (j <- k until n) m0(i)(j) -= f * m0(k)(j)
        bb(i) -= f * bb(k)
      }
    }
    val xLu = new Array[Double](n)
    for (i <- n - 1 to 0 by -1) {
      var acc = bb(i)
      for (j <- i + 1 until n) acc -= m0(i)(j) * xLu(j)
      xLu(i) = acc / m0(i)(i)
    }
    val luErr = xLu.zip(xStar).map { case (a, b) => math.abs(a - b) }.max
    assert(luErr < 1e-8, s"local LU drifted from planted x* by $luErr")
    // the STRUGGLE has teeth: m18's exact BiCGSTAB recurrence, run
    // driver-locally on this system, must FAIL the 1e-10 target —
    // its real degree-1 stabilizer cannot damp the δ ± iσ spectrum
    // (σ/δ = 7). Breakdown or iteration-cap stagnation both count.
    def mv(v: Array[Double]): Array[Double] = {
      val y = new Array[Double](n)
      var i = 0
      while (i < n) {
        var acc = 0.0; var j = 0
        while (j < n) { acc += aLoc(i)(j) * v(j); j += 1 }
        y(i) = acc; i += 1
      }
      y
    }
    def d(u: Array[Double], v: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < n) { acc += u(i) * v(i); i += 1 }
      acc
    }
    val bn = math.sqrt(d(bLoc, bLoc))
    var x = new Array[Double](n); var r = bLoc.clone()
    val rHat = bLoc.clone(); var p = r.clone()
    var rho = bn * bn; var rn2 = rho; var it = 0; var bd = false
    while (it < n && math.sqrt(rn2) / bn > 1e-12 && !bd) {
      val av = mv(p); val rhv = d(rHat, av)
      if (math.abs(rhv) < 1e-300) bd = true
      else {
        val alpha = rho / rhv
        val sv = Array.tabulate(n)(i => r(i) - alpha * av(i))
        val t = mv(sv); val ts = d(sv, t); val tt = d(t, t)
        if (tt < 1e-300) {
          x = Array.tabulate(n)(i => x(i) + alpha * p(i)); rn2 = 0.0; it += 1
        } else {
          val omega = ts / tt
          val xN = Array.tabulate(n)(i => x(i) + alpha * p(i) + omega * sv(i))
          val rN = Array.tabulate(n)(i => sv(i) - omega * t(i))
          val rhoN = d(rHat, rN); val rN2 = d(rN, rN)
          if (math.abs(omega) < 1e-300 ||
              (math.abs(rhoN) < 1e-300 && math.sqrt(rN2) / bn > 1e-12)) bd = true
          else {
            val beta2 = (rhoN / rho) * (alpha / omega)
            p = Array.tabulate(n)(i => rN(i) + beta2 * (p(i) - omega * av(i)))
            x = xN; r = rN; rho = rhoN; rn2 = rN2
          }
          it += 1
        }
      }
    }
    val axb = mv(x).zip(bLoc).map { case (a, b) => a - b }
    val bicgRes = math.sqrt(d(axb, axb)) / bn
    info(f"local BiCGSTAB on the skew system: it=$it breakdown=$bd resid=$bicgRes%.2e")
    assert(bd || bicgRes > 1e-9,
      f"BiCGSTAB reached $bicgRes%.2e here — the 'GMRES-only' system claim " +
        "is vacuous; re-skew the construction")
  }

  test("rank-deficient tall solve: ridge fallback engages and matches a local oracle") {
    val m = 512; val d = 8; val blk = 32
    // duplicate column 6 into column 7 → numerical rank d-1
    val full = TallSkinny.tallRows(sc, m, d, blk, seed)
    val rows = full.map { case (i, v) =>
      val w = v.clone(); w(d - 1) = w(d - 2); (i, w)
    }
    val r = TallSkinny.tsqrR(rows, d)
    assert(TallSkinny.diagRank(r) == d - 1, s"diagRank=${TallSkinny.diagRank(r)}")
    val xTrue = Array.tabulate(d)(j => (j + 1).toDouble / 4)
    val rowsWithB = rows.map { case (_, v) =>
      (v, v.zip(xTrue).map { case (a, b) => a * b }.sum)
    }
    val lambda = 1e-8
    val (x, fullRank) = TallSkinny.lstsqAuto(rowsWithB, r, d, lambda)
    assert(!fullRank, "auto path must take the ridge branch on deficient R")
    // driver-local ridge oracle over the same rows
    val al = rows.collect().sortBy(_._1).map(_._2)
    val g = LocalLA.gemm(LocalLA.transpose(al), al)
    val atb = new Array[Double](d)
    val alOrdered = rows.collect().sortBy(_._1)
    val blOrdered = alOrdered.map { case (_, v) =>
      v.zip(xTrue).map { case (a, b) => a * b }.sum }
    for (i <- alOrdered.indices; j <- 0 until d)
      atb(j) += alOrdered(i)._2(j) * blOrdered(i)
    val dmax = (0 until d).map(i => math.abs(r(i)(i))).max
    for (i <- 0 until d) g(i)(i) += lambda * dmax * dmax
    val l = LocalLA.cholesky(g)
    val xl = LocalLA.backSolveUpper(LocalLA.transpose(l),
      LocalLA.forwardSolveLower(l, atb.map(Array(_)))).map(_(0))
    val rel = x.zip(xl).map { case (a, b) => math.abs(a - b) }.max /
      xl.map(math.abs).max
    // κ(AᵀA + λs²I) ≈ 1/λ = 1e8 on the deficient directions, so eps-level
    // differences between RᵀR (distributed) and AᵀA (local) amplify to
    // ~1e-8 in x; 1e-6 leaves two orders of margin above that floor
    assert(rel < 1e-6, s"distributed ridge diverged from local oracle: $rel")
    // the ridge solution reproduces the fitted values even though x is
    // not unique: A·x ≈ A·xTrue
    val ax = LocalLA.gemm(al, x.map(Array(_))).map(_(0))
    val axTrue = LocalLA.gemm(al, xTrue.map(Array(_))).map(_(0))
    val fitErr = ax.zip(axTrue).map { case (a, b) => math.abs(a - b) }.max /
      axTrue.map(math.abs).max
    assert(fitErr < 1e-5, s"ridge fit drifted: $fitErr")
    // full-rank input: auto == pure QR path, unchanged
    val rFull = TallSkinny.tsqrR(full, d)
    val bFull = full.map { case (_, v) =>
      (v, v.zip(xTrue).map { case (a, b) => a * b }.sum) }
    val (xF, fr) = TallSkinny.lstsqAuto(bFull, rFull, d)
    assert(fr)
    // same code path, but treeReduce merges task partials in completion
    // order → ULP-level run-to-run drift; compare with tolerance
    val xQR = TallSkinny.lstsqQR(bFull, rFull, d)
    assert(xF.zip(xQR).map { case (a, b) => math.abs(a - b) }.max < 1e-12)
  }

  test("qrR handles wide/short partitions (m < d trapezoids stack correctly)") {
    val d = 8
    // 3-row partitions: every local QR sees m < d and emits a trapezoid
    val rows = TallSkinny.tallRows(sc, 64, d, 16, seed).repartition(21)
    val r = TallSkinny.tsqrR(rows, d)
    val rl = LocalLA.canonUpper(LocalLA.qrR(
      rows.collect().sortBy(_._1).map(_._2)))
    val scale = rl.map(_.map(math.abs).max).max
    assert(LocalLA.maxAbsDiff(r, rl) / scale < 1e-12)
  }

  test("m20: Arnoldi Ritz pairs sit within their own residual bounds of " +
    "a driver-side dgeev on the same operator (normality made concrete)") {
    val n = 256; val blk = 64; val q = n / blk
    val (jobs, rows) = counted(MatrixQueries.m20At(spark, n, blk, 64))
    assert(rows.forall(_.getAs[Boolean]("pass")), rows.mkString("\n"))
    // the σ̂ chain's one Rayleigh job, ‖v₀‖, then 2 CGS2 jobs per step
    // and one append job for each of the first 63
    assert(rows(0).getAs[Int]("iters") == 64 && jobs == 193, s"m20 launched $jobs jobs")
    val delta = rows(0).getAs[Double]("delta")
    info(f"m20 delta=$delta%.4f sigmaHat=${rows(0).getAs[Double]("sigma_hat")}%.4f " +
      f"top resid=${rows(0).getAs[Double]("resid_rel")}%.2e")
    // the SAME operator assembled locally with the SAME self-tuned δ
    val aLoc = Array.ofDim[Double](n, n)
    for (bi <- 0 until q; bj <- 0 until q) {
      val a = MatrixGen.localBlock(blk, seed, bi, bj, 0.0)
      val b = MatrixGen.localBlock(blk, seed, bj, bi, 0.0)
      for (i <- 0 until blk; j <- 0 until blk) {
        aLoc(bi * blk + i)(bj * blk + j) = (a(i)(j) - b(j)(i)) / 2 +
          (if (bi == bj && i == j) delta else 0.0)
      }
    }
    // independent reference spectrum: LAPACK dgeev on the driver
    val dm = new breeze.linalg.DenseMatrix[Double](n, n)
    for (i <- 0 until n; j <- 0 until n) dm(i, j) = aLoc(i)(j)
    val ref = breeze.linalg.eig(dm)
    // A = δI + S is NORMAL ⇒ each Ritz value λ̃ with residual bound r
    // satisfies min_k |λ̃ − λ_k| ≤ r — assert exactly that, with a
    // 1e-9·scale slack for the reference's own rounding
    val scale = rows(0).getAs[Double]("sigma_hat") * math.sqrt(1 + 1.0 / 49)
    rows.foreach { row =>
      val re = row.getAs[Double]("re"); val im = row.getAs[Double]("im")
      val r = row.getAs[Double]("resid_rel") * scale
      val dmin = (0 until n).map(k => math.hypot(
        re - ref.eigenvalues(k), im - ref.eigenvaluesComplex(k))).min
      assert(dmin <= r + 1e-9 * scale,
        f"Ritz ($re%.6f, $im%.6f) is $dmin%.2e from the reference spectrum, bound $r%.2e")
    }
    // the dominant reference pair is what rank 1 found
    val refImMax = (0 until n).map(k => ref.eigenvaluesComplex(k)).max
    assert(math.abs(math.abs(rows(0).getAs[Double]("im")) - refImMax) < 1e-8,
      "rank-1 Ritz pair is not the reference's dominant pair")
    // every reference eigenvalue really has real part δ — the re_ok
    // gate's premise, checked against LAPACK instead of our own math
    val reDev = (0 until n).map(k => math.abs(ref.eigenvalues(k) - delta)).max
    assert(reDev < 1e-10 * math.max(1.0, scale), s"spectrum premise broke: $reDev")
  }

  test("Verify invariant gate: a false pass column turns the query red") {
    import spark.implicits._
    assert(Verify.gateInvariants(Seq((1, true)).toDF("n", "pass")).count() == 1)
    assert(Verify.gateInvariants(Seq((1, 2)).toDF("n", "m")).count() == 1)
    val e = intercept[IllegalStateException] {
      Verify.gateInvariants(Seq((1, true), (2, false)).toDF("n", "pass"))
    }
    assert(e.getMessage.contains("invariant violated"))
    intercept[IllegalStateException] {
      Verify.gateInvariants(Seq((1, false)).toDF("n", "roundtrip_ok"))
    }
  }
}
