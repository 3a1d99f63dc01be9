package graft.matrix

/** Driver-/executor-local dense linear algebra on row-major
  * `Array[Array[Double]]` blocks.
  *
  * `ludcmp` mirrors the semantics of the reference base case
  * (/root/reference/Matrix/LUDecomposition.java:55-106): in-place
  * Doolittle LU with partial pivoting and a TINY clamp for singular
  * pivots, producing `indx` such that `L·U == A[indx, :]`. Unlike the
  * reference (which compares raw values at :63), pivoting is on |·| —
  * SURVEY.md §7 "pivot-search quirk": correctness is judged by residual
  * invariants, not bit equality, so we use the numerically standard rule.
  */
object LocalLA {
  final val Tiny = 1e-20

  /** In-place LU with partial pivoting. Returns indx: row i of the packed
    * factorization is original row indx(i). */
  def ludcmp(a: Array[Array[Double]]): Array[Int] = {
    val n = a.length
    val indx = Array.tabulate(n)(identity)
    var j = 0
    while (j < n) {
      // pivot search on |value| in column j, rows j..n-1
      var p = j
      var big = math.abs(a(j)(j))
      var i = j + 1
      while (i < n) {
        val v = math.abs(a(i)(j))
        if (v > big) { big = v; p = i }
        i += 1
      }
      if (p != j) {
        val tr = a(p); a(p) = a(j); a(j) = tr
        val ti = indx(p); indx(p) = indx(j); indx(j) = ti
      }
      if (a(j)(j) == 0.0) a(j)(j) = Tiny
      val pivInv = 1.0 / a(j)(j)
      i = j + 1
      while (i < n) {
        val lij = a(i)(j) * pivInv
        a(i)(j) = lij
        val ai = a(i); val aj = a(j)
        var k = j + 1
        while (k < n) { ai(k) -= lij * aj(k); k += 1 }
        i += 1
      }
      j += 1
    }
    indx
  }

  /** Lower Cholesky factor L (L·Lᵀ = A) of a symmetric positive-definite
    * matrix — the base case of [[BlockCholesky.factor]]. Reads only the
    * lower triangle of `a`; a non-positive pivot (numerically non-SPD
    * input) is clamped to √Tiny so the factorization always completes —
    * like ludcmp's Tiny clamp, correctness is judged by the residual
    * invariant, which such a clamp would visibly break. */
  def cholesky(a: Array[Array[Double]]): Array[Array[Double]] = {
    val n = a.length
    val l = Array.ofDim[Double](n, n)
    var j = 0
    while (j < n) {
      var s = a(j)(j)
      var k = 0
      while (k < j) { s -= l(j)(k) * l(j)(k); k += 1 }
      val d = math.sqrt(if (s <= 0.0) Tiny else s)
      l(j)(j) = d
      var i = j + 1
      while (i < n) {
        var t = a(i)(j)
        k = 0
        while (k < j) { t -= l(i)(k) * l(j)(k); k += 1 }
        l(i)(j) = t / d
        i += 1
      }
      j += 1
    }
    l
  }

  /** R factor of the thin Householder QR of an m×d matrix (any m ≥ 1;
    * `a` is not modified). Returns min(m,d)×d — an upper trapezoid when
    * m < d, upper triangular otherwise. The Q factor is never formed:
    * this is the local kernel of [[TallSkinny.tsqrR]], where each
    * reduction step only stacks R factors ([R1; R2] has the same Gram
    * as the stacked inputs, so QR of the stack continues the
    * factorization). */
  def qrR(a: Array[Array[Double]]): Array[Array[Double]] = {
    val m = a.length; val d = if (m == 0) 0 else a(0).length
    val w = a.map(_.clone())
    var k = 0
    while (k < d && k < m) {
      var s = 0.0
      var i = k
      while (i < m) { s += w(i)(k) * w(i)(k); i += 1 }
      val sigma = math.sqrt(s)
      if (sigma != 0.0) {
        // reflector v: v(k) = w(k)(k) − α (α = ∓σ, sign opposite the
        // pivot for stability), v(i>k) = w(i)(k); vᵀv = −2·α·v(k)
        val alpha = if (w(k)(k) >= 0.0) -sigma else sigma
        val vk = w(k)(k) - alpha
        var j = k + 1
        while (j < d) {
          var dot = vk * w(k)(j)
          i = k + 1
          while (i < m) { dot += w(i)(k) * w(i)(j); i += 1 }
          val tau = dot / (-alpha * vk)
          w(k)(j) -= tau * vk
          i = k + 1
          while (i < m) { w(i)(j) -= tau * w(i)(k); i += 1 }
          j += 1
        }
        // column k last: it stores v during the updates above
        w(k)(k) = alpha
        i = k + 1
        while (i < m) { w(i)(k) = 0.0; i += 1 }
      }
      k += 1
    }
    val r = Array.ofDim[Double](math.min(m, d), d)
    var i = 0
    while (i < r.length) {
      var j = i
      while (j < d) { r(i)(j) = w(i)(j); j += 1 }
      i += 1
    }
    r
  }

  /** Sign-canonicalize an upper-triangular/trapezoidal R in place:
    * negate every row whose diagonal is negative. For full-column-rank
    * input the canonical R is UNIQUE (it equals the upper Cholesky
    * factor of AᵀA), which is what lets two differently-parallelized
    * TSQR runs — or a TSQR run and a local QR — be compared
    * element-wise instead of only through residuals. */
  def canonUpper(r: Array[Array[Double]]): Array[Array[Double]] = {
    var i = 0
    while (i < r.length) {
      if (i < r(i).length && r(i)(i) < 0.0) {
        val ri = r(i)
        var j = 0
        while (j < ri.length) { ri(j) = -ri(j); j += 1 }
      }
      i += 1
    }
    r
  }

  def transpose(a: Array[Array[Double]]): Array[Array[Double]] = {
    val n = a.length; val m = if (n == 0) 0 else a(0).length
    val t = Array.ofDim[Double](m, n)
    var j = 0
    while (j < n) {
      val aj = a(j)
      var i = 0
      while (i < m) { t(i)(j) = aj(i); i += 1 }
      j += 1
    }
    t
  }

  /** Split a packed LU (from ludcmp) into explicit L (unit diag) and U. */
  def splitLU(packed: Array[Array[Double]]): (Array[Array[Double]], Array[Array[Double]]) = {
    val n = packed.length
    val l = Array.ofDim[Double](n, n)
    val u = Array.ofDim[Double](n, n)
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        if (i > j) l(i)(j) = packed(i)(j)
        else u(i)(j) = packed(i)(j)
        j += 1
      }
      l(i)(i) = 1.0
      i += 1
    }
    (l, u)
  }

  /** X = L⁻¹·B for unit-lower-triangular L (n×n), B n×m. In place on a copy. */
  def forwardSolveUnitLower(l: Array[Array[Double]], b: Array[Array[Double]]): Array[Array[Double]] = {
    val n = l.length; val m = b(0).length
    val x = b.map(_.clone())
    var i = 1
    while (i < n) {
      val xi = x(i); val li = l(i)
      var k = 0
      while (k < i) {
        val lik = li(k)
        if (lik != 0.0) {
          val xk = x(k)
          var j = 0
          while (j < m) { xi(j) -= lik * xk(j); j += 1 }
        }
        k += 1
      }
      i += 1
    }
    x
  }

  /** X = L⁻¹·B for lower-triangular L with a NON-unit diagonal (the
    * Cholesky-factor forward sweep; `forwardSolveUnitLower` is the LU
    * variant where diag(L) ≡ 1). */
  def forwardSolveLower(l: Array[Array[Double]], b: Array[Array[Double]]): Array[Array[Double]] = {
    val n = l.length; val m = b(0).length
    val x = b.map(_.clone())
    var i = 0
    while (i < n) {
      val xi = x(i); val li = l(i)
      var k = 0
      while (k < i) {
        val lik = li(k)
        if (lik != 0.0) {
          val xk = x(k)
          var j = 0
          while (j < m) { xi(j) -= lik * xk(j); j += 1 }
        }
        k += 1
      }
      val d = if (li(i) == 0.0) Tiny else li(i)
      var j = 0
      while (j < m) { xi(j) /= d; j += 1 }
      i += 1
    }
    x
  }

  /** X = U⁻¹·B for upper-triangular U (n×n), B n×m — back substitution
    * (the block-row base step of the distributed TRSM back sweep). */
  def backSolveUpper(u: Array[Array[Double]], b: Array[Array[Double]]): Array[Array[Double]] = {
    val n = u.length; val m = b(0).length
    val x = b.map(_.clone())
    var i = n - 1
    while (i >= 0) {
      val xi = x(i); val ui = u(i)
      var k = i + 1
      while (k < n) {
        val uik = ui(k)
        if (uik != 0.0) {
          val xk = x(k)
          var j = 0
          while (j < m) { xi(j) -= uik * xk(j); j += 1 }
        }
        k += 1
      }
      val d = if (ui(i) == 0.0) Tiny else ui(i)
      var j = 0
      while (j < m) { xi(j) /= d; j += 1 }
      i -= 1
    }
    x
  }

  /** X = B·U⁻¹ for upper-triangular U (m×m), B n×m (the L-panel solve).
    * Row-oriented: x_j, once divided, is axpy'd along row j of U into
    * every x_c (c>j), so x_c gets its subtractions in k order. */
  def solveXU(b: Array[Array[Double]], u: Array[Array[Double]]): Array[Array[Double]] = {
    val n = b.length; val m = u.length
    val x = b.map(_.clone())
    var r = 0
    while (r < n) {
      val xr = x(r)
      var j = 0
      while (j < m) {
        val uj = u(j)
        val xj = xr(j) / (if (uj(j) == 0.0) Tiny else uj(j))
        xr(j) = xj
        var c = j + 1
        while (c < m) { xr(c) -= xj * uj(c); c += 1 }
        j += 1
      }
      r += 1
    }
    x
  }

  /** Inverse of unit-lower-triangular L by row axpys: row i of L⁻¹ is
    * e_i − Σ_{k<i} l_ik·(row k of L⁻¹), and row k is zero past column k. */
  def invUnitLower(l: Array[Array[Double]]): Array[Array[Double]] = {
    val n = l.length
    val inv = Array.ofDim[Double](n, n)
    var i = 0
    while (i < n) {
      val xi = inv(i); val li = l(i)
      var k = 0
      while (k < i) {
        val lik = li(k); val xk = inv(k)
        var j = 0
        while (j <= k) { xi(j) -= lik * xk(j); j += 1 }
        k += 1
      }
      xi(i) = 1.0
      i += 1
    }
    inv
  }

  /** Inverse of upper-triangular U by row axpys, bottom-up: row i of U⁻¹
    * is (e_i − Σ_{k>i} u_ik·(row k of U⁻¹)) / u_ii, row k zero before k. */
  def invUpper(u: Array[Array[Double]]): Array[Array[Double]] = {
    val n = u.length
    val inv = Array.ofDim[Double](n, n)
    var i = n - 1
    while (i >= 0) {
      val xi = inv(i); val ui = u(i)
      xi(i) = 1.0
      var k = i + 1
      while (k < n) {
        val uik = ui(k); val xk = inv(k)
        var j = k
        while (j < n) { xi(j) -= uik * xk(j); j += 1 }
        k += 1
      }
      val d = if (ui(i) == 0.0) Tiny else ui(i)
      var j = i
      while (j < n) { xi(j) /= d; j += 1 }
      i -= 1
    }
    inv
  }

  /** C = A·B (ikj loop order for row-major locality). */
  def gemm(a: Array[Array[Double]], b: Array[Array[Double]]): Array[Array[Double]] = {
    val n = a.length; val k = b.length; val m = b(0).length
    val c = Array.ofDim[Double](n, m)
    var i = 0
    while (i < n) {
      val ai = a(i); val ci = c(i)
      var p = 0
      while (p < k) {
        val aip = ai(p)
        if (aip != 0.0) {
          val bp = b(p)
          var j = 0
          while (j < m) { ci(j) += aip * bp(j); j += 1 }
        }
        p += 1
      }
      i += 1
    }
    c
  }

  def sub(a: Array[Array[Double]], b: Array[Array[Double]]): Array[Array[Double]] =
    a.indices.map(i => a(i).indices.map(j => a(i)(j) - b(i)(j)).toArray).toArray

  def maxAbsDiff(a: Array[Array[Double]], b: Array[Array[Double]]): Double = {
    var m = 0.0
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < a(i).length) {
        val d = math.abs(a(i)(j) - b(i)(j)); if (d > m) m = d
        j += 1
      }
      i += 1
    }
    m
  }

  /** Permute rows: out(i) = a(perm(i)). */
  def permuteRows(a: Array[Array[Double]], perm: Array[Int]): Array[Array[Double]] =
    perm.map(i => a(i).clone())

  /** Symmetric eigendecomposition by cyclic Jacobi rotations:
    * (eigenvalues descending, eigenvectors as COLUMNS in the same
    * order). Deterministic — fixed (p,q) sweep order, relative
    * off-diagonal stopping rule — and unconditionally stable for
    * symmetric input; used driver-side on broadcast-sized Gram/B·Bᵀ
    * matrices (the SVD tail of M14), never on distributed data. */
  def symEig(aIn: Array[Array[Double]],
             maxSweeps: Int = 64): (Array[Double], Array[Array[Double]]) = {
    val n = aIn.length
    val a = aIn.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var frob2 = 0.0
    locally {
      var i = 0
      while (i < n) { var j = 0; while (j < n) { frob2 += a(i)(j) * a(i)(j); j += 1 }; i += 1 }
    }
    val stop = 1e-28 * frob2   // off² ≤ 1e-28·‖A‖F² → machine-precision diag
    var sweep = 0
    var off2 = Double.MaxValue
    while (sweep < maxSweeps && off2 > stop) {
      off2 = 0.0
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            off2 += 2 * apq * apq
            val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
            val sg = if (theta >= 0) 1.0 else -1.0
            val t = sg / (math.abs(theta) + math.sqrt(theta * theta + 1))
            val c = 1.0 / math.sqrt(t * t + 1); val s = t * c
            // A ← JᵀAJ on rows/cols p,q
            var k = 0
            while (k < n) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < n) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < n) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    // sort eigenpairs by eigenvalue descending (stable: index tiebreak)
    val order = (0 until n).sortBy(i => (-a(i)(i), i)).toArray
    val vals = order.map(i => a(i)(i))
    val vecs = Array.tabulate(n, n)((r, ci) => v(r)(order(ci)))
    (vals, vecs)
  }

  // ---- row-major <-> MLlib column-major DenseMatrix -------------------
  import org.apache.spark.mllib.linalg.{DenseMatrix => MlDM}

  def toDM(a: Array[Array[Double]]): MlDM = {
    val n = a.length; val m = if (n == 0) 0 else a(0).length
    val vals = new Array[Double](n * m)
    var j = 0
    while (j < m) {
      var i = 0
      while (i < n) { vals(j * n + i) = a(i)(j); i += 1 }
      j += 1
    }
    new MlDM(n, m, vals)
  }

  def fromDM(d: MlDM): Array[Array[Double]] = {
    val a = Array.ofDim[Double](d.numRows, d.numCols)
    var i = 0
    while (i < d.numRows) {
      var j = 0
      while (j < d.numCols) { a(i)(j) = d(i, j); j += 1 }
      i += 1
    }
    a
  }
}
