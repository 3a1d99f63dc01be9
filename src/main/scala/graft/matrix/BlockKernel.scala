package graft.matrix

import jdk.incubator.vector.DoubleVector
import org.apache.spark.mllib.linalg.{DenseMatrix => MlDM}

/** The one block product of the sweeps: C + s·A·B as a new column-major
  * block, in one pass, on `jdk.incubator.vector` (the JVM needs
  * `--add-modules=jdk.incubator.vector`). Every per-block update of
  * [[Inversion]], [[BlockLU]] and [[BlockCholesky]] runs through it.
  *
  * Packed and register-blocked: per depth slice of at most KC, s·A is
  * packed into panels of 4 vectors of rows (tail rows into panels of one
  * vector) and B into panels of NR columns, both zero-padded, so every
  * tile runs full-width FMAs; a tile's partial sums are added into C
  * directly, or through a small buffer where it overhangs C's edge.
  * Element (i, j) always gets the same operations in the same order,
  * whatever tile it falls in: C_ij, then per depth slice one add of an
  * FMA chain over that slice. Either operand may be a transposed view.
  *
  * Every DoubleVector stays local to one method and the species is read
  * from `DoubleVector.SPECIES_PREFERRED` at each use: vector-typed
  * parameters or a species held in a Scala `object` field keep C2 from
  * keeping the vectors in registers. */
private[graft] object BlockKernel {
  private final val KC = 256 // depth of one packed slice
  private final val NR = 4   // columns per tile

  /** C + s·A·B; C null is a zero block. s = ±1 is exact: it scales A's packed copy. */
  def gemm(c: MlDM, s: Double, a: MlDM, b: MlDM): MlDM = {
    val m = a.numRows; val k = a.numCols; val n = b.numCols
    require(b.numRows == k, s"A is ${m}x$k but B is ${b.numRows}x$n")
    require(c == null || (c.numRows == m && c.numCols == n), s"C is ${c.numRows}x${c.numCols}, A·B is ${m}x$n")
    // Matrix.toArray is a fresh column-major copy, slow but only taken for a transposed view
    val out = if (c == null) new Array[Double](m * n) else if (c.isTransposed) c.toArray else c.values.clone()
    if (m > 0 && n > 0 && k > 0) run(out, s, a, b, m, k, n)
    new MlDM(m, n, out)
  }

  private def run(out: Array[Double], s: Double, a: MlDM, b: MlDM, m: Int, k: Int, n: Int): Unit = {
    val l = DoubleVector.SPECIES_PREFERRED.length
    val mr = 4 * l
    val full = m / mr                         // panels of mr rows
    val tail = (m - full * mr + l - 1) / l    // then panels of l rows
    val colPanels = (n + NR - 1) / NR
    val kcMax = math.min(KC, k)
    val ap = new Array[Double]((full * mr + tail * l) * kcMax)
    val bp = new Array[Double](colPanels * NR * kcMax)
    val edge = new Array[Double](mr * NR)
    // element (i, j) of a DenseMatrix is values(i·rs + j·cs)
    val (ars, acs) = if (a.isTransposed) (a.numCols, 1) else (1, m)
    val (brs, bcs) = if (b.isTransposed) (b.numCols, 1) else (1, k)
    var k0 = 0
    while (k0 < k) {
      val kc = math.min(KC, k - k0)
      var p = 0
      while (p < full) { pack(ap, p * mr * kc, mr, kc, a.values, p * mr, m, k0, ars, acs, s); p += 1 }
      val aTail = full * mr * kc
      p = 0
      while (p < tail) { pack(ap, aTail + p * l * kc, l, kc, a.values, full * mr + p * l, m, k0, ars, acs, s); p += 1 }
      var jp = 0
      while (jp < colPanels) {
        // B's column panel, row-wise: bp(off + kk·NR + c) = B(k0+kk, j0+c)
        pack(bp, jp * NR * kc, NR, kc, b.values, jp * NR, n, k0, bcs, brs, 1.0)
        jp += 1
      }
      jp = 0
      while (jp < colPanels) {
        val bOff = jp * NR * kc
        p = 0
        while (p < full) { tile4(ap, p * mr * kc, bp, bOff, kc, out, m, n, p * mr, jp * NR, edge); p += 1 }
        p = 0
        while (p < tail) { tile1(ap, aTail + p * l * kc, bp, bOff, kc, out, m, n, full * mr + p * l, jp * NR, edge); p += 1 }
        jp += 1
      }
      k0 += kc
    }
  }

  /** Packs the w-wide strip of x starting at line `from` (< `lines` exist)
    * over depth k0 until k0+kc, scaled by s: dst(off + kk·w + r) =
    * s·x(from+r, k0+kk), zero past the last line. x's element (line,
    * depth) is xv(line·ls + depth·ds). */
  private def pack(dst: Array[Double], off: Int, w: Int, kc: Int, xv: Array[Double], from: Int, lines: Int,
      k0: Int, ls: Int, ds: Int, s: Double): Unit = {
    val rows = math.min(w, lines - from)
    var kk = 0
    while (kk < kc) {
      val d = off + kk * w
      val src = from * ls + (k0 + kk) * ds
      var r = 0
      while (r < rows) { dst(d + r) = s * xv(src + r * ls); r += 1 }
      while (r < w) { dst(d + r) = 0.0; r += 1 }
      kk += 1
    }
  }

  /** out[i0.., j0..] += (4 vectors of rows) × NR columns of A·B over one slice. */
  private def tile4(ap: Array[Double], aOff: Int, bp: Array[Double], bOff: Int, kc: Int,
      out: Array[Double], m: Int, n: Int, i0: Int, j0: Int, edge: Array[Double]): Unit = {
    val sp = DoubleVector.SPECIES_PREFERRED
    val l = sp.length
    var c00 = DoubleVector.zero(sp); var c10 = DoubleVector.zero(sp); var c20 = DoubleVector.zero(sp); var c30 = DoubleVector.zero(sp)
    var c01 = DoubleVector.zero(sp); var c11 = DoubleVector.zero(sp); var c21 = DoubleVector.zero(sp); var c31 = DoubleVector.zero(sp)
    var c02 = DoubleVector.zero(sp); var c12 = DoubleVector.zero(sp); var c22 = DoubleVector.zero(sp); var c32 = DoubleVector.zero(sp)
    var c03 = DoubleVector.zero(sp); var c13 = DoubleVector.zero(sp); var c23 = DoubleVector.zero(sp); var c33 = DoubleVector.zero(sp)
    var ao = aOff; var bo = bOff
    val end = bOff + kc * NR
    while (bo < end) {
      val a0 = DoubleVector.fromArray(sp, ap, ao)
      val a1 = DoubleVector.fromArray(sp, ap, ao + l)
      val a2 = DoubleVector.fromArray(sp, ap, ao + 2 * l)
      val a3 = DoubleVector.fromArray(sp, ap, ao + 3 * l)
      var bv = DoubleVector.broadcast(sp, bp(bo))
      c00 = a0.fma(bv, c00); c10 = a1.fma(bv, c10); c20 = a2.fma(bv, c20); c30 = a3.fma(bv, c30)
      bv = DoubleVector.broadcast(sp, bp(bo + 1))
      c01 = a0.fma(bv, c01); c11 = a1.fma(bv, c11); c21 = a2.fma(bv, c21); c31 = a3.fma(bv, c31)
      bv = DoubleVector.broadcast(sp, bp(bo + 2))
      c02 = a0.fma(bv, c02); c12 = a1.fma(bv, c12); c22 = a2.fma(bv, c22); c32 = a3.fma(bv, c32)
      bv = DoubleVector.broadcast(sp, bp(bo + 3))
      c03 = a0.fma(bv, c03); c13 = a1.fma(bv, c13); c23 = a2.fma(bv, c23); c33 = a3.fma(bv, c33)
      ao += 4 * l; bo += NR
    }
    val mr = 4 * l
    if (i0 + mr <= m && j0 + NR <= n) {
      var o = j0 * m + i0
      DoubleVector.fromArray(sp, out, o).add(c00).intoArray(out, o)
      DoubleVector.fromArray(sp, out, o + l).add(c10).intoArray(out, o + l)
      DoubleVector.fromArray(sp, out, o + 2 * l).add(c20).intoArray(out, o + 2 * l)
      DoubleVector.fromArray(sp, out, o + 3 * l).add(c30).intoArray(out, o + 3 * l)
      o += m
      DoubleVector.fromArray(sp, out, o).add(c01).intoArray(out, o)
      DoubleVector.fromArray(sp, out, o + l).add(c11).intoArray(out, o + l)
      DoubleVector.fromArray(sp, out, o + 2 * l).add(c21).intoArray(out, o + 2 * l)
      DoubleVector.fromArray(sp, out, o + 3 * l).add(c31).intoArray(out, o + 3 * l)
      o += m
      DoubleVector.fromArray(sp, out, o).add(c02).intoArray(out, o)
      DoubleVector.fromArray(sp, out, o + l).add(c12).intoArray(out, o + l)
      DoubleVector.fromArray(sp, out, o + 2 * l).add(c22).intoArray(out, o + 2 * l)
      DoubleVector.fromArray(sp, out, o + 3 * l).add(c32).intoArray(out, o + 3 * l)
      o += m
      DoubleVector.fromArray(sp, out, o).add(c03).intoArray(out, o)
      DoubleVector.fromArray(sp, out, o + l).add(c13).intoArray(out, o + l)
      DoubleVector.fromArray(sp, out, o + 2 * l).add(c23).intoArray(out, o + 2 * l)
      DoubleVector.fromArray(sp, out, o + 3 * l).add(c33).intoArray(out, o + 3 * l)
    } else {
      // edge(c·mr + r) holds the tile's (r, c)
      c00.intoArray(edge, 0); c10.intoArray(edge, l); c20.intoArray(edge, 2 * l); c30.intoArray(edge, 3 * l)
      c01.intoArray(edge, mr); c11.intoArray(edge, mr + l); c21.intoArray(edge, mr + 2 * l); c31.intoArray(edge, mr + 3 * l)
      c02.intoArray(edge, 2 * mr); c12.intoArray(edge, 2 * mr + l); c22.intoArray(edge, 2 * mr + 2 * l); c32.intoArray(edge, 2 * mr + 3 * l)
      c03.intoArray(edge, 3 * mr); c13.intoArray(edge, 3 * mr + l); c23.intoArray(edge, 3 * mr + 2 * l); c33.intoArray(edge, 3 * mr + 3 * l)
      addEdge(edge, mr, out, m, n, i0, j0)
    }
  }

  /** out[i0.., j0..] += (1 vector of rows) × NR columns of A·B over one slice. */
  private def tile1(ap: Array[Double], aOff: Int, bp: Array[Double], bOff: Int, kc: Int,
      out: Array[Double], m: Int, n: Int, i0: Int, j0: Int, edge: Array[Double]): Unit = {
    val sp = DoubleVector.SPECIES_PREFERRED
    val l = sp.length
    var c0 = DoubleVector.zero(sp); var c1 = DoubleVector.zero(sp); var c2 = DoubleVector.zero(sp); var c3 = DoubleVector.zero(sp)
    var ao = aOff; var bo = bOff
    val end = bOff + kc * NR
    while (bo < end) {
      val a0 = DoubleVector.fromArray(sp, ap, ao)
      c0 = a0.fma(DoubleVector.broadcast(sp, bp(bo)), c0)
      c1 = a0.fma(DoubleVector.broadcast(sp, bp(bo + 1)), c1)
      c2 = a0.fma(DoubleVector.broadcast(sp, bp(bo + 2)), c2)
      c3 = a0.fma(DoubleVector.broadcast(sp, bp(bo + 3)), c3)
      ao += l; bo += NR
    }
    if (i0 + l <= m && j0 + NR <= n) {
      var o = j0 * m + i0
      DoubleVector.fromArray(sp, out, o).add(c0).intoArray(out, o); o += m
      DoubleVector.fromArray(sp, out, o).add(c1).intoArray(out, o); o += m
      DoubleVector.fromArray(sp, out, o).add(c2).intoArray(out, o); o += m
      DoubleVector.fromArray(sp, out, o).add(c3).intoArray(out, o)
    } else {
      c0.intoArray(edge, 0); c1.intoArray(edge, l); c2.intoArray(edge, 2 * l); c3.intoArray(edge, 3 * l)
      addEdge(edge, l, out, m, n, i0, j0)
    }
  }

  /** out[i0+r, j0+c] += edge(c·h + r) for the part of the h×NR tile inside out. */
  private def addEdge(edge: Array[Double], h: Int, out: Array[Double], m: Int, n: Int, i0: Int, j0: Int): Unit = {
    val rows = math.min(h, m - i0); val cols = math.min(NR, n - j0)
    var c = 0
    while (c < cols) {
      var r = 0
      while (r < rows) { out((j0 + c) * m + i0 + r) += edge(c * h + r); r += 1 }
      c += 1
    }
  }
}
