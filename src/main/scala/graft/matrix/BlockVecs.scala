package graft.matrix

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.rdd.RDD
import scala.collection.mutable.ArrayBuffer

/** The block-vector layer under the Krylov queries (m9, m15–m20). A
  * vector is an RDD of (block row → blk doubles), an operator is its
  * dense blocks keyed by block COLUMN, and a Krylov basis is a slab of
  * (block row → the basis vectors' slices of that block). All of them
  * are hash-partitioned by block index into q partitions, so every
  * join between them is narrow: the only shuffle of a step is the
  * matvec's reduce of ≤ q² partials of blk doubles, and nothing O(n)
  * reaches the driver — reductions return inner products, projection
  * coefficients and norms.
  *
  * A scope ([[BlockVecs.scoped]]) owns the partitioner and the query's
  * cached RDDs: operators and planted vectors are pinned for the whole
  * query, per-iteration vectors are kept until a checkpoint retires
  * them, and everything left is unpersisted when the scope closes,
  * also when its body throws.
  *
  * The scope holds the SparkContext, so no task closure may capture
  * it: its methods copy the fields a closure needs into local vals, the
  * array kernels live on the companion object, and callers keep the
  * scalars their own closures use in local vals. */
private[graft] final class BlockVecs private (sc: SparkContext, q: Int, blk: Int) {
  import BlockVecs._

  val part = new HashPartitioner(q)
  private val pinned = ArrayBuffer.empty[RDD[_]]
  private val kept = ArrayBuffer.empty[RDD[_]]

  /** Caches `v` until the scope closes. */
  def pin[T <: RDD[_]](v: T): T = { v.cache(); pinned += v; v }

  /** Caches a per-iteration `v` until a [[retire]] drops it. */
  def keep[T <: RDD[_]](v: T): T = { v.cache(); kept += v; v }

  /** Unpersists every kept RDD not in `live`. Sound only after a
    * checkpoint barrier: the checkpoint just truncated the lineage that
    * could have re-read a dropped RDD. Keeps the cached footprint
    * O(live) instead of O(iterations): a near-breakdown solve at its
    * iteration cap would otherwise hold thousands of dead iterates. */
  def retire(live: RDD[_]*): Unit = {
    val ids = live.map(_.id).toSet
    val (stay, drop) = kept.partition(v => ids(v.id))
    drop.foreach(_.unpersist(false))
    kept.clear(); kept ++= stay
  }

  /** localCheckpoint every RDD of `rdds` not checkpointed yet and run
    * one job over them (their union when there are several). Tasks
    * ship the whole RDD object graph, and caching does not cut it, only
    * a checkpoint does: an untruncated chain grows the DAG without
    * bound and overflows the task deserializer's stack within ~30
    * Krylov steps. The union job reads no element, so the inputs'
    * types do not matter; nor does it compute them — the checkpoint
    * then computes each input still missing in a job of its own. */
  private def materialize(rdds: Seq[RDD[_]]): Unit = {
    val all = rdds.distinct
    all.filterNot(_.isCheckpointed).foreach(_.localCheckpoint())
    if (all.size == 1) all(0).foreachPartition(_ => ())
    else sc.union(all.map(_.asInstanceOf[RDD[Any]])).foreachPartition(_ => ())
  }

  /** Truncates the lineage of `live`, then retires the rest. */
  def checkpoint(live: RDD[_]*): Unit = { materialize(live); retire(live: _*) }

  private def close(): Unit = {
    (kept ++ pinned).foreach(_.unpersist(false))
    kept.clear(); pinned.clear()
  }

  // ------------------------------------------------------------ vectors

  /** The vector with entries f(0), …, f(n−1). */
  def vec(f: Int => Double): BlockVec = {
    val b = blk
    sc.parallelize(0 until q, q)
      .map(k => (k, Array.tabulate(b)(i => f(k * b + i))))
      .partitionBy(part)
  }

  /** alpha·u + v. */
  def axpy(alpha: Double, u: BlockVec, v: BlockVec): BlockVec =
    u.join(v, part).mapValues { case (a, b) =>
      val w = b.clone(); var i = 0
      while (i < w.length) { w(i) += alpha * a(i); i += 1 }
      w
    }

  /** a·v. */
  def scale(v: BlockVec, a: Double): BlockVec = v.mapValues(_.map(_ * a))

  def dot(u: BlockVec, v: BlockVec): Double = dots(u -> v)(0)

  /** Several inner products from ONE job: each vector is joined in
    * once however many pairs it appears in. Launch overhead, not data,
    * dominates these scalar reductions. */
  def dots(pairs: (BlockVec, BlockVec)*): Array[Double] = {
    val vs = pairs.flatMap { case (u, v) => Seq(u, v) }.distinct
    val ix = pairs.map { case (u, v) => (vs.indexOf(u), vs.indexOf(v)) }.toArray
    val zipped = vs.drop(1).foldLeft(vs(0).mapValues(Vector(_))) { (acc, v) =>
      acc.join(v, part).mapValues { case (xs, a) => xs :+ a }
    }
    zipped.map { case (_, xs) => ix.map { case (a, b) => dotOf(xs(a), xs(b)) } }.reduce(sum)
  }

  /** y = A·x: a narrow join of each stored block with the x block it
    * consumes, a per-block GEMV, and a map-side-combined reduce of ≤ q²
    * partials of blk doubles. No broadcast of x, no driver collect. */
  def matvec(a: ColBlocks, x: BlockVec): BlockVec =
    a.join(x, part).map { case (_, ((bi, d), xv)) =>
      val y = new Array[Double](d.length)
      var i = 0
      while (i < d.length) { y(i) = dotOf(d(i), xv); i += 1 }
      (bi, y)
    }.reduceByKey(part, sum _)

  // ---------------------------------------------------- the basis slab

  /** The one-vector basis [v]. */
  def slab(v: BlockVec): Slab = keep(v.mapValues(Array(_)))

  /** (c = Vᵀw, ‖w‖²) in ONE job however wide the basis. */
  def project(basis: Slab, w: BlockVec): (Array[Double], Double) =
    basis.join(w, part).map { case (_, (vb, wb)) =>
      (Array.tabulate(vb.length)(i => dotOf(vb(i), wb)), dotOf(wb, wb))
    }.reduce((x, y) => (sum(x._1, y._1), x._2 + y._2))

  /** w − V·c. */
  def subtract(basis: Slab, w: BlockVec, c: Array[Double]): BlockVec =
    basis.join(w, part).mapValues { case (vb, wb) =>
      val out = wb.clone()
      var k = 0
      while (k < vb.length) {
        val bk = vb(k); val ck = c(k); var t = 0
        while (t < out.length) { out(t) -= ck * bk(t); t += 1 }
        k += 1
      }
      out
    }

  /** V·y over the first y.length basis vectors, in one pass. */
  def blend(basis: Slab, y: Array[Double]): BlockVec =
    basis.mapValues { vb =>
      val out = new Array[Double](vb(0).length)
      var k = 0
      while (k < y.length) {
        val bk = vb(k); val yk = y(k); var t = 0
        while (t < out.length) { out(t) += yk * bk(t); t += 1 }
        k += 1
      }
      out
    }

  /** The basis with w appended as its last vector, checkpointed and
    * materialized (one job). */
  def append(basis: Slab, w: BlockVec): Slab = {
    val next = keep(basis.join(w, part).mapValues { case (vb, wb) => vb :+ wb })
    materialize(Seq(next))
    next
  }

  /** Fused two-pass CGS2 orthogonalization of w0 against the basis, the
    * Arnoldi step's core: pass 1 gives the coefficients c1, pass 2
    * gives c2 and ‖w₁‖² from one traversal, and ‖w₂‖² = ‖w₁‖² − ‖c2‖²
    * by the basis's orthonormality (c2 is machine-eps-sized after pass
    * 1, so the correction never cancels) — no separate norm job. Two
    * jobs. Returns (the projections c1 + c2, ‖w₂‖, w₂). */
  def cgs2(basis: Slab, w0: BlockVec): (Array[Double], Double, BlockVec) = {
    val (c1, _) = project(basis, w0)
    val w1 = keep(subtract(basis, w0, c1))
    val (c2, w1n2) = project(basis, w1)
    val w2 = keep(subtract(basis, w1, c2))
    (sum(c1, c2), math.sqrt(math.max(w1n2 - dotOf(c2, c2), 0.0)), w2)
  }

  // ---------------------------------------------------------- operators

  /** Blocks ((bi, bj) → A_ij) laid out by block column, pinned. */
  def byCol(blocks: RDD[((Int, Int), Array[Array[Double]])]): ColBlocks =
    pin(blocks.map { case ((bi, bj), d) => (bj, (bi, d)) }.partitionBy(part))

  /** The seeded SPD matrix of [[BlockCholesky.spdBlocks]] (diagonal
    * boost n) in FULL symmetric column layout: each stored lower block
    * also gives its transposed twin, 2× block storage for a
    * broadcast-free, collect-free matvec. `tweak(bi, bj, A_ij)` edits a
    * stored block before the twin is taken. */
  def spdByCol(seed: Long,
               tweak: (Int, Int, Array[Array[Double]]) => Array[Array[Double]] = (_, _, d) => d): ColBlocks = {
    val n = q * blk
    byCol(BlockCholesky.spdBlocks(sc, n, blk, seed, boost = n.toDouble).flatMap { case ((bi, bj), dm) =>
      val d = tweak(bi, bj, LocalLA.fromDM(dm))
      if (bi == bj) Iterator(((bi, bj), d))
      else Iterator(((bi, bj), d), ((bj, bi), LocalLA.transpose(d)))
    })
  }

  /** S = (M − Mᵀ)/2 for the seeded generator M, without a transpose
    * shuffle: M is deterministic per (seed, bi, bj), so each task
    * derives both M_ij and M_ji locally. */
  def skewByCol(seed: Long): ColBlocks = {
    val b = blk
    val ids = for (bi <- 0 until q; bj <- 0 until q) yield (bi, bj)
    byCol(sc.parallelize(ids, math.min(ids.size, 64)).map { case (bi, bj) =>
      val m = MatrixGen.localBlock(b, seed, bi, bj, 0.0)
      val mt = MatrixGen.localBlock(b, seed, bj, bi, 0.0)
      ((bi, bj), Array.tabulate(b, b)((i, j) => (m(i)(j) - mt(j)(i)) / 2))
    })
  }

  /** A·v for A = δI + S: one matvec and a narrow δ-axpy join. */
  def shifted(s: ColBlocks, delta: Double)(v: BlockVec): BlockVec = axpy(delta, v, matvec(s, v))

  /** σ̂² ≈ σ_max(S)² for skew S, by 12 power steps on −S² (= SᵀS, SPD).
    * The steps are a LAZY chain (each kept, so the diamond into the
    * Rayleigh quotient memoizes) forced by ONE fused ⟨z₁₁,z₁₂⟩/⟨z₁₁,z₁₁⟩
    * job. No normalization: entries grow ~σ² per step, so Σz² stays in
    * double range while σ ≲ 10⁷, and this generator has σ(S) ≈
    * 2√(n/24); the quotient is scale-invariant. */
  def skewSigma2(s: ColBlocks): Double = {
    var z = keep(vec(i => 1.0 + math.cos(i * 0.3)))
    var zPrev = z
    for (_ <- 0 until 12) {
      zPrev = z
      z = keep(scale(matvec(s, matvec(s, z)), -1.0))
    }
    val Array(num, den) = dots(zPrev -> z, zPrev -> zPrev)
    num / den
  }

  // ------------------------------------------------- planted solutions

  /** The planted system op(x) = b with x*ᵢ = 1 + (i mod 7)/4, both
    * pinned, and ‖b‖ (one job). */
  def plant(op: BlockVec => BlockVec): Planted = {
    val xStar = pin(vec(i => 1.0 + (i % 7) * 0.25))
    val b = pin(op(xStar))
    new Planted(op, xStar, b, math.sqrt(dot(b, b)))
  }

  /** The TRUE relative residual ‖op(x) − b‖/‖b‖ (one more matvec — the
    * recurrence residual can drift from it) and the planted-solution
    * error max|x − x*|/max|x*|, from ONE job. */
  def check(sys: Planted, x: BlockVec): (Double, Double) = {
    val (r2, err) = sys.op(x).join(sys.b, part).join(x.join(sys.xStar, part), part)
      .map { case (_, ((a, b), (xa, xs))) =>
        var acc = 0.0; var m = 0.0; var i = 0
        while (i < a.length) {
          val d0 = a(i) - b(i); acc += d0 * d0
          m = math.max(m, math.abs(xa(i) - xs(i)))
          i += 1
        }
        (acc, m)
      }.reduce((u, v) => (u._1 + v._1, math.max(u._2, v._2)))
    (math.sqrt(r2) / sys.bNrm, err / 2.5) // max|x*| = 1 + 6·0.25
  }
}

private[graft] object BlockVecs {
  type BlockVec = RDD[(Int, Array[Double])]
  type Slab = RDD[(Int, Array[Array[Double]])]
  type ColBlocks = RDD[(Int, (Int, Array[Array[Double]]))]

  /** A system op(x) = b planted with a known solution x*. */
  final class Planted(val op: BlockVec => BlockVec, val xStar: BlockVec, val b: BlockVec, val bNrm: Double)

  /** Runs `body` in a fresh scope over q blocks of blk rows and
    * unpersists what the scope cached when it returns or throws. */
  def scoped[A](sc: SparkContext, q: Int, blk: Int)(body: BlockVecs => A): A = {
    val bv = new BlockVecs(sc, q, blk)
    try body(bv) finally bv.close()
  }

  private def dotOf(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  private def sum(x: Array[Double], y: Array[Double]): Array[Double] = {
    val z = x.clone(); var i = 0
    while (i < z.length) { z(i) += y(i); i += 1 }
    z
  }
}
