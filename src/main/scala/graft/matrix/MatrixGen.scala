package graft.matrix

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.mllib.linalg.{DenseMatrix => MlDM}
import java.util.Random

/** Seeded random dense-matrix generators (operator O1,
  * /root/reference/data/MakeData.java:9-33). The reference seeds from the
  * wall clock (`MakeData.java:14`) and is therefore unreproducible; here
  * every block's RNG is derived from (seed, blockRow, blockCol) so the
  * matrix is deterministic, generated fully in parallel, and never
  * materialized on the driver (SURVEY.md §5, FIXTURES.md A4).
  *
  * `diagBoost > 0` adds boost·I, producing the diagonally-dominant,
  * well-conditioned variant used for tight-ε invariant tests
  * (uniform(0,1) matrices are moderately ill-conditioned — SURVEY.md §7).
  */
object MatrixGen {
  private def blockSeed(seed: Long, bi: Int, bj: Int): Long =
    seed * 1000003L + bi.toLong * 7919L + bj.toLong + 17L

  def localBlock(blk: Int, seed: Long, bi: Int, bj: Int, diagBoost: Double): Array[Array[Double]] = {
    val rng = new Random(blockSeed(seed, bi, bj))
    val a = Array.ofDim[Double](blk, blk)
    var i = 0
    while (i < blk) {
      var j = 0
      while (j < blk) {
        a(i)(j) = rng.nextDouble()
        if (diagBoost != 0.0 && bi == bj && i == j) a(i)(j) += diagBoost
        j += 1
      }
      i += 1
    }
    a
  }

  /** Distributed n×n blocks, n % blk == 0, in the row layout
    * ([[BlockModel.RowPartitioner]]): partition i generates block row i,
    * so no block is shuffled, here or when a sweep groups them. */
  def blocks(sc: SparkContext, n: Int, blk: Int, seed: Long, diagBoost: Double = 0.0): BlockModel.Blocks = {
    require(n % blk == 0, s"n=$n must be a multiple of blk=$blk")
    val q = n / blk
    new BlockModel.RowRDD(sc, q, bi =>
      Iterator.tabulate(q)(bj => ((bi, bj), LocalLA.toDM(localBlock(blk, seed, bi, bj, diagBoost)))))
  }

  /** Same matrix assembled locally (test oracle). */
  def local(n: Int, blk: Int, seed: Long, diagBoost: Double = 0.0): Array[Array[Double]] = {
    val q = n / blk
    val a = Array.ofDim[Double](n, n)
    for (bi <- 0 until q; bj <- 0 until q) {
      val b = localBlock(blk, seed, bi, bj, diagBoost)
      for (i <- 0 until blk; j <- 0 until blk) a(bi * blk + i)(bj * blk + j) = b(i)(j)
    }
    a
  }

  /** Row-oriented form (M1): (rowIndex, values) — the engine analog of the
    * reference's binary row records. */
  def rows(sc: SparkContext, n: Int, blk: Int, seed: Long, diagBoost: Double = 0.0): RDD[(Long, Array[Double])] = {
    require(n % blk == 0)
    val q = n / blk
    sc.parallelize(0 until q, math.min(q, 32)).flatMap { bi =>
      val rowBlocks: Array[Array[Array[Double]]] =
        (0 until q).map(bj => localBlock(blk, seed, bi, bj, diagBoost)).toArray
      (0 until blk).map { iLoc =>
        val full = new Array[Double](n)
        var bj = 0
        while (bj < q) {
          System.arraycopy(rowBlocks(bj)(iLoc), 0, full, bj * blk, blk)
          bj += 1
        }
        ((bi.toLong * blk + iLoc), full)
      }
    }
  }
}
