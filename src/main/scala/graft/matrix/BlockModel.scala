package graft.matrix

import scala.reflect.ClassTag
import org.apache.spark.{Partition, Partitioner, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.mllib.linalg.{DenseMatrix => MlDM, Matrix => MlM}
import org.apache.spark.mllib.linalg.distributed.BlockMatrix

/** Distributed dense-matrix block model: `RDD[((blockRow, blockCol), DenseMatrix)]`
  * with a uniform block size, wrapped in MLlib `BlockMatrix` for GEMM.
  *
  * This replaces the reference's HDFS side-file data plane — its dense
  * block files carry the global extent in-band
  * (/root/reference/Matrix/LUDecomposition.java:153-192); here the extent
  * is the block index, and an absent block is a zero block.
  *
  * One row layout, [[RowPartitioner]]: block (i, j) and line i live in
  * partition i. [[MatrixGen.blocks]], [[fromRows]], the inverse, the LU
  * factor's views and the solutions produce it, and [[BlockSweep.group]]
  * and [[Inversion.solveFactored]] group such input into lines without
  * a shuffle.
  */
object BlockModel {
  type Blocks = RDD[((Int, Int), MlDM)]

  /** Block row layout over q partitions: key (i, j) and key i go to
    * partition i. Equal only to a RowPartitioner of the same q, never to
    * a HashPartitioner, which places (i, j) elsewhere: Spark skips the
    * shuffle of a join or group exactly when the partitioners are equal. */
  final class RowPartitioner(val q: Int) extends Partitioner {
    def numPartitions: Int = q
    def getPartition(key: Any): Int = key match {
      case (i: Int, _) => i
      case i: Int => i
    }
    override def equals(other: Any): Boolean = other match {
      case p: RowPartitioner => p.q == q
      case _ => false
    }
    override def hashCode: Int = 31 * q + 7
  }

  /** q partitions in [[RowPartitioner]] layout, partition i holding
    * `row(i)`: a source that places block row i where the sweeps group
    * it, with nothing shuffled. */
  private[matrix] final class RowRDD[T: ClassTag](sc: SparkContext, q: Int, row: Int => Iterator[T])
      extends RDD[T](sc, Nil) {
    override val partitioner: Option[Partitioner] = Some(new RowPartitioner(q))
    protected def getPartitions: Array[Partition] =
      Array.tabulate[Partition](q)(i => new Partition { def index: Int = i })
    def compute(split: Partition, context: TaskContext): Iterator[T] = row(split.index)
  }

  /** `a` keyed by block row, block (i, j) becoming (i, f((i, j), block));
    * the row layout is kept when `a` has it. */
  private[matrix] def byRow[V](a: Blocks, q: Int)(f: ((Int, Int), MlDM) => V): RDD[(Int, V)] =
    a.mapPartitions(_.map { case (ij, m) => (ij._1, f(ij, m)) },
      preservesPartitioning = a.partitioner.contains(new RowPartitioner(q)))

  /** GEMM via MLlib BlockMatrix (GridPartitioner + netlib gemm per block
    * pair — the Spark-native form of the reference's Schur row·row dot
    * products, /root/reference/Matrix/LUDecomposition.java:633-646). */
  def multiply(a: Blocks, b: Blocks, blk: Int, aRows: Long, aCols: Long, bCols: Long): Blocks = {
    val bmA = new BlockMatrix(a.map { case (k, m) => (k, m: MlM) }, blk, blk, aRows, aCols)
    val bmB = new BlockMatrix(b.map { case (k, m) => (k, m: MlM) }, blk, blk, aCols, bCols)
    bmA.multiply(bmB).blocks.map { case (k, m) => (k, toDense(m)) }
  }

  def toDense(m: MlM): MlDM = m match {
    case d: MlDM if !d.isTransposed => d
    case other => new MlDM(other.numRows, other.numCols, other.toArray)
  }

  /** maxAbs(A − I) over the blocks of a square matrix — the M4 residual
    * check once A·A⁻¹ has been formed. */
  def maxAbsMinusIdentity(blocks: Blocks, blk: Int): Double =
    blocks.map { case ((bi, bj), m) =>
      val d = toDense(m)
      var mx = 0.0
      var j = 0
      while (j < d.numCols) {
        var i = 0
        while (i < d.numRows) {
          val expect = if (bi == bj && i == j) 1.0 else 0.0
          val v = math.abs(d.values(j * d.numRows + i) - expect)
          if (v > mx) mx = v
          i += 1
        }
        j += 1
      }
      mx
    }.fold(0.0)(math.max)

  /** maxAbs(A − B), a block absent on one side counting as a zero block. */
  def maxAbsDiff(a: Blocks, b: Blocks): Double =
    a.fullOuterJoin(b).map { case (_, (x, y)) =>
      lazy val zero = new Array[Double](x.orElse(y).get.values.length)
      val xv = x.fold(zero)(toDense(_).values); val yv = y.fold(zero)(toDense(_).values)
      var mx = 0.0
      var i = 0
      while (i < xv.length) { val d = math.abs(xv(i) - yv(i)); if (d > mx) mx = d; i += 1 }
      mx
    }.fold(0.0)(math.max)

  /** Assemble distributed blocks into a local row-major matrix (tests /
    * base cases only — the analog of the reference's grid-merge scan
    * /root/reference/Matrix/LUDecomposition.java:370-386). */
  def toLocal(blocks: Blocks, n: Int, m: Int, blk: Int): Array[Array[Double]] = {
    val a = Array.ofDim[Double](n, m)
    blocks.collect().foreach { case ((bi, bj), dm) => // bounded: base-case-sized matrices only
      val d = toDense(dm)
      var j = 0
      while (j < d.numCols) {
        var i = 0
        while (i < d.numRows) {
          a(bi * blk + i)(bj * blk + j) = d.values(j * d.numRows + i)
          i += 1
        }
        j += 1
      }
    }
    a
  }

  /** Build uniform blocks from a distributed row representation
    * `(rowIndex, values)` — one shuffle into the row layout, the Spark
    * analog of the reference's parallel physical partitioner
    * (/root/reference/Matrix/Partition_A.java:64-274). */
  def fromRows(rows: RDD[(Long, Array[Double])], n: Int, blk: Int): Blocks = {
    require(n % blk == 0, s"n=$n must be a multiple of blk=$blk (pad first)")
    val q = n / blk
    rows.flatMap { case (i, vec) =>
      val bi = (i / blk).toInt; val iLoc = (i % blk).toInt
      (0 until q).map { bj =>
        val slice = java.util.Arrays.copyOfRange(vec, bj * blk, (bj + 1) * blk)
        ((bi, bj), (iLoc, slice))
      }
    }.groupByKey(new RowPartitioner(q)).mapValues { parts =>
      val rowsArr = Array.ofDim[Double](blk, blk)
      parts.foreach { case (iLoc, slice) => rowsArr(iLoc) = slice }
      LocalLA.toDM(rowsArr)
    }
  }

  /** Inverse of [[fromRows]]: reassemble `(rowIndex, values)` rows from
    * uniform blocks (row extraction is a narrow flatMap; one shuffle
    * groups the per-block slices of each row). */
  def toRows(blocks: Blocks, n: Int, blk: Int): RDD[(Long, Array[Double])] = {
    val q = (n + blk - 1) / blk
    blocks.flatMap { case ((bi, bj), m) =>
      val d = toDense(m)
      (0 until d.numRows).iterator.map { iLoc =>
        val slice = new Array[Double](d.numCols)
        var j = 0
        while (j < d.numCols) { slice(j) = d.values(j * d.numRows + iLoc); j += 1 }
        ((bi.toLong * blk + iLoc), (bj, slice))
      }
    }.groupByKey(q * 4).map { case (i, slices) =>
      val row = new Array[Double](q * blk)
      slices.foreach { case (bj, s) => System.arraycopy(s, 0, row, bj * blk, s.length) }
      (i, row)
    }
  }

  /** [[fromRows]] for ARBITRARY n: zero-pads columns to the next block
    * multiple and adds identity rows for the padded range, so the
    * padded matrix is `[[A, 0], [0, I]]` — invertible iff A is, with
    * `padded⁻¹ = [[A⁻¹, 0], [0, I]]` (used by
    * [[Inversion.inverseAny]]). */
  def fromRowsPadded(rows: RDD[(Long, Array[Double])], n: Int, blk: Int): Blocks = {
    val np = ((n + blk - 1) / blk) * blk
    if (np == n) return fromRows(rows, n, blk)
    val sc = rows.sparkContext
    val padded = rows.map { case (i, v) =>
      (i, java.util.Arrays.copyOf(v, np))
    }
    val idRows = sc.parallelize((n until np).map { i =>
      val v = new Array[Double](np); v(i) = 1.0; (i.toLong, v)
    }, 1)
    fromRows(padded.union(idRows), np, blk)
  }

  def localToBlocks(sc: SparkContext, a: Array[Array[Double]], blk: Int): Blocks = {
    val n = a.length
    require(n % blk == 0)
    val q = n / blk
    val entries = for (bi <- 0 until q; bj <- 0 until q) yield {
      val sub = Array.tabulate(blk, blk)((i, j) => a(bi * blk + i)(bj * blk + j))
      ((bi, bj), LocalLA.toDM(sub))
    }
    sc.parallelize(entries, math.min(q * q, 32))
  }
}
