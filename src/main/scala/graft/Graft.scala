package graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.matrix._

/** The user-facing facade — everything a user of the reference engine
  * (JingenXiang/MatrixInversion) needs to switch, plus the pipeline
  * surface, in one import.
  *
  * Matrix surface (the reference's whole API was `Inverse.main(limit,
  * nReducer)` over HDFS files — /root/reference/Matrix/Inverse.java:28-40):
  * {{{
  *   val a    = Graft.generate(sc, n = 4096, blk = 512, seed = 42)
  *   val lu   = Graft.lu(sc, a, 4096, 512)          // P·A = L·U
  *   val ainv = Graft.inverse(sc, a, 4096, 512)     // A⁻¹
  *   val x    = Graft.solve(sc, a, b, 4096, m, 512) // A·X = B (TRSM)
  *   val x2   = Graft.solveFactored(sc, lu, b2, m)  // factor once, solve many
  *   val rows = Graft.inverseAny(sc, rowRdd, 3000, 512) // any n
  *   val ref  = Graft.readReferenceBlocks(sc, "/data/out/A.*") // O2/O3 codec
  *   Graft.writeReferenceBlocks(ainv, 512, "/data/out2")       // O6 per-task sink
  *   MatrixBlockIO.readWindow(path, i0, j0, buf, transposed = true) // O2 window
  * }}}
  *
  * Reliability: call `sc.setCheckpointDir(...)` before `lu`/`inverse`/
  * dedup sweeps to upgrade per-iteration lineage cuts to reliable
  * (executor-loss-safe) checkpoints — see [[Lineage]].
  *
  * Query surface: [[SparkEntry.queries]] (185 named queries: 127
  * oracle-checked, 58 invariant-gated) or the operator objects directly
  * ([[operators.Relational]], [[operators.Dedup]],
  * [[operators.Similarity]], [[operators.TextAnalysis]],
  * [[operators.Multimodal]], [[streaming.Streaming]],
  * [[operators.Skew]], [[functions.VectorFunctions]]).
  */
object Graft {
  type Blocks = BlockModel.Blocks

  // ---- matrix ----
  def generate(sc: SparkContext, n: Int, blk: Int, seed: Long,
               diagBoost: Double = 0.0): Blocks =
    MatrixGen.blocks(sc, n, blk, seed, diagBoost)

  def lu(sc: SparkContext, a: Blocks, n: Int, blk: Int): BlockLUResult =
    BlockLU.factor(sc, a, n, blk)

  /** Pivot-free SPD factorization A = L·Lᵀ (half the flops of LU);
    * input and output are lower-triangle blocks (i ≥ j). */
  def cholesky(sc: SparkContext, a: Blocks, n: Int, blk: Int): Blocks =
    BlockCholesky.factor(sc, a, n, blk)

  def inverse(sc: SparkContext, a: Blocks, n: Int, blk: Int): Blocks =
    Inversion.inverse(sc, a, n, blk)

  def inverseAny(sc: SparkContext, rows: RDD[(Long, Array[Double])],
                 n: Int, blk: Int): RDD[(Long, Array[Double])] =
    Inversion.inverseAny(sc, rows, n, blk)

  def solve(sc: SparkContext, a: Blocks, b: Blocks, n: Int, m: Int, blk: Int): Blocks =
    Inversion.solve(sc, a, b, n, m, blk)

  /** Solve against an existing factorization — the factor-once /
    * solve-many entry point (each call costs only B-sized work). */
  def solveFactored(sc: SparkContext, lu: BlockLUResult, b: Blocks, m: Int): Blocks =
    Inversion.solveFactored(sc, lu, b, m)

  /** solve(A, B) for SPD A via Cholesky — half the factor flops of
    * [[solve]] and no pivoting. */
  def solveSPD(sc: SparkContext, a: Blocks, b: Blocks, n: Int, m: Int, blk: Int): Blocks =
    Inversion.solveSPD(sc, a, b, n, m, blk)

  /** SPD solve against an existing Cholesky factor (factor-once /
    * solve-many). */
  def solveCholFactored(sc: SparkContext, l: Blocks, b: Blocks, n: Int, blk: Int): Blocks =
    Inversion.solveCholFactored(sc, l, b, n, blk)

  def readReferenceBlocks(sc: SparkContext, pathGlob: String): RDD[MatrixBlockIO.RefBlock] =
    MatrixBlockIO.readBlocks(sc, pathGlob)

  /** Per-task distributed sink in the reference's binary block format. */
  def writeReferenceBlocks(blocks: Blocks, blk: Int, dir: String): Unit =
    MatrixBlockIO.writeBlocks(MatrixBlockIO.toRefBlocks(blocks, blk), dir)

  // ---- vector functions (codegen'd) ----
  def vecDot(a: Column, b: Column): Column = functions.VectorFunctions.vecDot(a, b)
  def vecNorm2(a: Column): Column = functions.VectorFunctions.vecNorm2(a)

  // ---- named query surface ----
  def query(name: String)(spark: SparkSession, sfDir: String): DataFrame =
    SparkEntry.queries(name)(spark, sfDir)
  def queryNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  // ---- SQL-text surface ----
  /** Register the test-schema tables as temp views (idempotent). */
  def registerTables(spark: SparkSession, sfDir: String): Unit =
    sources.Tables.registerAll(spark, sfDir)

  /** Raw SQL entry point over the registered tables — same data, same
    * Catalyst planning as the DataFrame surface. */
  def sql(spark: SparkSession, sfDir: String, text: String): DataFrame = {
    registerTables(spark, sfDir)
    spark.sql(text)
  }
}
