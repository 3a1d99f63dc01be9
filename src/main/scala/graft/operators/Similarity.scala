package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables._

/** Similarity search over the embedding column (`Array[Float]`, 64-d).
  *
  * Three tiers:
  *  - S1 brute-force exact cosine top-k — the oracle-checkable baseline;
  *  - S2 random-hyperplane LSH: 16-bit signatures, bucket join + exact
  *    rerank within buckets (multi-probe radius 1) — sub-linear
  *    candidate sets at scale;
  *  - S3 IVF: anchor-based coarse quantization (nearest of 16 anchors),
  *    probe the 4 closest cells, exact rerank — the classic
  *    inverted-file layout; at 100 TB the cell assignment is the
  *    partition key, so each probe touches 4/16 of the data.
  *
  * Determinism: every dot/norm is a fixed-order left-to-right double
  * fold; ranking is on `round(cos, 4)` with vec_id tiebreak. S2/S3
  * results are deterministic but recall<1 by design, so they carry no
  * SQL oracle — instead each row carries `recall4`/`recall_ok`
  * columns (recall vs the exact S1 answer, computed in-query) that
  * [[graft.Verify.gateInvariants]] enforces driver-side; the same
  * floors are asserted in PipelineSpec.
  *
  * Reference analog: the Gram-product X2 path reuses the same GEMM
  * structure as the Schur complement (SURVEY.md §2.3 X2,
  * /root/reference/Matrix/LUDecomposition.java:633-646).
  */
object Similarity {

  private val K = 5        // neighbors per query
  private val NQueries = 10
  /** The query-set size, for cross-package serving members (st18). */
  private[graft] def nQueries: Int = NQueries

  import graft.functions.VectorFunctions.{vecDot, vecNorm2, vecDotInt,
    vecNorm2Int, vecMaxAbs, int8Codes}

  private[graft] def prepared(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(
      col("vec_id"),
      graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(vecNorm2(col("v"))))

  private def cos4(qn: Column, nn: Column): Column =
    round(vecDot(col("q.v"), col("e.v")) / (qn * nn), 4)

  /** Exact rerank of (query × candidate) rows to top-K. */
  private[graft] def rerank(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos4").desc, col("neighbor_id"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .orderBy(col("query_id"), col("rn"))
  }

  // ------------------------------------------------------------- S1
  /** Brute-force exact cosine top-5 for the first 10 vectors as
    * queries. The query side is tiny by construction → broadcast
    * nested-loop join; the corpus side streams through codegen. */
  def s1BruteForce(s: SparkSession, d: String): DataFrame = {
    val e = prepared(s, d)
    val q = broadcast(e.filter(col("vec_id") < NQueries))
    val pairs = q.as("q")
      .join(e.as("e"), col("q.vec_id") =!= col("e.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("e.vec_id").as("neighbor_id"),
        cos4(col("q.nrm"), col("e.nrm")).as("cos4"))
    rerank(pairs).select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
  }

  val s1Sql: String =
    s"""WITH ex AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |nrm AS (SELECT vec_id, sqrt(SUM(x * x ORDER BY i)) AS nrm FROM ex GROUP BY 1),
       |dots AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         SUM(q.x * e.x ORDER BY q.i) AS dot
       |  FROM ex q JOIN ex e ON q.i = e.i AND q.vec_id <> e.vec_id
       |  WHERE q.vec_id < $NQueries
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |         ROUND(dot / (nq.nrm * ne.nrm), 4) AS cos4
       |  FROM dots JOIN nrm nq ON nq.vec_id = query_id
       |            JOIN nrm ne ON ne.vec_id = neighbor_id)
       |SELECT query_id, neighbor_id, cos4, rn FROM (
       |  SELECT query_id, neighbor_id, cos4,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cos4 DESC, neighbor_id) AS rn
       |  FROM scored) t
       |WHERE rn <= $K ORDER BY query_id, rn""".stripMargin

  /** Driver-visible recall gate for the approximate paths: recompute
    * the exact S1 answer, measure recall@K of `approx` against it, and
    * append it as constant `recall4`/`recall_ok` columns on every row.
    * `recall_ok=false` makes [[graft.Verify.gateInvariants]] fail the
    * query, so a bucketing/anchor regression flips the per-round
    * correctness gate, not just the ScalaTest floor. The exact answer
    * is |queries|·K rows — the extra cost is one more pass over the
    * corpus (the S1 broadcast scan), not a new shuffle shape. */
  /** Session-scoped cache of the exact S1 (query_id, neighbor_id) set:
    * every recall-gated approximate query (s2, s3, p7) measures against
    * it, and recomputing the S1 corpus scan per query doubled their
    * cost for identical information. localCheckpoint (50 rows) so the
    * blocks are GC-cleanable and survive Verify/Bench's per-query
    * CacheManager clear; same hygiene as Dedup's pair cache (stopped
    * sessions evicted, bounded size, immutable-directory assumption). */
  private val exactCache = new graft.FsUtil.SessionMemo[String, DataFrame]

  private[operators] def exactTopK(s: SparkSession, d: String): DataFrame =
    exactCache.getOrElseUpdate((s, d),
      s1BruteForce(s, d).select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(true))

  /** Plan-inspection hook for the plan-shape specs and [[graft.Explain]]:
    * gated queries checkpoint their approximate answer (so the probe
    * executes ONCE), which replaces the returned frame's plan with a
    * LogicalRDD scan. The pre-checkpoint frame — whose queryExecution
    * still carries the probe's physical plan (WindowGroupLimit, pruned
    * scans) — is kept here KEYED BY (session, query tag), so
    * interleaved gated queries can't misattribute a plan assertion;
    * specs clear their entry after asserting. s12/s13/s14 register
    * their masked/delta probe frames here too (they gate outside
    * [[withRecallGate]]). */
  private[graft] val lastGatedApprox = new graft.FsUtil.SessionMemo[String, DataFrame]

  private[graft] def registerGatedPlan(s: SparkSession, tag: String,
                                       df: DataFrame): Unit =
    lastGatedApprox((s, tag)) = df

  /** Driver-side (query_id, neighbor_id) set of a BOUNDED gate frame.
    * Every recall/identity gate compares ≤ K·NQueries-row frames, so
    * set arithmetic on collected rows replaces the intersect().count()
    * shape — two extra jobs plus a shuffle per gated query — with zero
    * extra scans. Corpus-scale audit frames (s12's tombstone join)
    * stay Spark jobs: collecting those would not survive 100 TB. */
  private def pairSet(df: DataFrame): Set[(Long, Long)] = {
    val qi = df.schema.fieldIndex("query_id")
    val ni = df.schema.fieldIndex("neighbor_id")
    df.collect().map(r => (r.getLong(qi), r.getLong(ni))).toSet // bounded: <= K*NQueries gate rows
  }

  private[graft] def withRecallGate(s: SparkSession, d: String, tag: String,
                             approx0: DataFrame, floor: Double): DataFrame = {
    // The gate consumes the approximate answer once for the recall
    // count and the caller consumes it again for the output — without a
    // checkpoint the whole probe plan (scans, bucket joins, rerank)
    // executes per consumption. The answer is K·NQueries rows:
    // materialize it once and let every downstream read hit the blocks.
    registerGatedPlan(s, tag, approx0)
    val approx = approx0.localCheckpoint(true)
    val exactPairs = pairSet(exactTopK(s, d))
    val recall = (pairSet(approx) & exactPairs).size.toDouble / exactPairs.size
    approx
      .withColumn("recall4", lit(math.round(recall * 1e4) / 1e4))
      .withColumn("recall_ok", lit(recall >= floor))
  }

  // ------------------------------------------------------------- S2
  /** Random-hyperplane LSH. 16 hyperplanes are generated on the driver
    * from a fixed seed and broadcast as literals; the signature is 16
    * sign bits packed into an int, split into 4 4-bit band keys.
    * Multi-probe: the QUERY side also probes every radius-1 bit flip of
    * each band key (4 bands × (1+4) probes), trading a constant probe
    * fan-out for recall — the corpus side stays single-bucket, so the
    * index is one shuffle keyed by (band, nibble) at any scale and
    * probing is a broadcast join against 50 key rows per query. */
  def s2AnnLsh(s: SparkSession, d: String): DataFrame = {
    val dim = 64; val nPlanes = 16
    val rng = new scala.util.Random(42)
    val planes = Array.fill(nPlanes, dim)(rng.nextGaussian())

    val e = prepared(s, d)
    val sigBits = (0 until nPlanes).map { p =>
      val dot = vecDot(col("v"), array(planes(p).map(lit(_)): _*))
      when(dot > 0, lit(1 << p)).otherwise(lit(0))
    }
    val sig = e.withColumn("sig", sigBits.reduce(_ + _))

    val bands = sig.select(col("vec_id"), col("v"), col("nrm"), explode(array(
      (0 until 4).map(b => struct(lit(b).as("band"),
        shiftright(col("sig"), b * 4).bitwiseAND(15).as("nib"))): _*)).as("bk"))
      .select(col("vec_id"), col("v"), col("nrm"), col("bk.band"), col("bk.nib"))

    // query probes: the band key itself plus its 4 radius-1 bit flips
    val probeCols = for (b <- 0 until 4; f <- -1 until 4) yield {
      val nib = shiftright(col("sig"), b * 4).bitwiseAND(15)
      struct(lit(b).as("band"),
        (if (f < 0) nib else nib.bitwiseXOR(lit(1 << f))).as("nib"))
    }
    val q = broadcast(sig.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("v"), col("nrm"),
        explode(array(probeCols: _*)).as("bk"))
      .select(col("vec_id"), col("v"), col("nrm"), col("bk.band"), col("bk.nib")))
    val cands = q.as("q")
      .join(bands.as("e"),
        col("q.band") === col("e.band") && col("q.nib") === col("e.nib") &&
          col("q.vec_id") =!= col("e.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("e.vec_id").as("neighbor_id"),
        cos4(col("q.nrm"), col("e.nrm")).as("cos4"))
      .distinct()
    withRecallGate(s, d, "s2",
      rerank(cands).select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn")),
      floor = 0.7)
  }

  // ------------------------------------------------------------- S3
  /** Data-derived IVF anchors: Lloyd's k-means over the corpus, built
    * on the X4 centroid machinery — per-cell means are computed from
    * `floor(x·2²⁰)` long sums, which are order-independent, so the
    * anchors are bit-deterministic at any parallelism. Seeded from the
    * nCells lowest-id vectors; each round is one broadcast assignment
    * (max-cosine cell per vector) + one map-side-combined aggregate.
    * Cells that lose all members drop out (classic Lloyd).
    * At 100 TB: the corpus is scanned `iters`+1 times (cached here);
    * the aggregate state is nCells×dim longs — tiny; assignment is a
    * broadcast nested loop, embarrassingly parallel. Returns the
    * (cellId, anchor) array — ≤ √n rows, driver-bounded by the same
    * argument as the per-iteration collect above. */
  private[graft] def trainAnchors(e: DataFrame, nCells: Int,
                                  iters: Int,
                                  minRouted: Int = CoarseMinAnchors)
      : Array[(Int, Array[Double])] = {
    val s = e.sparkSession
    import s.implicits._
    val ds = e.select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Array[Double], Double)]
    var anchors: Array[(Int, Array[Double])] =
      ds.filter(_._1 < nCells).collect().sortBy(_._1) // bounded: nCells seed rows
        .map { case (id, v, _) => (id.toInt, v) }
    for (_ <- 1 to iters) {
      // Past [[CoarseMinAnchors]] the per-vector argmax routes through
      // the coarse layer (built per round over the CURRENT anchors —
      // driver work, anchor-table-bounded): Lloyd's assignment step
      // carried the same n·√n term as the final assignment, ×iters.
      // Same (sim desc, cell asc) tie rule either lane; routing only
      // prunes which anchors compete, so training stays deterministic.
      val routerB =
        if (anchors.length >= minRouted)
          Some(s.sparkContext.broadcast(CellRouter.of(anchors, CoarseProbe)))
        else None
      val anchB = s.sparkContext.broadcast(anchors.map { case (c, av) =>
        var s2 = 0.0; av.foreach(x => s2 += x * x)
        (c, av, math.sqrt(s2))
      })
      // One narrow pass: assign each vector to its max-cosine cell and
      // fold it into per-partition (cell → Σ⌊x·2²⁰⌋, count) partials;
      // the shuffle then carries ≤ nCells rows per partition. Long sums
      // keep the result order-independent → deterministic anchors.
      val partials = ds.mapPartitions { it =>
        val a = anchB.value
        val rt = routerB.map(_.value)
        val acc = scala.collection.mutable.HashMap.empty[Int, (Array[Long], Long)]
        it.foreach { case (_, v, nrm) =>
          val best = rt match {
            case Some(r) => r.argmaxCell(v, nrm)
            case None =>
              var bst = Int.MaxValue; var bestSim = Double.NegativeInfinity
              a.foreach { case (c, av, an) =>
                var dot = 0.0; var i = 0
                while (i < v.length) { dot += v(i) * av(i); i += 1 }
                val sim = dot / (nrm * an)
                if (sim > bestSim || (sim == bestSim && c < bst)) { bestSim = sim; bst = c }
              }
              bst
          }
          val cur = acc.getOrElseUpdate(best, (new Array[Long](v.length), 0L))
          var i = 0
          while (i < v.length) { cur._1(i) += math.floor(v(i) * 1048576).toLong; i += 1 }
          acc(best) = (cur._1, cur._2 + 1)
        }
        acc.iterator.map { case (c, (sums, n)) => (c, sums, n) }
      }
      anchors = partials.groupByKey(_._1)
        .reduceGroups { (x, y) =>
          val z = x._2.clone(); var i = 0
          while (i < z.length) { z(i) += y._2(i); i += 1 }
          (x._1, z, x._3 + y._3)
        }
        .map { case (c, (_, sums, n)) => (c, sums.map(_.toDouble / n / 1048576.0)) }
        .collect().sortBy(_._1) // bounded: nCells centroid rows
    }
    anchors
  }

  /** Session-scoped trained-anchor cache: S3, S6 and P7 run k-means
    * with the SAME sizing (√n cells, 2 Lloyd rounds) over the same
    * corpus — training is the expensive half of each, and the anchors
    * are bit-deterministic, so recomputing them per query bought
    * nothing. Driver-side arrays (≤ √n × dim doubles — the same bound
    * the per-iteration training collect already relies on); stopped
    * sessions evicted, size bounded.
    *
    * Training runs over the CALLER's prepared frame `e` (any frame with
    * vec_id/v/nrm columns): if the caller cached it, training reuses
    * that entry; no CacheManager entry is created here (the round-4
    * version's internal `prepared(s,d).cache()` leaked storage for
    * callers whose own plan differed — s6, p7). */
  private val anchorCache = new graft.FsUtil.SessionMemo[String, Array[(Int, Array[Double])]]

  private[graft] def ivfCells(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** Anchor count at which corpus-side assignment switches from the
    * flat argmax scan to the two-level routed kernel. Below it the
    * coarse layer has ≲√128 ≈ 12 groups and the [[CoarseProbe]]-wide
    * probe covers most of them anyway — the flat scan is cheaper AND
    * exact, so the gate/bench corpora (≤ 71 anchors) keep bit-identical
    * assignments while the swept decades (224+ anchors) get the
    * n^1.25 build curve. The NN-descent lane-threshold pattern. */
  private[graft] val CoarseMinAnchors = 128
  /** Coarse groups probed per vector: member scoring then covers
    * ~wProbe·√nAnchors fine anchors — a constant multiple of the
    * coarse scan itself, and wide enough that the routed argmax agrees
    * with the exact one on ≫90% of vectors (quality spec). */
  private[graft] val CoarseProbe = 8

  /** Corpus-side cell assignment, shared by every index build/ingest
    * pass (s3/s6, assignQuantize for s7-s15/st12/st18, the s21-family
    * graph shards, s21CellReps): flat argmax below [[CoarseMinAnchors]]
    * anchors, the coarse-quantized two-level router at or above —
    * round-15 verdict #1, the last superlinear build term. Both lanes
    * are narrow codegen'd projections (zero shuffle at any corpus
    * size) and fully deterministic; `minRouted` is the spec override
    * that forces the routed lane at gate scale. */
  private[graft] def assignCells(v: Column, nrm: Column,
      anchors: Array[(Int, Array[Double])], k: Int,
      minRouted: Int = CoarseMinAnchors): Column =
    if (anchors.length < minRouted)
      graft.functions.VectorFunctions.topCells(v, nrm, anchors, k)
    else
      graft.functions.VectorFunctions.topCellsRouted(v, nrm,
        CellRouter.of(anchors, CoarseProbe), k)

  private[graft] def trainedAnchors(s: SparkSession, d: String,
                                    e: DataFrame): Array[(Int, Array[Double])] =
    anchorCache.getOrElseUpdate((s, d), {
      val base = e.select(col("vec_id"), col("v"), col("nrm"))
      trainAnchors(base, ivfCells(base.count()), iters = 2)
    })

  /** IVF with TRAINED coarse anchors (k-means via [[trainAnchors]],
    * shared with P7 through [[trainedAnchors]]): every vector is
    * assigned to its max-cosine cell, queries probe their nProbe
    * nearest cells, exact search inside probed cells. The cell count
    * scales with the corpus (≈√n, the classic IVF sizing) and probing
    * covers nCells/4 cells to hold recall.
    * At scale the cell id becomes the storage partition key so a probe
    * is partition pruning, not a scan. */
  def s3AnnIvf(s: SparkSession, d: String): DataFrame = {
    val e = prepared(s, d).cache()   // scanned for assignment + rerank
    val nCells = ivfCells(e.count())
    val nProbe = math.max(4, nCells / 4)
    val anchors = trainedAnchors(s, d, e)
    // Corpus side: cell = argmax-cosine anchor via the narrow codegen'd
    // [[graft.functions.VectorFunctions.topCells]] projection — zero
    // shuffle at any corpus size (the round-4 window formulation sort-
    // shuffled n·√n full-width rows for this; PipelineSpec asserts the
    // assignment fragment is Exchange-free). Bit-identical assignment:
    // same sim arithmetic and the same (sim desc, cell asc) tie-break.
    val assigned = e.withColumn("cell",
      assignCells(col("v"), col("nrm"), anchors, 1)(0))
    // Query side: rank ALL cells per query — NQueries·√n rows, trivial;
    // the window stays here where the input is query-bounded.
    val probes = broadcast(queryProbes(e.filter(col("vec_id") < NQueries),
      anchors, nProbe, "vec_id", "v", "nrm"))

    // no distinct: each corpus row has exactly ONE cell and a query's
    // probed cells are distinct, so a (query, neighbor) pair joins once
    val cands = probes.as("q")
      .join(assigned.as("e"),
        col("q.cell") === col("e.cell") && col("q.vec_id") =!= col("e.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("e.vec_id").as("neighbor_id"),
        cos4(col("q.nrm"), col("e.nrm")).as("cos4"))
    withRecallGate(s, d, "s3",
      rerank(cands).select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn")),
      floor = 0.9)
  }

  /** Top-`nProbe` cells for a QUERY frame (callers pass the filtered
    * query rows — usually `vec_id < NQueries`, s22 passes its append
    * batch): the one place the rank-over-cells window survives — its
    * input is query-bounded (|queries|·nCells rows), never the corpus.
    * `extra` columns are carried through for the downstream join. */
  private def queryProbes(q: DataFrame, anchors: Array[(Int, Array[Double])],
                          nProbe: Int, extra: String*): DataFrame = {
    val s = q.sparkSession
    import s.implicits._
    val anchorsDF = anchors.toSeq.toDF("cell", "av")
      .withColumn("an", sqrt(vecNorm2(col("av"))))
    q.as("e")
      .join(broadcast(anchorsDF).as("a"), lit(true))
      .select((Seq(col("a.cell").as("cell"),
        (vecDot(col("e.v"), col("a.av")) /
          (col("e.nrm") * col("a.an"))).as("sim")) ++
        extra.map(n => col("e." + n).as(n))): _*)
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cell"))))
      .filter(col("crn") <= nProbe)
      .drop("sim", "crn")
  }

  // ------------------------------------------------------------- S4
  /** The same exact top-k as S1 but ranked with the typed
    * [[graft.functions.TopKAggregator]] instead of a ranking window:
    * each map partition pre-reduces to ≤ k candidates per query before
    * the exchange, so shuffle volume is k·|queries| regardless of
    * corpus size — the aggregate form of rank-then-filter. Output is
    * bit-identical to S1 (same oracle). */
  def s4TopKAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.{Scored, TopKAggregator}
    val e = prepared(s, d)
    val q = broadcast(e.filter(col("vec_id") < NQueries))
    val pairs = q.as("q")
      .join(e.as("e"), col("q.vec_id") =!= col("e.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("e.vec_id").as("neighbor_id"),
        cos4(col("q.nrm"), col("e.nrm")).as("cos4"))
      .as[(Long, Long, Double)]
    pairs.groupByKey(_._1)
      .mapValues { case (_, nid, c) => Scored(nid, c) }
      .agg(new TopKAggregator(K).toColumn)
      .flatMap { case (qid, top) =>
        top.zipWithIndex.map { case (sc, i) => (qid, sc.id, sc.score, i + 1) } }
      .toDF("query_id", "neighbor_id", "cos4", "rn")
      .orderBy(col("query_id"), col("rn"))
  }

  // ------------------------------------------------------------- X2
  /** SURVEY.md §2.3 X2: the same exact top-k, but through the MATRIX
    * surface — the query slab of the Gram matrix, Q·Eᵀ, via
    * `BlockMatrix.multiply` (the GEMM that also powers the Schur
    * complement, /root/reference/Matrix/LUDecomposition.java:633-646).
    * cos(i,j) = G_ij/√(‖vᵢ‖²·‖vⱼ‖²).
    *
    * Scale shape: only the query block row is multiplied — Q is 1 block,
    * so the GEMM is O(n/blk) block products for O(n/blk) output, linear
    * in corpus size (the previous full E·Eᵀ materialized O((n/blk)²)
    * products and discarded all but one block row). The Gram diagonal is
    * never taken from the product: ‖v‖² is a direct per-row sequential
    * fold, bit-identical to the dgemm inner loop (both sum over the
    * 64-long inner dimension in ascending order). Equality with S1 is
    * asserted in PipelineSpec. */
  def x2TopkCosineGram(s: SparkSession, d: String): DataFrame = {
    import graft.matrix.{BlockModel, LocalLA}
    import s.implicits._
    val blk = 64
    val rows = embeddings(s, d).select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .rdd.map { case (id, v) => (id, v.map(_.toDouble)) }
    val n = rows.map(_._1).max().toInt + 1
    val nPad = ((n + blk - 1) / blk) * blk

    // ‖v‖² per row — the Gram diagonal, without computing the Gram.
    // Kept distributed and joined to the scored pairs below (collect+
    // broadcast would put O(n) doubles on the driver at 10⁸ rows).
    val norms = rows.map { case (i, v) =>
      var s2 = 0.0; var k = 0
      while (k < v.length) { s2 += v(k) * v(k); k += 1 }
      (i, s2)
    }.toDF("nvec_id", "nrm2")

    // Q: the single block row holding the query ids (NQueries < blk)
    val q = rows.filter(_._1 < blk)
      .map { case (i, v) => ((0, 0), (i.toInt, v)) }
      .groupByKey(1).mapValues { part =>
        val a = Array.ofDim[Double](blk, blk)   // zero-padded tail rows
        part.foreach { case (iLoc, v) => System.arraycopy(v, 0, a(iLoc), 0, v.length) }
        LocalLA.toDM(a)
      }
    // Eᵀ: one 64×blk block per corpus block row, built directly from rows
    val eT = rows.map { case (i, v) => ((i.toInt / blk), (i.toInt % blk, v)) }
      .groupByKey(nPad / blk).map { case (bi, part) =>
        val a = Array.ofDim[Double](blk, blk)   // (dim, localRow), zero-padded
        part.foreach { case (iLoc, v) =>
          var k = 0
          while (k < v.length) { a(k)(iLoc) = v(k); k += 1 }
        }
        ((0, bi), LocalLA.toDM(a))
      }
    val gramSlab = BlockModel.multiply(q, eT, blk, blk.toLong, blk.toLong, nPad.toLong)

    val dots = gramSlab
      .flatMap { case ((_, bj), m) =>
        for {
          i <- 0 until math.min(NQueries, m.numRows)
          j <- 0 until m.numCols
          nb = bj * blk + j
          if nb < n && nb != i
        } yield (i.toLong, nb.toLong, m(i, j))
      }.toDF("query_id", "neighbor_id", "dot")
    val pairs = dots
      .join(norms.as("nn"), col("neighbor_id") === col("nn.nvec_id"))
      .join(broadcast(norms.filter(col("nvec_id") < NQueries).as("qn")),
        col("query_id") === col("qn.nvec_id"))
      .withColumn("cos4",
        round(col("dot") / (sqrt(col("qn.nrm2")) * sqrt(col("nn.nrm2"))), 4))
    rerank(pairs).select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
  }

  // ------------------------------------------------------------- X4
  /** Per-label embedding centroids, emitted as (label, dim) rows — the
    * cluster-statistics primitive (IVF anchor refresh, class means).
    * Exactness trick: each float is scaled by 2²⁰ (a power of two, so
    * the double multiply is EXACT) and floored to an integer; integer
    * sums are order-independent, so Spark's partial aggregation and the
    * oracle agree bit-for-bit — the float-mean analog of the decimal-
    * sum convention. One narrow posexplode (64 rows per vector), one
    * map-side-combined hash aggregate on (label, dim): the same shape
    * at any corpus size. */
  def x4Centroids(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), (col("pos") + 1).as("dim"),
        floor(col("x").cast("double") * 1048576).as("xs"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("xs")).cast("double") / count(lit(1)) / 1048576.0, 4).as("mean4"))
      .orderBy(col("label"), col("dim"))

  val x4Sql: String =
    """SELECT label, i AS dim, COUNT(*) AS n_vecs,
      |  ROUND(CAST(SUM(CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS DOUBLE)
      |        / COUNT(*) / 1048576.0, 4) AS mean4
      |FROM (SELECT label, generate_subscripts(embedding, 1) AS i,
      |             unnest(embedding) AS x
      |      FROM embeddings)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------- X6
  /** Global per-dimension embedding statistics (mean + std) — the
    * z-score-normalization precompute. Same integer-exactness trick as
    * [[x4Centroids]] extended to second moments: xs = ⌊x·2²⁰⌋ and xs²
    * are exact longs (|xs²| ≤ 2⁴⁰, so even 10⁸ vectors stay within a
    * long), making both aggregation phases order-independent; the
    * mean/std doubles are then one fixed expression over exact inputs.
    * One narrow posexplode + one map-side-combined agg to 64 rows. */
  def x6DimStats(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select((col("pos") + 1).as("dim"),
        floor(col("x").cast("double") * 1048576).as("xs"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("xs")).as("s1"),
        sum(col("xs") * col("xs")).as("s2"))
      .select(col("dim"), col("n"),
        round(col("s1").cast("double") / col("n") / 1048576.0, 4).as("mean4"),
        round(sqrt(col("s2").cast("double") / col("n") -
          (col("s1").cast("double") / col("n")) * (col("s1").cast("double") / col("n")))
          / 1048576.0, 4).as("std4"))
      .orderBy(col("dim"))

  val x6Sql: String =
    """SELECT dim, n,
      |  ROUND(CAST(s1 AS DOUBLE) / n / 1048576.0, 4) AS mean4,
      |  ROUND(sqrt(CAST(s2 AS DOUBLE) / n
      |             - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
      |        / 1048576.0, 4) AS std4
      |FROM (
      |  SELECT i AS dim, COUNT(*) AS n,
      |    SUM(CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS s1,
      |    SUM(CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)
      |        * CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS s2
      |  FROM (SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x
      |        FROM embeddings)
      |  GROUP BY i)
      |ORDER BY dim""".stripMargin

  // ------------------------------------------------------------- X8
  /** Int8 embedding quantization — the 4× storage/scan-IO cut that
    * makes 100 TB ANN affordable: per vector, symmetric max-abs scale
    * and q_i = round(x_i·127/scale) in [−127, 127]. Pure per-row
    * codegen'd array expressions (transform/zip_with/aggregate HOFs) —
    * no shuffle, no UDF. The output row carries the scale, an md5
    * fingerprint of the quantized values (the oracle recomputes it
    * bit-for-bit — both engines run the identical double expression
    * `round(x/scale·127)`), and the reconstruction-error verdict
    * max|x − q·scale/127| ≤ scale/254 (the mathematical bound of
    * symmetric rounding, with 1e-7 relative slack for the float
    * arithmetic), which `bound_ok` exposes to the invariant gate. */
  def x8Quantize(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v"))
      .withColumn("scale", vecMaxAbs(col("v")))
      .withColumn("q", int8Codes(col("v"), col("scale")))
      .withColumn("qhash",
        md5(concat_ws(",", expr("transform(q, qi -> cast(qi AS string))"))))
      .withColumn("max_err", expr(
        "aggregate(zip_with(v, q, (x, qi) -> abs(x - qi * scale / 127)), 0D, (a, e) -> greatest(a, e))"))
      .withColumn("bound_ok",
        col("scale") === 0 || col("max_err") <= col("scale") / 254 * 1.0000001)
      .select(col("vec_id"), col("scale"), col("qhash"), col("bound_ok"))
      .orderBy(col("vec_id"))

  val x8Sql: String =
    """WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |                   CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      |sc AS (SELECT vec_id, MAX(ABS(x)) AS scale FROM ex GROUP BY 1),
      |q AS (SELECT e.vec_id, i, x, scale,
      |             CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
      |                  ELSE CAST(ROUND(x / scale * 127) AS BIGINT) END AS qi
      |      FROM ex e JOIN sc USING (vec_id))
      |SELECT vec_id, ANY_VALUE(scale) AS scale,
      |       md5(string_agg(CAST(qi AS VARCHAR), ',' ORDER BY i)) AS qhash,
      |       (ANY_VALUE(scale) = 0 OR
      |        MAX(ABS(x - qi * scale / 127)) <= ANY_VALUE(scale) / 254 * 1.0000001) AS bound_ok
      |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------------- S5
  /** ANN over INT8-QUANTIZED codes — retrieval on the compressed
    * representation [[x8Quantize]] produces: score is the cosine of the
    * QUANTIZED vectors, cosq = Σqᵃqᵇ / (√Σqᵃ² · √Σqᵇ²). The dot and
    * both norms are INTEGER sums — exact and order-independent at any
    * parallelism — and the final expression is one fixed double op
    * sequence, so unlike s2/s3 this approximate path is bit-
    * deterministic end-to-end and carries a full DuckDB hash oracle
    * (the approximation is in the REPRESENTATION, not the execution).
    * Recall vs the exact S1 answer is floor-asserted in PipelineSpec.
    *
    * 100 TB story: the scan side reads int8 codes — 4× less IO than
    * float32 (and 8× less than the doubles s1 upcasts to), the integer
    * dot kernel is SIMD-friendly, and the same scoring composes with
    * the S3 IVF layout (probe cells, score quantized, rerank exact).
    * Here the codes are derived in-query; a production table stores
    * them once (x8's output) and never rereads the floats. */
  def s5AnnQuantized(s: SparkSession, d: String): DataFrame = {
    // round-16: scale/codes/norm/dot moved from interpreted HOF lambdas
    // to the native codegen'd expressions (exact integer semantics —
    // bit-identical; s5's full DuckDB hash oracle pins it)
    val e = embeddings(s, d)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v"))
      .withColumn("scale", vecMaxAbs(col("v")))
      .withColumn("qv", int8Codes(col("v"), col("scale")))
      .withColumn("nq2", vecNorm2Int(col("qv")))
      .select(col("vec_id"), col("qv"), col("nq2"))
    val q = broadcast(e.filter(col("vec_id") < NQueries))
    val pairs = q.as("q")
      .join(e.as("e"), col("q.vec_id") =!= col("e.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("e.vec_id").as("neighbor_id"),
        round(
          vecDotInt(col("q.qv"), col("e.qv"))
            .cast("double") /
            (sqrt(col("q.nq2").cast("double")) * sqrt(col("e.nq2").cast("double"))), 4)
          .as("cosq4"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosq4").desc, col("neighbor_id"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select(col("query_id"), col("neighbor_id"), col("cosq4"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  val s5Sql: String =
    s"""WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |                   CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
       |sc AS (SELECT vec_id, MAX(ABS(x)) AS scale FROM ex GROUP BY 1),
       |q AS (SELECT e.vec_id, i,
       |             CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
       |                  ELSE CAST(ROUND(x / scale * 127) AS BIGINT) END AS qi
       |      FROM ex e JOIN sc USING (vec_id)),
       |nq AS (SELECT vec_id, SUM(qi * qi) AS nq2 FROM q GROUP BY 1),
       |dots AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |                SUM(a.qi * b.qi) AS dotq
       |         FROM q a JOIN q b ON a.i = b.i AND a.vec_id <> b.vec_id
       |         WHERE a.vec_id < $NQueries GROUP BY 1, 2),
       |scored AS (SELECT query_id, neighbor_id,
       |                  ROUND(CAST(dotq AS DOUBLE) /
       |                        (sqrt(CAST(na.nq2 AS DOUBLE)) * sqrt(CAST(nb.nq2 AS DOUBLE))), 4) AS cosq4
       |           FROM dots JOIN nq na ON na.vec_id = query_id
       |                     JOIN nq nb ON nb.vec_id = neighbor_id)
       |SELECT query_id, neighbor_id, cosq4, rn FROM (
       |  SELECT query_id, neighbor_id, cosq4,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cosq4 DESC, neighbor_id) AS rn
       |  FROM scored) t
       |WHERE rn <= $K ORDER BY query_id, rn""".stripMargin

  // ------------------------------------------------------------- S6
  /** The PRODUCTION ANN composition: S3's trained-IVF cell layout ×
    * X8's int8 codes × an exact float rerank — coarse quantizer prunes
    * the corpus to the probed cells, the integer dot over 4×-smaller
    * codes scores every candidate in those cells, and only the
    * per-query shortlist (2K rows) is re-scored exactly. At 100 TB the
    * cell id is the storage partition key and the scan inside a probed
    * cell reads int8 codes only — the float vectors are touched for
    * |queries|·2K rows total, not per candidate.
    *
    * Every stage is deterministic (bit-exact anchors, integer dot,
    * tie-broken ranks), but recall < 1 by IVF design, so like s2/s3 it
    * carries the in-query `recall4`/`recall_ok` gate vs the exact S1
    * answer (floor 0.7; measured 0.92 at gate scale — cell pruning, not
    * int8 scoring, is the binding approximation: pure-int8 s5 measures
    * 0.98). */
  def s6AnnIvfQuantized(s: SparkSession, d: String): DataFrame = {
    // round-16: native quantization/scoring expressions (see s5)
    val e = prepared(s, d)
      .withColumn("scale", vecMaxAbs(col("v")))
      .withColumn("qv", int8Codes(col("v"), col("scale")))
      .withColumn("nq2", vecNorm2Int(col("qv")))
      .cache()
    val nCells = ivfCells(e.count())
    val nProbe = math.max(4, nCells / 4)
    val anchors = trainedAnchors(s, d, e)
    // narrow shuffle-free argmax assignment — same shape as s3
    val assigned = e.withColumn("cell",
      assignCells(col("v"), col("nrm"), anchors, 1)(0))
      .select(col("vec_id"), col("v"), col("nrm"), col("qv"), col("nq2"), col("cell"))
    val probes = broadcast(queryProbes(e.filter(col("vec_id") < NQueries),
      anchors, nProbe, "vec_id", "v", "nrm", "qv", "nq2"))

    // int8 scoring pass over the probed cells: integer dot + integer
    // norms — the only per-candidate work, on the compressed codes.
    // No distinct (round-4 advice): one cell per corpus row × distinct
    // probed cells per query ⇒ each (query, neighbor) pair joins once.
    val scoredQ = probes.as("q")
      .join(assigned.as("e"),
        col("q.cell") === col("e.cell") && col("q.vec_id") =!= col("e.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("e.vec_id").as("neighbor_id"),
        col("q.v").as("qv_f"), col("q.nrm").as("qn"),
        col("e.v").as("nv_f"), col("e.nrm").as("nn"),
        round(
          vecDotInt(col("q.qv"), col("e.qv"))
            .cast("double") /
            (sqrt(col("q.nq2").cast("double")) * sqrt(col("e.nq2").cast("double"))), 4)
          .as("cosq4"))
    // exact float rerank of the per-query int8 shortlist (2K rows/query)
    val short = scoredQ.withColumn("qrn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosq4").desc, col("neighbor_id"))))
      .filter(col("qrn") <= 2 * K)
    val exact = short
      .select(col("query_id"), col("neighbor_id"),
        round(vecDot(col("qv_f"), col("nv_f")) / (col("qn") * col("nn")), 4).as("cos4"))
    withRecallGate(s, d, "s6",
      rerank(exact).select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn")),
      floor = 0.7)
  }

  // ------------------------------------------------------------- S7
  /** Session memo of the PERSISTED IVF index handle — (path, anchors,
    * trained nCells) — keyed by (session, corpus dir) only to skip
    * filesystem probing within a session. Durability itself comes from
    * the on-disk layout being keyed by a CORPUS FINGERPRINT
    * ([[corpusFingerprint]]), not the Spark application id: the index
    * is written ONCE per corpus version and probed forever, across
    * sessions — the ANN analog of the reference's write-factors-once
    * design (`LUDecomposition.java` lines 148-150: factors go to the
    * shared filesystem once, every later task reads them). A sidecar
    * `_anchors.txt` persists the trained anchors as raw IEEE-754 bits
    * plus the trained cell sizing, so a fresh session probes
    * BIT-IDENTICALLY without retraining. Built, published and reused
    * by [[graft.FsUtil.publishDir]], like every artifact here. On a
    * cluster this directory lives on the shared filesystem; a
    * production service would key it by an explicit index version
    * instead of file metadata. */
  private val indexCache =
    new graft.FsUtil.SessionMemo[String, (String, Array[(Int, Array[Double])], Int)]

  /** On-disk layout version, folded into every index fingerprint: a
    * layout change (new stored column, new sidecar format) must never
    * let a new build read an old dir or vice versa — bumping this
    * string retires every older artifact to the rebuild path. v2 added
    * the stored `pq8` PQ-codes column and the trailer-terminated
    * anchor sidecar; v3 made `label` the first partition key (s11's
    * metadata-pruned serving path) and stores it in the incr index;
    * v4 added the stored `opq8` rotated-basis PQ codes + the OPQ
    * rotation/codebook sidecars (s15 serves from stored codes); v5
    * added the graph artifacts (adjacency/incr/fold) and switched the
    * fold's re-prune to α-diversity RobustPrune — folds built under
    * the v4 top-cos cut must not be served by v5 readers. */
  // v6: graph adjacency now built by the NN-descent kernel — the
  // version bump invalidates pre-round-15 graph artifacts (IVF
  // artifacts rebuild too: a false rebuild is the designed safe side)
  // v7: coarse-routed assignment past CoarseMinAnchors changes trained
  // anchors and cell assignments at swept (not gate/bench) scales.
  // v8: the folded generation's degree bound moved to FoldDeg = 2·DEG
  // (merged-budget-preserving compaction). Stale artifacts must
  // rebuild, not serve mixed content.
  // v9: BASE graph generations are α-RNG-diversified at build time
  // (diversifyAdjacency over the 2·width merged pool + reverse edges)
  // — a v8 kNN-cut adjacency must not serve under v9's beam sizing.
  // v10: append deltas carry BRIDGE edges (FreshDiskANN's
  // insert-as-search, batched): each appended node's top-[[BridgeK]]
  // base-graph beam results union into its forward list, so back-links
  // land on the base carriers serving will traverse even when the
  // batch is a tight cluster. The clustered (genvec) sweep audit
  // caught the v9 batch lane's island pathology: a whole cluster
  // appended together fills every kNN slot with same-batch siblings —
  // zero base edges, zero base back-links, reach 0.03.
  // v11: CONTENT-IDENTICAL to v10 — the bump exists because a prior
  // session briefly ran an experimental build under the literal string
  // "graft-index-v10" and then reverted it, leaving stale artifacts
  // whose names collide with real v10 fingerprints (sf0.001/sf0.01/
  // x100 incr stores without bridge edges were silently FOUND instead
  // of rebuilt — caught because a re-built artifact changed a reach
  // row that artifact identity said could not change). Version
  // strings are write-once even for reverted experiments.
  // v12: every sidecar is the one count/lines/`#end` codec
  // (graft.FsUtil.writeSidecar; the PQ/OPQ sidecars had no trailer and
  // the anchor header no line count) and every dir artifact is
  // published by rename with the marker written last.
  private val IndexFormatVersion = "graft-index-v12"

  /** Root directory for the durable index artifacts (s7/s8 parquet
    * indexes, s9/s10 PQ codebooks). Production contract: the index
    * lives BESIDE the corpus on the shared filesystem and survives
    * host restarts — `SPARK_GRAFT_INDEX_ROOT` (or the in-JVM
    * `graft.index.root` system property, which specs use) points there;
    * the sandbox default is java.io.tmpdir. */
  private[graft] def indexRoot: java.io.File = {
    val root = sys.env.get("SPARK_GRAFT_INDEX_ROOT")
      .orElse(sys.props.get("graft.index.root"))
      .map(new java.io.File(_))
      .getOrElse(new java.io.File(sys.props("java.io.tmpdir")))
    root.mkdirs()
    root
  }

  /** Content-version fingerprint of the corpus: [[graft.FsUtil.fingerprint]]
    * of the embeddings table under [[IndexFormatVersion]]. */
  private def corpusFingerprint(d: String): String =
    graft.FsUtil.fingerprint(new java.io.File(d, "embeddings.parquet"), IndexFormatVersion)

  /** The fingerprint-keyed home of the `kind` artifact of corpus `d`. */
  private def artifactDir(kind: String, d: String): java.io.File =
    new java.io.File(indexRoot, s"graft-$kind-${corpusFingerprint(d)}")

  /** One vector as its coords' raw IEEE-754 long bits (bit-exact round
    * trip: loaded anchors and books score identically to trained ones). */
  private def bitsLine(v: Array[Double]): String =
    v.map(x => java.lang.Double.doubleToLongBits(x).toString).mkString(" ")

  private def bitsOf(tokens: Seq[String], dim: Int): Array[Double] = {
    require(tokens.length == dim, "sidecar coord count drifted")
    tokens.map(t => java.lang.Double.longBitsToDouble(t.toLong)).toArray
  }

  /** Anchor sidecar payload: "nCells nAnchors dim", then one line per
    * anchor, cellId then its coords as raw bits. */
  private def writeAnchors(dir: java.io.File,
                           anchors: Array[(Int, Array[Double])], nCells: Int): Unit = {
    val dim = if (anchors.isEmpty) 0 else anchors(0)._2.length
    graft.FsUtil.writeSidecar(new java.io.File(dir, "_anchors.txt"),
      s"$nCells ${anchors.length} $dim" +: anchors.map { case (c, v) => s"$c ${bitsLine(v)}" })
  }

  private[graft] def readAnchors(dir: java.io.File): Option[(Array[(Int, Array[Double])], Int)] =
    graft.FsUtil.readSidecar(new java.io.File(dir, "_anchors.txt")) { ls =>
      val Array(nCells, nAnchors, dim) = ls(0).trim.split(" ").map(_.toInt)
      require(ls.size == nAnchors + 1, "anchor sidecar count drifted")
      val anchors = ls.tail.map { l =>
        val p = l.trim.split(" ")
        (p(0).toInt, bitsOf(p.toSeq.tail, dim))
      }.toArray
      (anchors, nCells)
    }

  /** Label-histogram sidecar (`_labels.txt`) — one `label count` line
    * per distinct metadata label, written at graph-artifact build time
    * so s25's selectivity estimate is a sidecar LOOKUP instead of a
    * per-serve aggregate job (label cardinality is tiny next to the
    * corpus, so the histogram is metadata-sized at any scale). */
  private def writeLabelHist(dir: java.io.File, counts: Seq[(Int, Long)]): Unit =
    graft.FsUtil.writeSidecar(new java.io.File(dir, "_labels.txt"),
      counts.sortBy(_._1).map { case (l, n) => s"$l $n" })

  private[graft] def readLabelHist(dir: java.io.File): Option[Map[Int, Long]] =
    graft.FsUtil.readSidecar(new java.io.File(dir, "_labels.txt")) { ls =>
      ls.map { l =>
        val Array(label, n) = l.trim.split(" ")
        label.toInt -> n.toLong
      }.toMap
    }

  /** Builds (once) the persisted IVF index: the corpus with its argmax
    * cell, int8 codes and integer norm, written as parquet PARTITIONED
    * BY the cell id — so a probe of nProbe cells is directory-level
    * partition pruning, not a corpus scan. Stored columns:
    *  - `vec_id`, `embedding` (original float32 — the rerank source),
    *  - `qv8` array<tinyint> int8 codes (4× less scan IO than float32;
    *    values are in [−127,127] so the tinyint round trip is exact),
    *  - `pq8` binary — the 8-byte PQ codes (encoded at ingest against
    *    the durable [[pqBooks]]; s9/s10 serve from this column),
    *  - `nq2` Σq² (bigint), `cell` (partition key).
    * The narrow [[graft.functions.VectorFunctions.topCells]] assignment
    * keeps the build a scan + write — its only shuffle-like cost is the
    * partitioned-write fan-out. */
  /** Nearest-centroid PQ encode of one vector: 8 one-byte codes.
    * Strict `<` on distance ⇒ the lowest centroid id wins ties — the
    * same tie-break the trainer uses, so encode is bit-deterministic
    * for given codebooks. Shared by the ingest-time index build (the
    * stored `pq8` column) and [[trainPqCodebooks]]' assignment step. */
  private[graft] def pqEncode(v: Array[Double],
                       books: Array[Array[Array[Double]]]): Array[Byte] = {
    // geometry comes from the books themselves (M subspaces × K
    // centroids × sub dims), so the same kernel encodes against the
    // durable 64-entry serving books and the sweep's 256-entry probe
    // books; a 255 id wraps to a signed byte and every decode site
    // reads it back with & 0xff
    val bigM = books.length
    val code = new Array[Byte](bigM)
    var m = 0
    while (m < bigM) {
      val bm = books(m); val bigK = bm.length; val sub = bm(0).length
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < bigK) {
        var dist = 0.0; var i = 0
        while (i < sub) {
          val t = v(m * sub + i) - bm(c)(i); dist += t * t; i += 1
        }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      code(m) = best.toByte
      m += 1
    }
    code
  }

  /** The index build/append kernel: assign + int8-quantize a raw
    * embeddings frame against FROZEN anchors — one narrow projection
    * (shuffle-free at any corpus size), shared by the initial build
    * (S7) and incremental appends (S8). When PQ `books` are given, the
    * same pass also PQ-encodes each vector into a stored 8-byte `pq8`
    * binary column — encode is INGEST work, done once per corpus
    * version; the s9/s10 serving paths then scan stored codes instead
    * of re-encoding per query (the s7 treatment applied to PQ). */
  private[graft] def assignQuantize(raw: DataFrame, anchors: Array[(Int, Array[Double])],
                             books: Option[Array[Array[Array[Double]]]] = None,
                             opq: Option[(Array[Array[Double]],
                                          Array[Array[Array[Double]]])] = None): DataFrame = {
    // round-16: native quantization expressions (see s5) — the stored
    // codes/norms are exact integers, so artifact bytes are unchanged
    val base = raw
      .select(col("vec_id"), col("label"), col("embedding"),
        graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(vecNorm2(col("v"))))
      .withColumn("scale", vecMaxAbs(col("v")))
      .withColumn("qv", int8Codes(col("v"), col("scale")))
      .withColumn("nq2", vecNorm2Int(col("qv")))
      .withColumn("cell",
        assignCells(col("v"), col("nrm"), anchors, 1)(0))
      .select(col("vec_id"), col("label"), col("embedding"),
        col("qv").cast("array<tinyint>").as("qv8"),
        col("nq2"), col("cell"))
    if (books.isEmpty && opq.isEmpty) base
    else {
      // still one narrow pass: append the 8-byte code column(s) per
      // row, no join — identity-basis pq8 and rotated-basis opq8 are
      // both ingest work, encoded together off one float read
      val s = raw.sparkSession
      val bB = s.sparkContext.broadcast(books)
      val oB = s.sparkContext.broadcast(opq)
      val outSchema = (books.map(_ => "pq8").toSeq ++ opq.map(_ => "opq8"))
        .foldLeft(base.schema)(_.add(_, org.apache.spark.sql.types.BinaryType))
      val embIdx = base.schema.fieldIndex("embedding")
      base.mapPartitions { rows =>
        val bk = bB.value; val oq = oB.value
        rows.map { r =>
          val emb = r.getSeq[Float](embIdx)
          val v = new Array[Double](emb.length)
          var i = 0
          while (i < v.length) { v(i) = emb(i).toDouble; i += 1 }
          val extra = bk.map(b => pqEncode(v, b)).toSeq ++
            oq.map { case (rot, ob) => pqEncode(rotApply(rot, v), ob) }
          org.apache.spark.sql.Row.fromSeq(r.toSeq ++ extra)
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    }
  }

  /** The durable index handle: (path, frozen anchors, trained nCells).
    * Reuses the fingerprint-keyed on-disk index when present (no scan,
    * no training — the sidecar carries the anchors); builds it once
    * otherwise. */
  private[graft] def ivfIndex(s: SparkSession, d: String)
      : (String, Array[(Int, Array[Double])], Int) =
    indexCache.getOrElseUpdate((s, d), {
      val (path, (anchors, nCells)) =
        graft.FsUtil.publishDir(artifactDir("ivf", d))(readAnchors) { tmp =>
          val e = prepared(s, d)
          val nCells = ivfCells(e.count())
          val anchors = trainedAnchors(s, d, e)
          val books = pqBooks(s, d, e)
          // label is the FIRST partition key: a metadata-filtered search
          // (s11) prunes whole label directories before any vector is
          // read; the cell level below it keeps s7's probe pruning.
          // Both code columns (identity-basis pq8 for s9/s10, rotated
          // opq8 for s15) are encoded in this one ingest pass.
          // ONE file per (label, cell) directory: partitionBy from W
          // shuffle partitions otherwise writes up to W files per dir
          // (measured 41k files for 331 MB at the 30× sweep point,
          // with every probe paying listing/footer/task overhead ∝
          // file count — the round-12 super-linear st18/s7 break).
          // Hash-repartitioning on the partition columns routes each
          // directory through exactly one task, and at the √n cell
          // geometry one file per cell is also the right 100 TB
          // shape: rows/cell ≈ √n ⇒ ~200 MB parquet files at 10¹¹
          // vectors.
          assignQuantize(embeddings(s, d), anchors, Some(books),
              Some((opqRot(s, d, e), opqBooks(s, d, e))))
            .repartition(col("label"), col("cell"))
            .write.mode("overwrite").partitionBy("label", "cell")
            .parquet(tmp.getAbsolutePath)
          writeAnchors(tmp, anchors, nCells)
          (anchors, nCells)
        }
      (path, anchors, nCells)
    })

  private[graft] def ivfIndexPath(s: SparkSession, d: String): String =
    ivfIndex(s, d)._1

  /** S7: probe the PERSISTED index — the production serving path that
    * s6 computes in-query. Query cells are resolved first (tiny), then
    * the scoring scan reads ONLY the probed cell directories (partition
    * pruning — PipelineSpec asserts non-empty PartitionFilters) and only
    * the int8 columns (column pruning); the float embeddings are read
    * in a second pruned scan for the 2K-per-query shortlist join alone.
    * Output is bit-identical to s6 (same anchors, assignment, scoring,
    * rerank — PipelineSpec asserts equality), so it carries the same
    * recall gate. */
  def s7AnnIndexProbe(s: SparkSession, d: String): DataFrame = {
    val (path, anchors, nCells) = ivfIndex(s, d)
    val nProbe = math.max(4, nCells / 4)
    withRecallGate(s, d, "s7", probeIndex(s, path, prepared(s, d), anchors, nProbe),
      floor = 0.7)
  }

  /** The serving-path probe against a persisted cell-partitioned index:
    * pruned int8 scoring scan + pruned float rerank scan (see
    * [[s7AnnIndexProbe]]'s Scaladoc for the plan contract). Shared by
    * S7 (full build) and S8 (build + incremental append). */
  private[graft] def probeIndex(s: SparkSession, path: String, e: DataFrame,
                         anchors: Array[(Int, Array[Double])],
                         nProbe: Int,
                         mask: Option[DataFrame] = None,
                         delta: Option[DataFrame] = None): DataFrame = {
    val idx = s.read.parquet(path)
    // query side: same derivation as s6, restricted to the query rows
    // (round-16: native quantization expressions, see s5)
    val qSide = e.filter(col("vec_id") < NQueries)
      .withColumn("scale", vecMaxAbs(col("v")))
      .withColumn("qv", int8Codes(col("v"), col("scale")))
      .withColumn("nq2", vecNorm2Int(col("qv")))
    // round-16: the probe subtree (query scan + quantize + cell
    // ranking) previously computed TWICE — once for the probed-cell
    // collect, once again inside the broadcast; collecting the rows
    // once feeds both (≤ NQueries·nProbe rows, broadcast-sized by
    // construction)
    val probesDf = queryProbes(qSide, anchors, nProbe,
      "vec_id", "v", "nrm", "qv", "nq2")
    val probeRows = probesDf.collect() // bounded: ≤ NQueries·nProbe probe rows
    val probes = broadcast(s.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probesDf.schema))
    // bounded: the probed cell ids — ≤ NQueries·nProbe ints
    val probeCells = probeRows.map(_.getAs[Int]("cell")).distinct.sorted

    // int8 scoring over the PRUNED scan: only probed cell directories,
    // only (vec_id, qv8, nq2) columns — the floats stay on disk. A
    // tombstone mask (s12's delete log, ≪ corpus) is a broadcast
    // left_anti on vec_id: deleted rows never enter scoring, so they
    // can't reach the shortlist or the float rerank either.
    // round-16: the stored tinyint codes feed vec_dot_int directly —
    // no per-row cast-to-bigint array copy on the scan side
    val cand0 = idx.filter(col("cell").isin(probeCells.map(_.asInstanceOf[Any]): _*))
      .select(col("vec_id"), col("qv8").as("qv"),
        col("nq2"), col("cell"))
    val candMasked = mask.fold(cand0)(t =>
      cand0.join(broadcast(t.select(col("vec_id"))), Seq("vec_id"), "left_anti"))
    // a delta memtable (s13's re-embedded rows in assignQuantize form,
    // ≪ corpus) joins the scoring scan after the mask: the LSM shape —
    // immutable base + tombstones + small live delta
    val cand = delta.fold(candMasked)(dl =>
      candMasked.unionByName(dl
        .filter(col("cell").isin(probeCells.map(_.asInstanceOf[Any]): _*))
        .select(col("vec_id"), col("qv8").as("qv"),
          col("nq2"), col("cell"))))
    val scoredQ = probes.as("q")
      .join(cand.as("e"),
        col("q.cell") === col("e.cell") && col("q.vec_id") =!= col("e.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("e.vec_id").as("neighbor_id"),
        col("q.v").as("qv_f"), col("q.nrm").as("qn"),
        round(
          vecDotInt(col("q.qv"), col("e.qv"))
            .cast("double") /
            (sqrt(col("q.nq2").cast("double")) * sqrt(col("e.nq2").cast("double"))), 4)
          .as("cosq4"))
    val short = scoredQ.withColumn("qrn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosq4").desc, col("neighbor_id"))))
      .filter(col("qrn") <= 2 * K)

    // float fetch for the shortlist only: second pruned scan reading
    // (vec_id, embedding), broadcast-joined to the tiny shortlist.
    // With a mask the base floats are anti-joined too (an updated id
    // in the shortlist must take its floats from the DELTA, never the
    // stale base row), and the delta's floats union in after.
    val fBase0 = idx.filter(col("cell").isin(probeCells.map(_.asInstanceOf[Any]): _*))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("fv"))
    val fBase = mask.fold(fBase0)(t =>
      fBase0.join(broadcast(t.select(col("vec_id"))), Seq("vec_id"), "left_anti"))
    val fAll = delta.fold(fBase)(dl =>
      fBase.unionByName(dl
        .filter(col("cell").isin(probeCells.map(_.asInstanceOf[Any]): _*))
        .select(col("vec_id"),
          graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("fv"))))
    val floats = fAll.select(col("vec_id").as("fvec_id"), col("fv"))
      .withColumn("fnrm", sqrt(vecNorm2(col("fv"))))
    val exact = floats.join(broadcast(short), col("fvec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(vecDot(col("qv_f"), col("fv")) / (col("qn") * col("fnrm")), 4).as("cos4"))
    rerank(exact).select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
  }

  // ------------------------------------------------------------- S8
  /** Incremental index APPEND — the ingest path of a production ANN
    * service: anchors are FROZEN at index-creation time (trained on the
    * initial 90% slice), and a later batch (vec_id % 10 = 9) is
    * assigned + quantized with those frozen anchors and appended as new
    * files under its cell directories (`mode("append")` on the
    * cell-partitioned layout — no rewrite of existing data, no
    * retraining, no re-assignment of the existing corpus; the P6 move
    * applied to the vector index). Probing is byte-for-byte the S7
    * serving path; PipelineSpec asserts the appended index answers
    * bit-identically to a from-scratch build over the union with the
    * same anchors, and the recall gate holds against exact S1. */
  private val incrIndexCache =
    new graft.FsUtil.SessionMemo[String, (String, Array[(Int, Array[Double])], Int)]

  /** Like [[ivfIndex]], durable across sessions: the dir is keyed by
    * the corpus fingerprint and published by [[graft.FsUtil.publishDir]]
    * only after the append lands, so a crash mid-build publishes
    * nothing and the append can never be applied twice. */
  private[graft] def incrIndexPath(s: SparkSession, d: String,
                                   fromScratch: Boolean = false)
      : (String, Array[(Int, Array[Double])], Int) =
    incrIndexCache.getOrElseUpdate((s, if (fromScratch) d + "#scratch" else d), {
      val dir = new java.io.File(artifactDir("ivf-incr", d).getPath + (if (fromScratch) "-scratch" else ""))
      val (path, (anchors, nCells)) = graft.FsUtil.publishDir(dir)(readAnchors) { tmp =>
        val raw = embeddings(s, d)
        val base = raw.filter(col("vec_id") % 10 =!= 9)
        val eBase = base.select(col("vec_id"),
          graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v"))
          .withColumn("nrm", sqrt(vecNorm2(col("v"))))
        val nCells = ivfCells(eBase.count())
        val anchors = trainAnchors(
          eBase.select(col("vec_id"), col("v"), col("nrm")), nCells, iters = 2)
        val out = tmp.getAbsolutePath
        // one file per cell dir per generation — see ivfIndex's build
        if (fromScratch)
          assignQuantize(raw, anchors).repartition(col("cell"))
            .write.mode("overwrite").partitionBy("cell").parquet(out)
        else {
          assignQuantize(base, anchors).repartition(col("cell"))
            .write.mode("overwrite").partitionBy("cell").parquet(out)
          assignQuantize(raw.filter(col("vec_id") % 10 === 9), anchors)
            .repartition(col("cell"))
            .write.mode("append").partitionBy("cell").parquet(out)
        }
        writeAnchors(tmp, anchors, nCells)
        (anchors, nCells)
      }
      (path, anchors, math.max(4, nCells / 4))
    })

  /** Durable BASE-ONLY generation (the 90% slice with frozen anchors,
    * cell-partitioned, sidecar'd) — the starting point a streaming
    * ingest (st12) appends onto. Same deterministic anchor training as
    * [[incrIndexPath]] (same frame, same nCells, same iters), so a
    * stream-appended copy of this generation probes bit-identically to
    * s8's batch-appended artifact. Fingerprint-keyed and write-once
    * like every other index artifact; returns (path, anchors, nCells). */
  private val baseIndexCache =
    new graft.FsUtil.SessionMemo[String, (String, Array[(Int, Array[Double])], Int)]

  private[graft] def baseIndexPath(s: SparkSession, d: String)
      : (String, Array[(Int, Array[Double])], Int) =
    baseIndexCache.getOrElseUpdate((s, d), {
      val (path, (anchors, nCells)) =
        graft.FsUtil.publishDir(artifactDir("ivf-base", d))(readAnchors) { tmp =>
          val base = embeddings(s, d).filter(col("vec_id") % 10 =!= 9)
          val eBase = base.select(col("vec_id"),
              graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v"))
            .withColumn("nrm", sqrt(vecNorm2(col("v"))))
          val nCells = ivfCells(eBase.count())
          val anchors = trainAnchors(
            eBase.select(col("vec_id"), col("v"), col("nrm")), nCells, iters = 2)
          // one file per cell dir — see ivfIndex's build
          assignQuantize(base, anchors).repartition(col("cell"))
            .write.mode("overwrite").partitionBy("cell").parquet(tmp.getAbsolutePath)
          writeAnchors(tmp, anchors, nCells)
          (anchors, nCells)
        }
      (path, anchors, nCells)
    })

  /** Ingest-time index builds, callable from a bench/driver warmup:
    * building a persisted index (or training the persisted PQ
    * codebooks) is write-once ingest work; the s7/s8/s9/s10 queries
    * measure the SERVING path. No-op when the fingerprint-keyed
    * artifacts already exist. */
  def ensureIndexes(s: SparkSession, d: String): Seq[(String, String)] = {
    // each artifact reports found-vs-built FROM THE BUILD PATH ITSELF
    // ([[graft.FsUtil.artifactStatus]], recorded at the reuse/build decision point,
    // not from a separate filesystem pre-check that can race a
    // concurrent builder or miss an in-memory cache hit): a bench run
    // whose warmup did NOT find/build an index is self-diagnosing —
    // the serving queries would otherwise silently pay the build cost.
    // The statuses are RETURNED so the bench can persist them into the
    // repo-written artifact (a stderr-only report is discarded by any
    // tail-window consumer — the round-9 lesson).
    def report(name: String, path: String): (String, String) = {
      val status = graft.FsUtil.artifactStatus.getOrElse(path, "cached")
      System.err.println(s"[bench] $name: $status at $path")
      name -> status
    }
    Seq(
      report("ivf_index", ivfIndex(s, d)._1),
      report("incr_index", incrIndexPath(s, d)._1),
      report("base_index", baseIndexPath(s, d)._1),
      report("graph_index", graphIndexPath(s, d)._1),
      report("graph_incr", graphIncrPath(s, d)._1),
      report("graph_fold", graphFoldPath(s, d)),
      { pqBooks(s, d, prepared(s, d)); report("pq_codebooks", pqBooksPath(d).getAbsolutePath) },
      { opqRot(s, d, prepared(s, d))
        report("opq_rotation", opqRotPath(d).getAbsolutePath) },
      { opqBooks(s, d, prepared(s, d))
        report("opq_codebooks", opqBooksPath(d).getAbsolutePath) },
      report("s14_final_index", s14RebuildPath(s, d)),
      { s14ExactWitness(s, d); report("s14_exact_witness", witnessPath("s14-exact", d)) },
      { s14FilteredWitness(s, d)
        report("s14_filtered_witness", witnessPath("s14-filtered", d)) },
      { s14FoldRef(s, d); report("s14_foldref_witness", witnessPath("s14-foldref", d)) },
      { s12ExactWitness(s, d)
        report("s12_exact_witness", witnessPath("s12-exact", d)) },
      { s13ExactWitness(s, d)
        report("s13_exact_witness", witnessPath("s13-exact", d)) },
      report("audio_fp_index",
        graft.operators.Multimodal.audioIndexPath(s, d)),
      report("image_fp_index",
        graft.operators.Multimodal.imageIndexPath(s, d)))
  }

  def s8AnnIndexAppend(s: SparkSession, d: String): DataFrame = {
    val (path, anchors, nProbe) = incrIndexPath(s, d)
    withRecallGate(s, d, "s8", probeIndex(s, path, prepared(s, d), anchors, nProbe),
      floor = 0.7)
  }

  // ------------------------------------------------------------- S12
  /** The tombstoned id set for s12: every 17th corpus vector is
    * deleted (query vectors excluded so the probe surface is
    * unchanged). In production this is the recent delete log — tiny
    * relative to the index, which is exactly why the serving path can
    * afford to mask it per query instead of rewriting the index. */
  private[graft] def tombstones(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"))
      .filter(col("vec_id") % 17 === 5 && col("vec_id") >= NQueries)

  /** S12: DELETE serving against the durable ANN index — the missing
    * CRUD member of the index family (S7 build/probe, S8 append). The
    * index on disk is NOT touched: deletes are a tombstone id set
    * masked out of the probe's int8 scoring scan by a broadcast
    * left_anti join (the X12-decontamination move applied to the
    * vector index), so a delete is visible to search the moment it is
    * logged, at zero write cost. The durable artifact stays shared
    * with s7/s9/s10/s11 — immutability is what makes their fingerprint
    * reuse sound. Reclaiming the space is a SEPARATE maintenance pass
    * ([[compactIndex]]): rewrite ONLY the cells that carry tombstones,
    * copy every other cell's files byte-for-byte — cost ∝ affected
    * cells, not corpus (PipelineSpec proves masked-probe ≡
    * compacted-probe bit-identically and that untouched cells' files
    * survive verbatim).
    *
    * Gates (both driver-enforced via Verify.gateInvariants): recall ≥
    * 0.7 against the EXACT top-K among surviving vectors, and
    * `no_deleted_ok` — no tombstoned id may ever surface (soundness,
    * the guarantee a filtered-ANN user actually relies on). */
  def s12AnnDelete(s: SparkSession, d: String): DataFrame = {
    val (path, anchors, nCells) = ivfIndex(s, d)
    val nProbe = math.max(4, nCells / 4)
    val tomb = tombstones(s, d)
    // K·NQueries rows consumed three times (recall count, soundness
    // count, output) — checkpoint so the masked probe runs ONCE; the
    // pre-checkpoint frame goes to the plan hook so Explain/specs see
    // the tombstone-masked pruned-probe plan, not a LogicalRDD scan
    val probe = probeIndex(s, path, prepared(s, d), anchors, nProbe,
      mask = Some(tomb))
    registerGatedPlan(s, "s12", probe)
    val res = probe.localCheckpoint(true)
    // exact baseline among SURVIVORS only — bit-deterministic from the
    // corpus, so a durable witness (s14's discipline)
    val exactPairs = pairSet(s12ExactWitness(s, d))
    val recall = (pairSet(res) & exactPairs).size.toDouble / exactPairs.size
    // the soundness audit stays a Spark job: tombstones are
    // corpus-proportional at scale, never driver-collectable
    val deletedHits = res.join(broadcast(tomb),
      res("neighbor_id") === tomb("vec_id")).count()
    res
      .withColumn("recall4", lit(math.round(recall * 1e4) / 1e4))
      .withColumn("recall_ok", lit(recall >= 0.7))
      .withColumn("no_deleted_ok", lit(deletedHits == 0L))
  }

  /** Targeted index compaction — the maintenance pass that makes s12's
    * tombstones physical. Only the (label, cell) partitions that carry
    * tombstoned rows are rewritten (minus those rows); every other
    * partition's parquet files and the root sidecars are copied
    * byte-for-byte, so compaction cost scales with the AFFECTED cell
    * count, never the corpus. Writes to a fresh directory — the live
    * index is immutable (s7/s9/s10/s11 fingerprint reuse depends on
    * that); the caller swaps paths when it adopts the compacted
    * generation. */
  private[graft] def compactIndex(s: SparkSession, srcPath: String,
                                  dstPath: String, tomb: DataFrame): Unit = {
    val idx = s.read.parquet(srcPath)
    val affected = idx.join(broadcast(tomb.select(col("vec_id"))), Seq("vec_id"))
      .select(col("label"), col("cell")).distinct()
      .collect().map(r => (r.get(0).toString, r.get(1).toString)).toSet // bounded: <= |tombstones| (label, cell) pairs
    // copy sidecars + unaffected partition files verbatim: the source
    // generation is immutable ⇒ hardlink (metadata cost) with
    // byte-copy fallback; REPLACE semantics preserved
    graft.FsUtil.linkTree(srcPath, dstPath, keep = { rel =>
      def part(prefix: String): Option[String] =
        rel.split('/').find(_.startsWith(prefix + "="))
          .map(_.substring(prefix.length + 1))
      (part("label"), part("cell")) match {
        case (Some(l), Some(c)) => !affected.contains((l, c))
        case _ => true // root sidecar / non-partition file
      }
    }, replace = true)
    if (affected.nonEmpty) {
      // rewrite ONLY the affected partitions, minus the tombstoned rows.
      // The pre-write repartition clusters each (label, cell) into one
      // task ⇒ ONE file per rewritten partition dir — the small-file
      // compaction a production rewrite wants at any scale (without it,
      // every scan task that holds a few surviving rows of a partition
      // emits its own tiny file); the shuffle moves affected-partition
      // rows only, which is the pass's whole working set.
      val aff = affected.toSeq
      val affDf = broadcast(s.createDataFrame(
        s.sparkContext.parallelize(aff.map(t =>
          org.apache.spark.sql.Row(t._1.toInt, t._2.toInt)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("label",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("cell",
            org.apache.spark.sql.types.IntegerType)))))
      idx.join(affDf, Seq("label", "cell"))
        .join(broadcast(tomb.select(col("vec_id"))), Seq("vec_id"), "left_anti")
        .repartition(col("label"), col("cell"))
        .write.mode("append").partitionBy("label", "cell").parquet(dstPath)
    }
  }

  /** File-count compaction BACKSTOP for streamed cell-partitioned
    * appends: a cell dir holding MORE than this many parquet files gets
    * folded to one by [[foldCells]] regardless of bytes — per-probe
    * listing/footer/task overhead is ∝ file COUNT, so the count bound
    * must hold even when every file is individually row-group-sized.
    * 4 bounds that overhead to a small constant while letting a few
    * epochs accumulate between folds (the fold itself costs one
    * read+write of the affected cells). */
  private[graft] val MaxFilesPerCell = 4

  /** SMALL-FILE bytes threshold for the compaction trigger — ~one
    * parquet row group. A file at or past this size is already
    * compacted enough (rewriting it buys no scan locality); a cell
    * whose files BELOW it sum past it holds a row group's worth of
    * fragments and is due a fold. This is the primary trigger at
    * petabyte cell sizes, where a raw file-count rule would keep
    * rewriting huge already-dense cells just because a few tiny epoch
    * deltas landed; [[MaxFilesPerCell]] stays as the listing-cost
    * backstop. */
  private[graft] val CellSmallFileBytes: Long = 128L << 20

  /** Small-file FOLD for a cell-partitioned generation — the LSM
    * compaction that keeps streamed appends (st12: one file per touched
    * cell PER epoch) from re-growing the listing pathology the
    * one-file-per-dir build fix removed: without it a long-lived ingest
    * stream accumulates epochs × cells files and every probe pays
    * listing/footer/task overhead ∝ file count again. Rewrites ONLY
    * `cells` (each clustered to ONE file via the pre-write repartition
    * on the partition column); every other cell's files and the root
    * sidecars are HARDLINKED byte-for-byte into the fresh `dstPath`
    * generation — cost ∝ affected cells' rows + total file COUNT
    * (metadata), never the corpus. The source generation is immutable
    * (never mutated in place): a reader mid-scan of the old generation
    * is undisturbed, and the caller adopts the new one by pointer swap
    * — the same generation discipline as st13's bucket rewrite. */
  private[graft] def foldCells(s: SparkSession, srcPath: String,
                               dstPath: String, cells: Set[Int]): Unit = {
    val dst = java.nio.file.Paths.get(dstPath)
    // crash idempotency: a fold that died between writing this
    // generation and the caller's pointer swap leaves a PARTIAL dst
    // behind; the re-fired fold targets the SAME -genN path (genSeq is
    // re-derived from the still-old pointer), and appending onto the
    // leftovers would double the folded cells' rows. Start clean — the
    // source generation is the immutable truth until the pointer moves.
    if (java.nio.file.Files.isDirectory(dst))
      graft.FsUtil.deleteTree(dst.toFile)
    // _SUCCESS is re-created IN PLACE by the append below — linking
    // it would let that truncation reach the immutable source
    graft.FsUtil.linkTree(srcPath, dstPath, keep = { rel =>
      val cellOf = rel.split('/').find(_.startsWith("cell="))
        .map(_.substring(5).toInt)
      rel != "_SUCCESS" && !cellOf.exists(cells.contains)
    }, replace = true)
    if (cells.nonEmpty) {
      // partition pruning keeps the read to the folded cells' files
      s.read.parquet(srcPath)
        .filter(col("cell").isin(cells.toSeq.map(Integer.valueOf): _*))
        .repartition(col("cell"))
        .write.mode("append").partitionBy("cell").parquet(dstPath)
    }
  }

  /** Per-cell (parquet file count, bytes summed over files SMALLER
    * than `smallBytes`) for the cells named — the compaction trigger's
    * only metadata read: cost ∝ |cells| dir listings, never a
    * full-tree walk (a streamed ingest checks just the cells its batch
    * touched). Files at or past `smallBytes` are excluded from the
    * byte sum: they are already row-group-dense and folding them buys
    * nothing. */
  private[graft] def cellFileStats(path: String, cells: Set[Int],
      smallBytes: Long = CellSmallFileBytes): Map[Int, (Int, Long)] =
    cells.iterator.map { c =>
      val d = new java.io.File(path, s"cell=$c")
      val fs = Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
      c -> (fs.length, fs.iterator.map(_.length)
        .filter(_ < smallBytes).sum)
    }.toMap

  /** The fold decision for one cell's [[cellFileStats]] row: small-file
    * bytes past a row group (primary — the fragments are worth merging)
    * OR file count past the listing backstop. */
  private[graft] def foldDue(stats: (Int, Long), maxFiles: Int,
                             smallBytes: Long): Boolean =
    stats._2 > smallBytes || stats._1 > maxFiles

  // ------------------------------------------------------------- S13
  /** The re-embedded id set for s13 (every 13th corpus vector, queries
    * excluded) — in production, the docs whose content changed since
    * the last index build. */
  private[graft] def updatedIds(s: SparkSession, d: String): DataFrame =
    embeddings(s, d).select(col("vec_id"))
      .filter(col("vec_id") % 13 === 7 && col("vec_id") >= NQueries)

  /** The corpus as it stands AFTER the update: updated ids carry a new
    * embedding (dimensions rotated left by one — deterministic, norm-
    * preserving, decisively different from the old vector). */
  private[graft] def updatedCorpus(s: SparkSession, d: String): DataFrame = {
    val upd = col("vec_id") % 13 === 7 && col("vec_id") >= NQueries
    embeddings(s, d).select(col("vec_id"), col("label"),
      when(upd, expr(
        "concat(slice(embedding, 2, size(embedding) - 1), slice(embedding, 1, 1))"))
        .otherwise(col("embedding")).as("embedding"))
  }

  /** S13: index UPDATE serving — the last CRUD member (S7 probes, S8
    * appends, S12 deletes, S13 re-embeds): documents whose content
    * changed get new vectors, and search must serve the NEW vector
    * without rebuilding the index. The serving shape is the LSM one —
    * the immutable base index, a tombstone set over the updated ids
    * (S12's broadcast anti-join), and a small quantized DELTA memtable
    * (the re-embedded rows assigned with the FROZEN anchors) unioned
    * into both the int8 scoring scan and the shortlist float fetch.
    * An updated id that reaches the shortlist takes its floats from
    * the delta — the stale base row is masked out of the float scan
    * too, so a stale score cannot be served.
    *
    * Gates (driver-enforced): recall ≥ 0.7 vs the exact top-K over the
    * UPDATED corpus, and `fresh_ok` — every returned (query, neighbor,
    * cos4) row must equal the exact recompute against the updated
    * corpus (a single stale float flips it). PipelineSpec adds the
    * from-scratch identity: masked+delta serving ≡ a full rebuild over
    * the updated corpus with the same anchors, bit for bit.
    *
    * Scale: the delta is |changed docs| rows — broadcast-sized by the
    * same argument as the delete log; base scan, pruning and plan
    * shape are S7's unchanged; a periodic compaction (S12's
    * [[compactIndex]] + an append) folds the delta in. */
  def s13AnnUpdate(s: SparkSession, d: String): DataFrame = {
    val (path, anchors, nCells) = ivfIndex(s, d)
    val nProbe = math.max(4, nCells / 4)
    val upd = updatedIds(s, d)
    val delta = assignQuantize(
      updatedCorpus(s, d).join(broadcast(upd), Seq("vec_id")), anchors)
    val probe = probeIndex(s, path, prepared(s, d), anchors, nProbe,
      mask = Some(upd), delta = Some(delta))
    registerGatedPlan(s, "s13", probe)
    val res = probe.localCheckpoint(true)
    // exact baseline + freshness recompute, both over the UPDATED corpus
    val uc = updatedCorpus(s, d).select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(vecNorm2(col("v"))))
    val q = broadcast(uc.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn")))
    // the brute-force recall baseline is bit-deterministic from the
    // corpus — durable witness (s14's discipline); the freshness audit
    // below stays LIVE because it checks the scores this run served
    val exactPairs = pairSet(s13ExactWitness(s, d))
    val recall = (pairSet(res) & exactPairs).size.toDouble / exactPairs.size
    val stale = res
      .join(uc.as("n"), res("neighbor_id") === col("n.vec_id"))
      .join(q, res("query_id") === col("qid"))
      .filter(round(vecDot(col("qv"), col("n.v")) / (col("qn") * col("n.nrm")), 4)
        =!= res("cos4")).count()
    res
      .withColumn("recall4", lit(math.round(recall * 1e4) / 1e4))
      .withColumn("recall_ok", lit(recall >= 0.7))
      .withColumn("fresh_ok", lit(stale == 0L))
  }

  // ------------------------------------------------------------- S14
  /** S14: the ANN index LIFECYCLE composed end-to-end — the round-9
    * family members proved individually (S7 build, S8 append, S12
    * delete+compact, S13 update) here compose into one maintenance
    * cycle, the way a production vector store actually runs them:
    *
    *   gen0 (durable [[ivfIndex]], frozen anchors + PQ books)
    *     → change log accumulates: tombstones (S12's set) and
    *       re-embeddings (S13's set; served masked+delta meanwhile)
    *     → FOLD: [[compactIndex]] rewrites only the cells carrying
    *       stale rows (tombstoned ∪ updated-old-version), copying every
    *       other cell's files byte-for-byte; then S8's append move
    *       lands the re-embedded delta (frozen anchors + books, full
    *       index schema incl. pq8) as new files under gen1's cell dirs
    *     → gen1 serves with a PLAIN probe — no mask, no delta; the LSM
    *       memtable is empty again.
    *
    * Gates (driver-enforced via `*_ok`): `fold_ok` — gen1's probe
    * answers BIT-IDENTICALLY to a from-scratch rebuild over the final
    * corpus (updated vectors, deletes applied) with the same anchors
    * and books, proving the fold lost and resurrected nothing (the
    * rebuild witness is itself a durable fingerprint-keyed artifact,
    * [[s14RebuildPath]], built once per corpus — the st12 base-reuse
    * lesson);
    * `filtered_ok` — S11's label-filtered serving through gen1 equals
    * the exact label-filtered recompute over the final corpus (the
    * label partition layer survived compaction + append); `recall_ok`
    * — ≥ 0.7 vs the exact top-K over the final corpus. Scale: fold
    * cost ∝ affected cells + |delta| (never corpus); both generations
    * are immutable — readers mid-probe on gen0 are undisturbed, the
    * path swap is the only mutation, the discipline
    * [[graft.FsUtil.publishDir]] gives every durable artifact. */
  /** The s14 identity WITNESS: a from-scratch encode of the FINAL
    * corpus (updates applied, deletes removed) with gen0's frozen
    * anchors + books. Bit-deterministic from the corpus alone, so it
    * is a DURABLE fingerprint-keyed artifact like the indexes it
    * witnesses — built once, reused by every later s14 invocation
    * (the st12 base-rebuild lesson: never re-pay ingest for a frame
    * that cannot change), published by [[graft.FsUtil.publishDir]]. */
  private[graft] def s14RebuildPath(s: SparkSession, d: String): String =
    graft.FsUtil.publishDir(artifactDir("s14-final", d))(_ => Some(())) { tmp =>
      val (_, anchors, _) = ivfIndex(s, d)
      val books = pqBooks(s, d, prepared(s, d))
      val finalCorpus = updatedCorpus(s, d)
        .join(broadcast(tombstones(s, d)), Seq("vec_id"), "left_anti")
      assignQuantize(finalCorpus, anchors, Some(books))
        .repartition(col("label"), col("cell"))
        .write.mode("overwrite").partitionBy("label", "cell")
        .parquet(tmp.getAbsolutePath)
    }._1

  /** Durable, fingerprint-keyed parquet materialization of a
    * bit-deterministic witness frame — [[s14RebuildPath]]'s discipline
    * generalized to reference ANSWERS: built once per corpus
    * content-version by [[graft.FsUtil.publishDir]], reused by every
    * later invocation. The frames cached here are exact brute-force
    * top-K references — tiny (≤ \|queries\|·K rows) but each costing a
    * full corpus scan to recompute, which steady-state gate runs must
    * not re-pay (the st12 base-reuse lesson applied to the gate's own
    * baselines). */
  private def durableWitness(s: SparkSession, name: String, d: String)
                            (build: => DataFrame): DataFrame =
    s.read.parquet(graft.FsUtil.publishDir(artifactDir(name, d))(_ => Some(())) { tmp =>
      build.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    }._1)

  private[graft] def witnessPath(name: String, d: String): String =
    artifactDir(name, d).getAbsolutePath

  /** st18's serving-identity baseline: the one-shot batch probe over
    * the durable index — deterministic from (corpus, index), so it is
    * a durable fingerprint-keyed witness (s14's discipline): streamed
    * serving re-proves bit-identity against it every run without
    * re-paying the full probe. */
  private[graft] def st18OneShotLive(s: SparkSession, d: String): DataFrame = {
    val (path, anchors, nCells) = ivfIndex(s, d)
    probeIndex(s, path, prepared(s, d), anchors, math.max(4, nCells / 4))
      .select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
  }
  private[graft] def st18OneShotWitness(s: SparkSession, d: String): DataFrame =
    durableWitness(s, "st18-oneshot", d)(st18OneShotLive(s, d))

  /** The live computation behind [[s14ExactWitness]] — exact top-K
    * (query_id, neighbor_id) over the FINAL corpus (updates applied,
    * deletes removed). Exposed separately so the spec can assert the
    * stored witness ≡ a fresh recompute. */
  private[graft] def s14ExactLive(s: SparkSession, d: String): DataFrame = {
    val finalCorpus = updatedCorpus(s, d)
      .join(broadcast(tombstones(s, d)), Seq("vec_id"), "left_anti")
    val uc = finalCorpus.select(col("vec_id"),
        graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(vecNorm2(col("v"))))
    val q = broadcast(uc.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn")))
    rerank(q.join(uc.as("e"), col("qid") =!= col("e.vec_id"))
      .select(col("qid").as("query_id"), col("e.vec_id").as("neighbor_id"),
        round(vecDot(col("qv"), col("e.v")) / (col("qn") * col("e.nrm")), 4)
          .as("cos4")))
      .select(col("query_id"), col("neighbor_id"))
  }

  /** s14's recall baseline, durable. */
  private[graft] def s14ExactWitness(s: SparkSession, d: String): DataFrame =
    durableWitness(s, "s14-exact", d)(s14ExactLive(s, d))

  /** s12's recall baseline: exact top-K among tombstone SURVIVORS
    * (s1's plan with the broadcast anti-mask on the corpus side) —
    * deterministic from the corpus, durable. */
  private[graft] def s12ExactWitness(s: SparkSession, d: String): DataFrame =
    durableWitness(s, "s12-exact", d) {
      val e = prepared(s, d)
      val live = e.join(broadcast(tombstones(s, d)), Seq("vec_id"), "left_anti")
      val q = broadcast(e.filter(col("vec_id") < NQueries))
      rerank(q.as("q")
        .join(live.as("e"), col("q.vec_id") =!= col("e.vec_id"))
        .select(col("q.vec_id").as("query_id"), col("e.vec_id").as("neighbor_id"),
          cos4(col("q.nrm"), col("e.nrm")).as("cos4")))
        .select(col("query_id"), col("neighbor_id"))
    }

  /** s13's recall baseline: exact top-K over the UPDATED corpus (no
    * deletes) — deterministic from the corpus, durable. */
  private[graft] def s13ExactWitness(s: SparkSession, d: String): DataFrame =
    durableWitness(s, "s13-exact", d) {
      val uc = updatedCorpus(s, d).select(col("vec_id"),
          graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v"))
        .withColumn("nrm", sqrt(vecNorm2(col("v"))))
      val q = broadcast(uc.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn")))
      rerank(q
        .join(uc.as("e"), col("qid") =!= col("e.vec_id"))
        .select(col("qid").as("query_id"), col("e.vec_id").as("neighbor_id"),
          round(vecDot(col("qv"), col("e.v")) / (col("qn") * col("e.nrm")), 4)
            .as("cos4")))
        .select(col("query_id"), col("neighbor_id"))
    }

  /** s14's fold-identity reference: the probe answer over the durable
    * from-scratch final-corpus index ([[s14RebuildPath]]) — both the
    * index and the probe are bit-deterministic, so the answer is a
    * durable frame too. */
  private[graft] def s14FoldRef(s: SparkSession, d: String): DataFrame = {
    val (_, anchors, nCells) = ivfIndex(s, d)
    val nProbe = math.max(4, nCells / 4)
    durableWitness(s, "s14-foldref", d)(
      probeIndex(s, s14RebuildPath(s, d), prepared(s, d), anchors, nProbe))
  }

  /** Label-filtered exact top-K of the s14 query surface against
    * `src` (gen1's parquet, or the final corpus itself): S11's serving
    * semantics evaluated brute-force inside the query labels. The
    * query side is always the final corpus; only the searched side
    * varies. */
  private def s14FilteredTopK(s: SparkSession, d: String,
                              src: DataFrame): DataFrame = {
    val finalCorpus = updatedCorpus(s, d)
      .join(broadcast(tombstones(s, d)), Seq("vec_id"), "left_anti")
    val labelType = embeddings(s, d).schema("label").dataType
    val q0 = finalCorpus.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("label"),
        graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(vecNorm2(col("v"))))
    // ONE action materializes the ≤ NQueries-row query side; the label
    // enumeration and the join's broadcast side reuse it as a local
    // relation instead of each recomputing the finalCorpus join chain
    val qRows = q0.collect() // bounded: NQueries query rows
    val q = s.createDataFrame(
      java.util.Arrays.asList(qRows: _*), q0.schema)
    val qLabels = qRows.map(_.get(q0.schema.fieldIndex("label"))).distinct
    val e = src.filter(col("label").isin(qLabels: _*))
      .select(col("vec_id").as("neighbor_id"), col("label").as("elabel"),
        graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("ev"))
      .withColumn("enrm", sqrt(vecNorm2(col("ev"))))
    rerank(broadcast(q).as("q")
      .join(e, col("q.vec_id") =!= col("neighbor_id") &&
        col("q.label") === col("elabel"))
      .select(col("q.vec_id").as("query_id"),
        col("q.label").cast(labelType).as("label"), col("neighbor_id"),
        round(vecDot(col("q.v"), col("ev")) / (col("q.nrm") * col("enrm")), 4)
          .as("cos4")))
  }

  /** The finalCorpus side of s14's `filtered_ok`, durable. */
  private[graft] def s14FilteredWitness(s: SparkSession, d: String): DataFrame =
    durableWitness(s, "s14-filtered", d) {
      val finalCorpus = updatedCorpus(s, d)
        .join(broadcast(tombstones(s, d)), Seq("vec_id"), "left_anti")
      s14FilteredTopK(s, d, finalCorpus)
    }

  def s14AnnLifecycle(s: SparkSession, d: String): DataFrame = {
    val (gen0, anchors, nCells) = ivfIndex(s, d)
    val nProbe = math.max(4, nCells / 4)
    val books = pqBooks(s, d, prepared(s, d))
    val tomb = tombstones(s, d)
    val upd = updatedIds(s, d)
    // stale-on-disk rows = deleted ∪ old versions of updated; the delta
    // re-encodes the updated rows (delete wins on overlap)
    val stale = tomb.unionByName(upd).distinct()
    val delta = assignQuantize(
      updatedCorpus(s, d).join(broadcast(upd), Seq("vec_id"))
        .join(broadcast(tomb), Seq("vec_id"), "left_anti"),
      anchors, Some(books))
    // scratch generation: owner-tagged, so a killed run's gen1 is
    // reclaimed by the next run instead of accumulating
    graft.FsUtil.reclaimOrphans(indexRoot, "graft-s14-gen1-")
    val gen1 = new java.io.File(indexRoot, s"graft-s14-gen1-${graft.FsUtil.ownerTag}")
    graft.FsUtil.deleteTree(gen1)
    try {
      // FOLD: targeted compaction, then the append — S12 + S8 composed.
      // The delta is the LSM memtable: broadcast-sized by construction,
      // so it lands as one file per touched partition (coalesce(1) is
      // the scale-honest write shape for a frame that small)
      compactIndex(s, gen0, gen1.getAbsolutePath, stale)
      // one file per touched partition dir, like the compaction's own
      // rewrite: clustering by the partition columns keeps the
      // one-file-per-dir layout while the ~|touched dirs| parquet
      // writers run across tasks — the previous coalesce(1) wrote
      // every dir's file from ONE task sequentially, which at a
      // dense-update fixture (~300 touched dirs) was most of the
      // fold's wall time (round-16 trace: fold+append 7.6 → ~3 s)
      delta.repartition(col("label"), col("cell"))
        .write.mode("append").partitionBy("label", "cell")
        .parquet(gen1.getAbsolutePath)
      // serve gen1 plain (the whole point: no mask, no delta)
      val probe = probeIndex(s, gen1.getAbsolutePath, prepared(s, d),
        anchors, nProbe)
      registerGatedPlan(s, "s14", probe)
      val res = probe.localCheckpoint(true)
      // identity witness: the probe ANSWER over the durable from-scratch
      // final-corpus index — index static, probe deterministic, so the
      // answer itself is a durable frame; only the gen1 side (folded
      // this run) is probed live
      val ref = s14FoldRef(s, d)
      val resRows = res.collect() // bounded: <= NQueries*K gate rows — shared by fold and recall gates
      val foldOk = resRows.map(_.toSeq).toSet ==
        ref.collect().map(_.toSeq).toSet // bounded: <= NQueries*K witness rows
      // S11 through gen1: label dirs pruned first, exact inside labels.
      // The finalCorpus reference side is bit-deterministic from the
      // corpus alone, so it is a durable witness — only the gen1 side
      // (which this run just folded) is recomputed live.
      val filteredOk =
        s14FilteredTopK(s, d, s.read.parquet(gen1.getAbsolutePath))
          .collect().map(_.toSeq).toSet == // bounded: <= NQueries*K gate rows
          s14FilteredWitness(s, d).collect().map(_.toSeq).toSet
      // recall vs the durable exact-top-K witness over the final corpus,
      // computed DRIVER-SIDE from the already-collected gate rows:
      // intersect().count() paid two extra jobs plus a shuffle for
      // ≤ NQueries·K rows that are already on the driver
      val exactPairs = pairSet(
        s14ExactWitness(s, d).select(col("query_id"), col("neighbor_id")))
      val qi = res.schema.fieldIndex("query_id")
      val ni = res.schema.fieldIndex("neighbor_id")
      val resPairs = resRows.map(r => (r.getLong(qi), r.getLong(ni))).toSet
      val recall = (resPairs & exactPairs).size.toDouble / exactPairs.size
      res
        .withColumn("recall4", lit(math.round(recall * 1e4) / 1e4))
        .withColumn("recall_ok", lit(recall >= 0.7))
        .withColumn("fold_ok", lit(foldOk))
        .withColumn("filtered_ok", lit(filteredOk))
    } finally graft.FsUtil.deleteTree(gen1) // the rebuild witness is durable; only gen1 is scratch
  }

  // ------------------------------------------------------------- S9
  /** Product-quantization geometry: 64 dims → 8 subspaces × 8 dims,
    * 64 centroids per subspace ⇒ a vector compresses to 8 one-byte
    * codes (8 bytes — 64× smaller than the float64 working form, 8×
    * smaller than the int8 codes S5 scans). The classic 8-bit-per-
    * subspace PQ would use 256 centroids; 64 keeps training honest on
    * the gate corpora (500–2000 vectors) while preserving the exact
    * plan shape. */
  private val PqM = 8
  private val PqK = 64
  /** Embedding dimension the PQ/OPQ geometry is built over — the ONE
    * source of truth for the rotation sidecar (PqDim lines × PqDim
    * coords) and the rotApply kernel; PqSub derives from it, so a
    * dimension change re-shapes every reader and kernel together. */
  private[graft] val PqDim = 64
  private val PqSub = PqDim / PqM

  /** Per-subspace L2 k-means codebooks, bit-deterministic by the same
    * construction as [[trainAnchors]]: seeded from the K lowest-id
    * vectors' subvectors, per-cell means accumulated as ⌊x·2²⁰⌋ long
    * sums (order-independent at any parallelism), ties on distance
    * broken toward the smaller centroid id, centroids that lose all
    * members keep their previous value. ALL subspaces train in the
    * same pass — one scan of the corpus per Lloyd round, aggregate
    * state M·K·sub longs (tiny), shuffle ≤ M·K rows per partition. */
  private[graft] def trainPqCodebooks(e: DataFrame, iters: Int = 2,
                                      k: Int = PqK): Array[Array[Array[Double]]] = {
    val s = e.sparkSession
    import s.implicits._
    val sub = PqDim / PqM
    val ds = e.select(col("vec_id"), col("v")).as[(Long, Array[Double])]
    var books: Array[Array[Array[Double]]] = {
      val seeds = ds.filter(_._1 < k).collect().sortBy(_._1).map(_._2) // bounded: k seed rows
      Array.tabulate(PqM, k)((m, c) => seeds(c).slice(m * sub, (m + 1) * sub))
    }
    for (_ <- 1 to iters) {
      val bB = s.sparkContext.broadcast(books)
      val partials = ds.mapPartitions { it =>
        val b = bB.value
        val acc = scala.collection.mutable.HashMap.empty[Int, (Array[Long], Long)]
        it.foreach { case (_, v) =>
          var m = 0
          while (m < PqM) {
            var best = 0; var bestD = Double.MaxValue
            var c = 0
            while (c < k) {
              var dist = 0.0; var i = 0
              while (i < sub) {
                val t = v(m * sub + i) - b(m)(c)(i); dist += t * t; i += 1
              }
              if (dist < bestD) { bestD = dist; best = c } // strict < ⇒ low id wins ties
              c += 1
            }
            val cur = acc.getOrElseUpdate(m * k + best, (new Array[Long](sub), 0L))
            var i = 0
            while (i < sub) {
              cur._1(i) += math.floor(v(m * sub + i) * 1048576).toLong; i += 1
            }
            acc(m * k + best) = (cur._1, cur._2 + 1)
            m += 1
          }
        }
        acc.iterator.map { case (key, (sums, n)) => (key, sums, n) }
      }
      val agg = partials.groupByKey(_._1)
        .reduceGroups { (x, y) =>
          val z = x._2.clone(); var i = 0
          while (i < z.length) { z(i) += y._2(i); i += 1 }
          (x._1, z, x._3 + y._3)
        }
        .map { case (key, (_, sums, n)) => (key, sums.map(_.toDouble / n / 1048576.0)) }
        .collect().toMap // bounded: PqM*k centroid rows
      books = Array.tabulate(PqM, k)((m, c) =>
        agg.getOrElse(m * k + c, books(m)(c)))
    }
    books
  }

  /** Codebook-quality probe for the scale sweep: trains THROWAWAY
    * per-subspace codebooks with `k` centroids (the durable serving
    * artifacts and their 64-entry geometry are untouched), encodes the
    * corpus in-flight, ADC-scores the standard query set, and returns
    * the SHORTLIST recall — the fraction of the exact top-K neighbors
    * that survive into the 40·K ADC shortlist. That is the quantity
    * that bounds s9's final (post-rerank) recall, so it isolates what
    * codebook cardinality buys at a given corpus scale: round 6
    * measured the 64-entry books' recall drifting 0.86 → 0.74 at 10×
    * before the shortlist widening; this probe measures whether 256
    * entries (classic 8-bit PQ) recovers it at the codebook instead of
    * the shortlist. With `opq=true` the corpus is first rotated into
    * the [[opqRotation]] basis (codebooks trained AND encoded there;
    * the exact reference set is basis-independent), isolating what the
    * rotation buys at the same codebook budget — the round-9 question
    * "shortlist, codebook, or basis?" answered by measurement. */
  private[graft] def pqShortlistRecall(s: SparkSession, d: String, k: Int,
                                       opq: Boolean = false): Double = {
    import s.implicits._
    val base = prepared(s, d).cache()
    val e = if (opq) rotated(base, opqRot(s, d, base)).cache() else base
    val books = trainPqCodebooks(e, iters = 2, k = k)
    val nBooks = books(0).length
    val sub = books(0)(0).length
    val cn2 = books.map(_.map { cvec =>
      var a = 0.0; var i = 0
      while (i < cvec.length) { a += cvec(i) * cvec(i); i += 1 }
      a
    })
    val bB = s.sparkContext.broadcast(books)
    val cn2B = s.sparkContext.broadcast(cn2)
    val queries = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("v"), col("nrm")).as[(Long, Array[Double], Double)]
      .collect().sortBy(_._1) // bounded: NQueries rows
    val luts = queries.map { case (qid, qv, qn) =>
      val lut = Array.tabulate(PqM, nBooks) { (m, c) =>
        var acc = 0.0; var i = 0
        while (i < sub) { acc += qv(m * sub + i) * books(m)(c)(i); i += 1 }
        acc
      }
      (qid, lut, qn)
    }
    val lutB = s.sparkContext.broadcast(luts)
    val scored = e.select(col("vec_id"), col("v")).as[(Long, Array[Double])]
      .mapPartitions { it =>
        val bk = bB.value; val ls = lutB.value; val n2 = cn2B.value
        it.flatMap { case (id, v) =>
          val code = pqEncode(v, bk)
          ls.iterator.filter(_._1 != id).map { case (qid, lut, qn) =>
            var dot = 0.0; var rn2 = 0.0; var m = 0
            while (m < code.length) {
              val c = code(m) & 0xff
              dot += lut(m)(c); rn2 += n2(m)(c)
              m += 1
            }
            val denom = qn * math.sqrt(rn2)
            (qid, id, if (denom > 0) dot / denom else 0.0)
          }
        }
      }.toDF("query_id", "neighbor_id", "cosq")
    val short = scored.withColumn("qrn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosq").desc, col("neighbor_id"))))
      .filter(col("qrn") <= 40 * K)
      .select(col("query_id"), col("neighbor_id"))
    val exactPairs = pairSet(exactTopK(s, d))
    (pairSet(short) & exactPairs).size.toDouble / exactPairs.size
  }

  // ------------------------------------------------------------- OPQ
  /** Deterministic second-moment matrix Σ·xxᵀ of the corpus: every
    * product contributes as ⌊x_i·x_j·2²⁰⌋ longs, so partial sums
    * commute (integer addition) and the matrix is bit-identical at any
    * parallelism — [[trainAnchors]]'s fixed-point discipline applied
    * to a 64×64 aggregate. Exactly symmetric by construction
    * (x_i·x_j is the same float both ways), which Jacobi requires.
    * One narrow corpus scan; driver state 4096 longs. */
  private[graft] def secondMoment(e: DataFrame): Array[Array[Double]] = {
    val sess = e.sparkSession
    import sess.implicits._
    val n = PqDim
    val sums = e.select(col("v")).as[Array[Double]].rdd.mapPartitions { it =>
      val acc = new Array[Long](n * n)
      it.foreach { v =>
        var i = 0
        while (i < n) {
          var j = 0
          while (j < n) {
            acc(i * n + j) += math.floor(v(i) * v(j) * 1048576).toLong; j += 1
          }
          i += 1
        }
      }
      Iterator.single(acc)
    }.reduce { (a, b) =>
      var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
    }
    Array.tabulate(n, n)((i, j) => sums(i * n + j).toDouble / 1048576.0)
  }

  /** OPQ-parametric rotation (Ge et al., "Optimized Product
    * Quantization", CVPR 2013, §4 — the closed-form solution for the
    * Gaussian model): PQ's distortion bound is minimized by encoding
    * in a PCA basis whose eigenvalues are allocated to the M subspaces
    * so the per-subspace eigenvalue PRODUCTS balance (independence via
    * PCA + balanced variance via allocation). Greedy allocation in
    * descending-eigenvalue order to the non-full bucket with the
    * smallest running log-product — the paper's Eigenvalue Allocation.
    *
    * Everything is deterministic: integer-exact covariance
    * ([[secondMoment]]), sequential Jacobi with a fixed sweep order
    * ([[graft.matrix.LocalLA.symEig]]), strict-< greedy with
    * low-bucket-index tie-break. Returns R (64×64, rows orthonormal):
    * the encoder reads subspace m from (R·x)[m·sub, (m+1)·sub).
    * Training cost: ONE corpus scan + a driver-side 64×64
    * eigendecomposition — independent of corpus size beyond the scan,
    * so at 100 TB it prices like one extra Lloyd round. */
  private[graft] def opqRotation(e: DataFrame): Array[Array[Double]] = {
    val (vals, vecs) = graft.matrix.LocalLA.symEig(secondMoment(e))
    val bucketOf = new Array[Int](PqDim)
    val logProd = new Array[Double](PqM)
    val fill = new Array[Int](PqM)
    for (i <- 0 until PqDim) {
      val lv = math.log(math.max(vals(i), 1e-12))
      var best = -1; var bestLp = Double.MaxValue
      var b = 0
      while (b < PqM) {
        if (fill(b) < PqSub && logProd(b) < bestLp) { bestLp = logProd(b); best = b }
        b += 1
      }
      bucketOf(i) = best; logProd(best) += lv; fill(best) += 1
    }
    // rows of R bucket-major; within a bucket, descending eigenvalue
    val order = (0 until PqDim).sortBy(i => (bucketOf(i), i))
    Array.tabulate(PqDim, PqDim)((r, c) => vecs(c)(order(r)))
  }

  /** Eigenvalue spectrum of the corpus second-moment matrix
    * (descending) — the evidence behind any OPQ verdict: a flat
    * spectrum means the data is already isotropic and NO rotation can
    * rebalance subspace variance (the parametric-OPQ gain is bounded
    * by the spread), so a measured "rotation buys nothing" needs this
    * printed next to it. ScaleSweep reports max/min/ratio. */
  private[graft] def opqEigenvalues(e: DataFrame): Array[Double] =
    graft.matrix.LocalLA.symEig(secondMoment(e))._1

  /** OPQ rotation cache — session-scoped in memory and DURABLE on
    * disk (the pqBooks contract): the rotation is ingest-time work
    * that s15's serving path depends on, so a fresh session loads the
    * sidecar instead of paying the training scan. The matrix rides
    * beside the OPQ codebooks in the fingerprint-keyed dir; raw
    * IEEE-754 bits, so load ≡ retrain bit-for-bit. */
  private val opqRotCache = new graft.FsUtil.SessionMemo[String, Array[Array[Double]]]

  private[graft] def opqRotPath(d: String): java.io.File =
    new java.io.File(artifactDir("opq", d), "_rotation.txt")

  private[graft] def opqRot(s: SparkSession, d: String,
                            e: => DataFrame): Array[Array[Double]] =
    opqRotCache.getOrElseUpdate((s, d),
      graft.FsUtil.resolveSidecar(opqRotPath(d)) { ls =>
        require(ls.size == PqDim, "opq rotation sidecar geometry drifted")
        ls.map(l => bitsOf(l.trim.split(" ").toSeq, PqDim)).toArray
      }(opqRotation(e), _.toSeq.map(bitsLine)))

  /** OPQ codebooks — trained in the ROTATED basis over the same
    * corpus, persisted like [[pqBooks]] (same dir as the rotation:
    * the two are one artifact — codes encoded against these books are
    * meaningless without exactly this R). iters=2 matches the
    * original in-query s15 training, so stored codes are bit-equal to
    * what s15 used to encode in-flight. */
  private val opqBookCache = new graft.FsUtil.SessionMemo[String, Array[Array[Array[Double]]]]

  private[graft] def opqBooksPath(d: String): java.io.File =
    new java.io.File(artifactDir("opq", d), "_books.txt")

  private[graft] def opqBooks(s: SparkSession, d: String,
                              e: => DataFrame): Array[Array[Array[Double]]] =
    opqBookCache.getOrElseUpdate((s, d),
      graft.FsUtil.resolveSidecar(opqBooksPath(d))(parseBooks)({
        val frame = e
        trainPqCodebooks(rotated(frame, opqRot(s, d, frame)), iters = 2)
      }, booksLines))

  /** Driver/executor-side rotation kernel — the SAME fixed-order
    * inner loop as [[rotated]]'s mapPartitions, so a vector rotated
    * here is bit-identical to one rotated by the frame path (ingest
    * encode and query-LUT construction must agree on every bit). */
  private[graft] def rotApply(r: Array[Array[Double]],
                              v: Array[Double]): Array[Double] = {
    val y = new Array[Double](PqDim)
    var i = 0
    while (i < PqDim) {
      var acc = 0.0; var j = 0
      while (j < PqDim) { acc += r(i)(j) * v(j); j += 1 }
      y(i) = acc; i += 1
    }
    y
  }

  /** Rotate the working frame into the OPQ basis: one narrow
    * mapPartitions (no shuffle), broadcast 64×64 matrix, fixed-order
    * inner loops ⇒ bit-deterministic. Orthogonality preserves norms
    * and dot products, so downstream ADC scores approximate the SAME
    * cosine and shortlists rerank against the ORIGINAL floats. */
  private[graft] def rotated(e: DataFrame,
                             r: Array[Array[Double]]): DataFrame = {
    val sess = e.sparkSession
    import sess.implicits._
    val rB = sess.sparkContext.broadcast(r)
    e.select(col("vec_id"), col("v")).as[(Long, Array[Double])]
      .mapPartitions { it =>
        val m = rB.value
        it.map { case (id, v) =>
          val y = new Array[Double](PqDim)
          var i = 0
          while (i < PqDim) {
            var acc = 0.0; var j = 0
            while (j < PqDim) { acc += m(i)(j) * v(j); j += 1 }
            y(i) = acc; i += 1
          }
          (id, y)
        }
      }.toDF("vec_id", "v")
      .withColumn("nrm", sqrt(vecNorm2(col("v"))))
  }

  /** PQ codebook cache, session-scoped in memory and DURABLE on disk
    * (the s7 anchor-sidecar contract applied to PQ): S9 and S10 train
    * the SAME deterministic per-subspace codebooks over the same
    * corpus — training is the expensive half, and the result is
    * bit-deterministic, so recomputing per query OR per session buys
    * nothing. The sidecar lives in a corpus-fingerprint-keyed dir and
    * stores every coordinate as raw IEEE-754 bits, so a fresh session
    * encodes and scores bit-identically without touching the corpus;
    * metadata drift causes a false retrain (safe), never stale books.
    * Driver-side arrays (M·K·sub doubles — tiny). */
  private val pqBookCache = new graft.FsUtil.SessionMemo[String, Array[Array[Array[Double]]]]

  private[graft] def pqBooksPath(d: String): java.io.File =
    new java.io.File(artifactDir("pq", d), "_books.txt")

  /** Codebook sidecar payload, shared by the PQ and OPQ artifacts: one
    * line per (subspace, centroid), coords as raw IEEE-754 long bits.
    * A wrong-geometry file parses as a fault → retrain. */
  private def parseBooks(ls: IndexedSeq[String]): Array[Array[Array[Double]]] = {
    require(ls.size == PqM * PqK, "codebook sidecar geometry drifted")
    Array.tabulate(PqM, PqK)((m, c) => bitsOf(ls(m * PqK + c).trim.split(" ").toSeq, PqSub))
  }

  private def booksLines(books: Array[Array[Array[Double]]]): Seq[String] =
    books.toSeq.flatMap(_.toSeq.map(bitsLine))

  private[graft] def pqBooks(s: SparkSession, d: String,
                             e: DataFrame): Array[Array[Array[Double]]] =
    pqBookCache.getOrElseUpdate((s, d),
      graft.FsUtil.resolveSidecar(pqBooksPath(d))(parseBooks)(trainPqCodebooks(e), booksLines))

  /** S9: product-quantization ANN with ADC scoring — the third
    * compressed-domain representation in the family (S5 = scalar int8,
    * 4×; S6/S7 = IVF pruning; S9 = 8-byte PQ codes, 32×): each vector
    * is its 8 per-subspace nearest-centroid ids, and a query scores a
    * candidate WITHOUT touching its floats by summing a per-query
    * lookup table (LUT[m][c] = ⟨q_m, centroid_mc⟩ — M·K dot products
    * computed once per query, broadcast) over the candidate's codes;
    * the reconstruction norm ‖x̂‖ comes from a codes-only table the
    * same way. The per-query 2K shortlist is exactly rerank'd against
    * the true floats (S6's pattern — the floats are touched for
    * |queries|·2K rows, never per candidate). At 100 TB the scan reads
    * 8 bytes/vector (the stored PqM = 8 one-byte codes) where S1 reads
    * 256: PQ is the scan-compression path and composes with the IVF
    * cell layout (S7's partition pruning) orthogonally.
    *
    * Everything is deterministic (integer-exact codebooks, strict-<
    * tie-breaks, fixed-order m-ascending LUT sums, round(cos,4) + id
    * ranking) but recall < 1 by design → recall-gated vs exact S1 like
    * s2/s3/s6 (floor 0.7), `recall_ok` enforced driver-side. */
  def s9AnnPq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = prepared(s, d).cache()
    val books = pqBooks(s, d, e)
    // serving reads the STORED `pq8` column of the durable index —
    // encode is ingest work, done once inside [[ivfIndex]]'s build
    // (same [[pqEncode]] kernel, same durable books ⇒ identical codes);
    // at 100 TB this scan reads 8 bytes/vector off disk, period
    val (idxPath, _, _) = ivfIndex(s, d)
    // centroid self-dots for the reconstruction norm ‖x̂‖² = Σ_m ‖c_m‖²
    val cn2 = Array.tabulate(PqM, PqK) { (m, c) =>
      var acc = 0.0; var i = 0
      while (i < PqSub) { acc += books(m)(c)(i) * books(m)(c)(i); i += 1 }
      acc
    }
    val cn2B = s.sparkContext.broadcast(cn2)

    // codes-only column scan of the persisted index (no cell filter:
    // s9 is the scan-COMPRESSION story; s10 adds the cell pruning)
    val codes = s.read.parquet(idxPath).select(col("vec_id"), col("pq8"))

    // query side: LUT[m][c] = <q_m, c_mc>, one row per query, broadcast
    val queries = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("v"), col("nrm")).as[(Long, Array[Double], Double)]
      .collect().sortBy(_._1) // bounded: NQueries rows
    val luts = queries.map { case (qid, qv, qn) =>
      val lut = Array.tabulate(PqM, PqK) { (m, c) =>
        var acc = 0.0; var i = 0
        while (i < PqSub) { acc += qv(m * PqSub + i) * books(m)(c)(i); i += 1 }
        acc
      }
      (qid, lut, qn)
    }
    val lutB = s.sparkContext.broadcast(luts)

    // ADC scan: codes only — no float access per candidate
    val scored = codes.as[(Long, Array[Byte])].mapPartitions { it =>
      val ls = lutB.value; val n2 = cn2B.value
      it.flatMap { case (id, code) =>
        ls.iterator.filter(_._1 != id).map { case (qid, lut, qn) =>
          var dot = 0.0; var rn2 = 0.0
          var m = 0
          while (m < PqM) {
            val c = code(m) & 0xff
            dot += lut(m)(c); rn2 += n2(m)(c)
            m += 1
          }
          val denom = qn * math.sqrt(rn2)
          val cosq = if (denom > 0) dot / denom else 0.0
          (qid, id, math.round(cosq * 1e4) / 1e4)
        }
      }
    }.toDF("query_id", "neighbor_id", "cosq4")
    // PQ codes are far lossier than S6's int8, so the shortlist is
    // wider (40·K = 200 rows/query — still O(queries), never O(corpus);
    // widened from 20·K after the 10× scale sweep measured recall
    // drifting 0.86 → 0.74 as the corpus grew: shortlist width is the
    // query-side recall knob that costs nothing at the scan)
    val short = scored.withColumn("qrn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosq4").desc, col("neighbor_id"))))
      .filter(col("qrn") <= 40 * K)

    // exact rerank of the shortlist against the true floats
    val exact = e.as("e").join(broadcast(short), col("e.vec_id") === col("neighbor_id"))
      .join(broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))),
        col("query_id") === col("qid"))
      .select(col("query_id"), col("neighbor_id"),
        round(vecDot(col("qv"), col("e.v")) / (col("qn") * col("e.nrm")), 4).as("cos4"))
    withRecallGate(s, d, "s9",
      rerank(exact).select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn")),
      floor = 0.7)
  }

  // ------------------------------------------------------------- S10
  /** S10: IVF × PQ — the composed production shape (the FAISS IVFPQ
    * layout): S3's trained coarse cells prune WHICH vectors are
    * touched, S9's PQ codes compress WHAT is read per touched vector
    * (8 bytes + a cell id), and the scoring is S9's float-free ADC
    * lookup over the pruned candidates only. Work per query ≈
    * (nProbe/nCells)·n candidates × an 8-entry LUT sum — against S1's
    * full-corpus float dot. At 100 TB the cell id is the storage
    * partition key (S7's layout) and the scan inside a probed cell
    * reads the 8-byte codes column only; the true floats are touched
    * for the per-query 100-row shortlist rerank alone, exactly like
    * S6/S7. Cell assignment is the narrow codegen'd [[graft.functions.
    * VectorFunctions.topCells]] projection (zero corpus shuffle) and
    * the codebooks/anchors both come from their session caches —
    * deterministic end to end, recall-gated vs exact S1 like every
    * approximate family member. */
  def s10AnnIvfPq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = prepared(s, d).cache()
    val books = pqBooks(s, d, e)
    // both halves of the layout come off the DURABLE index: the cell
    // ids were assigned and the PQ codes encoded once at ingest
    // ([[ivfIndex]]'s build — same anchors via the sidecar, same
    // [[pqEncode]] kernel ⇒ bit-identical to the former in-query pass)
    val (idxPath, anchors, nCells) = ivfIndex(s, d)
    val nProbe = math.max(4, nCells / 4)
    val cn2 = Array.tabulate(PqM, PqK) { (m, c) =>
      var acc = 0.0; var i = 0
      while (i < PqSub) { acc += books(m)(c)(i) * books(m)(c)(i); i += 1 }
      acc
    }
    val cn2B = s.sparkContext.broadcast(cn2)

    // query side: probed cells (rank-over-cells window on the
    // query-bounded side only) + per-query LUTs, broadcast together
    val probes = queryProbes(e.filter(col("vec_id") < NQueries),
      anchors, nProbe, "vec_id", "v", "nrm")
      .select(col("vec_id"), col("cell")).as[(Long, Int)].collect() // bounded: <= NQueries*nProbe rows
    val queries = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("v"), col("nrm")).as[(Long, Array[Double], Double)]
      .collect().sortBy(_._1) // bounded: NQueries rows
    val luts = queries.map { case (qid, qv, qn) =>
      val lut = Array.tabulate(PqM, PqK) { (m, c) =>
        var acc = 0.0; var i = 0
        while (i < PqSub) { acc += qv(m * PqSub + i) * books(m)(c)(i); i += 1 }
        acc
      }
      (qid, lut, qn)
    }
    // (cell → queries probing it): ≤ NQueries·nProbe entries
    val cellQ = probes.groupBy(_._2).map { case (cell, qs) =>
      (cell, qs.map(_._1).sorted)
    }
    val cellQB = s.sparkContext.broadcast(cellQ)
    val lutB = s.sparkContext.broadcast(luts.map(l => (l._1, l)).toMap)

    // pruned ADC scan: partition pruning selects WHICH cell
    // directories are read (the probed ones), column pruning selects
    // WHAT is read per row (vec_id, cell, the 8-byte codes — never the
    // floats); each candidate scores against exactly the queries that
    // probed its cell
    val probeCells = probes.map(_._2).distinct.sorted
    val coded = s.read.parquet(idxPath)
      .filter(col("cell").isin(probeCells.map(_.asInstanceOf[Any]): _*))
      .select(col("vec_id"), col("cell"), col("pq8"))
    val scored = coded.as[(Long, Int, Array[Byte])].mapPartitions { it =>
      val cq = cellQB.value; val ls = lutB.value; val n2 = cn2B.value
      it.flatMap { case (id, cell, code) =>
        cq.getOrElse(cell, Array.empty[Long]).iterator
          .filter(_ != id).map { qid =>
            val (_, lut, qn) = ls(qid)
            var dot = 0.0; var rn2 = 0.0
            var m = 0
            while (m < PqM) {
              val c = code(m) & 0xff
              dot += lut(m)(c); rn2 += n2(m)(c)
              m += 1
            }
            val denom = qn * math.sqrt(rn2)
            (qid, id, if (denom > 0) math.round(dot / denom * 1e4) / 1e4 else 0.0)
          }
      }
    }.toDF("query_id", "neighbor_id", "cosq4")
    val short = scored.withColumn("qrn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosq4").desc, col("neighbor_id"))))
      .filter(col("qrn") <= 20 * K)

    val exact = e.as("e").join(broadcast(short), col("e.vec_id") === col("neighbor_id"))
      .join(broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))),
        col("query_id") === col("qid"))
      .select(col("query_id"), col("neighbor_id"),
        round(vecDot(col("qv"), col("e.v")) / (col("qn") * col("e.nrm")), 4).as("cos4"))
    withRecallGate(s, d, "s10",
      rerank(exact).select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn")),
      floor = 0.7)
  }

  // ------------------------------------------------------------- S15
  /** S15: OPQ — optimized product quantization. S9's PQ codes, but
    * trained and encoded in the [[opqRotation]] basis: a PCA rotation
    * with eigenvalue-balanced subspace allocation (Ge et al., CVPR
    * 2013) decorrelates the subspaces and equalizes their variance, so
    * the same 8-byte code budget wastes less of it on correlated /
    * unbalanced directions. This is the measured answer to the round-9
    * finding that the ANN recall lever at scale is NOT codebook
    * cardinality (0.88 shortlist recall at 10× for both 64- and
    * 256-entry books): the basis is the remaining training-side knob,
    * and ScaleSweep's paired pq/opq probes quantify it at 10×.
    *
    * Plan shape is exactly S9's: one narrow rotation projection (no
    * shuffle), ADC scoring against broadcast per-query LUTs computed
    * in the SAME basis (orthogonality preserves dots and norms, so the
    * scores approximate the same cosine), 40·K shortlist via the
    * rank-pushdown window, exact rerank against the ORIGINAL floats.
    * The rotation + encode are INGEST work (round 11, closing the
    * round-10 gap): [[ivfIndex]]'s build stores the rotated-basis
    * codes as the `opq8` column beside `pq8`, and R + the rotated
    * codebooks ride fingerprint-keyed sidecars ([[opqRotPath]] /
    * [[opqBooksPath]]) — serving scans 8 stored bytes/vector exactly
    * like s9 and rotates only the |queries| collected query vectors
    * driver-side ([[rotApply]], the bit-identical kernel). At 100 TB
    * the per-probe cost is the LUT-sum scan, period. Recall-gated vs
    * exact S1 (floor 0.7) like every approximate family member. */
  def s15AnnOpq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = prepared(s, d).cache()
    val rotM = opqRot(s, d, e)
    val books = opqBooks(s, d, e)
    val (idxPath, _, _) = ivfIndex(s, d)
    val cn2 = Array.tabulate(PqM, PqK) { (m, c) =>
      var acc = 0.0; var i = 0
      while (i < PqSub) { acc += books(m)(c)(i) * books(m)(c)(i); i += 1 }
      acc
    }
    val cn2B = s.sparkContext.broadcast(cn2)
    // codes-only scan of the persisted index: the stored opq8 bytes
    // ARE the rotated-basis encode (same rotApply/pqEncode kernels,
    // same sidecar'd R and books ⇒ bit-identical to an in-flight pass)
    val codes = s.read.parquet(idxPath).select(col("vec_id"), col("opq8"))
    // query LUTs in the rotated basis — queries are the only vectors
    // rotated at serving time (driver-side, |queries| rows); the
    // rotated norm IS the original norm (orthogonality), recomputed
    // from the rotated coords so LUT and codes share one arithmetic
    // path
    val queries = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("v")).as[(Long, Array[Double])]
      .collect().sortBy(_._1) // bounded: NQueries rows
    val luts = queries.map { case (qid, qv0) =>
      val qv = rotApply(rotM, qv0)
      var n2 = 0.0; var i = 0
      while (i < qv.length) { n2 += qv(i) * qv(i); i += 1 }
      val lut = Array.tabulate(PqM, PqK) { (m, c) =>
        var acc = 0.0; var j = 0
        while (j < PqSub) { acc += qv(m * PqSub + j) * books(m)(c)(j); j += 1 }
        acc
      }
      (qid, lut, math.sqrt(n2))
    }
    val lutB = s.sparkContext.broadcast(luts)
    val scored = codes.as[(Long, Array[Byte])].mapPartitions { it =>
      val ls = lutB.value; val n2 = cn2B.value
      it.flatMap { case (id, code) =>
        ls.iterator.filter(_._1 != id).map { case (qid, lut, qn) =>
          var dot = 0.0; var rn2 = 0.0; var m = 0
          while (m < PqM) {
            val c = code(m) & 0xff
            dot += lut(m)(c); rn2 += n2(m)(c)
            m += 1
          }
          val denom = qn * math.sqrt(rn2)
          val cosq = if (denom > 0) dot / denom else 0.0
          (qid, id, math.round(cosq * 1e4) / 1e4)
        }
      }
    }.toDF("query_id", "neighbor_id", "cosq4")
    val short = scored.withColumn("qrn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosq4").desc, col("neighbor_id"))))
      .filter(col("qrn") <= 40 * K)
    // exact rerank against the true (identity-basis) floats
    val exact = e.as("e").join(broadcast(short), col("e.vec_id") === col("neighbor_id"))
      .join(broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))),
        col("query_id") === col("qid"))
      .select(col("query_id"), col("neighbor_id"),
        round(vecDot(col("qv"), col("e.v")) / (col("qn") * col("e.nrm")), 4).as("cos4"))
    withRecallGate(s, d, "s15",
      rerank(exact).select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn")),
      floor = 0.7)
  }

  // ------------------------------------------------------------- X10
  /** Sign-matrix (Achlioptas) random projection 64 → 16 dims — the
    * cheap dimensionality cut in front of clustering / coarse ANN
    * (project once, compare in 1/4 the width; JL says pairwise
    * geometry survives in expectation). The projection matrix is ±1
    * entries from a fixed seed, broadcast as literals into ONE
    * codegen'd array expression per row — no shuffle, no UDF, and no
    * float matrix product: each output coord is a fixed-order
    * left-to-right signed fold, which is why the query is bit-
    * deterministic and fully hash-oracled (the SQL twin carries the
    * SAME matrix as a VALUES literal and folds in the same order).
    * Output: per-vector md5 fingerprint of the ⌊coord·2²⁰⌋-quantized
    * projection plus the energy ratio ‖Pv‖²/(16·‖v‖²) (≈1 under JL —
    * reported as data, not pinned, so the oracle verifies it without
    * assuming concentration). */
  private val ProjOut = 16
  private lazy val projSigns: Array[Array[Double]] = {
    val rng = new scala.util.Random(7)
    Array.fill(ProjOut, 64)(if (rng.nextBoolean()) 1.0 else -1.0)
  }

  def x10RandomProjection(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"),
      graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v"))
    val coords = projSigns.map { row =>
      vecDot(col("v"), array(row.map(lit(_)): _*))
    }
    e.withColumn("pj", array(coords: _*))
      .withColumn("pj_hash", md5(concat_ws(",",
        expr("transform(pj, c -> cast(cast(floor(c * 1048576) AS bigint) AS string))"))))
      .withColumn("ratio4", round(
        expr("aggregate(pj, 0D, (a, c) -> a + c * c)") /
          (lit(ProjOut.toDouble) * vecNorm2(col("v"))), 4))
      .select(col("vec_id"), col("pj_hash"), col("ratio4"))
      .orderBy(col("vec_id"))
  }

  val x10Sql: String = {
    val values = (for (j <- 0 until ProjOut; i <- 0 until 64)
      yield s"(${j + 1},${i + 1},${if (projSigns(j)(i) > 0) "1.0" else "-1.0"})")
      .mkString(",")
    s"""WITH ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |                   CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
       |m(j, i, sgn) AS (SELECT * FROM (VALUES $values)),
       |proj AS (SELECT vec_id, j, SUM(x * sgn ORDER BY ex.i) AS pj
       |         FROM ex JOIN m ON m.i = ex.i GROUP BY vec_id, j),
       |agg AS (SELECT vec_id,
       |          md5(string_agg(CAST(CAST(floor(pj * 1048576) AS BIGINT) AS VARCHAR),
       |                         ',' ORDER BY j)) AS pj_hash,
       |          SUM(pj * pj ORDER BY j) AS s2
       |        FROM proj GROUP BY vec_id),
       |nrm AS (SELECT vec_id, SUM(x * x ORDER BY i) AS n2 FROM ex GROUP BY vec_id)
       |SELECT a.vec_id, pj_hash, ROUND(s2 / ($ProjOut.0 * n2), 4) AS ratio4
       |FROM agg a JOIN nrm USING (vec_id) ORDER BY a.vec_id""".stripMargin
  }

  // -------------------------------------------------------------
  // ------------------------------------------------------------- S11
  /** S11: metadata-FILTERED similarity search — top-K among the vectors
    * whose `label` matches the query's (the "search within my tenant /
    * language / modality" shape every production vector store serves).
    * The filter composes into the join predicate, so only same-label
    * rows are ever scored, and the answer is EXACT — which is what
    * makes this the one ANN-family member with a full SQL oracle
    * beyond the unfiltered baselines.
    *
    * Serving path: `label` is the FIRST partition key of the durable
    * [[ivfIndex]], so the query labels prune whole label directories
    * BEFORE any vector is read (PipelineSpec asserts the scan's
    * PartitionFilters + selected-partition count). Scoring inside the
    * surviving labels uses the index's stored float embeddings — exact
    * by construction, so the full SQL oracle (the pre-index broadcast-
    * NLJ formulation, kept verbatim as [[s11Sql]]) stays hash-green.
    * At 100 TB a label predicate that matches 1% of the corpus reads
    * 1% of the index; the per-label residual search composes with the
    * cell layout (s7) and stored PQ codes (s9) orthogonally. */
  def s11AnnFiltered(s: SparkSession, d: String): DataFrame = {
    val raw = embeddings(s, d)
    val labelType = raw.schema("label").dataType
    val (path, _, _) = ivfIndex(s, d)
    // query side: tiny, broadcast — carries label, floats, norm
    val q = raw.filter(col("vec_id") < NQueries)
      .select(col("vec_id"), col("label"),
        graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(vecNorm2(col("v"))))
    val qLabels = q.select(col("label")).distinct().collect().map(_.get(0)) // bounded: distinct label enum
    // literal IN over the first partition key → directory-level pruning
    val idx = s.read.parquet(path)
      .filter(col("label").isin(qLabels: _*))
      .select(col("vec_id").as("neighbor_id"), col("label").as("elabel"),
        graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("ev"))
      .withColumn("enrm", sqrt(vecNorm2(col("ev"))))
    val pairs = broadcast(q).as("q")
      .join(idx, col("q.vec_id") =!= col("neighbor_id") &&
        col("q.label") === col("elabel"))
      .select(col("q.vec_id").as("query_id"),
        col("q.label").cast(labelType).as("label"),
        col("neighbor_id"),
        round(vecDot(col("q.v"), col("ev")) / (col("q.nrm") * col("enrm")), 4)
          .as("cos4"))
    rerank(pairs)
      .select(col("query_id"), col("label"), col("neighbor_id"),
        col("cos4"), col("rn"))
  }

  val s11Sql: String =
    s"""WITH ex AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |nrm AS (SELECT vec_id, sqrt(SUM(x * x ORDER BY i)) AS nrm FROM ex GROUP BY 1),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |dots AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         SUM(q.x * e.x ORDER BY q.i) AS dot
       |  FROM ex q JOIN lab lq ON lq.vec_id = q.vec_id
       |       JOIN lab le ON le.label = lq.label
       |       JOIN ex e ON e.vec_id = le.vec_id
       |                AND q.i = e.i AND q.vec_id <> e.vec_id
       |  WHERE q.vec_id < $NQueries
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT query_id, lq.label AS label, neighbor_id,
       |         ROUND(dot / (nq.nrm * ne.nrm), 4) AS cos4
       |  FROM dots JOIN nrm nq ON nq.vec_id = query_id
       |            JOIN nrm ne ON ne.vec_id = neighbor_id
       |            JOIN lab lq ON lq.vec_id = query_id)
       |SELECT query_id, label, neighbor_id, cos4, rn FROM (
       |  SELECT query_id, label, neighbor_id, cos4,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cos4 DESC, neighbor_id) AS rn
       |  FROM scored) t
       |WHERE rn <= $K ORDER BY query_id, rn""".stripMargin

  // ------------------------------------------------------------- S16
  /** S16: HYBRID retrieval with reciprocal-rank fusion — the modern
    * RAG-stack serving shape: a keyword ranking (t11's BM25 over the
    * fixed query terms) and a vector ranking (exact cosine against
    * query vector 0 — doc_id and vec_id share the id domain) fused as
    *   rrf = Σ_lists 1/(60 + rank)    (Cormack et al. 2009's k=60),
    * top-20 fused. RRF needs no score calibration between the two
    * systems — only ranks — which is why production stacks prefer it
    * over weighted score sums.
    *
    * Scale shape: each side is its family's own serving plan — the
    * BM25 scan is t11's narrow projection + heap top-k, the cosine
    * side one broadcast query row against the corpus + heap top-k —
    * and the FUSION runs on two 50-row rank lists (driver-sized by
    * construction, as in any production fusion layer); no new corpus
    * pass, no new shuffle. Deterministic end to end (both ranks
    * tiebreak on doc_id; 1/(rank+60) is a single IEEE division
    * mirrored in the oracle), so the whole query carries a **full SQL
    * oracle** — rare for a retrieval stack. */
  def s16HybridRrf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val kr = 60
    val topN = 50
    val tTop = TextAnalysis.bm25Scored(s, d)
      .orderBy(col("score4").desc, col("doc_id")).limit(topN)
      .select(col("doc_id")).as[Long].collect() // bounded: limit(topN) rows
    val e = prepared(s, d)
    val q = broadcast(e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qn")))
    val vTop = e.filter(col("vec_id") =!= 0).crossJoin(q) // bounded: q is ONE broadcast row
      .select(col("vec_id"),
        round(vecDot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4).as("cos4"))
      .orderBy(col("cos4").desc, col("vec_id")).limit(topN)
      .select(col("vec_id")).as[Long].collect() // bounded: limit(topN) rows
    val tr = tTop.zipWithIndex.map { case (id, i) => (id, i + 1) }.toSeq
      .toDF("doc_id", "tr")
    val vr = vTop.zipWithIndex.map { case (id, i) => (id, i + 1) }.toSeq
      .toDF("doc_id", "vr")
    tr.join(vr, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("tr"), lit(-1)).as("text_rank"),
        coalesce(col("vr"), lit(-1)).as("vec_rank"),
        round(
          when(col("tr").isNotNull, lit(1.0) / (col("tr") + kr)).otherwise(lit(0.0)) +
            when(col("vr").isNotNull, lit(1.0) / (col("vr") + kr)).otherwise(lit(0.0)),
          4).as("rrf4"))
      .orderBy(col("rrf4").desc, col("doc_id"))
      .limit(20)
  }

  val s16Sql: String =
    s"""${TextAnalysis.bm25SqlCte},
       |tt AS (SELECT doc_id,
       |         CAST(ROW_NUMBER() OVER (ORDER BY score4 DESC, doc_id) AS INT) AS tr
       |       FROM scored WHERE score4 > 0
       |       QUALIFY tr <= 50),
       |ex AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |              CAST(unnest(embedding) AS DOUBLE) AS x
       |       FROM embeddings),
       |nrm AS (SELECT vec_id, sqrt(SUM(x * x ORDER BY i)) AS nrm FROM ex GROUP BY 1),
       |cosr AS (
       |  SELECT e.vec_id AS doc_id,
       |         ROUND(SUM(q.x * e.x ORDER BY q.i) / (nq.nrm * ne.nrm), 4) AS cos4
       |  FROM ex q JOIN ex e ON q.i = e.i AND q.vec_id = 0 AND e.vec_id <> 0
       |       JOIN nrm nq ON nq.vec_id = 0 JOIN nrm ne ON ne.vec_id = e.vec_id
       |  GROUP BY e.vec_id, nq.nrm, ne.nrm),
       |vt AS (SELECT doc_id,
       |         CAST(ROW_NUMBER() OVER (ORDER BY cos4 DESC, doc_id) AS INT) AS vr
       |       FROM cosr QUALIFY vr <= 50)
       |SELECT doc_id,
       |  COALESCE(tr, -1) AS text_rank,
       |  COALESCE(vr, -1) AS vec_rank,
       |  ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (tr + 60), 0)
       |      + COALESCE(CAST(1.0 AS DOUBLE) / (vr + 60), 0), 4) AS rrf4
       |FROM tt FULL OUTER JOIN vt USING (doc_id)
       |ORDER BY rrf4 DESC, doc_id LIMIT 20""".stripMargin

  // ------------------------------------------------------------- S17
  /** MMR — maximal-marginal-relevance diversified re-ranking of the
    * exact ANN shortlist (Carbonell & Goldstein, SIGIR 1998), λ = 0.5:
    * greedily pick the candidate maximizing
    * λ·rel(q,c) − (1−λ)·max_{s∈selected} cos(c,s), so results trade
    * redundancy for coverage — the classic retrieval post-processing
    * step beside s16's rank fusion.
    *
    * Scale shape: the distributed part is the shortlist — here ONE
    * exact corpus pass capped to `MmrShortlist` per query by
    * WindowGroupLimit (s9's plan discipline); at index scale the
    * shortlist source swaps for the s7/s10 pruned probe (widened to L
    * candidates) with the SAME downstream — MMR only needs
    * (query_id, neighbor_id, rel, vector) rows and is agnostic to how
    * they were retrieved. The greedy loop is NOT a corpus operation:
    * it runs inside `flatMapGroups` per query over its own
    * L-candidate group (O(K·L·\|selected\|) dot products on L=20
    * rows), so a billion queries parallelize across executors with no
    * additional shuffle beyond the group-by-query exchange, and the
    * corpus is never touched again. Ties break toward the smaller
    * neighbor_id; floats are rounded only at the output edge, so the
    * result is run-deterministic.
    *
    * Gates (driver-enforced via Verify.gateInvariants): `first_ok` —
    * MMR's first pick must be the max-relevance candidate (the λ-
    * independent property of the greedy); `monotone_ok` — the selected
    * marginal-score sequence is non-increasing (each round maximizes
    * over a shrinking candidate set against a growing penalty set —
    * a true invariant of greedy MMR). `avg_pair_mmr4` /
    * `avg_pair_topk4` (mean pairwise cosine among the MMR picks vs
    * the plain top-K) are observability columns: diversity gain is
    * data-dependent, so it is reported, not gated. */
  private val MmrShortlist = 20

  def s17MmrRerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = prepared(s, d)
    val q = broadcast(e.filter(col("vec_id") < NQueries))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("neighbor_id"))
    val short = q.as("q").join(e.as("e"), col("q.vec_id") =!= col("e.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("e.vec_id").as("neighbor_id"),
        (vecDot(col("q.v"), col("e.v")) / (col("q.nrm") * col("e.nrm"))).as("rel"),
        col("e.v").as("nv"), col("e.nrm").as("nnrm"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= MmrShortlist)
      .select(col("query_id"), col("neighbor_id"), col("rel"),
        col("nv"), col("nnrm"))
      .as[(Long, Long, Double, Seq[Double], Double)]
    def r4d(x: Double): Double = math.rint(x * 1e4) / 1e4
    val out = short.groupByKey(_._1).flatMapGroups { (qid, it) =>
      def dot(a: Array[Double], b: Array[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < a.length) { acc += a(i) * b(i); i += 1 }
        acc
      }
      // (id, rel, v, nrm) sorted by relevance desc, id — the plain top
      val cands = it.map(t => (t._2, t._3, t._4.toArray, t._5)).toArray
        .sortBy(t => (-t._2, t._1))
      val remaining = scala.collection.mutable.ArrayBuffer(cands: _*)
      val sel = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Double, Double, Array[Double], Double)]
      while (sel.length < K && remaining.nonEmpty) {
        var bestI = -1; var bestScore = Double.NegativeInfinity
        var bestId = Long.MaxValue
        var i = 0
        while (i < remaining.length) {
          val c = remaining(i)
          // redundancy penalty, clamped at 0: a NEGATIVELY similar
          // candidate is merely non-redundant, not better-than-
          // relevant — and the clamp is what makes the greedy's
          // marginal-score sequence a true non-increasing invariant
          // (an unclamped negative max-sim can RAISE later scores
          // above round 1's λ·rel)
          val pen =
            if (sel.isEmpty) 0.0
            else math.max(0.0,
              sel.iterator.map(p => dot(c._3, p._4) / (c._4 * p._5)).max)
          val score = 0.5 * c._2 - 0.5 * pen
          if (score > bestScore ||
            (score == bestScore && c._1 < bestId)) {
            bestScore = score; bestI = i; bestId = c._1
          }
          i += 1
        }
        val p = remaining.remove(bestI)
        sel += ((p._1, p._2, bestScore, p._3, p._4))
      }
      val firstOk = sel.nonEmpty && sel.head._1 == cands.head._1 // local: Scala Seq ops on K-bounded candidate list
      val monotoneOk = sel.iterator.map(_._3).sliding(2)
        .forall(p => p.length < 2 || p(0) >= p(1) - 1e-9)
      def avgPair(xs: Seq[(Array[Double], Double)]): Double = {
        val ps = for {
          i <- xs.indices; j <- (i + 1) until xs.length
        } yield dot(xs(i)._1, xs(j)._1) / (xs(i)._2 * xs(j)._2)
        if (ps.isEmpty) 0.0 else ps.sum / ps.length
      }
      val avgMmr = r4d(avgPair(sel.map(t => (t._4, t._5)).toSeq))
      val avgTop = r4d(avgPair(cands.take(K).map(t => (t._3, t._4)).toSeq)) // local: Scala Seq ops on K-bounded candidate list
      sel.iterator.zipWithIndex.map { case ((nid, rel, mmr, _, _), i) =>
        (qid, i + 1, nid, r4d(rel), r4d(mmr), firstOk, monotoneOk,
          avgMmr, avgTop)
      }
    }.toDF("query_id", "rank", "neighbor_id", "cos4", "mmr4",
      "first_ok", "monotone_ok", "avg_pair_mmr4", "avg_pair_topk4")
    out.orderBy(col("query_id"), col("rank"))
  }

  // ------------------------------------------------------------- S18
  /** S18: index STATS / health report — the admin surface every vector
    * store exposes beside its data path: per-cell row counts off the
    * durable s7 index, plus global health as constant columns — cell
    * balance in basis points (min·10⁴ DIV max — a skewed cell is the
    * probe's tail latency), tombstone load (s12's pending delete log
    * vs indexed rows), and the assignment-identity gate.
    *
    * Gates (driver-enforced): `assign_ok` — every stored (vec_id,
    * cell) equals a fresh [[assignQuantize]] assignment from the
    * corpus with the index's own anchors (a drifted or torn index
    * says so HERE, before a probe silently searches the wrong cells);
    * `nonempty_ok` — no registered cell lost all its rows.
    *
    * Scale: stats read the codes-only columns of the index (never the
    * floats), one \|cells\|-row aggregate; the gate recompute is one
    * corpus pass with broadcast anchors — gate cost, not serving
    * cost, same posture as s12/s13. */
  def s18IndexStats(s: SparkSession, d: String): DataFrame = {
    val (path, anchors, _) = ivfIndex(s, d)
    val idx = s.read.parquet(path).select(col("vec_id"), col("cell"))
    val stored = idx.localCheckpoint(true)
    val cells = stored.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_rows"))
    val (minC, maxC) = {
      val r = cells.agg(min(col("n_rows")), max(col("n_rows"))).head // bounded: ONE-row min/max aggregate
      (r.getLong(0), r.getLong(1))
    }
    val nTomb = tombstones(s, d).count()
    val nRows = stored.count()
    // assignment identity: stored cells ≡ fresh assignment (the
    // recompute joins on vec_id; any cell mismatch or missing row
    // counts against the gate)
    val fresh = assignQuantize(embeddings(s, d), anchors)
      .select(col("vec_id"), col("cell").as("fresh_cell"))
    val drift = stored.join(fresh, Seq("vec_id"), "full_outer")
      .filter(col("cell").isNull || col("fresh_cell").isNull ||
        col("cell") =!= col("fresh_cell")).count()
    cells
      .select(col("cell"), col("n_rows"))
      .withColumn("balance_bp", lit(minC * 10000L / maxC))
      .withColumn("tombstone_bp", lit(if (nRows == 0) 0L else nTomb * 10000L / nRows))
      .withColumn("assign_ok", lit(drift == 0L))
      .withColumn("nonempty_ok", col("n_rows") > 0L)
      .orderBy(col("cell"))
  }

  // ------------------------------------------------------------- S19
  /** S19: RANGE (radius) similarity search — all pairs (query, doc)
    * with cosine ≥ τ, the other half of the retrieval API surface
    * (top-k answers "the best K whatever they score"; range answers
    * "everything above a quality bar" — dedup candidate generation,
    * near-duplicate audits and recall-oriented retrieval all want the
    * latter). τ = 0.3 against this corpus's diffuse synthetic
    * embeddings (max off-diagonal cosine ≈ 0.3–0.5, so the bar is
    * selective but non-empty for every query).
    *
    * Unlike top-k, range search admits a SOUND-AND-COMPLETE compressed
    * prune, so this is the one approximate-representation family
    * member with a full hash oracle AND a pruned scan: score every
    * candidate on x8's int8 codes and keep it iff the code score COULD
    * reach τ under the quantization error bound. Per vector,
    * qᵢ = round(vᵢ·127/s) ⇒ |vᵢ − qᵢ·s/127| ≤ s/254, so for query Q
    * |cos − cosApprox| ≤ (s/254)·‖Q‖₁/(‖Q‖·‖v‖) — every term of the
    * bound is a per-row scalar. Candidates passing
    * cosApprox + bound + [[rangeSlack]] ≥ τ are PROVABLY a superset
    * of the true answer; the exact float verify then reproduces the
    * brute-force result bit-for-bit — hence the DuckDB oracle, where
    * s2/s3/s6 can only carry recall gates.
    *
    * 100 TB story: the corpus-wide pass reads int8 codes only (4× less
    * IO than floats, integer-dot kernel); floats are fetched by a
    * candidate-proportional join-back, exactly s9/s10's
    * codes-are-the-read-path posture. The candidate frame is
    * registered in [[lastGatedApprox]] so PipelineSpec asserts the
    * prune actually discards most of the corpus (and that the final
    * answer still equals the unpruned scan). Composes with the s7
    * cell layout: cells whose anchor scores below τ − cell radius
    * prune entire partitions first. */
  private[graft] val RangeTau = 0.3

  /** Slack budget for the sound keep-filter, DERIVED rather than a
    * magic constant (the round-10 advisory): a candidate whose exact
    * cos rounds to ≥ τ at 4 decimals satisfies cos ≥ τ − 5·10⁻⁵ (the
    * half-ulp of the rounding grid — the irreducible term), and the
    * float evaluation of approx+bnd can sit below its real value by
    * at most the d-term dot product's accumulated rounding,
    * ≤ ~d·2⁻⁵³ relative for unit-scale inputs (~7·10⁻¹⁵ at d = 64).
    * The d·10⁻¹² term covers that with >10³ margin per dimension, so
    * the guarantee survives a dimension or magnitude change instead
    * of silently consuming a fixed headroom. */
  private[graft] def rangeSlack(dim: Int): Double = 5e-5 + dim * 1e-12

  def s19RangeSearch(s: SparkSession, d: String): DataFrame = {
    val e = prepared(s, d)
    val codes = e
      .withColumn("scale", vecMaxAbs(col("v")))
      .withColumn("qv", int8Codes(col("v"), col("scale")))
      .select(col("vec_id"), col("scale"), col("qv"), col("nrm"))
    val q = broadcast(e.filter(col("vec_id") < NQueries)
      .withColumn("l1", expr("aggregate(transform(v, x -> abs(x)), 0D, (a, x) -> a + x)")))
    // int8 scan: code score + per-pair error bound, sound keep-filter
    val cand = q.as("q")
      .join(codes.as("e"), col("q.vec_id") =!= col("e.vec_id"))
      .withColumn("approx",
        expr("aggregate(zip_with(q.v, e.qv, (x, c) -> x * c), 0D, (a, v) -> a + v)")
          * col("e.scale") / lit(127.0) / (col("q.nrm") * col("e.nrm")))
      .withColumn("bnd",
        col("e.scale") / lit(254.0) * col("q.l1") / (col("q.nrm") * col("e.nrm")))
      .filter(col("approx") + col("bnd") + lit(rangeSlack(64)) >= RangeTau)
      .select(col("q.vec_id").as("query_id"), col("e.vec_id").as("neighbor_id"))
    registerGatedPlan(s, "s19", cand)
    // candidate-proportional float fetch + exact verify (s1's fold order)
    val nf = e.select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("nrm").as("nn"))
    val qf = broadcast(e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qf"), col("nrm").as("qn")))
    cand.join(nf, Seq("neighbor_id"))
      .join(qf, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(vecDot(col("qf"), col("nv")) / (col("qn") * col("nn")), 4).as("cos4"))
      .filter(col("cos4") >= RangeTau)
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  val s19Sql: String =
    s"""WITH ex AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |nrm AS (SELECT vec_id, sqrt(SUM(x * x ORDER BY i)) AS nrm FROM ex GROUP BY 1),
       |dots AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         SUM(q.x * e.x ORDER BY q.i) AS dot
       |  FROM ex q JOIN ex e ON q.i = e.i AND q.vec_id <> e.vec_id
       |  WHERE q.vec_id < $NQueries
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id,
       |       ROUND(dot / (nq.nrm * ne.nrm), 4) AS cos4
       |FROM dots JOIN nrm nq ON nq.vec_id = query_id
       |          JOIN nrm ne ON ne.vec_id = neighbor_id
       |WHERE ROUND(dot / (nq.nrm * ne.nrm), 4) >= $RangeTau
       |ORDER BY query_id, neighbor_id""".stripMargin

  // ------------------------------------------------------------- S20
  /** 1-bit BINARY quantization — the last rung of the compression
    * ladder (float32 → int8 s5 → PQ s9 / OPQ s15 → 1 bit here): each
    * 64-dim vector collapses to the 64-BIT SIGN WORD (bit i set iff
    * vᵢ ≥ 0), Hamming distance ranks a per-query shortlist of
    * 20K candidates (1-bit sketches are coarse — the multiplier is the
    * recall lever, and even 20K rows is 0.3% of the gate corpus), and only the shortlist is re-scored with exact
    * float cosine. 8 bytes/vector — 32× smaller than the floats, the
    * same footprint as PQ but with a TWO-INSTRUCTION distance kernel
    * (XOR + POPCNT, here codegen'd `bit_count(a ^ b)`), which is why
    * binary sketches are the first-pass filter in billion-vector
    * serving stacks (Hamming-prefilter-then-rerank).
    *
    * Every stage is integer-deterministic (Hamming ties broken by
    * neighbor_id, rerank ties by neighbor_id), so unlike the
    * recall-gated s2/s3 the WHOLE algorithm replays in SQL — a full
    * hash oracle; the recall-vs-exact floor lives in the spec.
    *
    * Scale: the corpus-wide pass moves (vec_id, bin) = 16 bytes/row;
    * the shortlist (|queries|·20K rows) alone pays the float join-back
    * (s9/s19's codes-are-the-read-path posture). In the index-backed
    * family the sign word would persist beside pq8/opq8 at ingest —
    * same sidecar discipline, nothing new to store here. */
  def s20AnnBinary(s: SparkSession, d: String): DataFrame = {
    val e = prepared(s, d)
    val codes = e.select(col("vec_id"), expr(
      """aggregate(sequence(0, 63), CAST(0 AS BIGINT),
        |  (acc, i) -> acc | IF(element_at(v, i + 1) >= 0D,
        |                       shiftleft(CAST(1 AS BIGINT), i),
        |                       CAST(0 AS BIGINT)))""".stripMargin).as("bin"))
    val q = broadcast(codes.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("bin").as("qbin")))
    val m = 20 * K
    val ham = q.join(codes, col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("CAST(bit_count(qbin ^ bin) AS INT)").as("hamming"))
    val wh = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    val shortlist = ham.withColumn("rh", row_number().over(wh))
      .filter(col("rh") <= m)
      .select(col("query_id"), col("neighbor_id"), col("hamming"))
    val reranked = shortlist
      .join(e.select(col("vec_id").as("query_id"),
        col("v").as("qv"), col("nrm").as("qn")), Seq("query_id"))
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("v").as("nv"), col("nrm").as("nn")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        round(vecDot(col("qv"), col("nv")) / (col("qn") * col("nn")), 4)
          .as("cos4"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos4").desc, col("neighbor_id"))
    reranked.withColumn("rn", row_number().over(w)).filter(col("rn") <= K)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("cos4"), col("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  val s20Sql: String =
    s"""WITH ex AS (
       |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
       |         CAST(unnest(embedding) AS DOUBLE) AS x
       |  FROM embeddings),
       |nrm AS (SELECT vec_id, sqrt(SUM(x * x ORDER BY i)) AS nrm FROM ex GROUP BY 1),
       |ham AS (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         SUM(CASE WHEN (q.x >= 0) <> (e.x >= 0) THEN 1 ELSE 0 END) AS h
       |  FROM ex q JOIN ex e ON q.i = e.i AND q.vec_id <> e.vec_id
       |  WHERE q.vec_id < $NQueries GROUP BY 1, 2),
       |short AS (
       |  SELECT query_id, neighbor_id, CAST(h AS INT) AS hamming FROM (
       |    SELECT query_id, neighbor_id, h,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |                              ORDER BY h, neighbor_id) AS rh
       |    FROM ham) t WHERE rh <= ${20 * K}),
       |dots AS (
       |  SELECT s.query_id, s.neighbor_id, s.hamming,
       |         SUM(q.x * e.x ORDER BY q.i) AS dot
       |  FROM short s JOIN ex q ON q.vec_id = s.query_id
       |               JOIN ex e ON e.vec_id = s.neighbor_id AND e.i = q.i
       |  GROUP BY 1, 2, 3),
       |scored AS (
       |  SELECT query_id, neighbor_id, hamming,
       |         ROUND(dot / (nq.nrm * ne.nrm), 4) AS cos4
       |  FROM dots JOIN nrm nq ON nq.vec_id = query_id
       |            JOIN nrm ne ON ne.vec_id = neighbor_id)
       |SELECT query_id, neighbor_id, hamming, cos4, rn FROM (
       |  SELECT query_id, neighbor_id, hamming, cos4,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY cos4 DESC, neighbor_id) AS rn
       |  FROM scored) t
       |WHERE rn <= $K ORDER BY query_id, rn""".stripMargin

  // ------------------------------------------------------------- S21
  private[graft] val GraphDeg = 8   // adjacency degree bound (DiskANN's R)
  private[graft] val GraphBeam = 8  // best-first beam width (DiskANN's L)
  /** Serving beam width scaled to the indexed corpus — production
    * graph indexes grow DiskANN's L ~logarithmically with n to hold
    * recall on diffuse data. Estimated from the anchor table every
    * artifact already carries (nCells = ⌈√n⌉ at build ⇒ n ≈ nCells²),
    * so no extra job runs at serve time and the width is deterministic
    * per artifact. Sizing history: the round-16 kNN-cut build needed
    * ⌈3·log₂ n⌉ − 20 (reach 0.69/0.84/0.94 at L = 8/16/32 on the 100×
    * corpus — fixed-L reach decayed with n); the α-RNG-DIVERSIFIED
    * build (v9, [[diversifyAdjacency]]) restored navigability at the
    * base width through every measured decade (GraphReach audit:
    * recall 1.0 AND reach 1.0 at L = 8 on the gate, 100×/200k and
    * 1000×/2M corpora — serving 3.7 s vs 72 s at the old L = 43
    * sizing at 2M), so the constant drops to L = max(GraphBeam,
    * ⌈log₂ n⌉ − 13): the base width everywhere measured, still
    * log-growing past the measured envelope (20M → 12, 10⁹ → 17) —
    * margin for the decades no harness here has reached, priced at
    * log instead of 3·log. */
  private[graft] def beamForAnchors(
      anchors: Array[(Int, Array[Double])]): Int = {
    val n = math.max(2.0, anchors.length.toDouble * anchors.length)
    math.max(GraphBeam, math.ceil(math.log(n) / math.log(2)).toInt - 13)
  }

  /** Serving width for the INCREMENTAL read-side state (base + delta
    * epochs + back-link carriers: s22/s24's merged serves, st19's
    * streamed serve) and for s25's label-filtered depth term. Sizing
    * history: pre-bridge delta lists were plain kNN cuts and appended
    * nodes were reachable only through whatever back-links the cut
    * happened to leave — the x100 audit needed ⌈3·log₂ n⌉ − 20 (s22
    * reach 0.69 at the base width). The v10 BRIDGE edges put
    * back-links on exactly the carriers the serve trail visits, which
    * the re-audit priced: x100 incr reach 0.91/0.97/0.97/1.0 at
    * L = 8/12/16/25 (was 0.69/0.78/0.84/0.94), gv100 1.0 at every
    * width — so the incr width drops to ⌈2·log₂ n⌉ − 20 (16 at 200k,
    * reach 0.97 measured; 22 at 2M), still one log-factor above the
    * base width: the delta layer's lists are kNN + bridge, not
    * α-diversified, and the fold remains what retires the asymmetry
    * (a folded generation serves at the base width). */
  private[graft] def beamForAnchorsIncr(
      anchors: Array[(Int, Array[Double])]): Int = {
    val n = math.max(2.0, anchors.length.toDouble * anchors.length)
    math.max(GraphBeam, math.ceil(2 * math.log(n) / math.log(2)).toInt - 20)
  }

  /** The WIDE ⌈3·log₂ n⌉ − 20 sizing, kept for the two paths the
    * post-bridge narrowing does NOT apply to: (a) st21's per-point
    * INSERT search — FreshDiskANN's L_insert is a BUILD-quality knob,
    * a narrow insert search thins the visited pool that becomes the
    * node's edge list, and the deep-decade st21 rows were measured at
    * this width; (b) s25's filtered DEPTH term — the filter discards
    * most scored candidates at answer assembly, so the L-list needs
    * raw depth regardless of how reachable appended carriers are
    * (measured: narrowing it read s25 recall 0.66 at 100× where the
    * wide term reads 0.82; the bridge fixes reachability, not
    * filter-survivor count). */
  private[graft] def beamForAnchorsWide(
      anchors: Array[(Int, Array[Double])]): Int = {
    val n = math.max(2.0, anchors.length.toDouble * anchors.length)
    math.max(GraphBeam, math.ceil(3 * math.log(n) / math.log(2)).toInt - 20)
  }

  /** Safety cap on expansion rounds. The beam terminates by Vamana's
    * CONVERGENCE rule — stop when every top-`beam` candidate has been
    * expanded — not by a fixed hop count: round 16's sweep-scale gate
    * audit caught the fixed 3-hop cutoff leaving appended nodes'
    * back-link carriers scored-but-never-expanded in a 450k-node graph
    * (s22 reach 0.16 at 100× — recall survived because top-K needs
    * only SCORING, reach needs the extra expansion). Convergence makes
    * the round count track the graph's navigation depth (~log n);
    * the cap only bounds pathological inputs. */
  private[graft] val GraphMaxHops = 64

  /** Bounded-degree neighbor-graph build, shaped like DiskANN's sharded
    * Vamana (Subramanya et al. 2019: build per overlapping shard, merge
    * adjacency): every vector joins its 2 nearest trained IVF cells —
    * the overlap is what stitches neighboring cells into one navigable
    * graph — and each cell-shard computes its members' best cosine
    * neighbor lists locally via NN-DESCENT ([[shardKnnLists]]: linear
    * in shard size, so the TOTAL build is linear in corpus — round 15
    * retired the exact per-shard pass whose ~4·n^1.5 dot count was the
    * family's last superlinear build kernel; tiny shards keep the
    * exact path where it is both cheaper and exact). A vector's ≤2
    * shard lists merge to a global top-[[GraphDeg]] in ONE
    * vec_id-keyed reduction, so the whole build is one explode + two
    * key-shuffles — the same cost shape as the s7 index build, with
    * adjacency (DEG longs/vector) persisted beside the codes at
    * ingest. Exposed for the degree-bound spec. */
  private[graft] def s21Graph(e: DataFrame,
                              anchors: Array[(Int, Array[Double])],
                              keep: Int = GraphDeg): DataFrame =
    graphAdjacency(e.withColumn("sel", lit(true)), anchors, keep = keep)

  /** [[s21Graph]] with the NN-descent kernel disabled — every shard
    * takes the exact O(c²) pass. The adjacency-quality spec's
    * reference; never the production path. */
  private[graft] def s21GraphExact(e: DataFrame,
                                   anchors: Array[(Int, Array[Double])])
      : DataFrame =
    graphAdjacency(e.withColumn("sel", lit(true)), anchors,
      minShard = Int.MaxValue)

  /** Shard-wise kNN adjacency over a (vec_id, v, nrm, sel) frame:
    * every row is a CANDIDATE; lists are emitted only for `sel` rows —
    * s21's full build selects everything, s22's append selects only
    * the new batch (base rows serve as candidates, their own lists
    * stay untouched on disk). */
  private[graft] def graphAdjacency(in: DataFrame,
                             anchors: Array[(Int, Array[Double])],
                             minShard: Int = NnDescentMinShard,
                             keep: Int = GraphDeg): DataFrame = {
    val s = in.sparkSession
    import s.implicits._
    val sharded = in.select(
      explode(assignCells(col("v"), col("nrm"), anchors, 2)).as("cell"),
      col("vec_id"), col("v"), col("nrm"), col("sel"))
      .as[(Int, Long, Array[Double], Double, Boolean)]
    val shardLists = sharded.groupByKey(_._1).flatMapGroups { (_, it) =>
      // bounded: one 2-assigned IVF shard (~2n/nCells members); sorted
      // by id so the NN-descent iteration order — and thus the emitted
      // lists — are deterministic at any parallelism
      val m = it.toArray.sortBy(_._2)
        .map { case (_, id, v, nrm, sel) => (id, v, nrm, sel) }
      shardKnnLists(m, minShard)
    }
    shardLists.groupByKey(_._1).mapGroups { (id, it) =>
      val ls = it.toArray // bounded: ≤2 shard lists per vector
      val nbrs = ls.flatMap(l => l._4.zip(l._5))
        .distinctBy(_._1) // the same pair scores bit-identically in both shards
        .sortBy { case (oid, c) => (-c, oid) }
        .take(keep).map(_._1)
      (id, ls.head._2, ls.head._3, nbrs) // local: head of the ≤2-element shard-list array
    }.toDF("vec_id", "v", "nrm", "nbrs")
  }

  /** α-RNG diversity parameter (Vamana's α, cosine-distance form):
    * shared by the build-side [[diversifyAdjacency]] and the fold's
    * re-prune, so a folded generation and a fresh build apply the SAME
    * edge-selection rule. */
  private[graft] val DiversifyAlpha = 1.2
  /** Candidate-pool width the BASE build keeps per node before the
    * α-prune: both overlapping shards' full NN-descent lists (2·width
    * merged-distinct) instead of the plain top-DEG cut. Lazy: declared
    * above [[NnDescentWidth]] in source, so an eager val would read 0
    * during object init. */
  private[graft] lazy val DiversifyPool = 2 * NnDescentWidth
  /** Deterministic cap on a node's prune pool (forward + reverse
    * candidates): a popular near neighbor can accumulate in-links far
    * past the pool width; the prune scans the (-cos, id)-sorted prefix
    * only — DiskANN bounds the visited pool it prunes the same way. */
  private[graft] val DiversifyMaxCand = 256

  /** RobustPrune (Subramanya et al. 2019, α-RNG in cosine-distance
    * form) over a (-cos, id)-sorted candidate array (id, cosToSrc,
    * vec, nrm): greedily keep the best remaining candidate and drop
    * every w an already-kept k α-covers — α·(1 − cos(k,w)) ≤
    * (1 − cos(src,w)) — so the kept ≤ `deg` edges spread over
    * DIRECTIONS instead of packing one tight cluster. The best
    * candidate is never covered, so each node's nearest neighbor
    * always survives. Shared by the base build and the fold. */
  private[graft] def robustPruneKeep(
      cands: Array[(Long, Double, Array[Double], Double)],
      deg: Int): Array[Long] = {
    val kept = collection.mutable
      .ArrayBuffer.empty[(Long, Array[Double], Double)]
    val cit = cands.iterator
    while (kept.length < deg && cit.hasNext) {
      val (w, cw, wv, wn) = cit.next()
      val covered = kept.exists { case (_, kv, kn) =>
        var dot = 0.0; var i = 0
        while (i < kv.length) { dot += kv(i) * wv(i); i += 1 }
        DiversifyAlpha * (1.0 - dot / (kn * wn)) <= (1.0 - cw)
      }
      if (!covered) kept += ((w, wv, wn))
    }
    kept.map(_._1).toArray
  }

  /** Build-side α-RNG diversification over a WIDE adjacency frame
    * (vec_id, v, nrm, nbrs with up to [[DiversifyPool]] candidates):
    * kNN-only adjacency packs each node's edges into its one nearest
    * cluster, which costs serving-beam width at scale (navigability
    * is held by widening L). Vamana gets diversity by RobustPrune over
    * each point's search-VISITED pool; the distributed analog here
    * prunes each node's merged forward lists UNION its reverse edges
    * (an in-link from w means w found this node near — the reverse
    * direction carries exactly the longer-range candidates the kNN cut
    * discards), rescored from vectors, α-pruned to top-[[GraphDeg]].
    * One explode + one key-shuffle join + one grouped prune — linear
    * in corpus, ingest-time only, the same frame shape as the fold's
    * re-prune pass. Every node keeps its row (left join; a node whose
    * pool is empty keeps an empty list, the fold's convention). */
  private[graft] def diversifyAdjacency(wide: DataFrame): DataFrame = {
    val s = wide.sparkSession
    import s.implicits._
    val fwd = wide.select(col("vec_id").as("u"), explode(col("nbrs")).as("w"))
    val edges = fwd
      .unionByName(fwd.select(col("w").as("u"), col("u").as("w")))
      .distinct()
    val slim = wide.select(col("vec_id").as("w"),
      col("v").as("wv"), col("nrm").as("wn"))
    // candidate vectors ride ONE key shuffle, as FLOAT32: every node's
    // group also receives its own (u = w) SELF row carrying u's
    // vector, so the source-side vector join — a second full
    // vector-payload shuffle, which at 2M vectors measurably dominated
    // the pass — never runs; and since every `v` value was cast FROM
    // the stored float32 embedding, the float round trip is exact and
    // the local double cosines are bit-identical to the column form at
    // half the shuffle bytes. Cosines + prune run locally per group.
    val grouped = edges
      .join(slim, Seq("w"))
      .unionByName(wide.select(col("vec_id").as("u"),
        col("vec_id").as("w"), col("v").as("wv"), col("nrm").as("wn")))
      .select(col("u"), col("w"),
        expr("transform(wv, x -> cast(x AS float))").as("wv"), col("wn"))
      .as[(Long, Long, Array[Float], Double)]
    val lists = grouped.groupByKey(_._1).mapGroups { (u, it) =>
      // local: pool ≤ forward width + in-degree (+1 self row), sorted
      // then capped at [[DiversifyMaxCand]] — deterministic at any
      // parallelism
      val all = it.toArray
      val selfIdx = all.indexWhere(_._2 == u) // the unioned self row
      def toD(a: Array[Float]): Array[Double] = {
        val out = new Array[Double](a.length)
        var i = 0; while (i < a.length) { out(i) = a(i); i += 1 }
        out
      }
      val uv = toD(all(selfIdx)._3); val un = all(selfIdx)._4
      def cosTo(wv: Array[Double], wn: Double): Double = {
        var dot = 0.0; var i = 0
        while (i < uv.length) { dot += uv(i) * wv(i); i += 1 }
        dot / (un * wn)
      }
      val cands = all.filter(_._2 != u).distinctBy(_._2)
        .map { case (_, w, wvF, wn) =>
          val wv = toD(wvF); (w, cosTo(wv, wn), wv, wn)
        }
        .sortBy { case (w, c, _, _) => (-c, w) }
        // local: in-task array over one node's pool (≤ width +
        // in-degree), capped to the sorted prefix — no Dataset here
        .take(DiversifyMaxCand)
      (u, robustPruneKeep(cands, GraphDeg))
    }.toDF("vec_id", "nbrs2")
    wide.select(col("vec_id"), col("v"), col("nrm"))
      .join(lists, Seq("vec_id"), "left")
      .select(col("vec_id"), col("v"), col("nrm"),
        coalesce(col("nbrs2"),
          expr("CAST(array() AS array<bigint>)")).as("nbrs"))
  }

  // --- shard kNN kernel (the graph build's inner loop) ---------------
  // NN-DESCENT (Dong et al., WWW 2011) replaced the exact per-shard
  // brute force in round 15: brute is O(c²) dots per shard, which at
  // the ~2√n shard sizing made the whole build ~4·n^1.5 — the last
  // superlinear-in-n kernel in the index family. NN-descent's local
  // join costs O(c · width² · iters) per shard ⇒ the TOTAL build is
  // O(n · width² · iters), linear in corpus at any shard geometry.
  // Honest crossover note: in absolute dot counts brute wins below
  // c ≈ 1500 (measured scales pay a small constant premium, <1 s at
  // the 100× decade), but the linear-in-n curve is what a petabyte
  // build needs; BASELINE.md carries the explicit build-time trend.
  /** Lists are built at width [[NnDescentWidth]] (> DEG: the slack is
    * what keeps the post-merge top-DEG accurate) and truncated by the
    * cross-shard merge. */
  private[graft] val NnDescentWidth = 12
  /** Below 3·width the candidate lists nearly ARE the shard — brute
    * force is exact and cheaper, so tiny shards keep it. */
  private[graft] val NnDescentMinShard = 3 * NnDescentWidth
  private[graft] val NnDescentMaxIters = 12
  /** Convergence: stop when an epoch's successful inserts fall under
    * Delta · c · width (Dong's δ). */
  private[graft] val NnDescentDelta = 0.002

  /** Per-shard approximate-kNN lists for the `sel` rows of a member
    * array SORTED BY ID (determinism: iteration order is data order).
    * Emits (id, v, nrm, nbrIds, nbrCos) with up to [[NnDescentWidth]]
    * exact-cosine-scored candidates per row, best-first, ties on id —
    * the cross-shard merge truncates to the contract's top-DEG.
    * Fully deterministic: seeded splitmix init, sequential in-task
    * loops, (-cos, id) ordering everywhere.
    *
    * Lane rule: NN-descent improves EVERY member's list (cost
    * ∝ shard), so it only pays for BUILD-shaped calls where most rows
    * want lists (sel-dense). APPEND-shaped calls (sel-sparse — s22's
    * batch, st19's epochs) take the exact per-sel-row scan instead:
    * nSel·c dots, cheaper than a full descent below half density and
    * exact — the batch analog of a search-based production insert. */
  private[graft] def shardKnnLists(
      m: Array[(Long, Array[Double], Double, Boolean)],
      minShard: Int = NnDescentMinShard)
      : Iterator[(Long, Array[Double], Double, Array[Long], Array[Double])] = {
    val nSel = m.count(_._4)
    if (m.length <= minShard || nSel * 2 < m.length) exactShardKnnLists(m)
    else nnDescentShardLists(m)
  }

  /** The exact O(c²) kernel — tiny shards' fast path and the
    * adjacency-quality spec's reference. */
  private[graft] def exactShardKnnLists(
      m: Array[(Long, Array[Double], Double, Boolean)])
      : Iterator[(Long, Array[Double], Double, Array[Long], Array[Double])] =
    m.iterator.filter(_._4).map { case (id, v, nrm, _) =>
      val cands = collection.mutable.ArrayBuffer.empty[(Double, Long)]
      m.foreach { case (oid, ov, onrm, _) =>
        if (oid != id) {
          var dot = 0.0; var i = 0
          while (i < v.length) { dot += v(i) * ov(i); i += 1 }
          cands += ((dot / (nrm * onrm), oid))
        }
      }
      // local: plain in-task buffer, ≤ shard-size candidate rows
      val top = cands.sortBy { case (c, oid) => (-c, oid) }
        .take(NnDescentWidth)
      (id, v, nrm, top.map(_._2).toArray, top.map(_._1).toArray)
    }

  /** NN-descent proper: seed every node with width pseudo-random
    * (seeded, deterministic) candidates, then repeat the local join —
    * for each node, every NEW member of its general neighborhood
    * (forward list ∪ reverse edges) is compared against the rest, and
    * both sides try to adopt each other — until an epoch's inserts
    * fall under δ·c·width. Each comparison is an exact cosine, so the
    * emitted lists carry true scores (only COVERAGE is approximate;
    * the quality spec bounds it against [[exactShardKnnLists]]). */
  private def nnDescentShardLists(
      m: Array[(Long, Array[Double], Double, Boolean)])
      : Iterator[(Long, Array[Double], Double, Array[Long], Array[Double])] = {
    // Shards at or under the candidate width have nothing to descend
    // over (the lists ARE the shard) and the seeded init's
    // floorMod(·, c − 1) divides by zero at c = 1 — route them to the
    // exact kernel unconditionally, even when a spec forces the
    // descent lane via a minShard override.
    if (m.length <= NnDescentWidth) return exactShardKnnLists(m)
    val c = m.length
    val w = NnDescentWidth
    def cosOf(i: Int, j: Int): Double = {
      val a = m(i)._2; val b = m(j)._2
      var dot = 0.0; var k = 0
      while (k < a.length) { dot += a(k) * b(k); k += 1 }
      dot / (m(i)._3 * m(j)._3)
    }
    // per-node state: parallel arrays sorted best-first by (-cos, id)
    val nIdx = Array.fill(c)(new Array[Int](w))
    val nCos = Array.fill(c)(new Array[Double](w))
    val nNew = Array.fill(c)(new Array[Boolean](w))
    val len = new Array[Int](c)
    def better(ca: Double, ia: Int, cb: Double, ib: Int): Boolean =
      ca > cb || (ca == cb && m(ia)._1 < m(ib)._1)
    // returns true iff (j, cj) entered i's list (absent before, and
    // either a free slot or better than the current worst)
    def insert(i: Int, j: Int, cj: Double): Boolean = {
      val li = len(i)
      var s = 0
      while (s < li) { if (nIdx(i)(s) == j) return false; s += 1 }
      if (li == w && !better(cj, j, nCos(i)(li - 1), nIdx(i)(li - 1)))
        return false
      var p = if (li == w) li - 1 else li
      while (p > 0 && better(cj, j, nCos(i)(p - 1), nIdx(i)(p - 1))) {
        nIdx(i)(p) = nIdx(i)(p - 1); nCos(i)(p) = nCos(i)(p - 1)
        nNew(i)(p) = nNew(i)(p - 1); p -= 1
      }
      nIdx(i)(p) = j; nCos(i)(p) = cj; nNew(i)(p) = true
      if (len(i) < w) len(i) = li + 1
      true
    }
    def mix(z0: Long): Long = { // splitmix64: seeded deterministic init
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    var i = 0
    while (i < c) {
      var k = 0
      while (k < w) {
        val j0 = java.lang.Math.floorMod(mix(i.toLong * w + k), c - 1).toInt
        val j = if (j0 >= i) j0 + 1 else j0
        insert(i, j, cosOf(i, j))
        k += 1
      }
      i += 1
    }
    val minUpdates = (NnDescentDelta * c * w).toLong
    var iter = 0
    var updates = Long.MaxValue
    while (iter < NnDescentMaxIters && updates > minUpdates) {
      updates = 0L
      // snapshot new/old membership, clear flags, build reverse edges
      // (reverse lists capped at width, kept by insertion order — the
      // ascending-i scan makes the cap deterministic)
      val fwdNew = Array.fill(c)(List.empty[Int])
      val fwdOld = Array.fill(c)(List.empty[Int])
      val revNew = Array.fill(c)(List.empty[Int])
      val revOld = Array.fill(c)(List.empty[Int])
      val revCnt = new Array[Int](c)
      i = 0
      while (i < c) {
        var s = 0
        while (s < len(i)) {
          val j = nIdx(i)(s)
          if (nNew(i)(s)) {
            fwdNew(i) ::= j
            if (revCnt(j) < w) { revNew(j) ::= i; revCnt(j) += 1 }
            nNew(i)(s) = false
          } else {
            fwdOld(i) ::= j
            if (revCnt(j) < w) { revOld(j) ::= i; revCnt(j) += 1 }
          }
          s += 1
        }
        i += 1
      }
      // local join at every node v: new × (new ∪ old) over v's general
      // neighborhood; each exact cosine tries to enter BOTH lists
      i = 0
      while (i < c) {
        val nw = (fwdNew(i) ::: revNew(i)).distinct
        val od = (fwdOld(i) ::: revOld(i)).distinct.filterNot(nw.contains)
        var xs = nw
        while (xs.nonEmpty) {
          // local: in-task Scala Lists over one node's ≤4·width
          // neighborhood — no Dataset anywhere in the kernel
          val a = xs.head; xs = xs.tail
          var ys = xs // new × new, unordered pairs once
          while (ys.nonEmpty) {
            // local: same in-task List walk — no Dataset in the kernel
            val b = ys.head; ys = ys.tail
            if (a != b) {
              val cab = cosOf(a, b)
              if (insert(a, b, cab)) updates += 1
              if (insert(b, a, cab)) updates += 1
            }
          }
          var zs = od // new × old
          while (zs.nonEmpty) {
            // local: same in-task List walk as above
            val b = zs.head; zs = zs.tail
            if (a != b) {
              val cab = cosOf(a, b)
              if (insert(a, b, cab)) updates += 1
              if (insert(b, a, cab)) updates += 1
            }
          }
        }
        i += 1
      }
      iter += 1
    }
    m.iterator.zipWithIndex.filter(_._1._4).map { case ((id, v, nrm, _), ii) =>
      (id, v, nrm,
        Array.tabulate(len(ii))(s => m(nIdx(ii)(s))._1),
        Array.tabulate(len(ii))(s => nCos(ii)(s)))
    }
  }

  /** Per-cell entry point: the member nearest its own anchor — one
    * map-side-combinable `min(struct)` aggregate, never a corpus
    * window. These play the role of HNSW's upper layers: a query's
    * beam seeds at its nearest cells' representatives. */
  private def s21CellReps(e: DataFrame,
                          anchors: Array[(Int, Array[Double])]): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val anchorsDF = anchors.toSeq.toDF("cell", "av")
      .withColumn("an", sqrt(vecNorm2(col("av"))))
    e.withColumn("cell", assignCells(col("v"), col("nrm"), anchors, 1)(0))
      .join(broadcast(anchorsDF), Seq("cell"))
      .groupBy(col("cell"))
      .agg(min(struct((lit(0) - vecDot(col("v"), col("av")) /
        (col("nrm") * col("an"))).as("negSim"),
        col("vec_id").as("id"))).as("best"))
      .select(col("cell"), col("best.id").as("rep"))
  }

  /** Durable fingerprint-keyed graph-index artifact: `adj/` holds the
    * merged adjacency (vec_id, v, nrm, nbrs) range-partitioned and
    * sorted on vec_id — the beam's `isin` fetches prune to row groups
    * by min/max stats, the local analog of bucket-pruned point reads —
    * and `reps/` the per-cell entry points; anchors ride the same
    * `_anchors.txt` sidecar as the IVF artifacts, next to the
    * `_labels.txt` histogram. Published by [[graft.FsUtil.publishDir]];
    * both sidecars must read back whole for reuse. Building is ingest
    * work ([[ensureIndexes]]); the s21 query times the SERVE path,
    * like s7 vs its index build. */
  private val graphIndexCache =
    new graft.FsUtil.SessionMemo[String, (String, Array[(Int, Array[Double])])]

  private[graft] def graphIndexPath(s: SparkSession, d: String)
      : (String, Array[(Int, Array[Double])]) =
    graphIndexCache.getOrElseUpdate((s, d),
      graft.FsUtil.publishDir(artifactDir("graph", d)) { dir =>
        readLabelHist(dir).flatMap(_ => readAnchors(dir)).map(_._1)
      } { tmp =>
        val e = prepared(s, d)
        val anchors = trainedAnchors(s, d, e)
        val path = tmp.getAbsolutePath
        diversifyAdjacency(s21Graph(e, anchors, keep = DiversifyPool))
          .repartitionByRange(col("vec_id"))
          .sortWithinPartitions("vec_id")
          .write.mode("overwrite").parquet(s"$path/adj")
        s21CellReps(e, anchors)
          .coalesce(1).write.mode("overwrite").parquet(s"$path/reps")
        writeAnchors(tmp, anchors, anchors.length)
        writeLabelHist(tmp, embeddings(s, d)
          .groupBy(col("label")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq) // bounded: one row per label
        anchors
      })

  /** S21: graph-based ANN — the DiskANN/HNSW-family member completing
    * the ladder (flat scan s1, hash buckets s2, inverted file s3/s6,
    * compressed codes s5/s9/s10/s15/s20, and now a navigable neighbor
    * GRAPH, the layout behind the highest recall-per-probe serving
    * stacks in public use). Serves from the durable
    * [[graphIndexPath]] artifact; building it is ingest work.
    *
    * SEARCH is point-lookup shaped, exactly how a DiskANN shard
    * serves: the beam seeds at each query's 2 nearest cells'
    * representatives (IVF-guided entry), then convergence-terminated rounds
    * of best-first expansion — take the per-query top-[[GraphBeam]]
    * unexpanded nodes, fetch their adjacency rows BY KEY (an `isin`
    * over a driver-bounded id list; at scale a bucket-pruned point
    * read, the graph analog of s7's partition-pruned probe), score
    * the newly reached nodes in ONE point-read job per round, fold
    * them into the beam. Against the base artifact every per-round
    * frame is ≤ beam·DEG·queries rows (the incremental store's
    * read-side-merged lists can exceed DEG by the node's back-linked
    * appends until the fold compacts them, bounded at fetch time by
    * [[FetchBackBudget]]) and the corpus is never rescanned after the
    * build. The
    * query node itself is reachable (cos = 1.0 ranks it to the beam
    * head), so its own adjacency — its true top-DEG neighbors —
    * joins the scored set one round later; the final rerank drops
    * self rows. Recall-gated like s2/s3 (floor 0.7); every rank ties
    * on id over fixed-order double folds, so the answer and the gate
    * value are deterministic at any parallelism. */
  /** Best-first beam expansion over an adjacency store, shared by s21
    * (base graph) and s22 (base + LSM delta): `fetch(ids)` returns the
    * adjacency rows (vec_id, v, nrm, nbrs) for a driver-bounded id
    * list — a key-pruned point read at any store layout; `qSide` is
    * the (query_id, qv, qn) query frame (broadcast-sized). Returns the
    * UNION of the per-round scored frames (query_id, neighbor_id,
    * cos4) — self rows included (reaching the query node itself is
    * how its true neighborhood enters the beam; s22's reachability
    * gate reads them); callers drop self before reranking. */
  private[graft] def graphBeam(s: SparkSession, fetch: Seq[Long] => DataFrame,
                        qSide: DataFrame,
                        seeds: Seq[(Long, Long)],
                        beam: Int = GraphBeam,
                        maxHops: Int = GraphMaxHops): DataFrame = {
    import s.implicits._
    if (seeds.isEmpty)
      throw new IllegalStateException(
        "graph beam never scored a node — no valid seeds reached the loop")
    // Round-16 optimization (guide §1.2 step 1: fewer jobs; §5: the
    // driver lane is ALREADY driver-bounded by the graphBeamAuto
    // dispatch, < GraphBeamExecMinQueries queries). The previous shape
    // paid THREE Spark jobs per round — localCheckpoint of the hop
    // frame, its collect, plus re-broadcasting qSide — on frames the
    // loop collected to the driver anyway for the beam bookkeeping.
    // Now each round is exactly ONE job: the key-pruned point read of
    // the NEW frontier ids (a node reached again by a later query is
    // served from the round cache instead of re-fetched), with the
    // pair scoring done where the pairs already live. The cosine is
    // bit-identical to the removed `round(vecDot(qv,v)/(qn*nrm), 4)`
    // projection: the same ascending fold as [[VecDot]] and the same
    // BigDecimal.valueOf/HALF_UP rounding as Catalyst's Round — the
    // graphBeam-vs-graphBeamExec row-identity spec pins it (the exec
    // lane still scores through the Spark expression).
    val queries: Map[Long, (Array[Double], Double)] =
      qSide.select(col("query_id"), col("qv"), col("qn"))
        .collect().map { r => // bounded: < GraphBeamExecMinQueries query rows
          r.getLong(0) -> ((r.getSeq[Double](1).toArray, r.getDouble(2)))
        }.toMap
    def round4(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val scored = collection.mutable.Set.empty[(Long, Long)]
    val expanded = collection.mutable.Set.empty[(Long, Long)]
    val adj = collection.mutable.Map.empty[Long, Array[Long]]
    val nodeV = collection.mutable.Map.empty[Long, (Array[Double], Double)]
    val fetchedIds = collection.mutable.Set.empty[Long]
    val beamState = collection.mutable.Map // per-query scored candidates
      .empty[Long, collection.mutable.ArrayBuffer[(Double, Long)]]
    val out = collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var frontier = seeds
    var h = 0
    while (h <= maxHops && frontier.exists(p => !scored(p))) {
      val pending = frontier.filterNot(scored).distinct
      scored ++= pending
      val need = pending.map(_._2).distinct.filterNot(fetchedIds)
      if (need.nonEmpty) {
        fetchedIds ++= need
        fetch(need).select(col("vec_id"), col("v"), col("nrm"), col("nbrs"))
          .collect().foreach { r => // bounded: ≤ |new frontier ids| point rows per round
            val id = r.getLong(0)
            nodeV(id) = ((r.getSeq[Double](1).toArray, r.getDouble(2)))
            adj(id) = r.getSeq[Long](3).toArray
          }
      }
      pending.foreach { case (q0, id) =>
        // a missing adjacency row (dangling target) or an unknown
        // query id drops the pair, exactly as the removed inner joins
        (nodeV.get(id), queries.get(q0)) match {
          case (Some((v, nrm)), Some((qv, qn))) =>
            val n = math.min(qv.length, v.length)
            var dot = 0.0; var i = 0
            while (i < n) { dot += qv(i) * v(i); i += 1 }
            val c = round4(dot / (qn * nrm))
            out += ((q0, id, c))
            beamState.getOrElseUpdate(q0,
              collection.mutable.ArrayBuffer.empty) += ((c, id))
          case _ => ()
        }
      }
      frontier = beamState.toSeq.flatMap { case (q, cands) =>
        // Vamana convergence: the expansion set is the UNEXPANDED
        // members of the top-`beam` candidates OVERALL (the L-list) —
        // take(beam) BEFORE the expanded filter. The loop then ends
        // exactly when every L-list member is expanded, instead of
        // wandering deeper down the scored tail or stopping at an
        // arbitrary fixed round.
        // local: per-query beam over the driver-bounded scored map
        cands.sortBy { case (c, id) => (-c, id) }.iterator.take(beam)
          .map(_._2)
          .filterNot(id => expanded((q, id)))
          .flatMap { id => expanded += ((q, id)); adj(id).map(n => (q, n)) }
          .toSeq
      }
      h += 1
    }
    out.toSeq.toDF("query_id", "neighbor_id", "cos4")
  }

  /** Executor-side variant of [[graphBeam]] for LARGE query batches —
    * the structure a 10⁶-query serving tier needs (the round-14
    * verdict's watch item): per-query beam state lives in DataFrames
    * keyed by query_id instead of driver maps, and each round's beam
    * step (top-`beam` unexpanded candidates per query) runs as a
    * `groupByKey.flatMapGroups` ON THE EXECUTORS — driver traffic per
    * round is only the DISTINCT node-id list for the point-read fetch
    * (queries' frontiers overlap heavily, so the id set collapses far
    * below |queries|·beam; the fetch stays the driver-bounded
    * key-pruned read the artifact layout is built for). Row-identical
    * to [[graphBeam]] by construction — same (-cos4, id) ordering,
    * same expansion bookkeeping, the same rounds — and the equality
    * spec proves it on the gate corpus at 1× and 6.4× the gate query
    * set. Every serve path dispatches through [[graphBeamAuto]]: the
    * driver loop below [[GraphBeamExecMinQueries]] distinct queries,
    * this loop at or above it.
    *
    * Threshold sizing (round 16, measured): driver-loop state is
    * ~queries · rounds · beam · DEG small tuples — tens of MB at 512
    * queries even at the 100× beam width — while the exec lane pays
    * several Spark jobs PER ROUND (state/expanded checkpoints + the
    * group step), which DOMINATED real insert epochs at small batch
    * sizes (st21's 67-query epochs through the exec lane cost ~5× the
    * batch lane's whole run). 512 keeps the driver lane for every
    * gate/bench/epoch shape here and reserves the executor lane for
    * the 10⁴+-query tiers whose hop frames no driver should hold. */
  private[graft] val GraphBeamExecMinQueries = 512

  private[graft] def graphBeamExec(s: SparkSession,
                        fetch: Seq[Long] => DataFrame,
                        qSide: DataFrame,
                        seeds: Seq[(Long, Long)],
                        beam: Int = GraphBeam,
                        maxHops: Int = GraphMaxHops): DataFrame = {
    import s.implicits._
    val qB = broadcast(qSide)
    // Per-round state lives as LISTS of checkpointed DELTAS, unioned
    // lazily where a round needs the whole set. The first version
    // re-checkpointed the ACCUMULATED state every round — O(rounds²)
    // write volume, which the convergence-length round counts of large
    // graphs turned into the dominant cost (measured: a 6.7k-query
    // insert epoch at the 100× corpus spent ~24 minutes mostly
    // rewriting its own scored state). Deltas are round-bounded; the
    // union read per round is unavoidable (the beam step consumes all
    // scored rows) but reading N checkpointed frames costs O(total)
    // with no rewrite.
    var hopFrames: List[DataFrame] = Nil       // (query_id, neighbor_id, cos4, nbrs)
    var expandedFrames: List[DataFrame] = Nil  // (query_id, neighbor_id) per round
    // attempted mirrors graphBeam's `scored ++= pending` BEFORE the
    // fetch: a pair whose id has no adjacency row (dangling target in
    // an aged artifact) must not be re-collected and re-fetched every
    // round it is re-reached
    var attemptedFrames: List[DataFrame] = Nil // (query_id, id) per round
    def unionAll(fs: List[DataFrame]): DataFrame =
      fs.reduce(_ unionByName _)
    var pending: DataFrame = seeds.toDF("query_id", "id").distinct()
      .localCheckpoint(true)
    var h = 0
    var done = false
    while (h <= maxHops && !done) {
      val ids = pending.select(col("id")).distinct()
        .collect().map(_.getLong(0)).toSeq // bounded: DISTINCT fetched node ids per round (frontier overlap collapses across queries)
      if (ids.isEmpty) done = true
      else {
        attemptedFrames ::= pending
        val hop = fetch(ids)
          .join(pending, col("vec_id") === col("id"))
          .join(qB, Seq("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            round(vecDot(col("qv"), col("v")) / (col("qn") * col("nrm")), 4)
              .as("cos4"),
            col("nbrs"))
          .localCheckpoint(true)
        hopFrames ::= hop
        val scoredAll = unionAll(hopFrames)
        val exp =
          if (expandedFrames.isEmpty)
            hop.limit(0).select(col("query_id"), col("neighbor_id"))
          else unionAll(expandedFrames)
        // the beam step, executor-side, mirroring the driver loop's
        // convergence rule: each query's scored rows sort locally, the
        // top `beam` OVERALL form the L-list, and its unexpanded
        // members expand — the stream drains when every L-list member
        // is expanded (selected empty ⇒ pending empty ⇒ done)
        val selected = scoredAll
          .join(exp.withColumn("is_exp", lit(true)),
            Seq("query_id", "neighbor_id"), "left")
          .select(col("query_id"), col("neighbor_id"), col("cos4"),
            col("nbrs"), coalesce(col("is_exp"), lit(false)).as("is_exp"))
          .as[(Long, Long, Double, Array[Long], Boolean)]
          .groupByKey(_._1).flatMapGroups { (q, it) =>
            // local: one query's scored rows, ≤ rounds·beam·DEG
            it.toArray.sortBy { case (_, id, c, _, _) => (-c, id) }
              .take(beam)
              .iterator.filterNot(_._5)
              .map { case (_, id, _, nbrs, _) => (q, id, nbrs) }
          }.toDF("query_id", "neighbor_id", "nbrs")
          .localCheckpoint(true)
        expandedFrames ::=
          selected.select(col("query_id"), col("neighbor_id"))
        pending = selected
          .select(col("query_id"), explode(col("nbrs")).as("id")).distinct()
          .join(unionAll(attemptedFrames), Seq("query_id", "id"), "left_anti")
          .localCheckpoint(true)
      }
      h += 1
    }
    if (hopFrames.isEmpty)
      throw new IllegalStateException(
        "graph beam never scored a node — no valid seeds reached the loop")
    unionAll(hopFrames).select(col("query_id"), col("neighbor_id"), col("cos4"))
  }

  /** The dispatch every serve path goes through: the driver loop below
    * [[GraphBeamExecMinQueries]] distinct queries (fewer Spark jobs —
    * the gate shape), the executor-side loop at or above it (the
    * 10⁶-query shape). The two are row-identical (spec-proven), so the
    * switch is pure cost. */
  /** Which loop the last [[graphBeamAuto]] call took — the regime
    * probe the dispatch spec reads (t20LastRegime's pattern). */
  @volatile private[graft] var lastBeamPath: String = ""

  private[graft] def graphBeamAuto(s: SparkSession,
                        fetch: Seq[Long] => DataFrame,
                        qSide: DataFrame,
                        seeds: Seq[(Long, Long)],
                        beam: Int = GraphBeam,
                        maxHops: Int = GraphMaxHops): DataFrame = {
    // local: seeds are already a driver-held list; counting queries is free
    val nq = seeds.iterator.map(_._1).toSet.size
    if (nq >= GraphBeamExecMinQueries) {
      lastBeamPath = "exec"
      graphBeamExec(s, fetch, qSide, seeds, beam, maxHops)
    } else {
      lastBeamPath = "driver"
      graphBeam(s, fetch, qSide, seeds, beam, maxHops)
    }
  }

  /** Fused serve+reach beam shared by s22/s24: ONE [[graphBeam]] run
    * over the standard query set ∪ a reachability sample (per-query
    * beam state is independent, so the fusion is row-identical to two
    * separate runs at half the fetch rounds). Returns the scored frame
    * and the sample's self-found fraction (1.0 for an empty sample —
    * nothing to prove, never a NaN). */
  private[graft] def serveWithReach(s: SparkSession, fetch: Seq[Long] => DataFrame,
                             anchors: Array[(Int, Array[Double])],
                             reps: DataFrame, e: DataFrame,
                             sample: DataFrame): (DataFrame, Double) = {
    val sampleIds = sample.select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet // bounded: ≤32 sample ids
    val q = e.filter(col("vec_id") < NQueries)
    val qU = q.unionByName(sample).dropDuplicates("vec_id")
    val scored = graphBeamAuto(s, fetch,
      qU.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn")),
      graphSeeds(qU, anchors, reps),
      beam = beamForAnchorsIncr(anchors))
    val found = scored.filter(col("query_id") === col("neighbor_id"))
      .select(col("query_id"))
      .collect().map(_.getLong(0)).toSet // bounded: ≤ |sample|+NQueries self rows
    val reachFrac =
      if (sampleIds.isEmpty) 1.0
      else sampleIds.count(found).toDouble / sampleIds.size
    (scored, reachFrac)
  }

  /** Seed pairs for [[graphBeam]]: each query's `nSeed` nearest cells'
    * entry representatives. A probed cell can lack a rep (reps exist
    * only for cells that are some vector's top-1 assignment; Lloyd's
    * keeps anchors whose members were poached, and s22 derives reps
    * from the base slice only) — a LEFT join would silently drop such
    * a query from the answer and misattribute the recall dip to beam
    * quality, so every seedless query falls back to the DETERMINISTIC
    * global entry (the smallest cell's rep) and an empty rep store
    * fails loud. */
  private[graft] def graphSeeds(q: DataFrame, anchors: Array[(Int, Array[Double])],
                         reps: DataFrame, nSeed: Int = 2): Seq[(Long, Long)] = {
    val seeded = queryProbes(q, anchors, nSeed, "vec_id")
      .join(broadcast(reps), Seq("cell"), "left")
      .select(col("vec_id"), col("rep"))
      // bounded: nSeed rows per query
      .collect().map(r =>
        (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    // computed only when a seedless query is actually observed — the
    // common fully-seeded path pays no extra Spark job
    lazy val fallback: Option[Long] = reps.orderBy(col("cell")).limit(1)
      .select(col("rep"))
      .collect().headOption.map(_.getLong(0)) // bounded: one global-entry row
    seeded.map {
      case (q0, Some(rep)) => (q0, rep)
      case (q0, None) => (q0, fallback.getOrElse(throw new IllegalStateException(
        "graph index has no entry representatives — the reps store is empty")))
    }.toSeq.distinct
  }

  def s21AnnGraph(s: SparkSession, d: String): DataFrame = {
    val (path, anchors) = graphIndexPath(s, d)
    val g = s.read.parquet(s"$path/adj")
    val e = prepared(s, d) // only the NQueries query rows are read (pushed filter)
    val q = e.filter(col("vec_id") < NQueries)
    val seeds = graphSeeds(q, anchors, s.read.parquet(s"$path/reps"))
    val all = graphBeamAuto(s,
      ids => g.filter(col("vec_id").isin(ids: _*)),
      q.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn")),
      seeds, beam = beamForAnchors(anchors))
      .filter(col("query_id") =!= col("neighbor_id"))
    withRecallGate(s, d, "s21",
      rerank(all).select(col("query_id"), col("neighbor_id"), col("cos4"),
        col("rn")),
      floor = 0.7)
  }

  /** Diagnostic body for the [[graft.GraphReach]] main: serve the base
    * graph artifact at EXPLICIT beam widths and report (beam, recall,
    * reach) — the sweep-scale audit companion used to size
    * [[beamForAnchors]]'s log-n constant against a corpus decade
    * (fixed-L reach decay is measured here, not assumed). */
  private[graft] def graphReachAt(s: SparkSession, d: String,
      beams: Seq[Int]): Seq[(Int, Double, Double, Double)] = {
    val (path, anchors) = graphIndexPath(s, d)
    val g = s.read.parquet(s"$path/adj")
    val reps = s.read.parquet(s"$path/reps")
    val e = prepared(s, d)
    val exactPairs = pairSet(exactTopK(s, d))
    val sample = e.filter(col("vec_id") % 10 === 9)
      .orderBy(col("vec_id")).limit(32).localCheckpoint(true)
    val sampleIds = sample.select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet // bounded: ≤32 sample ids
    val q = e.filter(col("vec_id") < NQueries)
    val qU = q.unionByName(sample).dropDuplicates("vec_id")
    val seeds = graphSeeds(qU, anchors, reps)
    beams.map { b =>
      val t0 = System.nanoTime()
      val scored = graphBeamAuto(s,
        ids => g.filter(col("vec_id").isin(ids: _*)),
        qU.select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn")),
        seeds, beam = b).localCheckpoint(true)
      val serveSec = (System.nanoTime() - t0) / 1e9
      val found = scored.filter(col("query_id") === col("neighbor_id"))
        .select(col("query_id"))
        .collect().map(_.getLong(0)).toSet // bounded: ≤ |sample|+NQueries self rows
      val reach =
        if (sampleIds.isEmpty) 1.0
        else sampleIds.count(found).toDouble / sampleIds.size
      val res = rerank(scored.filter(col("query_id") < NQueries &&
        col("query_id") =!= col("neighbor_id")))
        .select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
      val recall = (pairSet(res) & exactPairs).size.toDouble / exactPairs.size
      (b, recall, reach, serveSec)
    }
  }

  /** [[graphReachAt]] for the INCREMENTAL artifact (base + delta +
    * back-links through [[fetchIncr]]) — the companion that sizes
    * [[beamForAnchorsIncr]]: the reach sample here is 32 APPENDED
    * nodes (the `% 10 === 9` batch), so a row measures exactly the
    * carrier-expansion property the wide incr beam exists for. Used to
    * re-read the incr width after the v10 bridge edges. */
  private[graft] def graphIncrReachAt(s: SparkSession, d: String,
      beams: Seq[Int]): Seq[(Int, Double, Double, Double)] = {
    val (path, anchors) = graphIncrPath(s, d)
    val reps = s.read.parquet(s"$path/reps")
    val e = prepared(s, d)
    val exactPairs = pairSet(exactTopK(s, d))
    val sample = e.filter(col("vec_id") % 10 === 9)
      .orderBy(col("vec_id")).limit(32).localCheckpoint(true)
    val sampleIds = sample.select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet // bounded: ≤32 sample ids
    val q = e.filter(col("vec_id") < NQueries)
    val qU = q.unionByName(sample).dropDuplicates("vec_id")
    val seeds = graphSeeds(qU, anchors, reps)
    beams.map { b =>
      val t0 = System.nanoTime()
      val scored = graphBeamAuto(s, fetchIncrFn(s, path),
        qU.select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn")),
        seeds, beam = b).localCheckpoint(true)
      val serveSec = (System.nanoTime() - t0) / 1e9
      val found = scored.filter(col("query_id") === col("neighbor_id"))
        .select(col("query_id"))
        .collect().map(_.getLong(0)).toSet // bounded: ≤ |sample|+NQueries self rows
      val reach =
        if (sampleIds.isEmpty) 1.0
        else sampleIds.count(found).toDouble / sampleIds.size
      val res = rerank(scored.filter(col("query_id") < NQueries &&
        col("query_id") =!= col("neighbor_id")))
        .select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
      val recall = (pairSet(res) & exactPairs).size.toDouble / exactPairs.size
      (b, recall, reach, serveSec)
    }
  }

  // ------------------------------------------------------------- S25
  /** Beam width for label-FILTERED graph serving: the answer keeps
    * only label-matching candidates, so the beam must reach ~L× more
    * nodes to surface the same K matches (L = label cardinality) —
    * filtered-DiskANN's production knob, widened instead of
    * constraining traversal. */
  private[graft] val FilteredBeam = 4 * GraphBeam
  /** Cap on the adaptive widening — the serve-cost bound a production
    * deployment states up front (filtered-DiskANN caps its L the same
    * way; a rarer-than-1/(Max/K) label costs a warning-grade recall
    * gate, not an unbounded beam). */
  private[graft] val MaxFilteredBeam = 16 * GraphBeam

  /** The filtered-DiskANN adaptive-L rule: the beam's L-list must hold
    * ~K label-matching candidates for answer depth K, and a filter
    * matching fraction `sel` of the corpus leaves ~sel·L matches in a
    * freely-traversing beam's list ⇒ L ≈ K/sel — floored at the
    * measured-good fixed widening ([[FilteredBeam]]: 0.72 → 0.96 gate
    * recall vs 2×) and capped at [[MaxFilteredBeam]]. Selectivity is
    * MEASURED (one map-side-combined count over the label column, a
    * metadata-sized aggregate at any corpus), never guessed — the
    * round-15 finding was that a fixed 4× under-recalls a rare label. */
  private[graft] def filteredBeamFor(sel: Double): Int = {
    val want = math.ceil(K / math.max(sel, K.toDouble / MaxFilteredBeam))
    math.min(MaxFilteredBeam, math.max(FilteredBeam, want.toInt))
  }

  /** S25: label-FILTERED serving through the GRAPH index — s11's
    * capability (metadata-constrained top-K) on s21's layout, the
    * filtered-DiskANN shape (Gollapudi et al. 2023): the beam
    * TRAVERSES FREELY (constraining traversal to label-matching nodes
    * severs routing through mixed neighborhoods and collapses recall —
    * the production finding this design answers) and the FILTER
    * applies at answer assembly, where the reached candidates' labels
    * are fetched BY KEY (an id-list point read against the label
    * store, the same shape as the adjacency fetch — at 100 TB both
    * are row-group-pruned key lookups, never corpus scans). The beam
    * WIDTH adapts to the filter's measured selectivity
    * ([[filteredBeamFor]] — the filtered-DiskANN adaptive-L knob,
    * round-15 refinement #2 closed): the L-list must hold ~K matching
    * candidates, so L ≈ K/selectivity, floored at the measured-good 4×
    * widening and capped at [[MaxFilteredBeam]] (the cost bound); depth
    * is convergence-terminated like every beam. The recall gate vs the
    * exact label-filtered recompute (s11's own pre-index formulation)
    * measures that it suffices. PipelineSpec
    * adds the vacuous-filter identity: under a label every node
    * shares, s25's core answers EXACTLY s21's unfiltered rows — the
    * filter plumbing provably perturbs nothing it doesn't exclude —
    * and holds the recall floor at a ≤1% synthetic label. */
  /** The filtered-serve core over an arbitrary (vec_id, label) frame —
    * split out so the vacuous-filter identity spec can feed a
    * shared-by-all label at s21's own beam width and assert row
    * equality with the unfiltered serve. */
  private[graft] def s25Core(s: SparkSession, d: String,
                             labelOf: DataFrame, beam: Int): DataFrame = {
    val (path, anchors) = graphIndexPath(s, d)
    val g = s.read.parquet(s"$path/adj")
    val e = prepared(s, d)
    val q = e.filter(col("vec_id") < NQueries)
    val qLab = labelOf.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("label"))
    val scored = graphBeamAuto(s,
      ids => g.filter(col("vec_id").isin(ids: _*)),
      q.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn")),
      graphSeeds(q, anchors, s.read.parquet(s"$path/reps")),
      beam = beam)
      .filter(col("query_id") =!= col("neighbor_id"))
      .localCheckpoint(true) // consumed twice: id fetch + answer join
    val candIds = scored.select(col("neighbor_id")).distinct()
      .collect().map(_.getLong(0)) // bounded: ≤ rounds·beam·DEG·|queries| reached nodes
    // label point read for exactly the reached ids — key-pruned scan
    val labels = labelOf.filter(col("vec_id").isin(candIds.toSeq: _*))
      .select(col("vec_id").as("neighbor_id"), col("label").as("nlabel"))
    val filtered = scored
      .join(broadcast(qLab), Seq("query_id"))
      .join(broadcast(labels), Seq("neighbor_id"))
      .filter(col("label") === col("nlabel"))
    rerank(filtered)
      .select(col("query_id"), col("label"), col("neighbor_id"),
        col("cos4"), col("rn"))
  }

  def s25GraphFiltered(s: SparkSession, d: String): DataFrame = {
    val raw = embeddings(s, d)
    // measured selectivity of the rarest QUERIED label, from the
    // artifact's OWN label-histogram sidecar (written at ingest — a
    // file read, no job; the anchor-sidecar discipline). A pre-v9 or
    // torn sidecar degrades to the one broadcast-sized aggregate the
    // sidecar replaced.
    val labelOf = raw.select(col("vec_id"), col("label"))
    val counts: Map[Any, Long] =
      readLabelHist(new java.io.File(graphIndexPath(s, d)._1)) match {
        case Some(m) => m.map { case (k, v) => (k: Any) -> v }
        case None => labelOf.groupBy(col("label"))
          .agg(count(lit(1)).as("n"))
          .collect().map(r => r.get(0) -> r.getLong(1)).toMap // bounded: one row per label
      }
    val total = counts.values.sum.toDouble
    val queried = labelOf.filter(col("vec_id") < NQueries)
      .select(col("label")).distinct()
      .collect().map(_.get(0)).toSet // bounded: ≤ NQueries labels
    val minSel = queried.map(l => counts.getOrElse(l, 1L) / total)
      .minOption.getOrElse(1.0)
    // two multiplicative widenings compose: selectivity (K/sel) and
    // corpus depth (the 4× filtered factor over the WIDE log-n
    // sizing — see beamForAnchorsWide: the depth term must not narrow
    // with the post-bridge incr serve width), under the one declared
    // cost cap
    val beam = math.min(MaxFilteredBeam,
      math.max(filteredBeamFor(minSel),
        4 * beamForAnchorsWide(graphIndexPath(s, d)._2)))
    val res = s25Core(s, d, labelOf, beam)
    registerGatedPlan(s, "s25", res)
    val out = res.localCheckpoint(true)
    // gate: recall vs the exact label-filtered recompute — s11's
    // pre-index broadcast-NLJ formulation, the same ground truth its
    // oracle pins
    val exact = rerank(broadcast(
        raw.filter(col("vec_id") < NQueries)
          .select(col("vec_id"), col("label"),
            graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v"))
          .withColumn("nrm", sqrt(vecNorm2(col("v")))))
      .as("q")
      .join(raw.select(col("vec_id").as("neighbor_id"),
          col("label").as("nlabel"),
          graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("ev"))
          .withColumn("enrm", sqrt(vecNorm2(col("ev")))),
        col("q.vec_id") =!= col("neighbor_id") &&
          col("q.label") === col("nlabel"))
      .select(col("q.vec_id").as("query_id"), col("neighbor_id"),
        round(vecDot(col("q.v"), col("ev")) / (col("q.nrm") * col("enrm")), 4)
          .as("cos4")))
    val exactPairs = pairSet(exact)
    // vacuous truth, never NaN: no query having ANY label-matching
    // neighbor means there is nothing to prove (serveWithReach's
    // empty-sample convention)
    val recall =
      if (exactPairs.isEmpty) 1.0
      else (pairSet(out) & exactPairs).size.toDouble / exactPairs.size
    out
      .withColumn("recall4", lit(math.round(recall * 1e4) / 1e4))
      .withColumn("recall_ok", lit(recall >= 0.7))
  }

  // ------------------------------------------------------------- S22
  /** Durable INCREMENTAL graph artifact — the LSM shape applied to the
    * neighbor graph (the template s8/s12/s13 set on the IVF index):
    * `base/adj` is the write-once graph over the initial 90% slice
    * (anchors frozen at creation, same as s8), `delta/adj` holds the
    * append batch's forward lists (computed against base + batch
    * candidates in the same overlapping-shard pass as the build — base
    * rows are candidates only, their files are never rewritten — then
    * unioned with each node's [[bridgeEdges]]: top-[[BridgeK]]
    * base-graph insert-search results, so a clustered batch cannot
    * form an unreachable island), and
    * `back/` the reverse edges (nbr → new id) that make appended nodes
    * REACHABLE from the base graph — Vamana's reciprocal-edge insert
    * as a read-side-merged delta layer instead of an in-place rewrite.
    * A fold that rewrites base/adj with the merged lists is the
    * compaction analog (s14's discipline), not needed at delta sizes
    * that fit a read-side union. Published by
    * [[graft.FsUtil.publishDir]]. */
  private val graphIncrCache =
    new graft.FsUtil.SessionMemo[String, (String, Array[(Int, Array[Double])])]

  private[graft] def graphIncrPath(s: SparkSession, d: String)
      : (String, Array[(Int, Array[Double])]) =
    graphIncrCache.getOrElseUpdate((s, d),
      graft.FsUtil.publishDir(artifactDir("graph-incr", d))(readAnchors(_).map(_._1)) { tmp =>
        val e = prepared(s, d)
        val base = e.filter(col("vec_id") % 10 =!= 9)
        val batch = e.filter(col("vec_id") % 10 === 9)
        val anchors = trainAnchors(
          base.select(col("vec_id"), col("v"), col("nrm")),
          ivfCells(base.count()), iters = 2) // frozen at creation (s8's contract)
        val path = tmp.getAbsolutePath
        diversifyAdjacency(s21Graph(base, anchors, keep = DiversifyPool))
          .repartitionByRange(col("vec_id"))
          .sortWithinPartitions("vec_id")
          .write.mode("overwrite").parquet(s"$path/base/adj")
        // reps land BEFORE the delta: the bridge search below seeds
        // from them, exactly like the serve path will
        s21CellReps(base, anchors)
          .coalesce(1).write.mode("overwrite").parquet(s"$path/reps")
        val baseAdj = s.read.parquet(s"$path/base/adj")
        val bridge = bridgeEdges(s,
          ids => baseAdj.filter(col("vec_id").isin(ids: _*)),
          anchors, s.read.parquet(s"$path/reps"), batch,
          beamForAnchors(anchors))
        val fwd = withBridge(graphAdjacency(
          base.withColumn("sel", lit(false))
            .unionByName(batch.withColumn("sel", lit(true))), anchors),
          bridge)
          .localCheckpoint(true) // consumed twice: delta write + back-links
        fwd.repartitionByRange(col("vec_id"))
          .sortWithinPartitions("vec_id")
          .write.mode("overwrite").parquet(s"$path/delta/adj")
        fwd.select(explode(col("nbrs")).as("vec_id"),
          col("vec_id").as("extra"))
          .repartitionByRange(col("vec_id"))
          .sortWithinPartitions("vec_id")
          .write.mode("overwrite").parquet(s"$path/back")
        writeAnchors(tmp, anchors, anchors.length)
        anchors
      })

  /** Fetch-time cap on back-link extras merged into a node's list: a
    * hub node accumulating many reverse edges between folds must not
    * grow the beam frontier unboundedly (each expanded node contributes
    * its WHOLE merged list to the next round) — FreshDiskANN bounds the
    * in-memory delta's degree for the same reason. The kept extras are
    * the id-ascending prefix (deterministic at any parallelism); capped
    * extras are a COST bound, not a correctness one — answers stay
    * recall-gated, dropped back-ins reappear when the fold re-prunes
    * with α-diversity. The fold's own merge (graphFoldPath) is NOT
    * capped: compaction must see every back-link or appends orphan. */
  private[graft] val FetchBackBudget = 3 * GraphDeg

  /** Bridge edges reserved per appended node — the top-`BridgeK`
    * results of a beam search against the PRE-APPEND graph, unioned
    * into the node's delta forward list. This is FreshDiskANN's
    * insert-as-search applied to the batch lane: the shard kNN alone
    * packs a clustered batch's lists with same-batch siblings (a whole
    * cluster appended together has ~cluster-size candidates closer
    * than any base node), leaving ZERO base edges and therefore zero
    * base back-links — the cluster becomes an island the serve beam
    * cannot reach (the clustered-fixture audit measured s22 reach
    * 0.03 where the diffuse fixture read 0.92). The bridge restores
    * exactly the right carriers: the insert search and the serve
    * search walk the same graph from the same seed machinery, so the
    * base nodes an appended point's search visits ARE the nodes a
    * nearby query's beam will expand. */
  private[graft] val BridgeK = 2

  /** Top-[[BridgeK]] pre-append-state beam results per batch node, as
    * (vec_id, bridge) — the batched form of FreshDiskANN's per-insert
    * search (st21's chunked driver-loop shape: sorted ids, ≤
    * [[GraphBeamExecMinQueries]] per chunk, content-neutral because
    * per-query beams are independent). Cost ∝ batch · beam · DEG point
    * reads against the existing artifact — base-shuffle-free, LINEAR
    * in the batch (measured: ~3 min at a 20k-point append over 180k,
    * ~30 min at 200k over 1.8M). A one-shot executor-lane pass was
    * measured as the alternative for bulk appends and LOST (12 min
    * for the same 20k batch — the exec lane's per-round state
    * checkpoints dominate at append-sized query sets; it remains the
    * 10⁶-query SERVING-tier shape), so every bridge runs through the
    * driver chunks. */
  private[graft] def bridgeEdges(s: SparkSession,
      fetch: Seq[Long] => DataFrame,
      anchors: Array[(Int, Array[Double])], reps: DataFrame,
      batch: DataFrame, beam: Int): DataFrame = {
    val b = batch.select(col("vec_id"), col("v"), col("nrm"))
      .localCheckpoint(true) // consumed once per chunk below
    val chunks = b.select(col("vec_id"))
      .collect().map(_.getLong(0)).sorted // bounded: one append batch's ids (driver holds longs only; the searches run chunked)
      .grouped(GraphBeamExecMinQueries).toSeq
    if (chunks.isEmpty)
      return b.select(col("vec_id"),
        expr("CAST(array() AS array<bigint>)").as("bridge"))
    // each chunk reduces to ≤ BridgeK pairs per batch node ON THE
    // DRIVER before the next chunk starts, so driver state never
    // accumulates across the hundreds of chunks a deep-decade append
    // runs. Round-16: the per-chunk top-BridgeK runs as a local sort
    // over the beam's already-driver-held scored rows (graphBeam's
    // driver lane returns a LocalRelation) — the row_number window
    // paid an exchange + sort job per chunk for the same ranking
    // ((-cos4, neighbor_id), row_number semantics preserved).
    val pairs = chunks.flatMap { chunk =>
      val q = b.filter(col("vec_id").isin(chunk.toSeq: _*))
      graphBeam(s, fetch,
        q.select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn")),
        graphSeeds(q, anchors, reps), beam = beam)
        .filter(col("query_id") =!= col("neighbor_id"))
        .collect() // bounded: one chunk's scored rows — ≤ rounds·beam·DEG per query, chunk ≤ GraphBeamExecMinQueries
        .groupBy(_.getLong(0)).toSeq.flatMap { case (q0, rows) =>
          rows.map(r => (r.getLong(1), r.getDouble(2)))
            .sortBy { case (nid, c) => (-c, nid) } // local: per-point candidate sort
            .take(BridgeK).zipWithIndex
            .map { case ((nid, _), i) => (q0, nid, i + 1) }
        }
    }
    import s.implicits._
    pairs.groupBy(_._1).toSeq
      .map { case (id, ps) => (id, ps.sortBy(_._3).map(_._2)) }
      .toDF("vec_id", "bridge")
  }

  /** Unions each appended node's [[bridgeEdges]] into its forward list
    * (≤ DEG + BridgeK edges per delta node; the fold re-prunes to
    * [[FoldDeg]] with α-diversity). A node whose search found nothing
    * keeps its kNN list unchanged. */
  private[graft] def withBridge(fwd: DataFrame, bridge: DataFrame): DataFrame =
    fwd.join(bridge, Seq("vec_id"), "left")
      .select(col("vec_id"), col("v"), col("nrm"),
        when(col("bridge").isNull, col("nbrs"))
          .otherwise(array_distinct(concat(col("nbrs"), col("bridge"))))
          .as("nbrs"))

  /** Degree bound of the FOLDED generation — see the RobustPrune note
    * in [[graphFoldPath]]: the fold replaces a read-side state whose
    * effective degree was DEG + [[FetchBackBudget]]; compacting to 2·DEG
    * halves the read cost while keeping the in-link carriers that make
    * appended nodes reachable at deep-decade graph sizes. */
  private[graft] val FoldDeg = 2 * GraphDeg

  /** Bound under which [[fetchIncr]] merges the three legs on the
    * driver instead of through a groupBy+join: a beam round's fetch is
    * already driver-mediated (graphBeam collects the rows), so at
    * driver-lane frontier sizes the distributed merge only added a
    * shuffle + join stage per beam ROUND for rows the driver was about
    * to hold anyway. 4096 node rows ≈ 2.5 MB with 64-dim vectors —
    * trivially driver-safe; past it (exec-lane frontiers) the
    * distributed merge keeps the 10⁶-query scale story. */
  private[graft] val FetchLocalMaxIds = 4096

  /** Read-side merged point fetch over base + delta + back-links: all
    * three stores are range-sorted on vec_id, so each leg of the union
    * is a row-group-pruned key lookup; merged neighbor lists are
    * sorted+deduped for order-independence and the back-link leg is
    * budgeted ([[FetchBackBudget]]) so a hub's frontier contribution is
    * bounded by DEG + budget between folds. Below [[FetchLocalMaxIds]]
    * the merge runs on the driver off ONE shuffle-free scan (round-16:
    * the per-round groupBy+join cost a shuffle per beam hop at gate
    * shapes); past it, one groupBy does the same merge. The two lanes
    * give identical lists by construction — sorted-distinct union with
    * the id-ascending budget prefix — and the hub-budget spec covers
    * both. */
  private[graft] def fetchIncr(s: SparkSession, path: String,
                        ids: Seq[Long]): DataFrame =
    fetchIncrFn(s, path)(ids)

  /** Curried [[fetchIncr]] over an artifact dir. */
  private[graft] def fetchIncrFn(s: SparkSession, path: String)
      : Seq[Long] => DataFrame =
    fetchIncrFn(s, s"$path/base/adj", Seq(s"$path/delta/adj"), Seq(s"$path/back"))

  /** [[fetchIncr]] over explicit legs: the base dir, then the delta and
    * back-link files or dirs — for a streamed store, the applied
    * epochs' files only ([[graft.streaming.Epochs.appliedFiles]]); an
    * empty leg is absent. The store frames are built ONCE per
    * serve/ingest call (file listing and parquet footers are not free,
    * and a beam pays one fetch per ROUND); each call only adds the key
    * filter that prunes row groups.
    *
    * One node row per id: when several rows carry an id, the latest
    * epoch's wins — base before delta, delta files by the id in their
    * `epoch-<id>` name (an epoch file lists an id at most once) — so
    * the answer does not depend on the order in which a scan returns
    * files (Spark packs a scan's splits largest first). */
  private[graft] def fetchIncrFn(s: SparkSession, base: String,
      delta: Seq[String], back: Seq[String]): Seq[Long] => DataFrame = {
    val node = Seq(col("vec_id"), col("v"), col("nrm"), col("nbrs"))
    val epochName = regexp_extract(col("_metadata.file_name"), "^epoch-(\\d+)\\.", 1)
    val base0 = s.read.parquet(base).select(node :+ lit(-1L).as("epoch"): _*)
    val nodes0 =
      if (delta.isEmpty) base0
      else base0.unionByName(s.read.parquet(delta: _*).select(node :+
        when(epochName === "", lit(0L)).otherwise(epochName.cast("long")).as("epoch"): _*))
    val back0 =
      if (back.isEmpty) None
      else Some(s.read.parquet(back: _*).select(col("vec_id"), col("extra")))
    ids => fetchIncrFrom(s, nodes0, back0, ids)
  }

  private def fetchIncrFrom(s: SparkSession, nodes0: DataFrame,
                            back0: Option[DataFrame], ids: Seq[Long]): DataFrame = {
    val key = col("vec_id").isin(ids: _*)
    val nodes = nodes0.filter(key).select(col("vec_id"), col("epoch"), col("v"),
      col("nrm"), col("nbrs"), lit(null).cast("bigint").as("extra"))
    val raw = back0.fold(nodes)(b => nodes.unionByName(b.filter(key)
      .select(col("vec_id"), lit(null).cast("bigint").as("epoch"),
        lit(null).cast("array<double>").as("v"), lit(null).cast("double").as("nrm"),
        lit(null).cast("array<bigint>").as("nbrs"), col("extra"))))
    if (ids.size <= FetchLocalMaxIds) {
      import s.implicits._
      val rows = raw.collect() // bounded: ≤ |ids| node rows + their back rows, ids ≤ FetchLocalMaxIds
      val (backRows, nodeRows) = rows.partition(!_.isNullAt(5))
      val extras = backRows.groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(_.getLong(5)).sorted.take(FetchBackBudget).toSeq
      }
      nodeRows.groupBy(_.getLong(0)).toSeq.map { case (id, rs) =>
        val r = rs.maxBy(_.getLong(1))
        val nbrs = r.getSeq[Long](4)
        (id, r.getSeq[Double](2), r.getDouble(3),
          extras.get(id).fold(nbrs)(ex => (nbrs ++ ex).distinct.sorted))
      }.toDF("vec_id", "v", "nrm", "nbrs")
    } else
      raw.groupBy("vec_id").agg(
          max_by(struct(col("v"), col("nrm"), col("nbrs")), col("epoch")).as("n"),
          slice(array_sort(collect_list(col("extra"))), 1, FetchBackBudget).as("extra"))
        .filter(col("n").isNotNull)
        .select(col("vec_id"), col("n.v").as("v"), col("n.nrm").as("nrm"),
          when(size(col("extra")) === 0, col("n.nbrs"))
            .otherwise(array_sort(array_distinct(
              concat(col("n.nbrs"), col("extra"))))).as("nbrs"))
  }

  /** S22: graph-index APPEND — s8's ingest lane applied to the s21
    * graph. The append writes a forward-list delta plus reverse-edge
    * back-links ([[graphIncrPath]]); base files are never rewritten.
    * Two gates: the standard recall gate (the merged graph must serve
    * the FULL corpus, appended vectors included, vs exact s1), and a
    * REACHABILITY gate — a deterministic 32-vector sample of the
    * batch, used as queries, must each be FOUND by beam search
    * (scored at cos = 1.0), which only the back-links make possible;
    * `reach_ok` fails the run below 0.9. At 100 TB the reach audit
    * stays a fixed-size sample (the production shape); the serve path
    * is the same point-read beam as s21 with a 3-way merged fetch. */
  def s22GraphAppend(s: SparkSession, d: String): DataFrame = {
    val (path, anchors) = graphIncrPath(s, d)
    val reps = s.read.parquet(s"$path/reps")
    val fetch = fetchIncrFn(s, path)
    val e = prepared(s, d)
    // reachability probe: fixed 32-vector batch sample as queries
    val sample = e.filter(col("vec_id") % 10 === 9)
      .orderBy(col("vec_id")).limit(32).localCheckpoint(true)
    val (scored, reachFrac) = serveWithReach(s, fetch, anchors, reps, e, sample)
    val all = scored.filter(col("query_id") < NQueries &&
      col("query_id") =!= col("neighbor_id"))
    withRecallGate(s, d, "s22",
      rerank(all).select(col("query_id"), col("neighbor_id"), col("cos4"),
        col("rn")),
      floor = 0.7)
      .withColumn("reach4", lit(math.round(reachFrac * 1e4) / 1e4))
      .withColumn("reach_ok", lit(reachFrac >= 0.9))
  }

  // ------------------------------------------------------------- S23
  /** S23: graph-index DELETE — the lazy-delete lane production graph
    * indexes use (FreshDiskANN), completing the graph CRUD triple
    * (s21 build/serve, s22 append, s23 delete). The adjacency artifact
    * is NOT touched: the tombstone set (SHARED with s12 — one logical
    * delete log masks every index layout, IVF and graph alike) is
    * filtered out of the ANSWER while tombstoned nodes keep serving as
    * ROUTING WAYPOINTS — dropping them from traversal would sever the
    * neighborhoods they anchor, which is exactly why production graph
    * indexes delete lazily and repair edges only at compaction (the
    * graph fold is the open maintenance analog of s14). Gates: recall
    * vs the exact-over-survivors witness (s12's own — same tombstones,
    * same queries, so the two layouts' delete lanes are judged against
    * the SAME durable baseline) + the soundness audit (no deleted id
    * in any answer, a Spark job since tombstones are
    * corpus-proportional at scale). */
  def s23GraphDelete(s: SparkSession, d: String): DataFrame = {
    val (path, anchors) = graphIndexPath(s, d)
    val g = s.read.parquet(s"$path/adj")
    val e = prepared(s, d)
    val q = e.filter(col("vec_id") < NQueries)
    val tomb = tombstones(s, d)
    val scored = graphBeamAuto(s,
      ids => g.filter(col("vec_id").isin(ids: _*)),
      q.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn")),
      graphSeeds(q, anchors, s.read.parquet(s"$path/reps")),
      beam = beamForAnchors(anchors))
    // lazy delete: tombstones leave the ANSWER, not the traversal
    val live = scored
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(tomb.select(col("vec_id").as("neighbor_id"))),
        Seq("neighbor_id"), "left_anti")
    val res = rerank(live).select(col("query_id"), col("neighbor_id"),
      col("cos4"), col("rn"))
    registerGatedPlan(s, "s23", res)
    val out = res.localCheckpoint(true)
    val exactPairs = pairSet(s12ExactWitness(s, d))
    val recall = (pairSet(out) & exactPairs).size.toDouble / exactPairs.size
    val deletedHits = out.join(broadcast(tomb),
      out("neighbor_id") === tomb("vec_id")).count()
    out
      .withColumn("recall4", lit(math.round(recall * 1e4) / 1e4))
      .withColumn("recall_ok", lit(recall >= 0.7))
      .withColumn("no_deleted_ok", lit(deletedHits == 0L))
  }

  // ------------------------------------------------------------- S24
  /** S24: graph-index FOLD — the compaction member closing the graph
    * lifecycle (s21 build, s22 append, s23 lazy delete, s24 fold),
    * s14's discipline applied to adjacency. The fold materializes the
    * read-side merge (base ∪ delta ∪ back-links) into ONE generation
    * over LIVE nodes only, running Vamana's delete consolidation:
    * a node u that pointed at a tombstoned waypoint t inherits t's
    * own (live) neighbors as repair candidates — the bridge t was
    * providing — then re-prunes to top-DEG by exact cosine. Cost is
    * tombstone-proportional: repair candidates = edges INTO tombstones
    * × DEG, never corpus²; the rewrite itself is one pass over the
    * merged adjacency. Published by [[graft.FsUtil.publishDir]], so a
    * crashed fold publishes nothing; entry reps are re-derived from the
    * folded node set so a tombstoned representative cannot survive as
    * a seed. */
  private val graphFoldCache = new graft.FsUtil.SessionMemo[String, String]

  private[graft] def graphFoldPath(s: SparkSession, d: String): String =
    graphFoldCache.getOrElseUpdate((s, d), {
      val (incrPath, anchors) = graphIncrPath(s, d)
      graft.FsUtil.publishDir(artifactDir("graph-fold", d))(readAnchors(_).map(_ => ())) { tmp =>
        val path = tmp.getAbsolutePath
        val tomb = broadcast(tombstones(s, d))
        // materialized read-side merge: base ∪ delta rows with
        // back-link extras folded into the neighbor lists
        val bk = s.read.parquet(s"$incrPath/back")
          .groupBy("vec_id").agg(collect_list(col("extra")).as("extra"))
        val merged = s.read.parquet(s"$incrPath/base/adj")
          .unionByName(s.read.parquet(s"$incrPath/delta/adj"))
          .join(bk, Seq("vec_id"), "left")
          .select(col("vec_id"), col("v"), col("nrm"),
            when(col("extra").isNull, col("nbrs"))
              .otherwise(array_sort(array_distinct(
                concat(col("nbrs"), col("extra"))))).as("nbrs"))
          .localCheckpoint(true) // consumed 4×: repair join legs + rewrite
        // delete consolidation: u --t(dead)--> inherits t's live nbrs
        val tombAdj = merged.join(tomb, Seq("vec_id"))
          .select(col("vec_id").as("t"), explode(col("nbrs")).as("w"))
          .join(tomb.select(col("vec_id").as("w")), Seq("w"), "left_anti")
        val liveNodes = merged.join(tomb, Seq("vec_id"), "left_anti")
        val edges = liveNodes.select(col("vec_id").as("u"),
          explode(col("nbrs")).as("dst"))
        val surviving = edges
          .join(tomb.select(col("vec_id").as("dst")), Seq("dst"), "left_anti")
          .select(col("u"), col("dst").as("w"))
        val repairs = edges.join(tombAdj, edges("dst") === tombAdj("t"))
          .select(col("u"), col("w")).filter(col("u") =!= col("w"))
        val slim = merged.select(col("vec_id").as("w"),
          col("v").as("wv"), col("nrm").as("wn"))
        val s2 = s
        import s2.implicits._
        val rescored = surviving.unionByName(repairs).distinct()
          .join(slim, Seq("w"))
          .join(merged.select(col("vec_id").as("u"), col("v").as("uv"),
            col("nrm").as("un")), Seq("u"))
          .select(col("u"), col("w"),
            (vecDot(col("uv"), col("wv")) / (col("un") * col("wn"))).as("c"),
            col("wv"), col("wn"))
          .as[(Long, Long, Double, Array[Double], Double)]
        val lists = rescored.groupByKey(_._1).mapGroups { (u, it) =>
          // local: ≤ DEG + DEG·DEG repair candidates per node
          val cands = it.toArray.distinctBy(_._2)
            .sortBy { case (_, w, c, _, _) => (-c, w) }
            .map { case (_, w, c, wv, wn) => (w, c, wv, wn) }
          // [[robustPruneKeep]] (shared with the base build's
          // diversifyAdjacency — same α, same edge-selection rule).
          // Diversity is what keeps a back-linked append reachable
          // through the fold: the plain top-cos cut measurably
          // orphaned 1/32 appended vectors at the gate.
          // The folded generation keeps [[FoldDeg]] = 2·DEG slots: the
          // read-side state it replaces served at an EFFECTIVE degree
          // of DEG + back-link budget, and compacting all the way to
          // DEG sheds the appends' in-link carriers (measured at the
          // 100× sweep: reach 0.78 at DEG vs ≥0.9 with the preserved
          // budget) — 2·DEG keeps the α-diverse carriers at half the
          // merged-state read cost.
          (u, robustPruneKeep(cands, FoldDeg))
        }.toDF("vec_id", "nbrs")
        // LEFT join from the live node set: a node whose whole
        // neighborhood died with no live repairs keeps an empty list
        // instead of vanishing from the generation. Checkpointed: the
        // adj write AND the reps derivation both consume it — without
        // the barrier the repair+RobustPrune pipeline (the fold's most
        // expensive stage) executes twice per build
        val folded = liveNodes.select(col("vec_id"), col("v"), col("nrm"))
          .join(lists, Seq("vec_id"), "left")
          .select(col("vec_id"), col("v"), col("nrm"),
            coalesce(col("nbrs"),
              expr("CAST(array() AS array<bigint>)")).as("nbrs"))
          .localCheckpoint(true)
        folded.repartitionByRange(col("vec_id"))
          .sortWithinPartitions("vec_id")
          .write.mode("overwrite").parquet(s"$path/adj")
        // reps re-derived from the folded node set (a tombstoned rep
        // must not survive as an entry point)
        s21CellReps(folded.select(col("vec_id"), col("v"), col("nrm")), anchors)
          .coalesce(1).write.mode("overwrite").parquet(s"$path/reps")
        writeAnchors(tmp, anchors, anchors.length)
      }._1
    })

  /** S24 query: serve the standard probe from the FOLDED generation —
    * no lazy mask left to apply (the fold made deletes physical) — and
    * gate it three ways: recall vs the same exact-over-survivors
    * witness as s12/s23, the appended sample still reachable (the
    * fold must not orphan what the back-links stitched in), and a
    * zero-tombstone audit over the folded artifact itself (ids AND
    * edge targets). */
  def s24GraphFold(s: SparkSession, d: String): DataFrame = {
    val (_, anchors) = graphIncrPath(s, d)
    val path = graphFoldPath(s, d)
    val g = s.read.parquet(s"$path/adj")
    val reps = s.read.parquet(s"$path/reps")
    val fetch = (ids: Seq[Long]) => g.filter(col("vec_id").isin(ids: _*))
    val e = prepared(s, d)
    val tomb = tombstones(s, d)
    val sample = e.filter(col("vec_id") % 10 === 9)
      .join(broadcast(tomb), Seq("vec_id"), "left_anti")
      .orderBy(col("vec_id")).limit(32).localCheckpoint(true)
    val (scored, reachFrac) = serveWithReach(s, fetch, anchors, reps, e, sample)
    val all = scored.filter(col("query_id") < NQueries &&
      col("query_id") =!= col("neighbor_id"))
    val res = rerank(all).select(col("query_id"), col("neighbor_id"),
      col("cos4"), col("rn"))
    registerGatedPlan(s, "s24", res)
    val out = res.localCheckpoint(true)
    val exactPairs = pairSet(s12ExactWitness(s, d))
    val recall = (pairSet(out) & exactPairs).size.toDouble / exactPairs.size
    // the fold made deletes physical: no tombstoned id may survive as
    // a node OR an edge target anywhere in the folded artifact
    val tombB = broadcast(tomb)
    val deadNodes = g.join(tombB, Seq("vec_id")).count()
    val deadEdges = g.select(explode(col("nbrs")).as("vec_id"))
      .join(tombB, Seq("vec_id")).count()
    out
      .withColumn("recall4", lit(math.round(recall * 1e4) / 1e4))
      .withColumn("recall_ok", lit(recall >= 0.7))
      .withColumn("reach4", lit(math.round(reachFrac * 1e4) / 1e4))
      .withColumn("reach_ok", lit(reachFrac >= 0.9))
      .withColumn("no_tomb_ok", lit(deadNodes == 0L && deadEdges == 0L))
  }

  // ------------------------------------------------------------- S26
  /** The audit body over any incremental-graph artifact path — split
    * out so the tamper spec can drive corrupted copies (corrupt one
    * row, exactly its check flips). */
  private[graft] def graphAuditOf(s: SparkSession, path: String): DataFrame = {
    val base = s.read.parquet(s"$path/base/adj")
      .select(col("vec_id"), col("nbrs"))
    val delta = s.read.parquet(s"$path/delta/adj")
      .select(col("vec_id"), col("nbrs"))
    val back = s.read.parquet(s"$path/back") // (vec_id = target, extra = appended id)
    val reps = s.read.parquet(s"$path/reps")
    val nodes = base.unionByName(delta).localCheckpoint(true) // consumed by every check
    // stored-list degree histogram (the read-side MERGED degree adds
    // back-ins on top; the fold compacts those — this audits what is
    // durably on disk)
    val degHist = nodes.select(size(col("nbrs")).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    // base lists are α-pruned to GraphDeg; DELTA lists carry up to
    // BridgeK extra insert-search edges on top of the kNN cut (v10)
    val overDeg = base.filter(size(col("nbrs")) > GraphDeg).count() +
      delta.filter(size(col("nbrs")) > GraphDeg + BridgeK).count()
    val nodeIds = nodes.select(col("vec_id"))
    // dangling: every edge target — forward, back-link key, back-link
    // extra — must exist as a node, else the beam strands there
    val targets = nodes.select(explode(col("nbrs")).as("vec_id"))
      .unionByName(back.select(col("extra").as("vec_id")))
      .unionByName(back.select(col("vec_id")))
      .distinct()
    val dangling = targets.join(nodeIds, Seq("vec_id"), "left_anti").count()
    // reps coverage: a rep that is not a node is a dead entry point
    val repMiss = reps.select(col("rep").as("vec_id"))
      .join(nodeIds, Seq("vec_id"), "left_anti").count()
    // back-link reciprocity: every back row (t ← x) must be the mirror
    // of x's durable forward list containing t (they are derived that
    // way at append; drift means a torn or aged write)
    val fwdPairs = delta.select(col("vec_id").as("x"), explode(col("nbrs")).as("t"))
    val recipViol = back.select(col("vec_id").as("t"), col("extra").as("x"))
      .join(fwdPairs, Seq("x", "t"), "left_anti").count()
    degHist
      .withColumn("over_degree", lit(overDeg))
      .withColumn("n_dangling", lit(dangling))
      .withColumn("n_rep_missing", lit(repMiss))
      .withColumn("n_recip_violations", lit(recipViol))
      .withColumn("degree_ok", lit(overDeg == 0L))
      .withColumn("dangling_ok", lit(dangling == 0L))
      .withColumn("reps_ok", lit(repMiss == 0L))
      .withColumn("recip_ok", lit(recipViol == 0L))
      .orderBy(col("degree"))
  }

  /** S26: graph-artifact HEALTH AUDIT — s18's admin surface for the
    * graph layout. The degree/dangling/reps/reciprocity properties are
    * proven at build time by specs, but an operator runs audits
    * against a possibly-AGED durable store (partial writes, manual
    * surgery, bit rot) — this query re-derives each one from the
    * artifact alone: stored-degree histogram + bound, dangling edge
    * targets (forward AND back-link legs), entry-representative
    * coverage, and back-link ↔ forward-list reciprocity. Cost shape:
    * one scan of the adjacency store per check leg (artifact-
    * proportional, like s18's assignment identity audit — the admin
    * price, paid on demand, never by serving). All-green gates at the
    * fresh artifact; the tamper spec proves each check flips for
    * exactly its own corruption. */
  def s26GraphStats(s: SparkSession, d: String): DataFrame =
    graphAuditOf(s, graphIncrPath(s, d)._1)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s26_graph_stats" -> (s26GraphStats _),
    "s25_graph_filtered" -> (s25GraphFiltered _),
    "s24_graph_fold" -> (s24GraphFold _),
    "s23_graph_delete" -> (s23GraphDelete _),
    "s22_graph_append" -> (s22GraphAppend _),
    "s21_ann_graph" -> (s21AnnGraph _),
    "s20_ann_binary" -> (s20AnnBinary _),
    "s19_range_search" -> (s19RangeSearch _),
    "s18_index_stats" -> (s18IndexStats _),
    "s17_mmr_rerank" -> (s17MmrRerank _),
    "s16_hybrid_rrf" -> (s16HybridRrf _),
    "s14_ann_lifecycle" -> (s14AnnLifecycle _),
    "s13_ann_update"    -> (s13AnnUpdate _),
    "s12_ann_delete"    -> (s12AnnDelete _),
    "s11_ann_filtered"  -> (s11AnnFiltered _),
    "s1_ann_bruteforce" -> (s1BruteForce _),
    "s2_ann_lsh"        -> (s2AnnLsh _),
    "s3_ann_ivf"        -> (s3AnnIvf _),
    "s4_ann_topk_agg"   -> (s4TopKAgg _),
    "s5_ann_quantized"  -> (s5AnnQuantized _),
    "s6_ann_ivf_int8"   -> (s6AnnIvfQuantized _),
    "s7_ann_index_probe" -> (s7AnnIndexProbe _),
    "s8_ann_index_append" -> (s8AnnIndexAppend _),
    "s9_ann_pq" -> (s9AnnPq _),
    "s10_ann_ivfpq" -> (s10AnnIvfPq _),
    "s15_ann_opq" -> (s15AnnOpq _),
    "x2_topk_cosine"    -> (x2TopkCosineGram _),
    "x4_centroids"      -> (x4Centroids _),
    "x6_dim_stats"      -> (x6DimStats _),
    "x8_quantize"       -> (x8Quantize _),
    "x10_random_projection" -> (x10RandomProjection _))

  /** S2/S3 are recall<1 candidate generators — no SQL oracle; they are
    * driver-gated through their `recall_ok` column ([[withRecallGate]])
    * and floor-asserted in PipelineSpec. X2 must equal S1 exactly
    * (asserted in PipelineSpec); it shares S1's oracle. */
  val oracles: Map[String, String] = Map(
    "s19_range_search"  -> s19Sql,
    "s16_hybrid_rrf"    -> s16Sql,
    "s11_ann_filtered"  -> s11Sql,
    "s1_ann_bruteforce" -> s1Sql,
    "s20_ann_binary" -> s20Sql,
    "s4_ann_topk_agg"   -> s1Sql,
    "s5_ann_quantized"  -> s5Sql,
    "x2_topk_cosine"    -> s1Sql,
    "x4_centroids"      -> x4Sql,
    "x6_dim_stats"      -> x6Sql,
    "x8_quantize"       -> x8Sql,
    "x10_random_projection" -> x10Sql)
}
