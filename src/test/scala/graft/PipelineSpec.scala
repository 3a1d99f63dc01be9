package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.streaming.Streaming

/** Tests for the training-data pipeline surface. Oracle-checked queries
  * (p1-p4, t1-t4, s1, x2, mm1, st1, st2) get their value gate from
  * DuckDB (tools/check_oracle.py); this spec covers what the oracle
  * can't: recall of the approximate paths (s2/s3 vs exact s1), LSH
  * candidate completeness, and the encoding assumption mm1's oracle
  * rests on. Runs at sf0.001/sf0.01 — small enough for CI, same code
  * paths as 100 TB. */
class PipelineSpec extends AnyFunSuite with SparkTest.TempDirs {
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"
  lazy val spark: SparkSession = SparkTest.session

  private def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }

  private def recallVs(exact: Map[Long, Set[Long]], approx: Map[Long, Set[Long]]): Double = {
    val hits = exact.map { case (q, e) => (e & approx.getOrElse(q, Set.empty)).size }.sum
    hits.toDouble / exact.values.map(_.size).sum
  }

  test("x2 (BlockMatrix Gram) equals s1 (SQL surface) exactly") {
    val s1 = Similarity.s1BruteForce(spark, sf01).collect().map(_.toSeq)
    val x2 = Similarity.x2TopkCosineGram(spark, sf01).collect().map(_.toSeq)
    assert(s1.sameElements(x2))
  }

  test("s2 LSH recall vs exact s1") {
    val exact = topk(Similarity.s1BruteForce(spark, sf01))
    val lsh = topk(Similarity.s2AnnLsh(spark, sf01))
    val r = recallVs(exact, lsh)
    info(f"s2 recall@5 = $r%.3f")
    assert(r >= 0.7, f"LSH recall $r%.3f collapsed — bucketing/multi-probe broken")
  }

  test("s3 IVF recall vs exact s1") {
    val exact = topk(Similarity.s1BruteForce(spark, sf01))
    val ivf = topk(Similarity.s3AnnIvf(spark, sf01))
    val r = recallVs(exact, ivf)
    info(f"s3 recall@5 = $r%.3f")
    assert(r >= 0.9, f"IVF recall $r%.3f below 0.9 with trained anchors")
  }

  test("fetchIncr degree budget: a hub node with many back-linked " +
    "appends serves within DEG + FetchBackBudget, deterministically") {
    import org.apache.spark.sql.functions.col
    val s = spark
    import s.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-hub").toFile
    try {
      val path = work.getAbsolutePath
      def adjRow(id: Long, nbrs: Seq[Long]) =
        (id, Array(1.0, 0.0), 1.0, nbrs)
      // base: hub node 0 with a full DEG-wide list; delta: 100 appended
      // nodes each back-linking the hub (the aged-store hub shape)
      Seq(adjRow(0L, (1L to 8L)))
        .toDF("vec_id", "v", "nrm", "nbrs")
        .write.parquet(s"$path/base/adj")
      (100L until 200L).map(i => adjRow(i, Seq(0L)))
        .toDF("vec_id", "v", "nrm", "nbrs")
        .write.parquet(s"$path/delta/adj")
      (100L until 200L).map(i => (0L, i))
        .toDF("vec_id", "extra")
        .write.parquet(s"$path/back")
      val hub = Similarity.fetchIncr(spark, path, Seq(0L))
        .collect().map(r => r.getSeq[Long](3))
      assert(hub.length == 1)
      val budget = Similarity.FetchBackBudget
      assert(hub.head.length <= 8 + budget,
        s"hub list ${hub.head.length} exceeds DEG + FetchBackBudget")
      // deterministic content: base nbrs + the id-ascending extras prefix
      val want = ((1L to 8L) ++ (100L until (100L + budget))).sorted
      assert(hub.head.sorted == want,
        s"capped merge not the deterministic prefix: ${hub.head.sorted}")
      // a non-hub node (no back rows) keeps its list untouched
      val plain = Similarity.fetchIncr(spark, path, Seq(150L))
        .collect().map(r => r.getSeq[Long](3))
      assert(plain.head == Seq(0L))
    } finally graft.FsUtil.deleteTree(work)
  }

  test("coarse-routed assignment: argmax agreement vs the flat scan at " +
    "production probe width, Exchange-free, deterministic") {
    import org.apache.spark.sql.functions.col
    val e = Similarity.prepared(spark, sf01).cache()
    // an anchor table big enough that routing actually PRUNES
    // (nGroups > CoarseProbe): every 3rd corpus vector, data-
    // distributed the way a trained table is
    val anchors = e.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"), col("v"))
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
    assert(anchors.length >= Similarity.CoarseMinAnchors,
      s"fixture too small: ${anchors.length} anchors — routing would not engage")
    assert(math.ceil(math.sqrt(anchors.length)).toInt > Similarity.CoarseProbe,
      "coarse layer not larger than the probe — nothing pruned, spec proves nothing")
    val both = e.select(col("vec_id"),
      graft.functions.VectorFunctions
        .topCells(col("v"), col("nrm"), anchors, 1)(0).as("exact"),
      Similarity.assignCells(col("v"), col("nrm"), anchors, 1)(0).as("routed"))
    val rows = both.collect()
    val agree = rows.count(r => r.getInt(1) == r.getInt(2)).toDouble / rows.length
    info(f"routed/exact argmax agreement = $agree%.3f over ${rows.length} rows, " +
      s"${anchors.length} anchors")
    assert(agree >= 0.9,
      f"routed assignment agreement $agree%.3f < 0.9 — coarse layer mis-routes")
    // the routed projection must stay a narrow Exchange-free fragment
    both.queryExecution.executedPlan.collect {
      case x: org.apache.spark.sql.execution.exchange.Exchange => x
    } match {
      case Nil => ()
      case xs => fail(s"routed assignment shuffled: $xs")
    }
    // determinism at re-evaluation
    val again = both.collect()
    assert(rows.map(_.toSeq).sameElements(again.map(_.toSeq)))
  }

  test("trainAnchors routed lane: forcing the router at gate scale " +
    "reproduces the exact training bit-for-bit (probe covers all groups)") {
    import org.apache.spark.sql.functions.col
    val base = Similarity.prepared(spark, sf01)
      .select(col("vec_id"), col("v"), col("nrm"))
    val nCells = Similarity.ivfCells(base.count())
    assert(math.ceil(math.sqrt(nCells)).toInt <= Similarity.CoarseProbe,
      "gate anchor table outgrew the probe width — identity premise broken")
    val exact = Similarity.trainAnchors(base, nCells, iters = 2)
    val routed = Similarity.trainAnchors(base, nCells, iters = 2, minRouted = 0)
    assert(exact.length == routed.length)
    exact.zip(routed).foreach { case ((c1, v1), (c2, v2)) =>
      assert(c1 == c2 && v1.sameElements(v2),
        s"routed training diverged at cell $c1/$c2")
    }
  }

  test("IVF corpus cell assignment is Exchange-free (s3/s6/p7 scale shape)") {
    import org.apache.spark.sql.functions.col
    val e = Similarity.prepared(spark, sf01)
    val anchors = Similarity.trainedAnchors(spark, sf01, e)
    val assigned = e.withColumn("cell",
      graft.functions.VectorFunctions.topCells(col("v"), col("nrm"), anchors, 1)(0))
    assigned.collect()
    val plan = assigned.queryExecution.executedPlan
    val exchanges = plan.collect {
      case x: org.apache.spark.sql.execution.exchange.Exchange => x
    }
    assert(exchanges.isEmpty,
      s"corpus→cell assignment must be a narrow projection, found shuffle:\n$plan")
  }

  test("s7 persisted-index probe is bit-identical to the in-query s6 composition") {
    val s6 = Similarity.s6AnnIvfQuantized(spark, sf01).collect().map(_.toSeq).sortBy(_.toString)
    val s7 = Similarity.s7AnnIndexProbe(spark, sf01).collect().map(_.toSeq).sortBy(_.toString)
    assert(s6.sameElements(s7),
      "index probe diverged from in-query IVF+int8 (assignment/scoring/rerank drift)")
  }

  test("s7 index scan is partition-pruned and column-pruned (no float read for scoring)") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = Similarity.ivfIndexPath(spark, sf01)
    val pruned = spark.read.parquet(path)
      .filter(col("cell").isin(0, 1, 2))
      .select(col("vec_id"), col("qv8"), col("nq2"))
    pruned.collect()
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan found in the probe plan")
    assert(scans.forall(_.partitionFilters.exists(_.references.nonEmpty)),
      s"cell probe did not reach the scan as a partition filter:\n${pruned.queryExecution.executedPlan}")
    assert(scans.forall(!_.schema.fieldNames.contains("embedding")),
      "scoring scan reads the float embeddings — column pruning lost")
  }

  test("s11 serves through the label-partitioned index: pruning reaches the scan, answers exact") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.functions.VectorFunctions.{vecDot, vecNorm2}
    val df = Similarity.s11AnnFiltered(spark, sf01)
    val out = df.collect().map(_.toSeq).sortBy(_.toString)
    assert(out.nonEmpty)
    // the label predicate must reach the index scan as a PARTITION
    // filter (directory pruning), not a post-scan data filter; the
    // traversal must descend through AQE's stage wrappers
    def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(q.plan)
        case f: FileSourceScanExec => Seq(f)
        case other => other.children.flatMap(allScans)
      }
    val scans = allScans(df.queryExecution.executedPlan)
    val idxScans = scans.filter(_.partitionFilters.exists(_.toString.contains("label")))
    assert(idxScans.nonEmpty,
      s"label predicate did not reach any scan as a partition filter:\n${df.queryExecution.executedPlan}")
    // exactness guard: bit-identical to the broadcast-NLJ reference
    // formulation (the SQL oracle's shape) over the raw embeddings
    val e = graft.sources.Tables.embeddings(spark, sf01)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(vecNorm2(col("v"))))
    val q = broadcast(e.filter(col("vec_id") < 10))
    val ref = q.as("q")
      .join(e.as("e"), col("q.vec_id") =!= col("e.vec_id") &&
        col("q.label") === col("e.label"))
      .select(col("q.vec_id").as("query_id"), col("q.label").as("label"),
        col("e.vec_id").as("neighbor_id"),
        round(vecDot(col("q.v"), col("e.v")) / (col("q.nrm") * col("e.nrm")), 4).as("cos4"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cos4").desc, col("neighbor_id"))))
      .filter(col("rn") <= 5)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(out.sameElements(ref),
      "label-pruned index serving diverged from the exact NLJ reference")
  }

  test("s8 appended index answers bit-identically to a from-scratch build (frozen anchors)") {
    import org.apache.spark.sql.functions.col
    // both paths freeze the SAME anchors (trained on the 90% base
    // slice); append must be pure file addition, not a re-assignment
    val appended = Similarity.s8AnnIndexAppend(spark, sf01)
      .select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
      .collect().map(_.toSeq).sortBy(_.toString)
    val (scratchPath, anchors, nProbe) = Similarity.incrIndexPath(spark, sf01, fromScratch = true)
    val idxA = spark.read.parquet(Similarity.incrIndexPath(spark, sf01)._1)
    val idxB = spark.read.parquet(scratchPath)
    // index CONTENT identical row-set (append added exactly the new batch)
    val a = idxA.select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    val b = idxB.select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(a.sameElements(b), "appended index content diverged from a from-scratch build")
    // PROBE ANSWERS identical: run the same serving path against the
    // scratch index — content equality alone would miss qv8/nq2 drift
    val scratch = Similarity
      .probeIndex(spark, scratchPath, Similarity.prepared(spark, sf01), anchors, nProbe)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(appended.nonEmpty)
    assert(appended.sameElements(scratch),
      "appended-index probe answers diverged from the from-scratch index probe")
  }

  test("s7/s8 indexes are durable: a fresh session probes without rebuilding") {
    def snapshot(path: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(path))
        .map(f => f.getAbsolutePath -> (f.length, f.lastModified)).toMap
    }
    val r1 = Similarity.s7AnnIndexProbe(spark, sf01)
      .collect().map(_.toSeq).sortBy(_.toString)
    val path = Similarity.ivfIndexPath(spark, sf01)
    val before = snapshot(path)
    assert(before.keys.exists(_.endsWith("_anchors.txt")),
      "anchor sidecar missing — a fresh session would have to retrain")
    // a NEW session has no in-memory handle cache: it must find the
    // fingerprint-keyed dir + anchor sidecar on disk and probe as-is
    val fresh = spark.newSession()
    val r2 = Similarity.s7AnnIndexProbe(fresh, sf01)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(r2.sameElements(r1),
      "fresh-session probe diverged — sidecar anchors are not bit-exact")
    assert(snapshot(path) == before,
      "fresh session rewrote the index — durability contract broken")
    // same contract for the incremental (s8) index
    val (incrPath, _, _) = Similarity.incrIndexPath(spark, sf01)
    val incrBefore = snapshot(incrPath)
    val r3 = Similarity.s8AnnIndexAppend(fresh, sf01)
      .collect().map(_.toSeq).sortBy(_.toString)
    val r4 = Similarity.s8AnnIndexAppend(spark, sf01)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(r3.sameElements(r4))
    assert(snapshot(incrPath) == incrBefore,
      "fresh session re-appended to the incremental index")
  }

  test("s9 PQ-ADC recall vs exact s1, codebooks deterministic") {
    val exact = topk(Similarity.s1BruteForce(spark, sf01))
    val pq = topk(Similarity.s9AnnPq(spark, sf01))
    val r = recallVs(exact, pq)
    info(f"s9 recall@5 = $r%.3f")
    assert(r >= 0.7, f"PQ-ADC recall $r%.3f — codebooks or LUT scoring broken")
    // bit-deterministic training: two independent trainings agree exactly
    val e = Similarity.prepared(spark, sf01)
    val b1 = Similarity.trainPqCodebooks(e)
    val b2 = Similarity.trainPqCodebooks(e)
    val (f1, f2) = (b1.flatMap(_.flatMap(_.toSeq)), b2.flatMap(_.flatMap(_.toSeq)))
    assert(f1.sameElements(f2), "PQ codebooks are not run-deterministic")
  }

  test("s10 IVFPQ recall vs exact s1") {
    val exact = topk(Similarity.s1BruteForce(spark, sf01))
    val comp = topk(Similarity.s10AnnIvfPq(spark, sf01))
    val r = recallVs(exact, comp)
    info(f"s10 recall@5 = $r%.3f")
    assert(r >= 0.7, f"IVFPQ recall $r%.3f — cell pruning x PQ composition broken")
  }

  test("s15 OPQ: rotation orthonormal + deterministic, geometry preserved, recall floor") {
    import org.apache.spark.sql.functions.col
    val e = Similarity.prepared(spark, sf01)
    val r1 = Similarity.opqRotation(e)
    val r2 = Similarity.opqRotation(e)
    assert(r1.flatMap(_.toSeq).sameElements(r2.flatMap(_.toSeq)),
      "OPQ rotation is not run-deterministic")
    // R·Rᵀ = I (rows orthonormal): eigenvector basis survived allocation
    val n = r1.length
    var maxOff = 0.0
    for (i <- 0 until n; j <- 0 until n) {
      var acc = 0.0; var k = 0
      while (k < n) { acc += r1(i)(k) * r1(j)(k); k += 1 }
      maxOff = math.max(maxOff, math.abs(acc - (if (i == j) 1.0 else 0.0)))
    }
    assert(maxOff < 1e-9, f"R·Rᵀ deviates from I by $maxOff%.2e — not orthonormal")
    // rotation preserves norms (the invariant the ADC cosine relies on)
    val both = Similarity.rotated(e, r1).select(col("vec_id"), col("nrm"))
      .withColumnRenamed("nrm", "rnrm")
      .join(e.select(col("vec_id"), col("nrm")), "vec_id")
      .collect()
    both.foreach { row =>
      assert(math.abs(row.getAs[Double]("rnrm") - row.getAs[Double]("nrm")) < 1e-6,
        s"rotation changed a norm: $row")
    }
    // end-to-end: rotated-basis PQ still clears the family recall floor
    val exact = topk(Similarity.s1BruteForce(spark, sf01))
    val opq = topk(Similarity.s15AnnOpq(spark, sf01))
    val r = recallVs(exact, opq)
    info(f"s15 recall@5 = $r%.3f")
    assert(r >= 0.7, f"OPQ recall $r%.3f — rotation or rotated-basis ADC broken")
    // same shortlist plan contract as s9/s10
    val raw = Similarity.lastGatedApprox((spark, "s15"))
    val plan = raw.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"s15 shortlist is a full sort-window, not a group-limit pushdown:\n$plan")
    Similarity.lastGatedApprox.remove((spark, "s15"))
  }

  test("s9/s10 serve from STORED codes: pq8 column matches an independent re-encode") {
    import org.apache.spark.sql.functions.col
    Similarity.s9AnnPq(spark, sf01).collect() // ensures the index exists
    val idx = spark.read.parquet(Similarity.ivfIndexPath(spark, sf01))
    assert(idx.schema.fieldNames.contains("pq8"),
      "durable index lost the stored PQ-codes column")
    val e = Similarity.prepared(spark, sf01)
    val books = Similarity.pqBooks(spark, sf01, e)
    val stored = idx.select(col("vec_id"), col("pq8")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val vecs = e.select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    assert(vecs.length == stored.size, "index row count drifted from the corpus")
    vecs.foreach { case (id, v) =>
      assert(java.util.Arrays.equals(stored(id), Similarity.pqEncode(v, books)),
        s"stored pq8 code for vec $id diverged from a fresh encode with the durable books")
    }
  }

  test("s15 serves from STORED rotated codes: opq8 matches an independent rotate+encode") {
    import org.apache.spark.sql.functions.col
    Similarity.s15AnnOpq(spark, sf01).collect() // ensures index + sidecars exist
    val idx = spark.read.parquet(Similarity.ivfIndexPath(spark, sf01))
    assert(idx.schema.fieldNames.contains("opq8"),
      "durable index lost the stored OPQ-codes column")
    val e = Similarity.prepared(spark, sf01)
    // independent re-derivation: retrain the rotation from the corpus
    // (bit-deterministic), load nothing, re-encode every vector
    val rot = Similarity.opqRotation(e)
    val sidecarRot = Similarity.opqRot(spark, sf01, e)
    assert(rot.flatMap(_.toSeq).sameElements(sidecarRot.flatMap(_.toSeq)),
      "sidecar'd OPQ rotation diverged from a fresh training")
    val books = Similarity.opqBooks(spark, sf01, e)
    val stored = idx.select(col("vec_id"), col("opq8")).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val vecs = e.select(col("vec_id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    assert(vecs.length == stored.size, "index row count drifted from the corpus")
    vecs.foreach { case (id, v) =>
      val fresh = Similarity.pqEncode(Similarity.rotApply(rot, v), books)
      assert(java.util.Arrays.equals(stored(id), fresh),
        s"stored opq8 code for vec $id diverged from a fresh rotate+encode")
    }
  }

  test("t14 chunking plans with zero exchanges; x21 plans exactly one range exchange") {
    val t14 = graft.operators.TextAnalysis.t14Chunk(spark, sf001)
    val t14Plan = t14.queryExecution.executedPlan.toString
    // the ONLY exchange allowed is the oracle-determinism ORDER BY's
    // range partition; any hash exchange means an accidental
    // groupBy/join crept into what must be a pure narrow projection
    assert(!t14Plan.toLowerCase.contains("hashpartitioning"),
      s"t14 must be a pure narrow projection, found a hash shuffle:\n$t14Plan")
    assert("rangepartitioning".r.findAllIn(t14Plan.toLowerCase).length <= 1,
      s"t14 shuffles beyond the final oracle sort:\n$t14Plan")
    val x21 = graft.operators.Corpus.x21RangeLayout(spark, sf001)
    x21.collect()
    // AQE prints "== Final Plan ==" then "== Initial Plan ==" — count
    // operators in the final section only, or every exchange doubles
    val x21Plan = x21.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val rangeEx = "rangepartitioning".r
      .findAllIn(x21Plan.toLowerCase).length
    assert(rangeEx >= 1, s"x21 lost its range exchange:\n$x21Plan")
    // corpus-side: exactly the one range exchange (below mapPartitions);
    // the other exchanges move the <= numPartitions-row zone frame
    // (window single-partition + oracle sort) — free at any corpus size
    val shuffles = "Exchange ".r.findAllIn(x21Plan).length
    assert(shuffles <= 4,
      s"x21 grew unexpected exchanges:\n$x21Plan")
    val corpusRange = "rangepartitioning\\(lang".r
      .findAllIn(x21Plan.toLowerCase).length
    assert(corpusRange == 1,
      s"x21's corpus must shuffle exactly once, by range on the cluster key:\n$x21Plan")
  }

  test("s9/s10 ADC shortlist plans as WindowGroupLimit (map-side rank pushdown)") {
    // the gate checkpoints its answer (one probe evaluation), so the
    // probe's plan is read from the pre-checkpoint frame the gate
    // stores for inspection
    for ((name, run) <- Seq("s9" -> (() => Similarity.s9AnnPq(spark, sf01)),
                            "s10" -> (() => Similarity.s10AnnIvfPq(spark, sf01)))) {
      run().collect()
      // hook is keyed by (session, query tag) — interleaved gated
      // queries can't misattribute the assertion; clear after asserting
      val raw = Similarity.lastGatedApprox((spark, name))
      val plan = raw.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$name shortlist is a full sort-window, not a group-limit pushdown:\n$plan")
      Similarity.lastGatedApprox.remove((spark, name))
    }
  }

  // every sidecar kind: (kind, its file, what a session resolves from it)
  private def books(b: Array[Array[Array[Double]]]): Seq[Any] = b.toSeq.map(_.toSeq.map(_.toSeq))
  Seq[(String, () => java.io.File, org.apache.spark.sql.SparkSession => Seq[Any])](
    ("anchor", () => new java.io.File(Similarity.ivfIndexPath(spark, sf001), "_anchors.txt"),
      s => Similarity.s7AnnIndexProbe(s, sf001).collect().map(_.toSeq).sortBy(_.toString).toSeq),
    ("label", () => new java.io.File(Similarity.graphIndexPath(spark, sf001)._1, "_labels.txt"),
      s => Similarity.readLabelHist(new java.io.File(Similarity.graphIndexPath(s, sf001)._1)).toSeq),
    ("PQ codebook", () => Similarity.pqBooksPath(sf001),
      s => books(Similarity.pqBooks(s, sf001, Similarity.prepared(s, sf001)))),
    ("OPQ rotation", () => Similarity.opqRotPath(sf001),
      s => Similarity.opqRot(s, sf001, Similarity.prepared(s, sf001)).toSeq.map(_.toSeq)),
    ("OPQ codebook", () => Similarity.opqBooksPath(sf001),
      s => books(Similarity.opqBooks(s, sf001, Similarity.prepared(s, sf001))))
  ).foreach { case (kind, file, resolve) =>
    test(s"torn $kind sidecar degrades to rebuild, never a partial probe") {
      val r1 = resolve(spark)
      assert(r1.nonEmpty)
      val f = file()
      val lines = java.nio.file.Files.readAllLines(f.toPath)
      // drop the trailer and the last payload line: the file still
      // parses line-by-line, which is exactly the failure the trailer
      // catches
      val torn = (0 until lines.size - 2).map(lines.get).mkString("", "\n", "\n")
      java.nio.file.Files.writeString(f.toPath, torn)
      // a new session has no memo entry: it must read the torn file
      val r2 = resolve(spark.newSession())
      assert(r2 == r1, s"rebuild after a torn $kind sidecar diverged")
      val repaired = java.nio.file.Files.readAllLines(f.toPath)
      assert(repaired.get(repaired.size - 1).trim == "#end",
        s"torn $kind sidecar was not rewritten by the rebuild")
    }
  }

  test("index root is configurable: durability holds under a non-tmp root") {
    def snapshot(root: java.io.File): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(walk)
        else Seq(f)
      walk(root).map(f => f.getAbsolutePath -> (f.length, f.lastModified)).toMap
    }
    val root = new java.io.File("target", "graft-index-root-spec")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(root)
    sys.props("graft.index.root") = root.getAbsolutePath
    try {
      val fresh = spark.newSession()
      val r1 = Similarity.s7AnnIndexProbe(fresh, sf001)
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(r1.nonEmpty)
      assert(root.listFiles().exists(_.getName.startsWith("graft-ivf-")),
        "index was not written under the configured root")
      val before = snapshot(root)
      // a second fresh session must reuse the artifacts byte-for-byte
      val fresh2 = spark.newSession()
      val r2 = Similarity.s7AnnIndexProbe(fresh2, sf001)
        .collect().map(_.toSeq).sortBy(_.toString)
      assert(r2.sameElements(r1), "probe answers diverged under the configured root")
      assert(snapshot(root) == before,
        "second session rewrote artifacts under the configured root")
    } finally {
      sys.props.remove("graft.index.root")
      rm(root)
    }
  }

  test("s5 quantized-ANN recall vs exact s1") {
    val exact = topk(Similarity.s1BruteForce(spark, sf01))
    val quant = topk(Similarity.s5AnnQuantized(spark, sf01))
    val r = recallVs(exact, quant)
    info(f"s5 recall@5 = $r%.3f")
    assert(r >= 0.8, f"int8-quantized recall $r%.3f — quantization noise should cost little at @5")
  }

  test("s20 binary-sketch ANN: recall floor vs exact s1; sign-word packing " +
    "matches a driver-side Hamming recompute") {
    val exact = topk(Similarity.s1BruteForce(spark, sf01))
    val df = Similarity.s20AnnBinary(spark, sf01)
    val r = recallVs(exact, topk(df))
    info(f"s20 recall@5 = $r%.3f")
    assert(r >= 0.7, f"binary-sketch recall $r%.3f — 1-bit Hamming shortlist broken")
    // the Hamming evidence column must equal a from-floats recompute
    val vecs = spark.read.parquet(s"$sf01/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .map(row => row.getLong(0) ->
        row.getSeq[Float](1).map(x => x.toDouble >= 0d).toArray).toMap
    df.collect().foreach { row =>
      val (q, n, h) = (row.getLong(0), row.getLong(1), row.getInt(2))
      val want = vecs(q).zip(vecs(n)).count { case (a, b) => a != b }
      assert(h == want, s"hamming($q,$n)=$h, recompute=$want")
    }
  }

  test("s6 IVF+int8 recall vs exact s1") {
    val exact = topk(Similarity.s1BruteForce(spark, sf01))
    val comp = topk(Similarity.s6AnnIvfQuantized(spark, sf01))
    val r = recallVs(exact, comp)
    info(f"s6 recall@5 = $r%.3f")
    assert(r >= 0.7, f"IVF+int8 recall $r%.3f — probing or int8 shortlist broken")
  }

  test("p7 semantic dedup: drops are true near-dups, recall floor holds") {
    import org.apache.spark.sql.functions._
    val out = Dedup.p7SemanticDedup(spark, sf01).collect()
    val kept = out.map(_.getLong(0)).toSet
    val all = graft.sources.Tables.embeddings(spark, sf01)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val dropped = all -- kept
    assert(out.forall(_.getAs[Boolean]("recall_ok")),
      s"recall4=${out.head.getAs[Double]("recall4")} below floor")
    info(s"p7 dropped ${dropped.size}/${all.size}, recall4=${out.head.getAs[Double]("recall4")}")
    // soundness: every dropped vector really has a lower-id near-dup at
    // cos4 >= 0.35 (cluster-bounding can miss pairs but never invents them)
    import graft.functions.VectorFunctions.{vecDot => vd, vecNorm2 => vn2}
    val e = graft.sources.Tables.embeddings(spark, sf01)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x AS double))").as("v"))
      .withColumn("nrm", sqrt(vn2(col("v"))))
    val truePairs = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(round(vd(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 4) >= 0.35)
      .select(col("b.vec_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(dropped.subsetOf(truePairs),
      s"p7 dropped ${(dropped -- truePairs).take(5)} without a true near-dup partner")
  }

  test("p1 LSH finds exactly the brute-force near-dup pairs (recall AND precision)") {
    val lsh = Dedup.p1MinHashLsh(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.p3NgramJaccardDedup(spark, sf01) // survivors
      .collect().map(_.getLong(0)).toSet
    val docs = graft.sources.Tables.documents(spark, sf01)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // every doc dropped by brute-force dedup must appear as doc_b in ≥1 LSH pair
    val dropped = docs -- brute
    assert(dropped == lsh.map(_._2), s"LSH pairs disagree with brute force: " +
      s"dropped=${dropped.size} lshB=${lsh.map(_._2).size}")
    assert(lsh.nonEmpty, "no near-dup pairs found — corpus has planted dups")
  }

  test("mm1 oracle assumption: documents text is pure ASCII") {
    import org.apache.spark.sql.functions._
    Seq(sf001, sf01).foreach { d =>
      val bad = graft.sources.Tables.documents(spark, d)
        .filter(length(col("text")) =!= octet_length(col("text"))).count()
      assert(bad == 0L, s"non-ASCII text in $d breaks mm1's ord()==byte oracle")
    }
  }

  test("t4 fingerprint: deterministic, and near-dup pairs mostly share it") {
    val a = TextAnalysis.t4Fingerprint(spark, sf01).collect()
    val b = TextAnalysis.t4Fingerprint(spark, sf01).collect()
    assert(a.map(_.toSeq).sameElements(b.map(_.toSeq)), "fingerprint not deterministic")
    // a min-gram-hash fingerprint collides with probability = Jaccard:
    // the planted pairs (jacc >= 0.93) should mostly share it
    val fp = a.map(r => (r.getLong(0), r.getString(1))).toMap
    val pairs = Dedup.p1MinHashLsh(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    val shared = pairs.count { case (x, y) => fp(x) == fp(y) }
    assert(shared >= pairs.length * 6 / 10,
      s"only $shared/${pairs.length} near-dup pairs share a fingerprint")
  }

  test("st2 sessionization: gaps within sessions never exceed 30 min") {
    val sessions = Streaming.st2Sessionize(spark, sf001).collect()
    assert(sessions.nonEmpty)
    val perUser = sessions.groupBy(_.getLong(0))
    perUser.values.foreach { ss =>
      val ids = ss.map(_.getInt(1)).sorted
      assert(ids.head == 0 && ids.zipWithIndex.forall { case (v, i) => v == i },
        "session ids must be dense from 0")
    }
  }

  test("mm1 decode is real: JDK-decoded pixels match a driver-side recompute") {
    val feats = Multimodal.mm1MediaFeatures(spark, sf001).collect()
    val texts = graft.sources.Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(feats.length == texts.size)
    feats.foreach { r =>
      val bytes = texts(r.getLong(0)).getBytes("US-ASCII")
      val h = math.max(1, (bytes.length + 47) / 48)
      assert(r.getAs[Int]("width") == 16)
      assert(r.getAs[Int]("height") == h)
      // px_sum = plain byte sum (padding is zero); wsum folds in the
      // channel weight 3-(k%3) and the image-row weight h - k/48 — the
      // values only come out right if the codec really decoded the
      // bottom-up BGR layout
      assert(r.getAs[Long]("px_sum") == bytes.map(_ & 0xff).map(_.toLong).sum)
      val wsum = bytes.zipWithIndex.map { case (b, k) =>
        (b & 0xff).toLong * (3 - k % 3) * (h - k / 48)
      }.sum
      assert(r.getAs[Long]("wsum") == wsum,
        s"doc ${r.getLong(0)}: decoded weighted sum ${r.getAs[Long]("wsum")} != $wsum")
    }
  }

  test("mm2 decode is real: RIFF/WAVE parse yields the planted format and samples") {
    val feats = Multimodal.mm2FrameSample(spark, sf001).collect()
    val texts = graft.sources.Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(feats.length == texts.size)
    feats.foreach { r =>
      val bytes = texts(r.getLong(0)).getBytes("US-ASCII")
      assert(r.getAs[Int]("sample_rate") == 8000, "header sample rate mis-parsed")
      assert(r.getAs[Long]("n_samples") == bytes.length.toLong)
      // windowed argmax energy recomputed from the raw sample values
      val wins = bytes.map(b => (b & 0xff).toLong).grouped(256)
        .map(_.map(v => v * v).sum).toArray
      if (wins.nonEmpty) {
        val best = wins.zipWithIndex.maxBy { case (e, i) => (e, -i) }
        assert(r.getAs[Long]("peak_energy") == best._1)
        assert(r.getAs[Long]("peak_window") == best._2.toLong)
      } else {
        assert(r.getAs[Long]("peak_energy") == 0L)
      }
    }
  }

  test("mm4 mixed decode: PNG payloads are real PNGs, routing follows parity, " +
       "features match mm1's BMP decode") {
    val feats = Multimodal.mm4MixedDecode(spark, sf001).collect()
    val mm1 = Multimodal.mm1MediaFeatures(spark, sf001).collect()
      .map(r => r.getLong(0) -> (r.getAs[Int]("width"), r.getAs[Int]("height"),
        r.getAs[Long]("px_sum"), r.getAs[Long]("wsum"))).toMap
    assert(feats.length == mm1.size)
    feats.foreach { r =>
      val id = r.getLong(0)
      val fmt = r.getString(1)
      assert(fmt == (if (id % 2 == 0) "png" else "bmp"),
        s"doc $id routed to $fmt — format dispatch broke the parity rule")
      // both codecs must decode to the SAME image mm1's BMP path saw —
      // a PNG-side layout mistake (row order, channel order, padding)
      // shows up as a feature mismatch here and an oracle miss in Verify
      assert((r.getAs[Int]("width"), r.getAs[Int]("height"),
        r.getAs[Long]("px_sum"), r.getAs[Long]("wsum")) == mm1(id),
        s"doc $id ($fmt): mixed-decode features diverged from mm1")
    }
    // the even docs really carry PNG containers (magic bytes), so the
    // dispatch is exercising two genuinely different codecs
    val texts = graft.sources.Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val pngMagic = Array[Byte](0x89.toByte, 'P', 'N', 'G')
    texts.filter(_._1 % 2 == 0).take(5).foreach { case (_, t) =>
      val p = Multimodal.encodePng(t.getBytes("US-ASCII"))
      assert(p.take(4).sameElements(pngMagic), "encodePng did not emit a PNG container")
    }
  }

  test("mm7 jpeg decode: lossy round trip stays within the tolerance gate, and is really lossy") {
    val rows = Multimodal.mm7JpegDecode(spark, sf001).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf001).count()
    assert(rows.length == nDocs, "every document must produce a decoded row")
    val maes = rows.map(_.getAs[Double]("mae4"))
    info(f"mm7 MAE: max=${maes.max}%.2f mean=${maes.sum / maes.length}%.2f")
    assert(rows.forall(_.getAs[Boolean]("pass")),
      f"JPEG tolerance invariant failed — geometry drift or MAE above the gate " +
        f"(max MAE ${maes.max}%.2f)")
    // the gate must not be vacuous: q=0.95 DCT error on ASCII byte
    // noise is small but strictly positive for any real document
    val lossy = rows.filter(_.getAs[Double]("mae4") > 0.0)
    assert(lossy.length > rows.length / 2,
      "JPEG round trip reported zero error for most documents — the codec " +
        "under test is not actually lossy (wrong writer or identity path)")
    // determinism at the reported precision across runs (same JDK codec)
    val again = Multimodal.mm7JpegDecode(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("mae4")).toMap
    assert(rows.forall(r => again(r.getLong(0)) == r.getAs[Double]("mae4")),
      "JPEG decode not deterministic across runs")
  }

  test("mm8 spectral detection: every planted tone detected with margin; " +
       "a byte-swapped decode fails the gate") {
    val rows = Multimodal.mm8AudioSpectral(spark, sf001).collect()
    val nDocs = graft.sources.Tables.documents(spark, sf001).count()
    assert(rows.length == nDocs, "every document must produce a spectral row")
    assert(rows.forall(_.getAs[Boolean]("pass")),
      "tone detection failed for some documents — decode or filter bank broken")
    val ratios = rows.map(_.getAs[Double]("ratio4"))
    info(f"mm8 tone/runner-up ratio: min=${ratios.min}%.1f " +
      f"median=${ratios.sorted.apply(ratios.length / 2)}%.1f")
    // the doc-keyed rotation must exercise the whole candidate bank
    assert(rows.map(_.getAs[Int]("planted_hz")).distinct.sorted
      .sameElements(Array(500, 1000, 1500, 2000, 2500, 3000, 3500)))
    // negative control: the gate is not vacuous — byte-swapping the PCM
    // frames (the endianness bug the decode path must not have)
    // destroys the sinusoid and the planted tone loses its margin
    val tone = 500
    val samples = Array.tabulate[Short](2048) { i =>
      math.rint(6000.0 * math.sin(2 * math.Pi * tone * i / 8000)).toShort
    }
    def goertzel(pcm: Array[Short], hz: Int): Double = {
      val coeff = 2.0 * math.cos(2 * math.Pi * hz / 8000)
      var s1 = 0.0; var s2 = 0.0
      pcm.foreach { v =>
        val s0 = v.toDouble + coeff * s1 - s2; s2 = s1; s1 = s0
      }
      s1 * s1 + s2 * s2 - coeff * s1 * s2
    }
    val swapped = samples.map { v =>
      (((v & 0xff) << 8) | ((v >> 8) & 0xff)).toShort
    }
    val cands = Array(500, 1000, 1500, 2000, 2500, 3000, 3500)
    val honest = cands.map(goertzel(samples, _))
    val broken = cands.map(goertzel(swapped, _))
    assert(honest(0) / honest.drop(1).max >= 10.0,
      "honest decode must pass the gate for a pure tone")
    assert(broken(0) < 10.0 * broken.drop(1).max,
      "byte-swapped PCM still passed the tone gate — the invariant is vacuous")
  }

  test("mm9 dHash matches an independent from-text recompute; completeness gate green; " +
    "deterministic") {
    import org.apache.spark.sql.functions.col
    val rows = Multimodal.mm9PerceptualDedup(spark, sf001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("complete_ok")),
      "banded join missed a brute-force d<=3 pair")
    // independent recompute: replay the BMP byte layout from the TEXT
    // with no codec in the loop (payload byte k -> payload row k/48,
    // image row h-1-k/48, channel k%3 = B,G,R; gray = sum of the three
    // channel bytes; zero padding past the text contributes 0) — a
    // codec mis-parse (row order, channel order, header offset) or a
    // sampling/shift bug in the Spark path diverges here
    val hexById = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("dhash_hex")).toMap
    val docs = graft.sources.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(docs.nonEmpty)
    for ((id, text) <- docs) {
      val bytes = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val h = math.max(1, (bytes.length + 47) / 48)
      def gray(x: Int, y: Int): Int = {
        val base = (h - 1 - y) * 48 + x * 3
        (0 until 3).map(ch =>
          if (base + ch < bytes.length) bytes(base + ch) & 0xff else 0).sum
      }
      var bits = 0L
      for (r <- 0 until 8) {
        val y = r * h / 8
        var prev = 0
        for (c <- 0 to 8) {
          val g = gray(c * 16 / 9, y)
          if (c > 0) bits = (bits << 1) | (if (prev > g) 1L else 0L)
          prev = g
        }
      }
      assert(hexById(id) == f"$bits%016x",
        s"doc $id: codec dHash ${hexById(id)} != from-text replay ${f"$bits%016x"}")
    }
    // determinism: a second run is bit-identical
    val again = Multimodal.mm9PerceptualDedup(spark, sf001).collect()
    assert(rows.map(_.toSeq).sameElements(again.map(_.toSeq)))
  }

  test("mm12 scene cuts: diff evidence replays from text; a cut-free clip fails the margin " +
    "(negative control); deterministic") {
    val rows = Multimodal.mm12SceneCuts(spark, sf001).collect()
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val id = r.getLong(0)
      val bytes = docs(id).getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      // from-text replay: boundary diff = sum |256 - 2b|, runner = len
      val boundary = bytes.map(b => math.abs(256 - 2 * b.toInt)).map(_.toLong).sum
      assert(r.getAs[Long]("max_diff") == boundary,
        s"doc $id: boundary diff ${r.getAs[Long]("max_diff")} != replay $boundary")
      assert(r.getAs[Long]("runner_diff") == bytes.length.toLong,
        s"doc $id: within-scene diff != text length")
      assert(r.getAs[Boolean]("cut_ok") && r.getAs[Boolean]("margin_ok"), s"gate: $r")
      assert(r.getAs[Long]("cut_detected") == 2L + id % 2)
    }
    // negative control: a clip with NO planted cut (cut index 0 inverts
    // every frame -> one smooth scene) must not show a dominant
    // boundary: every pair diff = len, so margin (>= 2x runner) fails
    val data = "the quick brown fox jumps over the lazy dog".getBytes("US-ASCII")
    val uncut = Multimodal.encodeCutVideo(data, 6, 0)
    val bb = java.nio.ByteBuffer.wrap(uncut).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val magic = new Array[Byte](4); bb.get(magic)
    assert(new String(magic, "US-ASCII") == "GV01")
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("bmp").next()
    try {
      val (n, fb) = (bb.getInt, bb.getInt)
      def frame(f: Int): Array[Int] = {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(uncut, 12 + f * fb, fb))
        try {
          reader.setInput(iis)
          val img = reader.read(0)
          (for (y <- 0 until img.getHeight; x <- 0 until img.getWidth;
                c <- Seq(16, 8, 0)) yield (img.getRGB(x, y) >> c) & 0xff).toArray
        } finally iis.close()
      }
      val diffs = (1 until n).map { f =>
        frame(f).zip(frame(f - 1)).map { case (a, b) => math.abs(a - b).toLong }.sum
      }
      assert(diffs.distinct.size == 1 && diffs.head == data.length.toLong,
        s"cut-free clip shows unequal pair diffs: $diffs")
      assert(diffs.max < 2 * diffs.sorted.apply(diffs.size - 2) ||
        diffs.size < 2, "a cut-free clip must fail the 2x margin")
    } finally reader.dispose()
    // deterministic end to end
    val again = Multimodal.mm12SceneCuts(spark, sf001).collect()
    assert(rows.map(_.toSeq).sameElements(again.map(_.toSeq)), "mm12 not deterministic")
  }

  test("mm12/mm7 decode passes leak no ImageIO cache files or descriptors") {
    // Regression for the round-10 bench failure: a per-frame
    // ImageInputStream left open holds a FileCacheImageInputStream
    // temp file (imageio*.tmp) + a descriptor; at sf0.1 scale that
    // exhausts cache capacity and kills the query. With the fix
    // (streams closed + ImageIO.setUseCache(false) per partition) a
    // full decode pass must create ZERO imageio temp files and leave
    // the process fd table flat.
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def imageioTmps(): Set[String] =
      Option(tmp.list()).getOrElse(Array.empty)
        .filter(n => n.toLowerCase.startsWith("imageio") && n.endsWith(".tmp")).toSet
    val fdDir = new java.io.File("/proc/self/fd")
    def fds(): Int = Option(fdDir.list()).map(_.length).getOrElse(-1)
    // warmup pass: a cold session opens jars/shuffle/parquet fds on
    // its first query — measure the SECOND pass, where the only new
    // descriptors a leak could add are the per-frame streams
    def decodePass(): Unit = {
      Multimodal.mm12SceneCuts(spark, sf001).collect()
      Multimodal.mm7JpegDecode(spark, sf001).collect()
    }
    decodePass()
    val tmpsBefore = imageioTmps()
    val fdBefore = fds()
    decodePass()
    val leaked = imageioTmps() -- tmpsBefore
    assert(leaked.isEmpty, s"decode pass left ImageIO cache files: $leaked")
    if (fdBefore >= 0) {
      val fdAfter = fds()
      // the pre-fix leak grew this by one per decoded frame (hundreds
      // at sf0.001); steady-state churn is a handful
      assert(fdAfter - fdBefore < 64,
        s"descriptor growth across warm decode pass: $fdBefore -> $fdAfter")
    }
  }

  test("mm13 container audit: clean corpus measures zeros; targeted tampering " +
    "flips exactly its own counter") {
    val rows = Multimodal.mm13ContainerAudit(spark, sf001).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("bmp", "gv01", "wav"))
    rows.foreach { r =>
      assert(r.getAs[Boolean]("pass") &&
        r.getAs[Long]("magic_violations") == 0L &&
        r.getAs[Long]("size_violations") == 0L &&
        r.getAs[Long]("geom_violations") == 0L,
        s"clean corpus flagged: $r")
      assert(r.getAs[Long]("n_objects") > 0)
    }
    // corruption teeth, per format, through the SAME kernel the query
    // runs: each tamper flips its own check (and only the checks that
    // depend on the tampered bytes)
    val data = "the quick brown fox jumps over the lazy dog".getBytes("US-ASCII")
    def checks(p: Array[Byte], fmt: String) = Multimodal.auditContainer(p, fmt)
    for ((mk, fmt) <- Seq(
        (() => Multimodal.encodeBmp(data), "bmp"),
        (() => Multimodal.encodeWav(data), "wav"),
        (() => Multimodal.encodeCutVideo(data, 5, 2), "gv01"))) {
      assert(checks(mk(), fmt) == ((true, true, true)), s"$fmt clean baseline")
      val badMagic = mk(); badMagic(0) = 'X'.toByte
      assert(!checks(badMagic, fmt)._1, s"$fmt magic tamper not caught")
      val truncated = mk().dropRight(7)
      assert(!checks(truncated, fmt)._2, s"$fmt truncation not caught")
    }
    // geometry-only tampering: size fields intact, layout field wrong
    val bmpGeom = Multimodal.encodeBmp(data)
    java.nio.ByteBuffer.wrap(bmpGeom).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(18, 17) // width 16 -> 17
    assert(checks(bmpGeom, "bmp") == ((true, true, false)),
      "bmp width tamper must flip geometry alone")
    val wavGeom = Multimodal.encodeWav(data)
    java.nio.ByteBuffer.wrap(wavGeom).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(22, 2) // mono -> stereo claim
    assert(checks(wavGeom, "wav") == ((true, true, false)),
      "wav channel tamper must flip geometry alone")
  }

  test("mm10 audio fingerprint matches a codec-free from-text replay; completeness gate green") {
    import org.apache.spark.sql.functions.col
    val rows = Multimodal.mm10AudioFingerprint(spark, sf001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("complete_ok")),
      "banded join missed a brute-force d<=3 audio pair")
    // independent replay from the TEXT with no codec in the loop: the
    // synthetic waveform is a pure function of the bytes, so the frame
    // energies and delta signs recompute exactly — a decode-path bug
    // (endianness, header offset, truncated frames) diverges here
    val hexById = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("afp_hex")).toMap
    val docs = graft.sources.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val frames = 17; val frameLen = 2048 / frames
    val bandsHz = Array(500, 1500, 2500, 3500)
    for ((id, text) <- docs) {
      val bytes = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val samples = Array.tabulate(2048) { i =>
        val v =
          if (bytes.nonEmpty) (((bytes(i % bytes.length) & 0xff) - 64) * 48
            + ((bytes((i / 3) % bytes.length) & 0xff) - 64) * 16)
          else 0
        math.max(-32768, math.min(32767, v)).toDouble
      }
      val energy = Array.tabulate(frames, bandsHz.length) { (f, b) =>
        val coeff = 2.0 * math.cos(2 * math.Pi * bandsHz(b) / 8000)
        var s1 = 0.0; var s2 = 0.0
        for (i <- f * frameLen until math.min((f + 1) * frameLen, 2048)) {
          val s0 = samples(i) + coeff * s1 - s2
          s2 = s1; s1 = s0
        }
        s1 * s1 + s2 * s2 - coeff * s1 * s2
      }
      var bits = 0L
      for (f <- 1 until frames; b <- bandsHz.indices)
        bits = (bits << 1) | (if (energy(f)(b) > energy(f - 1)(b)) 1L else 0L)
      assert(hexById(id) == f"$bits%016x",
        s"doc $id: codec fingerprint ${hexById(id)} != from-text replay ${f"$bits%016x"}")
    }
  }

  test("mm11 audio probe: every 2x-gain query resolves to its source at hamming 0, " +
    "deterministically, via the banded lookup") {
    val rows = Multimodal.mm11AudioProbe(spark, sf001).collect()
    assert(rows.length == 10, s"expected one row per query, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getAs[Boolean]("match_ok"), s"best hit not hamming-0: $r")
      assert(r.getAs[Boolean]("self_ok"), s"source doc not among hamming-0 hits: $r")
      // gain invariance is EXACT (power-of-2 scaling commutes with IEEE
      // rounding), so the best mate is the source itself by id tie-break
      assert(r.getAs[Long]("best_mate") == r.getAs[Long]("query_id"),
        s"best mate is not the source: $r")
    }
    // determinism
    val again = Multimodal.mm11AudioProbe(spark, sf001).collect()
    assert(rows.map(_.toSeq).sameElements(again.map(_.toSeq)))
  }

  test("mm11 serves from the DURABLE banded artifact: reused across " +
    "calls, content equals a fresh codec pass, serve scans the store " +
    "not the corpus audio") {
    import org.apache.spark.sql.functions._
    val path = Multimodal.audioIndexPath(spark, sf001)
    assert(new java.io.File(path, "_graft_complete").isFile)
    // reuse: drop the in-memory resolve cache so the second call MUST
    // take the on-disk marker path, then require "found" — accepting
    // "built" here would let a rebuild-every-time bug pass silently
    Multimodal.bandedIdxMemo.remove((spark, (sf001, "audio")))
    val path2 = Multimodal.audioIndexPath(spark, sf001)
    assert(path2 == path)
    assert(graft.FsUtil.artifactStatus(path) == "found",
      s"second resolve did not reuse the durable artifact: ${graft.FsUtil.artifactStatus(path)}")
    // stored bands ≡ a fresh fingerprint pass banded the same way
    val stored = spark.read.parquet(s"$path/bands")
      .select(col("doc_id"), col("afp"), col("band"), col("sig"))
      .collect().map(_.toSeq).sortBy(_.toString())
    val fresh = Multimodal.bandFrameOf(
        Multimodal.mm10HashesForSpec(spark, sf001), "doc_id", "afp")
      .select(col("doc_id"), col("afp"), col("band"), col("sig"))
      .collect().map(_.toSeq).sortBy(_.toString())
    assert(stored.sameElements(fresh),
      "durable banded store diverged from a fresh codec pass")
    // the serve plan reads the artifact — the corpus codec pass is gone
    // from the query path (only the ≤10 query clips decode)
    val plan = Multimodal.mm11AudioProbe(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bands"),
      "mm11's plan does not scan the durable banded store")
  }

  test("a resolve reclaims the temp and aside dirs a killed builder left beside its artifact") {
    val path = Multimodal.audioIndexPath(spark, sf001)
    // a short-lived child process stands in for the killed builder
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    val dead = child.pid()
    val planted = Seq("build", "stale").map { kind =>
      val d = new java.io.File(s"$path.$kind-P${dead}X-planted")
      java.nio.file.Files.createDirectories(d.toPath.resolve("bands"))
      java.nio.file.Files.writeString(d.toPath.resolve("bands/part-0"), "torn")
      d
    }
    Multimodal.bandedIdxMemo.remove((spark, (sf001, "audio")))
    assert(Multimodal.audioIndexPath(spark, sf001) == path)
    planted.foreach(d => assert(!d.exists(), s"residue of a dead builder survived: $d"))
    assert(new java.io.File(path, graft.FsUtil.Marker).isFile, "the artifact is not complete")
  }

  test("mm14 image probe: every +64-brightness query resolves to its " +
    "source at hamming 0, deterministically, via the banded lookup") {
    val rows = Multimodal.mm14ImageProbe(spark, sf001).collect()
    assert(rows.length == 10, s"expected one row per query, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getAs[Boolean]("match_ok"), s"best hit not hamming-0: $r")
      assert(r.getAs[Boolean]("self_ok"), s"source doc not among hamming-0 hits: $r")
      // brightness invariance is EXACT (every gray shifts by the same
      // constant, no clipping), so the best mate is the source by tie-break
      assert(r.getAs[Long]("best_mate") == r.getAs[Long]("query_id"),
        s"best mate is not the source: $r")
    }
    val again = Multimodal.mm14ImageProbe(spark, sf001).collect()
    assert(rows.map(_.toSeq).sameElements(again.map(_.toSeq)))
  }

  test("mm14 serves from the DURABLE banded image artifact: reused " +
    "across calls, content equals a fresh codec pass, plan scans the store") {
    import org.apache.spark.sql.functions._
    val path = Multimodal.imageIndexPath(spark, sf001)
    assert(new java.io.File(path, "_graft_complete").isFile)
    Multimodal.bandedIdxMemo.remove((spark, (sf001, "image")))
    val path2 = Multimodal.imageIndexPath(spark, sf001)
    assert(path2 == path)
    assert(graft.FsUtil.artifactStatus(path) == "found",
      s"second resolve did not reuse the durable artifact: ${graft.FsUtil.artifactStatus(path)}")
    // stored bands ≡ a fresh dHash pass banded the same way
    val stored = spark.read.parquet(s"$path/bands")
      .select(col("doc_id"), col("dhash"), col("band"), col("sig"))
      .collect().map(_.toSeq).sortBy(_.toString())
    val fresh = Multimodal.bandFrameOf(
        Multimodal.mm9HashesForSpec(spark, sf001), "doc_id", "dhash")
      .select(col("doc_id"), col("dhash"), col("band"), col("sig"))
      .collect().map(_.toSeq).sortBy(_.toString())
    assert(stored.sameElements(fresh),
      "durable banded image store diverged from a fresh codec pass")
    // the serve plan reads the artifact — the corpus codec pass is gone
    val plan = Multimodal.mm14ImageProbe(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bands"),
      "mm14's plan does not scan the durable banded store")
  }

  test("mm5 mixed audio: AIFF payloads are real FORM containers, routing follows parity, " +
       "features match mm2's WAV decode") {
    val feats = Multimodal.mm5AudioMixed(spark, sf001).collect()
    val mm2 = Multimodal.mm2FrameSample(spark, sf001).collect()
      .map(r => r.getLong(0) -> (r.getAs[Int]("sample_rate"), r.getAs[Long]("n_samples"),
        r.getAs[Int]("n_windows"), r.getAs[Long]("peak_window"),
        r.getAs[Long]("peak_energy"))).toMap
    assert(feats.length == mm2.size)
    feats.foreach { r =>
      val id = r.getLong(0)
      val fmt = r.getString(1)
      assert(fmt == (if (id % 2 == 0) "aiff" else "wav"),
        s"doc $id routed to $fmt — format dispatch broke the parity rule")
      // both containers carry the same planted samples: a big-endian
      // mis-parse flips every energy sum against mm2's answer
      assert((r.getAs[Int]("sample_rate"), r.getAs[Long]("n_samples"),
        r.getAs[Int]("n_windows"), r.getAs[Long]("peak_window"),
        r.getAs[Long]("peak_energy")) == mm2(id),
        s"doc $id ($fmt): mixed-audio features diverged from mm2")
    }
    // even docs really carry FORM/AIFF containers, so the dispatch is
    // exercising two genuinely different codecs and byte orders
    val texts = graft.sources.Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    texts.filter(_._1 % 2 == 0).take(5).foreach { case (_, t) =>
      val p = Multimodal.encodeAiff(t.getBytes("US-ASCII"))
      assert(new String(p.take(4), "US-ASCII") == "FORM" &&
        new String(p.slice(8, 12), "US-ASCII") == "AIFF",
        "encodeAiff did not emit a FORM/AIFF container")
    }
  }

  test("p8 pagerank: mass invariant holds, rank concentrates on the dup graph, deterministic") {
    // graph-boundedness: the iteration kernel's rank frame holds exactly
    // the dup-graph node set (g rows), strictly smaller than the corpus —
    // the per-iteration jobs never materialize a corpus-sized frame
    val (gRanks, _, nDocs, g) = Dedup.dupGraphRanks(spark, sf01)
    assert(gRanks.count() == g, "iteration rank frame is not the graph node set")
    assert(g > 0 && g < nDocs,
      s"dup graph ($g nodes) should be a strict subset of the corpus ($nDocs)")
    val a = Dedup.p8DupPagerank(spark, sf01).collect()
    assert(a.forall(_.getAs[Boolean]("pass")), "sum-of-ranks invariant drifted")
    val ranks = a.map(r => r.getLong(0) -> r.getAs[Double]("rank4")).toMap
    val inGraph = Dedup.p1MinHashLsh(spark, sf01).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(inGraph.nonEmpty)
    val conn = ranks.filter(kv => inGraph(kv._1)).values
    val isol = ranks.filterNot(kv => inGraph(kv._1)).values
    // connected docs receive their neighbors' rank; isolated docs hold
    // the uniform floor — the canonical-representative signal
    assert(conn.sum / conn.size > isol.sum / isol.size,
      "rank did not concentrate on near-dup-connected documents")
    val b = Dedup.p8DupPagerank(spark, sf01).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("rank4")).toMap
    assert(b == ranks, "pagerank not deterministic at 4 decimals across runs")
  }

  test("x18 boilerplate strip drops EVERY occurrence (vs x11's keep-first), no rank window") {
    import org.apache.spark.sql.functions._
    val df = Dedup.x18BoilerplateStrip(spark, sf01)
    val rows = df.collect()
    val docs = graft.sources.Tables.documents(spark, sf01).count()
    assert(rows.length == docs, "every document must appear, stripped-empty included")
    // the corpus has passages shared by >=2 docs of one source (checked
    // at fixture level): total kept must be strictly below total —
    // and by MORE than x11's keep-first drop on the same passages,
    // since boilerplate removal also drops the first occurrence
    val totPass = rows.map(_.getAs[Long]("n_pass")).sum
    val totKept = rows.map(_.getAs[Long]("n_kept")).sum
    assert(totKept < totPass, "no boilerplate fired — fixture assumption broken")
    val strippedDocs = rows.count(r => r.getAs[Long]("n_kept") < r.getAs[Long]("n_pass"))
    assert(strippedDocs >= 2,
      "a boilerplate passage must be stripped from at least its 2 carrying docs")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"x18 must not rank within passage keys (mega-bucket skew):\n$plan")
  }

  test("s9/s10 PQ codebooks are durable: a fresh session scores bit-identically, no retrain") {
    import org.apache.spark.sql.functions.col
    val r1 = Similarity.s9AnnPq(spark, sf01)
      .select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
      .collect().map(_.toSeq).sortBy(_.toString)
    val f = Similarity.pqBooksPath(sf01)
    assert(f.isFile, "codebook sidecar missing — a fresh session would retrain")
    val stamp = (f.length, f.lastModified)
    val fresh = spark.newSession()
    val r2 = Similarity.s9AnnPq(fresh, sf01)
      .select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(r2.sameElements(r1), "fresh-session PQ answers diverged — sidecar not bit-exact")
    assert((f.length, f.lastModified) == stamp, "fresh session rewrote the codebooks")
  }

  test("corrupt PQ sidecar degrades to retrain-and-rewrite, not a crash") {
    val f = Similarity.pqBooksPath(sf001)
    Similarity.s9AnnPq(spark, sf001).collect() // sidecar now exists
    java.nio.file.Files.writeString(f.toPath, "garbage\n")
    val fresh = spark.newSession()
    val out = Similarity.s9AnnPq(fresh, sf001).collect()
    assert(out.nonEmpty)
    assert(f.length > 20, "retrain did not rewrite the corrupted sidecar")
  }

  test("s12 delete: tombstones never surface; masked probe ≡ compacted probe; " +
    "compaction rewrites only affected cells") {
    import org.apache.spark.sql.functions.col
    import scala.jdk.CollectionConverters._
    val d = sf01
    val tomb = Similarity.tombstones(spark, d)
    val tombIds = tomb.collect().map(_.getLong(0)).toSet
    assert(tombIds.nonEmpty, "tombstone set empty — spec has no teeth")

    // the query's own gates hold, and soundness re-checked directly
    val res = Similarity.s12AnnDelete(spark, d).collect()
    assert(res.nonEmpty)
    assert(res.forall(r => r.getAs[Boolean]("recall_ok")), "recall gate red")
    assert(res.forall(r => r.getAs[Boolean]("no_deleted_ok")), "in-query soundness gate red")
    assert(res.forall(r => !tombIds.contains(r.getAs[Long]("neighbor_id"))),
      "a tombstoned id surfaced in the top-k")

    // the registered pre-checkpoint probe plan is the AUDITABLE one:
    // partition-pruned index scan (PartitionFilters on the probed
    // cells), not the LogicalRDD the checkpointed return frame shows
    val probePlan = Similarity.lastGatedApprox((spark, "s12"))
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(probePlan).isDefined,
      s"s12's registered probe plan lost its partition pruning:\n$probePlan")
    Similarity.lastGatedApprox.remove((spark, "s12"))

    // compaction: masked probe of the live index ≡ unmasked probe of the
    // compacted generation, bit for bit
    val (srcPath, anchors, nCells) = Similarity.ivfIndex(spark, d)
    val nProbe = math.max(4, nCells / 4)
    val dst = tempDir("graft_s12_compact")
    Similarity.compactIndex(spark, srcPath, dst, tomb)
    val masked = Similarity.probeIndex(spark, srcPath,
        Similarity.prepared(spark, d), anchors, nProbe, Some(tomb))
      .collect().map(_.toSeq)
    val compacted = Similarity.probeIndex(spark, dst,
        Similarity.prepared(spark, d), anchors, nProbe)
      .collect().map(_.toSeq)
    assert(masked.sameElements(compacted),
      "compacted-index probe diverged from tombstone-masked probe")

    // targeted rewrite: some cells are affected (rewritten), the rest
    // copied byte-for-byte at their original relative paths
    val idx = spark.read.parquet(srcPath)
    val affected = idx.join(tomb, Seq("vec_id"))
      .select(col("label"), col("cell")).distinct().collect()
      .map(r => (r.get(0).toString, r.get(1).toString)).toSet
    val allCells = idx.select(col("label"), col("cell")).distinct().count()
    assert(affected.nonEmpty && affected.size < allCells,
      s"compaction not targeted: ${affected.size} of $allCells cells affected")
    val src = java.nio.file.Paths.get(srcPath)
    def partOf(rel: String, prefix: String): Option[String] =
      rel.split('/').find(_.startsWith(prefix + "="))
        .map(_.substring(prefix.length + 1))
    val walk = java.nio.file.Files.walk(src)
    val untouched =
      try walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => (p, src.relativize(p).toString))
        .filter { case (_, rel) =>
          (partOf(rel, "label"), partOf(rel, "cell")) match {
            case (Some(l), Some(c)) => !affected.contains((l, c))
            case _ => false
          }
        }.toList
      finally walk.close()
    assert(untouched.nonEmpty)
    untouched.foreach { case (p, rel) =>
      val out = java.nio.file.Paths.get(dst).resolve(rel)
      assert(java.nio.file.Files.isRegularFile(out),
        s"untouched cell file missing from compacted index: $rel")
      assert(java.nio.file.Files.size(out) == java.nio.file.Files.size(p),
        s"untouched cell file rewritten (size changed): $rel")
    }
  }

  test("s13 update: masked+delta serving ≡ full rebuild over the updated corpus; " +
    "stale scores impossible") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val d = sf01
    val rows = Similarity.s13AnnUpdate(spark, d).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("recall_ok")), "recall gate red")
    assert(rows.forall(_.getAs[Boolean]("fresh_ok")),
      "a served score disagrees with the updated corpus — stale floats leaked")
    // the registered masked+delta probe plan keeps its pruned scan
    val s13Plan = Similarity.lastGatedApprox((spark, "s13"))
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(s13Plan).isDefined,
      s"s13's registered probe plan lost its partition pruning:\n$s13Plan")
    Similarity.lastGatedApprox.remove((spark, "s13"))
    // from-scratch identity: serving through base+tombstones+delta must
    // equal a full rebuild over the updated corpus with the same anchors
    val (srcPath, anchors, nCells) = Similarity.ivfIndex(spark, d)
    val nProbe = math.max(4, nCells / 4)
    val scratch = tempDir("graft_s13")
    Similarity.assignQuantize(Similarity.updatedCorpus(spark, d), anchors)
      .write.mode("overwrite").partitionBy("cell").parquet(scratch)
    val upd = Similarity.updatedIds(spark, d)
    val delta = Similarity.assignQuantize(
      Similarity.updatedCorpus(spark, d).join(broadcast(upd), Seq("vec_id")), anchors)
    val served = Similarity.probeIndex(spark, srcPath,
        Similarity.prepared(spark, d), anchors, nProbe, Some(upd), Some(delta))
      .collect().map(_.toSeq)
    val rebuilt = Similarity.probeIndex(spark, scratch,
        Similarity.prepared(spark, d), anchors, nProbe)
      .collect().map(_.toSeq)
    assert(served.sameElements(rebuilt),
      "LSM serving (base + tombstones + delta) diverged from the full rebuild")
  }

  test("s14 lifecycle: compact+append fold serves plain; probe ≡ fresh rebuild; " +
    "label-filtered serving survives the fold") {
    val rows = Similarity.s14AnnLifecycle(spark, sf01).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("recall_ok")), "recall gate red")
    assert(rows.forall(_.getAs[Boolean]("fold_ok")),
      "folded-generation probe diverged from the fresh rebuild — the fold lost or resurrected rows")
    assert(rows.forall(_.getAs[Boolean]("filtered_ok")),
      "label-filtered serving through the folded generation diverged from the exact recompute")
    // the folded generation serves through the PLAIN pruned probe: the
    // registered plan must show cell partition pruning and must NOT
    // carry the tombstone anti-join or delta union (they were folded in)
    val probe = Similarity.lastGatedApprox((spark, "s14"))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"gen1 probe scan is not cell-pruned:\n$plan")
    assert(!plan.toLowerCase.contains("leftanti"),
      s"gen1 serving still carries a tombstone mask — the fold did not absorb it:\n$plan")
    assert(!plan.contains("Union"),
      s"gen1 serving still unions a delta memtable — the fold did not absorb it:\n$plan")
    Similarity.lastGatedApprox.remove((spark, "s14"))
  }

  test("s18 index stats: covers every indexed row; balance recomputes; " +
    "assignment identity green against the live corpus") {
    val rows = Similarity.s18IndexStats(spark, sf01).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("assign_ok")),
      "stored cell assignment drifted from a fresh recompute")
    assert(rows.forall(_.getAs[Boolean]("nonempty_ok")))
    val counts = rows.map(_.getAs[Long]("n_rows"))
    val corpus = graft.sources.Tables.embeddings(spark, sf01).count()
    assert(counts.sum == corpus,
      s"stats cover ${counts.sum} rows, corpus has $corpus")
    val expectBalance = counts.min * 10000L / counts.max
    assert(rows.forall(_.getAs[Long]("balance_bp") == expectBalance),
      "balance_bp does not recompute from the per-cell counts")
  }

  test("s14 durable exact witness ≡ a live brute-force recompute over the final corpus") {
    // the stored fingerprint-keyed witness (built by the s14 run above
    // or here) must be bit-identical to recomputing the exact top-K
    // from the corpus — a stale or torn witness would silently turn
    // the recall/filtered gates into comparisons against garbage
    val stored = Similarity.s14ExactWitness(spark, sf01)
      .collect().map(_.toSeq).toSet
    val live = Similarity.s14ExactLive(spark, sf01)
      .collect().map(_.toSeq).toSet
    assert(stored == live,
      "durable s14 exact witness diverged from a live recompute")
  }

  test("s19 range search: pruned int8 scan ≡ unpruned brute force; " +
    "error bound prunes most of the corpus") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions.vecDot
    val got = Similarity.s19RangeSearch(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the registered pre-verify candidate frame measures the prune
    val nCand = Similarity.lastGatedApprox((spark, "s19")).count()
    Similarity.lastGatedApprox.remove((spark, "s19"))
    // unpruned reference: the full float scan with the same fold order
    val e = Similarity.prepared(spark, sf01)
    val q = broadcast(e.filter(col("vec_id") < 10))
    val ref = q.as("q").join(e.as("e"), col("q.vec_id") =!= col("e.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("e.vec_id").as("neighbor_id"),
        round(vecDot(col("q.v"), col("e.v")) / (col("q.nrm") * col("e.nrm")), 4)
          .as("cos4"))
      .filter(col("cos4") >= Similarity.RangeTau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == ref,
      s"sound prune lost or invented pairs: missing ${ref -- got}, extra ${got -- ref}")
    assert(got.nonEmpty, "empty range result — tau above this corpus's similarity range")
    val scored = (e.count() - 1) * 10
    assert(nCand < scored / 2,
      s"int8 bound pruned under half the corpus: $nCand of $scored pairs kept")
    info(s"s19 candidates: $nCand of $scored scored pairs, ${got.size} answers")
  }

  test("s17 MMR: first pick = top relevance; marginal scores non-increasing; " +
    "diversity no worse than plain top-K on redundant shortlists; deterministic") {
    val a = Similarity.s17MmrRerank(spark, sf01).collect()
    assert(a.length == 50, s"expected 10 queries x 5 picks, got ${a.length}")
    assert(a.forall(_.getAs[Boolean]("first_ok")),
      "MMR's first pick must be the max-relevance candidate")
    assert(a.forall(_.getAs[Boolean]("monotone_ok")),
      "greedy MMR marginal scores must be non-increasing")
    // rank-1 marginal score is exactly lambda*rel (empty penalty set)
    a.filter(_.getAs[Int]("rank") == 1).foreach { r =>
      assert(math.abs(r.getAs[Double]("mmr4") - r.getAs[Double]("cos4") / 2) <= 1e-4,
        s"rank-1 mmr must be rel/2: $r")
    }
    // deterministic end to end
    val b = Similarity.s17MmrRerank(spark, sf01).collect()
    assert(a.map(_.toSeq).sameElements(b.map(_.toSeq)), "s17 not run-deterministic")
    // observability: the diversity metrics exist and MMR never INCREASES
    // mean pairwise similarity vs the plain top-K (equality when the
    // greedy keeps the same set)
    a.foreach { r =>
      assert(r.getAs[Double]("avg_pair_mmr4") <= r.getAs[Double]("avg_pair_topk4") + 1e-4,
        s"MMR selected a MORE redundant set than plain top-K: $r")
    }
  }

  test("x17 sequence spans are mutually consistent with x14's packing metadata") {
    import graft.operators.Corpus
    val x14 = Corpus.x14SequencePack(spark, sf01).collect()
      .map(r => r.getLong(0) -> r).toMap
    val spans = Corpus.x17SequenceTable(spark, sf01).collect()
    val byDoc = spans.groupBy(_.getLong(1))
    assert(byDoc.keySet == x14.keySet, "every doc must appear in the sequence table")
    byDoc.foreach { case (doc, ss) =>
      val m = x14(doc)
      val seqs = ss.map(_.getLong(0)).sorted
      assert(seqs.head == m.getAs[Long]("seq_first") && seqs.last == m.getAs[Long]("seq_last"),
        s"doc $doc seq range drifted from x14")
      assert(seqs.distinct.length == seqs.length, s"doc $doc duplicated in a sequence")
      assert(ss.map(_.getAs[Long]("n_tok")).sum == m.getAs[Long]("tok"),
        s"doc $doc span tokens do not total its token count")
    }
    // within a sequence, non-empty spans tile [0, 2048) contiguously;
    // every sequence but the last is exactly full
    val bySeq = spans.groupBy(_.getLong(0))
    val maxSeq = bySeq.keys.max
    bySeq.foreach { case (seq, ss) =>
      var cursor = 0L
      ss.filter(_.getAs[Long]("n_tok") > 0)
        .sortBy(_.getAs[Long]("span_start")).foreach { r =>
          assert(r.getAs[Long]("span_start") == cursor,
            s"seq $seq has a gap/overlap at ${r.getAs[Long]("span_start")} vs $cursor")
          cursor += r.getAs[Long]("n_tok")
        }
      if (seq < maxSeq) assert(cursor == 2048L, s"seq $seq not full: $cursor tokens")
    }
  }

  test("x18 mega-boilerplate: 1e5 carriers collapse map-side, all occurrences dropped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = 100000
    val shared = (1 to 16).map(i => s"boiler$i").mkString(" ")
    val docs = spark.range(n).select(col("id").as("doc_id"), lit("srcA").as("source"),
      concat(lit(shared + " "),
        array_join(transform(sequence(lit(1), lit(16)),
          j => concat(lit("u"), col("id"), lit("w"), j)), " ")).as("text"))
    val res = Dedup.boilerplateStripOf(docs)
    val rows = res.collect()
    assert(rows.length == n)
    // the shared passage is boilerplate (1e5 distinct carriers in one
    // source): EVERY doc loses it — including doc 0 — and keeps its
    // unique passage (x11's keep-first would have kept doc 0's copy)
    assert(rows.forall(r => r.getAs[Long]("n_pass") == 2L && r.getAs[Long]("n_kept") == 1L),
      "boilerplate must be dropped from every carrier, first included")
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"x18 must not rank within passage keys (mega-bucket skew):\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"boilerplate verdict is not a map-side-combinable aggregate:\n$plan")
  }

  test("p1 mega-bucket: 1k identical docs cost one representative, output semantics exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    def txt(n: Int): String =
      (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val tBase = txt(200); val u = txt(300); val v = u + "xyz"
    val docs =
      (0 until 1000).map(i => (i.toLong, tBase)) ++
        Seq(1000L -> u, 1001L -> u, 1002L -> u, 1003L -> v, 1004L -> v) ++
        (1005 to 1009).map(i => (i.toLong, txt(150)))
    val pairs = Dedup.nearDupPairsOf(spark, docs.toDF("doc_id", "text")).collect()
    val byPair = pairs.map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(4))).toMap
    // 1000-group: C(1000,2) intra pairs; u-group C(3,2); v-group C(2,2);
    // u x v cross: 3*2 pairs
    assert(pairs.length == 499500 + 3 + 1 + 6, s"got ${pairs.length} pairs")
    assert(byPair((0L, 1L)) == 1.0)
    assert(byPair((1000L, 1001L)) == 1.0)
    // every cross pair inherits the representative pair's exact jacc
    assert(byPair((1000L, 1003L)) == byPair((1002L, 1004L)))
    assert(byPair((1000L, 1003L)) >= 0.9)
    // intra inter==uni == the group's gram-set size
    val r01 = pairs.find(r => r.getLong(0) == 0L && r.getLong(1) == 1L).get
    assert(r01.getLong(2) == r01.getLong(3) && r01.getLong(2) == (200 - 8 + 1))
  }

  test("p1 hot buckets pair sorted-neighbor (m·W, not m²); the cap never fires at oracle scale") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 1) gate innocence: at the driver's oracle scale the largest
    //    (band, sig) bucket over distinct texts sits FAR below the cap,
    //    so the DuckDB hash-match proves capped ≡ exhaustive there
    val reps01 = graft.sources.Tables.documents(spark, sf01)
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .groupBy(col("t")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("t"))
    val maxBucket = Dedup.bandBuckets(spark, reps01)
      .groupBy(col("band"), col("sig")).count()
      .agg(max(col("count"))).head.getLong(0)
    assert(maxBucket * 4 <= Dedup.HotBucketCap,
      s"oracle-scale max bucket $maxBucket is within 4x of the cap ${Dedup.HotBucketCap} — " +
        "the cap could fire at gate scale and silently change the oracle answer")
    // 2) adversarial corpus the exact-collapse CANNOT absorb: one viral
    //    400-char passage + a distinct tail per copy (Jaccard ≈ 0.97
    //    pairwise, all texts distinct) — every band bucket goes hot
    val rnd = new scala.util.Random(17)
    val viral = (0 until 400).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    val n = 1500
    val docs = (0 until n).map(i => (i.toLong, s"$viral tail$i")).toDF("doc_id", "text")
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
    val buckets = Dedup.bandBuckets(spark, docs)
    val hot = buckets.groupBy(col("band"), col("sig")).count()
      .filter(col("count") > Dedup.HotBucketCap).count()
    assert(hot > 0, "synthetic corpus produced no hot bucket — spec has no teeth")
    val cands = Dedup.bucketCandidates(buckets).count()
    // sorted-neighbor bound: ranks align across bands (ranking is by
    // doc_id), so distinct pairs ≈ n·W; allow 2x for uneven buckets —
    // versus the unbounded n(n−1)/2 ≈ 1.12M
    assert(cands <= 2L * n * Dedup.HotBucketWindow,
      s"hot-bucket candidates not bounded: $cands > ${2L * n * Dedup.HotBucketWindow}")
    assert(cands < n.toLong * (n - 1) / 4,
      s"hot bucket still quadratic: $cands")
  }

  test("x11 keep-first collapses a 10^5-fold duplicated passage map-side (no rank window)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one 16-word passage shared by EVERY doc + 16 unique words per doc
    // → each doc is exactly 2 passages; the shared one survives only in
    // doc 0. A rank-window formulation would haul all 10^5 copies of the
    // shared passage to one reducer task; the min(struct) aggregate
    // combines them to one row per map partition before the exchange.
    val n = 100000
    val shared = (1 to 16).map(i => s"boiler$i").mkString(" ")
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat(lit(shared + " "),
        array_join(transform(sequence(lit(1), lit(16)),
          j => concat(lit("u"), col("id"), lit("w"), j)), " ")).as("text"))
    val res = Dedup.passageDedupOf(docs)
    val rows = res.collect()
    assert(rows.length == n)
    val byId = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byId(0L) == ((2L, 2L)), "first doc must keep both passages")
    assert((1 until n).forall(i => byId(i.toLong) == ((2L, 1L))),
      "every later doc must lose the shared passage and keep its unique one")
    // plan shape: the keep-first decision is a partial (map-side) min
    // aggregate; no Window operator anywhere in the physical plan
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min"),
      s"keep-first is not a map-side-combinable partial aggregate:\n$plan")
    assert(!plan.contains("Window"),
      s"x11 must not rank within passage keys (mega-bucket skew):\n$plan")
  }

  test("x30 keep-first collapses a 10^5-fold duplicated span map-side; " +
    "coverage stays output-proportional; no rank window") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one 16-token span shared by EVERY doc at a doc-VARYING offset
    // (x11's aligned mega-dup spec can't cover this: the offset shifts
    // by i mod 3, so the span straddles passage boundaries in 2/3 of
    // the docs) + 18 unique tokens per doc. A rank-window formulation
    // would haul all 10^5 copies of each shared window fingerprint to
    // one reducer; the min(struct) aggregate combines them to one row
    // per map partition before the exchange.
    val n = 100000
    val shared = (1 to 16).map(i => s"viral$i").mkString(" ")
    val docs = spark.range(n).select(col("id").as("doc_id"),
      concat(
        array_join(transform(sequence(lit(1), pmod(col("id"), lit(3)) + 1),
          j => concat(lit("pre"), col("id"), lit("w"), j)), " "),
        lit(" " + shared + " "),
        array_join(transform(sequence(lit(1), lit(17) - pmod(col("id"), lit(3))),
          j => concat(lit("suf"), col("id"), lit("w"), j)), " ")).as("text"))
    val res = graft.operators.Dedup.exactSubstringDedupOf(docs)
    val rows = res.collect()
    assert(rows.length == n)
    val byId = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every doc is 1..3 prefix + 16 shared + 17..15 suffix = 34 tokens;
    // doc 0 (corpus-first) keeps all 34, every later doc loses exactly
    // the 16 shared tokens (its straddling windows are unique to it)
    assert(byId(0L) == ((34L, 34L)), s"first doc must survive: ${byId(0L)}")
    assert((1 until n).forall(i => byId(i.toLong) == ((34L, 18L))),
      "every later doc must lose exactly the 16-token viral span")
    // plan shape: keep-first is a map-side partial aggregate, and no
    // Window node anywhere — the mega-dup collapses before the exchange
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min"),
      s"keep-first is not map-side combinable:\n$plan")
    assert(!plan.contains("Window"),
      s"x30 must not rank within window fingerprints:\n$plan")
  }

  test("x13 Bloom decontamination: exact x12 output, probe pushed, eval grams never broadcast") {
    val x12 = Dedup.x12Decontaminate(spark, sf01).collect().map(_.toSeq)
    val x13df = Dedup.x13DecontaminateBloom(spark, sf01)
    val x13 = x13df.collect().map(_.toSeq)
    assert(x12.sameElements(x13),
      "Bloom path diverged from the broadcast path — residual join must remove all FPs")
    val plan = x13df.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"),
      s"Bloom probe did not reach the training gram stream:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"x13's premise is an unbroadcastable eval set — found a broadcast join:\n$plan")
  }

  test("t12 LM scores match an independent driver-side bigram model exactly") {
    val docs = graft.sources.Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.toLowerCase.split(" +").toSeq))
    val uni = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val big = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    // the query trains on docs with >=2 tokens only (its `toks` frame is
    // filtered size(w)>=2) — the independent model must see the same
    // corpus or a 0/1-token fixture doc would skew the unigram counts
    docs.filter(_._2.length >= 2).foreach { case (_, w) =>
      w.foreach(t => uni(t) += 1)
      w.zip(w.drop(1)).foreach(p => big(p) += 1)
    }
    val v = uni.size
    val expected = docs.filter(_._2.length >= 2).map { case (id, w) =>
      val nlls = w.zip(w.drop(1)).map { case (a, b) =>
        -math.log((big((a, b)) + 1.0) / (uni(a) + v.toDouble)) }
      id -> nlls.sum / nlls.length
    }.toMap
    val got = TextAnalysis.t12LmPerplexity(spark, sf001).collect()
    assert(got.length == expected.size)
    // the per-doc sum's float addition order differs between Spark's
    // aggregate and this sequential fold (~1e-13 relative), so a score
    // sitting exactly on a 1e-4 rounding boundary may flip one grid
    // step; everything else must agree to the emitted precision exactly
    var offByGrid = 0
    got.foreach { r =>
      assert(r.getAs[Boolean]("pass"), r.toString)
      val want = math.round(expected(r.getLong(0)) * 1e4) / 1e4
      val delta = math.abs(r.getAs[Double]("nll4") - want)
      assert(delta < 1.1e-4,
        s"doc ${r.getLong(0)}: spark=${r.getAs[Double]("nll4")} local=$want")
      if (delta > 0) offByGrid += 1
    }
    assert(offByGrid <= got.length / 100,
      s"$offByGrid/${got.length} docs off the local model by a grid step — not boundary noise")
  }

  test("t21 KN scores match an independent driver-side Kneser-Ney model exactly") {
    val docs = graft.sources.Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.toLowerCase.split(" +").toSeq))
      .filter(_._2.length >= 2) // the query trains on >=2-token docs only
    val big = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    docs.foreach { case (_, w) => w.zip(w.drop(1)).foreach(p => big(p) += 1) }
    val byW1 = big.groupBy(_._1._1)
    val cctx = byW1.map { case (w1, m) => w1 -> m.values.sum.toDouble }
    val nafter = byW1.map { case (w1, m) => w1 -> m.size.toDouble }
    val nbefore = big.groupBy(_._1._2).map { case (w2, m) => w2 -> m.size.toDouble }
    val b = big.size.toDouble
    val dd = 0.75
    val expected = docs.map { case (id, w) =>
      val nlls = w.zip(w.drop(1)).map { case (x, y) =>
        val p = (big((x, y)) - dd) / cctx(x) +
          dd * nafter(x) / cctx(x) * (nbefore(y) / b)
        -math.log(p)
      }
      id -> nlls.sum / nlls.length
    }.toMap
    val got = TextAnalysis.t21KnPerplexity(spark, sf001).collect()
    assert(got.length == expected.size)
    // same grid-boundary allowance as t12: per-doc float sum order
    var offByGrid = 0
    got.foreach { r =>
      assert(r.getAs[Boolean]("pass"), r.toString)
      val want = math.round(expected(r.getLong(0)) * 1e4) / 1e4
      val delta = math.abs(r.getAs[Double]("nll4") - want)
      assert(delta < 1.1e-4,
        s"doc ${r.getLong(0)}: spark=${r.getAs[Double]("nll4")} local=$want")
      if (delta > 0) offByGrid += 1
    }
    assert(offByGrid <= got.length / 100,
      s"$offByGrid/${got.length} docs off the local KN model by a grid step")
  }

  test("t21 plan switch: an unbroadcastable model shuffles the score join, same answers") {
    val bcast = TextAnalysis.t21KnPerplexity(spark, sf001).collect()
      .map(r => r.getLong(0) -> r).toMap
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val shuffled = TextAnalysis.t21KnPerplexityImpl(s2, sf001, broadcastMaxVocab = 0)
    val got = shuffled.collect()
    val plan = shuffled.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"forced-low threshold did not move the model join off broadcast:\n$plan")
    assert(got.length == bcast.size)
    got.foreach { r =>
      val c = bcast(r.getLong(0))
      assert(r.getAs[Boolean]("pass") && c.getAs[Boolean]("pass"))
      assert(r.getAs[Number]("n_pairs").longValue == c.getAs[Number]("n_pairs").longValue)
      assert(math.abs(r.getAs[Double]("nll4") - c.getAs[Double]("nll4")) < 1.1e-4,
        s"doc ${r.getLong(0)}: shuffle path ${r.getAs[Double]("nll4")} " +
          s"vs broadcast ${c.getAs[Double]("nll4")}")
    }
  }

  test("t12 plan switch: an unbroadcastable model shuffles the score join, same answers") {
    val bcast = TextAnalysis.t12LmPerplexity(spark, sf001).collect()
      .map(r => r.getLong(0) -> r).toMap
    // force the switch: vocab ceiling 0, and auto-broadcast off in a
    // child session (at real scale the size estimate disables it; the
    // tiny test tables would otherwise re-broadcast behind our back)
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val shuffled = TextAnalysis.t12LmPerplexityImpl(s2, sf001, broadcastMaxVocab = 0)
    val got = shuffled.collect()
    val plan = shuffled.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"forced-low threshold did not move the model join off broadcast:\n$plan")
    assert(got.length == bcast.size)
    got.foreach { r =>
      val b = bcast(r.getLong(0))
      assert(r.getAs[Boolean]("pass") && b.getAs[Boolean]("pass"))
      assert(r.getAs[Number]("n_pairs").longValue == b.getAs[Number]("n_pairs").longValue)
      // the shuffle join reorders per-doc float addition — scores may
      // flip one 1e-4 grid step on an exact rounding boundary, no more
      assert(math.abs(r.getAs[Double]("nll4") - b.getAs[Double]("nll4")) < 1.1e-4,
        s"doc ${r.getLong(0)}: shuffle path ${r.getAs[Double]("nll4")} " +
          s"vs broadcast ${b.getAs[Double]("nll4")}")
    }
  }

  /** Naive from-scratch reference trainer: recounts every adjacent
    * pair over the full word frame at every merge — O(frame) per merge,
    * deliberately nothing like the incremental production loop, which
    * is what makes it a real cross-check. Stops when the pair pool is
    * dry (every word a single token), like the production trainer. */
  private def referenceBpe(wordsIn: Array[(Vector[String], Long)], merges: Int)
    : Seq[(Int, String, String, Long, Long)] = {
    var cur = wordsIn
    val initVocab = cur.flatMap(_._1).distinct.length.toLong
    val out = Seq.newBuilder[(Int, String, String, Long, Long)]
    for (rank <- 1 to merges) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- cur; i <- 0 until syms.length - 1)
        pc((syms(i), syms(i + 1))) = pc.getOrElse((syms(i), syms(i + 1)), 0L) + c
      if (pc.nonEmpty) {
        val ((a, b), c) = pc.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
        out += ((rank, a, b, c, initVocab + rank))
        cur = cur.map { case (syms, n) =>
          val w = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              w += a + b; i += 2
            } else { w += syms(i); i += 1 }
          }
          (w.result(), n)
        }
      }
    }
    out.result()
  }

  private def corpusWordFrame(dir: String): Array[(Vector[String], Long)] = {
    import org.apache.spark.sql.functions.col
    graft.sources.Tables.documents(spark, dir)
      .select(col("text")).collect().flatMap(_.getString(0).split(" "))
      .filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) =>
        (w.map(_.toString).toVector, g.length.toLong)
      }.toArray
  }

  /** Independent unigram-LM reference trainer: EXHAUSTIVE segmentation
    * enumeration (no DP at all) over t20's documented conventions —
    * seed substrings, hard-EM with scores summed left-to-right (the
    * association order t20Viterbi pins, so float near-ties cannot
    * diverge), ties by reverse-lexicographically largest piece-length
    * sequence, character-coverage prune, final (count desc, piece)
    * ranking. */
  private def referenceUnigram(words: Array[(String, Long)])
      : Seq[(Int, String, Long)] = {
    import scala.collection.mutable
    val maxLen = 6; val seedMultis = 1024; val targetMultis = 256
    val freq = mutable.HashMap.empty[String, Long]
    for ((w, c) <- words; i <- 0 until w.length;
         l <- 1 to math.min(maxLen, w.length - i)) {
      val p = w.substring(i, i + l)
      freq(p) = freq.getOrElse(p, 0L) + c
    }
    val singles = freq.filter(_._1.length == 1).toMap
    val alphabet = singles.keySet
    val multis = freq.toSeq.filter(_._1.length > 1)
      .sortBy { case (p, c) => (-c, p) }.take(seedMultis)
    var counts: Map[String, Long] = singles ++ multis
    def logpOf(cs: Map[String, Long]): Map[String, Double] = {
      val t = cs.values.sum.toDouble
      cs.map { case (p, c) => p -> math.log(c / t) }
    }
    def segs(w: String, vocab: Set[String]): Seq[List[String]] =
      if (w.isEmpty) Seq(Nil)
      else (1 to math.min(maxLen, w.length)).flatMap { l =>
        val h = w.substring(0, l)
        if (vocab(h)) segs(w.substring(l), vocab).map(h :: _) else Nil
      }
    def bestSeg(w: String, logp: Map[String, Double]): List[String] = {
      val all = segs(w, logp.keySet)
      def score(s: List[String]): Double =
        s.foldLeft(0.0)((acc, p) => acc + logp(p))
      val mx = all.map(score).max
      import scala.math.Ordering.Implicits._
      all.filter(score(_) == mx).maxBy(s => s.map(_.length).reverse)
    }
    def emRound(): Unit = {
      val logp = logpOf(counts)
      val c2 = mutable.HashMap.empty[String, Long]
      for ((w, c) <- words; p <- bestSeg(w, logp))
        c2(p) = c2.getOrElse(p, 0L) + c
      counts = c2.toMap
    }
    emRound(); emRound()
    counts = (alphabet.map(a => a -> math.max(counts.getOrElse(a, 0L), 1L))
      ++ counts.toSeq.filter(_._1.length > 1)
        .sortBy { case (p, c) => (-c, p) }.take(targetMultis)).toMap
    emRound(); emRound()
    counts.toSeq.sortBy { case (p, c) => (-c, p) }.zipWithIndex
      .map { case ((p, c), i) => (i + 1, p, c) }
  }

  private val t20SyntheticDocs: Seq[(Long, String)] = Seq(
    0L -> "banana bananaband bandana ananas banana band ana",
    1L -> "abcabcabc abcabc abc cab cabcab banana",
    2L -> "bandana bananaband ananas abcabc band banana banana",
    3L -> "xyz xyzxyz zyx banana band ana cab",
    4L -> "bananaband bandana abcabcabc xyzxyzxyz ananas",
    5L -> "banana band bandana cab abc xyz ananas ana")

  test("t20 unigram trainer matches the exhaustive-enumeration reference " +
    "on an overlap-rich synthetic corpus") {
    import spark.implicits._
    val docs = t20SyntheticDocs.toDF("doc_id", "text")
    val words = t20SyntheticDocs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) => (w, g.length.toLong) }.toArray
    val ref = referenceUnigram(words)
    val got = TextAnalysis.t20TrainOf(docs, Long.MaxValue).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(TextAnalysis.t20LastRegime == "driver-local")
    assert(got.length == ref.length,
      s"vocab sizes differ: engine ${got.length}, reference ${ref.length}")
    got.zip(ref).foreach { case (g, r) =>
      assert(g == r, s"rank ${r._1}: engine $g vs reference $r")
    }
    // the corpus really exercises segmentation: some piece must be a
    // learned multi-char unit shorter than its source words
    assert(ref.exists { case (_, p, _) => p.length > 1 && p.length < 6 })
  }

  test("t20 regimes agree bit-for-bit: ceiling 0 forces the distributed " +
    "hard-EM loop onto the same table as the driver-local one") {
    import spark.implicits._
    val docs = t20SyntheticDocs.toDF("doc_id", "text")
    val localT = TextAnalysis.t20TrainOf(docs, Long.MaxValue).collect()
      .map(_.toSeq)
    assert(TextAnalysis.t20LastRegime == "driver-local")
    val distT = TextAnalysis.t20TrainOf(docs, 0L).collect().map(_.toSeq)
    assert(TextAnalysis.t20LastRegime == "distributed",
      "ceiling 0 must force the distributed regime")
    assert(localT.length == distT.length &&
      localT.zip(distT).forall { case (a, b) => a == b },
      "distributed hard-EM diverged from the driver-local table")
  }

  test("t20 distributed E-step: a partition whose every word fails to " +
    "segment still reports roundtrip=false (zero-count sentinel)") {
    import spark.implicits._
    // logp covers only 'a' — "bb" cannot segment, so its partition
    // emits NO counts; pre-sentinel the aggregate never saw it and the
    // false flag was lost (a false roundtrip gate). repartition(4)
    // isolates the word with certainty: the OTHER partitions are empty
    // and must not vote true over the failing one either.
    val logp = Map("a" -> 0.0)
    val onlyFailing = Seq(("bb", 1L)).toDF("w", "cnt").repartition(4)
    val (c1, rt1) = TextAnalysis.t20EStepDistributed(onlyFailing, logp, 4)
    assert(c1.isEmpty, s"unsegmentable word produced counts: $c1")
    assert(!rt1, "lost false flag: the all-failing partition's " +
      "roundtrip=false never reached the driver")
    // mixed frame: the segmentable word's counts survive next to the
    // failure, and the flag is still false whatever the partitioning
    val mixed = Seq(("aa", 3L), ("bb", 1L)).toDF("w", "cnt").repartition(4)
    val (c2, rt2) = TextAnalysis.t20EStepDistributed(mixed, logp, 4)
    assert(c2 == Map("a" -> 6L), s"counts wrong: $c2")
    assert(!rt2)
    // all-clean control: flag true, counts exact
    val clean = Seq(("aa", 2L)).toDF("w", "cnt").repartition(3)
    val (c3, rt3) = TextAnalysis.t20EStepDistributed(clean, logp, 4)
    assert(c3 == Map("a" -> 4L) && rt3)
  }

  test("t20 at the gate corpus: invariants hold and training is " +
    "driver-local below the ceiling") {
    val rows = TextAnalysis.t20UnigramTrain(spark, sf001).collect()
    assert(TextAnalysis.t20LastRegime == "driver-local")
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("pass")),
      "t20 in-query invariant gate red at the gate corpus")
    // ranks are 1..V in (cnt desc, piece) order with positive counts
    val cnts = rows.map(_.getAs[Long]("cnt"))
    assert(cnts.forall(_ >= 1L))
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
  }

  test("t22 unigram encode equals a driver-side Viterbi encode under the " +
    "frozen t20 table, and gates catch a corrupted table") {
    import spark.implicits._
    val docs = t20SyntheticDocs.toDF("doc_id", "text")
    val trained = TextAnalysis.t20TrainOf(docs, Long.MaxValue).collect()
      .map(r => (r.getString(1), r.getDouble(3)))
    val got = TextAnalysis.t22EncodeOf(docs, trained.toSeq).collect()
    assert(got.forall(_.getAs[Boolean]("pass")), "t22 gate red on clean table")
    // driver-side reference: same frozen table, same Viterbi kernel
    // invoked word-by-word with no memo/partitioning in the loop
    val logp = trained.map { case (p, pr) => p -> math.log(pr) }.toMap
    val maxLen = logp.keysIterator.map(_.length).max
    val refRows = t20SyntheticDocs.map { case (id, text) =>
      val words = text.split(" ").filter(_.nonEmpty)
      val md = java.security.MessageDigest.getInstance("MD5")
      var nTok = 0L
      words.foreach { w =>
        val pieces = TextAnalysis.t20Viterbi(w, logp, maxLen).get
        nTok += pieces.length
        pieces.foreach { p =>
          md.update(p.getBytes("UTF-8")); md.update(1.toByte)
        }
        md.update(2.toByte)
      }
      (id, words.length.toLong, nTok,
        md.digest().map("%02x".format(_)).mkString)
    }
    assert(got.length == refRows.length)
    got.zip(refRows).foreach { case (g, (id, nw, nt, h)) =>
      assert(g.getAs[Long]("doc_id") == id)
      assert(g.getAs[Long]("n_words") == nw)
      assert(g.getAs[Long]("n_tok") == nt,
        s"doc $id: n_tok ${g.getAs[Long]("n_tok")} != reference $nt")
      assert(g.getAs[String]("piece_hash") == h,
        s"doc $id: encode diverged from the driver-side reference")
    }
    // some word must really compress: fewer pieces than characters
    assert(got.exists(r => r.getAs[Long]("n_tok") < r.getAs[Long]("n_chars")),
      "corpus never exercised multi-char pieces")
    // corrupted table (alphabet hole): 'b'-words cannot segment —
    // seg_ok and pass must flip, not silently pass
    val holed = trained.toSeq.filterNot(_._1 == "b")
      .filterNot { case (p, _) => p.contains("b") }
    val bad = TextAnalysis.t22EncodeOf(docs, holed).collect()
    assert(bad.exists(r => !r.getAs[Boolean]("seg_ok")), "alphabet hole unseen")
    assert(bad.exists(r => !r.getAs[Boolean]("pass")))
    // trainer failure propagates: trainerOk=false reddens every row
    val tf = TextAnalysis.t22EncodeOf(docs, trained.toSeq, trainerOk = false)
      .collect()
    assert(tf.forall(r => !r.getAs[Boolean]("pass")),
      "a failed trainer must not feed a green encode")
  }

  test("t22 at the gate corpus: invariants hold end-to-end") {
    val rows = TextAnalysis.t22UnigramEncode(spark, sf001).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("pass")),
      "t22 in-query invariant gate red at the gate corpus")
  }

  test("t15 BPE: 256-merge request trains to exhaustion, matching the reference trainer exactly") {
    val rows = TextAnalysis.t15BpeTrain(spark, sf001).collect()
    assert(TextAnalysis.t15LastRegime == "driver-local",
      s"gate-scale word frame must take the driver-local regime, got ${TextAnalysis.t15LastRegime}")
    assert(rows.forall(_.getAs[Boolean]("pass")), "in-query invariant gate red")
    val counts = rows.map(_.getAs[Long]("cnt"))
    assert(counts.zip(counts.tail).forall { case (x, y) => y <= x },
      "merge counts increased across ranks")
    // reference: same greedy recurrence on plain collections (corpus is
    // pure ASCII, so JVM string order == Spark binary order for ties).
    // The 31-unique-word gate corpus runs DRY before 256 merges — the
    // trained table must be the COMPLETE exhaustion prefix (well past
    // round 9's fixed 16), identical to the reference's.
    val ref = referenceBpe(corpusWordFrame(sf001), 256)
    assert(ref.length == rows.length,
      s"spark trained ${rows.length} merges, reference ${ref.length}")
    assert(rows.length > 16 && rows.length < 256,
      s"expected corpus exhaustion between 16 and 256 merges, got ${rows.length}")
    ref.zip(rows).foreach { case ((rank, a, b, c, v), r) =>
      assert((r.getAs[String]("left"), r.getAs[String]("right"),
        r.getAs[Long]("cnt"), r.getAs[Long]("vocab_size")) == ((a, b, c, v)),
        s"rank $rank: spark merge (${r.getAs[String]("left")}," +
          s"${r.getAs[String]("right")},${r.getAs[Long]("cnt")}) != " +
          s"reference ($a,$b,$c)")
    }
  }

  test("t15 incremental trainer sustains 1000 merges on a rich vocabulary, equal to the naive reference") {
    // production-shaped merge count, decoupled from the gate corpus's
    // tiny vocabulary: 1500 synthetic multi-syllable words, Zipf-ish
    // counts. The naive reference recounts from scratch per merge; the
    // incremental trainer must produce the IDENTICAL merge table.
    val rnd = new scala.util.Random(7)
    val sylls = Array("ba","be","bi","bo","bu","da","de","di","do","du",
      "ka","ke","ki","ko","ku","la","le","li","lo","lu",
      "ma","me","mi","mo","mu","na","ne","ni","no","nu",
      "ra","re","ri","ro","ru","sa","se","si","so","su",
      "ta","te","ti","to","tu","za","ze","zi","zo","zu")
    val words = (0 until 1500).map { i =>
      val w = (0 until 2 + rnd.nextInt(4)).map(_ => sylls(rnd.nextInt(sylls.length))).mkString
      (w, 1L + 10000L / (i + 1))
    }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toArray
    val frame = words.map { case (w, c) => (w.map(_.toString).toArray, c) }
    val t0 = System.nanoTime()
    val got = TextAnalysis.t15MergeLoopLocal(frame, 1000)
    val dtMs = (System.nanoTime() - t0) / 1e6
    val ref = referenceBpe(
      words.map { case (w, c) => (w.map(_.toString).toVector, c) }, 1000)
    assert(got.length == ref.length,
      s"incremental trained ${got.length}, reference ${ref.length}")
    assert(got.length >= 1000, s"rich vocabulary exhausted early: ${got.length}")
    got.zip(ref).foreach { case (g, r) =>
      assert(g._6, s"invariant gate red at rank ${g._1}")
      assert((g._1, g._2, g._3, g._4, g._5) == r,
        s"divergence at rank ${g._1}: $g vs $r")
    }
    // scheduler-cost point: 1000 merges driver-local in well under a
    // minute (vs ~3 Spark jobs/merge distributed)
    assert(dtMs < 60000, s"incremental trainer too slow: $dtMs ms")
  }

  test("t15 regime switch: forced-zero ceiling runs the distributed loop; merge tables identical") {
    // ceiling forced to 0 → the word frame can never "fit the driver"
    // → distributed regime (t12's ceiling-forced plan-switch pattern)
    val dist = TextAnalysis.t15BpeTrainImpl(spark, sf001, 12, 0L).collect()
    assert(TextAnalysis.t15LastRegime == "distributed",
      s"forced ceiling must switch regimes, got ${TextAnalysis.t15LastRegime}")
    val local = TextAnalysis.t15BpeTrainImpl(spark, sf001, 12,
      TextAnalysis.t15DriverLocalMaxWords).collect()
    assert(TextAnalysis.t15LastRegime == "driver-local")
    assert(dist.length == 12 && local.length == 12)
    dist.zip(local).foreach { case (d, l) =>
      assert(d.toSeq == l.toSeq,
        s"regime divergence at rank ${d.getAs[Int]("rank")}: $d vs $l")
    }
  }

  test("s16 hybrid RRF: fusion arithmetic recomputes from the ranks; both systems contribute") {
    val rows = Similarity.s16HybridRrf(spark, sf01).collect()
    assert(rows.length == 20)
    var sawTextOnly = false; var sawVecOnly = false; var sawBoth = false
    rows.foreach { r =>
      val (t, v, rrf) = (r.getInt(1), r.getInt(2), r.getDouble(3))
      assert(t != -1 || v != -1, s"row in neither list: $r")
      if (t != -1 && v == -1) sawTextOnly = true
      if (t == -1 && v != -1) sawVecOnly = true
      if (t != -1 && v != -1) sawBoth = true
      val expect = (if (t != -1) 1.0 / (t + 60) else 0.0) +
        (if (v != -1) 1.0 / (v + 60) else 0.0)
      val e4 = java.math.BigDecimal.valueOf(expect)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      assert(rrf == e4, s"rrf4 $rrf != recompute $e4 for $r")
      assert(t >= -1 && t <= 50 && v >= -1 && v <= 50)
    }
    // the fused list must actually mix systems (a top-20 that is one
    // list verbatim means the other ranking never made it in)
    assert(sawBoth || (sawTextOnly && sawVecOnly),
      s"fusion degenerated to a single system: textOnly=$sawTextOnly vecOnly=$sawVecOnly both=$sawBoth")
    // descending rrf with doc_id tiebreak
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getDouble(3) > b.getDouble(3) ||
          (a.getDouble(3) == b.getDouble(3) && a.getLong(0) < b.getLong(0)))
      case _ =>
    }
  }

  test("p9 star contraction ≡ p5 label propagation; O(log n) rounds on a path graph") {
    // same answer as p5 on the real pair graph
    val p5 = Dedup.p5DupClusters(spark, sf01).collect().map(_.toSeq)
    val p9 = Dedup.p9DupComponents(spark, sf01).collect().map(_.toSeq)
    assert(p5.length == p9.length && p5.length > 0)
    p5.zip(p9).foreach { case (a, b) => assert(a == b, s"CC divergence: $a vs $b") }
    // the algorithmic claim: a 4096-node PATH (diameter 4095) — label
    // propagation would need ~4095 rounds; star contraction must
    // resolve it in O(log n) (bound generously at 24; log2(4096)=12)
    import spark.implicits._
    val n = 4096
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("src", "dst")
    val roots = Dedup.starContract(chain).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(roots.length == n, s"lost nodes: ${roots.length} of $n")
    assert(roots.forall(_._2 == 0L),
      s"path must contract to root 0, got roots ${roots.map(_._2).distinct.take(5).toSeq}")
    val rounds = Dedup.p9LastRounds
    info(s"p9 contracted a $n-node path in $rounds rounds")
    assert(rounds <= 24,
      s"star contraction took $rounds rounds on a ${n}-node path — not O(log n)")
  }

  test("x31 split is cluster-atomic, matches the shared int64 rule, and " +
    "populates all three splits at the gate corpus") {
    val rows = Dedup.x31LeakageSplit(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.nonEmpty)
    // cluster-atomic: guards a future edit that lets the split depend
    // on anything but the cluster id (the entire point of x31)
    rows.groupBy(_._2).foreach { case (c, ms) =>
      assert(ms.map(_._3).toSet.size == 1,
        s"cluster $c straddles splits: ${ms.map(_._3).toSet}")
    }
    // the rule itself, re-derived independently (same arithmetic the
    // DuckDB oracle runs)
    rows.foreach { case (id, c, s) =>
      val bk = c * 40503L % 65536L
      val want = if (bk < 58983L) "train" else if (bk < 62259L) "val" else "test"
      assert(s == want, s"doc $id cluster $c: got $s want $want (bk=$bk)")
    }
    val frac = rows.groupBy(_._3).map { case (s, ms) => s -> ms.length }
    assert(frac.keySet == Set("train", "val", "test"),
      s"a split carved no documents at the gate corpus: $frac")
    assert(frac("train") > rows.length * 7 / 10,
      s"train fraction collapsed: $frac")
  }

  test("x31 keeps a near-dup pair together that x20's per-document " +
    "md5 split straddles across train/test") {
    import spark.implicits._
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // x20's per-doc rule (Corpus.x20StratifiedSplit): first 8 md5 hex
    // chars as an int, mod 100; <90 train, <95 val, else test
    def x20Bucket(t: String): Long =
      java.lang.Long.parseLong(md5Hex(t).substring(0, 8), 16) % 100
    // two near-identical docs (one appended token each over a 60-token
    // shared base ⇒ char-8-gram Jaccard ≈ 0.95, far above the 0.6 pair
    // threshold) whose md5 buckets land on OPPOSITE sides of x20's
    // train/test boundary — found deterministically by scanning tags
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val t1 = (0 until 4000).iterator.map(i => s"$base extra$i")
      .find(x20Bucket(_) < 90L)
    val t2 = (0 until 4000).iterator.map(i => s"$base other$i")
      .find(x20Bucket(_) >= 95L)
    assert(t1.nonEmpty && t2.nonEmpty, "tag scan found no straddling pair")
    assert(x20Bucket(t1.get) < 90L && x20Bucket(t2.get) >= 95L)
    val dir = tempDir("graft_x31")
    Seq((0L, t1.get), (1L, t2.get)).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val got = Dedup.x31LeakageSplit(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got.keySet == Set(0L, 1L))
    assert(got(0L)._1 == got(1L)._1,
      s"the near-dup pair did not share a cluster: $got")
    assert(got(0L)._2 == got(1L)._2,
      s"x31 let a near-dup pair straddle splits: $got — the leakage " +
        "x20's per-document rule exhibits on exactly this corpus")
  }

  test("p9 star contraction ≡ union-find on seeded random graphs (sparse, dense, multi-component)") {
    import spark.implicits._
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val n = 20 + rnd.nextInt(180)
      // densities from near-forest to dense; node ids sparse on purpose
      val m = 1 + rnd.nextInt(3 * n)
      val ids = Array.fill(n)(rnd.nextLong().abs % 100000)
      val edges = (0 until m).map { _ =>
        (ids(rnd.nextInt(n)), ids(rnd.nextInt(n)))
      }.filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // driver union-find reference
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = parent.keys.map(x => x -> find(x)).toMap
        // min-root canonicalization: union-find roots are already the
        // component minimum because we always attach max under min
        val got = Dedup.starContract(edges.toDF("src", "dst"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got.keySet == want.keySet,
          s"seed $seed: node set drift (${got.size} vs ${want.size})")
        got.foreach { case (node, root) =>
          assert(root == want(node),
            s"seed $seed: node $node root $root != union-find ${want(node)}")
        }
      }
    }
  }

  test("t17 BPE encode: invariants corpus-wide; lowest-rank-first ≡ merges-in-training-order") {
    // corpus-level gates at sf0.001: every invariant column true
    val rows = TextAnalysis.t17BpeEncode(spark, sf001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("pass")), "t17 in-query gate red")
    // rich merge table (the t15 syllable corpus): encoding each word
    // with the frozen ranks via the operator's lowest-rank-first kernel
    // must equal an INDEPENDENT reference that applies the merges
    // sequentially in training order — the classic Sennrich-vs-HF
    // encoder equivalence, plus char-exact round-trip
    val rnd = new scala.util.Random(7)
    val sylls = Array("ba","be","bi","bo","bu","da","de","di","do","du",
      "ka","ke","ki","ko","ku","la","le","li","lo","lu",
      "ma","me","mi","mo","mu","na","ne","ni","no","nu",
      "ra","re","ri","ro","ru","sa","se","si","so","su",
      "ta","te","ti","to","tu","za","ze","zi","zo","zu")
    val words = (0 until 1500).map { i =>
      val w = (0 until 2 + rnd.nextInt(4)).map(_ => sylls(rnd.nextInt(sylls.length))).mkString
      (w, 1L + 10000L / (i + 1))
    }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toArray
    val table = TextAnalysis.t15MergeLoopLocal(
      words.map { case (w, c) => (w.map(_.toString).toArray, c) }, 600)
    val rk = table.map(t => ((t._2, t._3), t._1)).toMap
    def referenceEncode(w: String): Array[String] = {
      var syms: Vector[String] = w.map(_.toString).toVector
      table.sortBy(_._1).foreach { case (_, a, b, _, _, _) =>
        val nb = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            nb += a + b; i += 2
          } else { nb += syms(i); i += 1 }
        }
        syms = nb.result()
      }
      syms.toArray
    }
    words.foreach { case (w, _) =>
      val got = TextAnalysis.bpeEncodeWord(rk, w)
      assert(got.mkString == w, s"round-trip broke for '$w': ${got.toSeq}")
      val ref = referenceEncode(w)
      assert(got.sameElements(ref),
        s"encoder divergence on '$w': ${got.toSeq} vs ${ref.toSeq}")
    }
  }

  test("x24 DSIR: scores equal an exact driver recompute; selection is the reference top-100") {
    import graft.operators.Corpus
    val out = graft.Verify.gateInvariants(Corpus.x24DsirSample(spark, sf01)).collect()
    assert(out.length == 100)
    // independent driver model: hashed-unigram counts, add-one terms,
    // per-doc mean in document token order (the operator's fold order)
    val docs = graft.sources.Tables.documents(spark, sf01)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val B = 1024
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(w: String): Int = {
      md.reset()
      val hex = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(0, 8), 16) % B).toInt
    }
    val ct = new Array[Long](B); val cr = new Array[Long](B)
    docs.foreach { case (_, lang, text) =>
      val arr = if (lang == "en") ct else cr
      text.split(" ").filter(_.nonEmpty).foreach(w => arr(bucket(w)) += 1)
    }
    val nt = ct.sum.toDouble; val nr = cr.sum.toDouble
    val term = Array.tabulate(B)(h =>
      math.log((ct(h) + 1.0) / (nt + B)) - math.log((cr(h) + 1.0) / (nr + B)))
    val ref = docs.filter(_._2 != "en").map { case (id, lang, text) =>
      val ws = text.split(" ").filter(_.nonEmpty)
      val wt = ws.foldLeft(0.0)((acc, w) => acc + term(bucket(w))) / ws.length
      val w4 = java.math.BigDecimal.valueOf(wt)
        .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
      (id, lang, ws.length.toLong, w4)
    }.sortBy { case (id, _, _, w4) => (-w4, id) }.take(100)
    out.zip(ref).foreach { case (row, (id, lang, ntok, w4)) =>
      assert((row.getLong(0), row.getString(1), row.getLong(2),
        row.getDouble(3)) == ((id, lang, ntok, w4)),
        s"x24 divergence: $row vs ($id,$lang,$ntok,$w4)")
    }
  }

  test("t11 BM25 plans as heap top-k (TakeOrderedAndProject), stats broadcast") {
    val df = TextAnalysis.t11Bm25Search(spark, sf01)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 fell back to a global sort:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the 1-row stats join must broadcast, not shuffle:\n$plan")
  }

  test("a fresh index build writes exactly ONE parquet file per partition " +
    "directory (the 30x sweep measured 41k files for 331 MB without the " +
    "pre-write clustering, and probe cost went super-linear on it)") {
    // build in a TEST-SCOPED root: deleting the shared sf0.001 index
    // mid-suite left other tests' session caches pointing at dead files
    val root = new java.io.File("target", "graft-index-onefile-spec")
    def rm(f: java.io.File): Unit = graft.FsUtil.deleteTree(f)
    rm(root)
    sys.props("graft.index.root") = root.getAbsolutePath
    try {
    val fresh = spark.newSession() // the per-(session, dir) cache must miss
    val built = new java.io.File(Similarity.ivfIndexPath(fresh, sf001))
    def leafDirs(f: java.io.File): Seq[java.io.File] =
      if (!f.isDirectory) Seq.empty
      else {
        val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        val sub = kids.filter(_.isDirectory)
        if (sub.isEmpty) Seq(f) else sub.flatMap(leafDirs)
      }
    val counts = leafDirs(built)
      .map(d => d -> Option(d.listFiles()).map(_.count(
        _.getName.endsWith(".parquet"))).getOrElse(0))
      .filter(_._2 > 0)
    assert(counts.size > 10, s"expected many (label, cell) dirs, got ${counts.size}")
    val fat = counts.filter(_._2 > 1)
    assert(fat.isEmpty,
      s"${fat.size} partition dirs hold >1 file (first: ${fat.headOption}) — " +
        "the pre-write repartition on the partition columns regressed")
    } finally {
      sys.props.remove("graft.index.root")
      rm(root)
    }
  }

  test("s21 graph ANN: recall vs exact s1, degree bound, determinism") {
    val exact = topk(Similarity.s1BruteForce(spark, sf01))
    val a = Similarity.s21AnnGraph(spark, sf01)
    val r = recallVs(exact, topk(a))
    info(f"s21 recall@5 = $r%.3f")
    assert(r >= 0.7, f"graph-ANN recall $r%.3f — build or beam search broken")
    assert(a.count() === 50, "every query must fill its top-5")
    // the whole search is deterministic: fixed-order folds, id tie-breaks
    val b = Similarity.s21AnnGraph(spark, sf01)
    assert(a.collect().map(_.toSeq).sameElements(b.collect().map(_.toSeq)),
      "two s21 runs diverged — a rank somewhere lost its id tie-break")
  }

  test("NN-descent shard kernel: quality vs exact on a large synthetic " +
    "shard, determinism, exact scores") {
    val rng = new scala.util.Random(7)
    val c = 400; val dim = 16
    val m = Array.tabulate(c) { i =>
      val v = Array.fill(dim)(rng.nextGaussian())
      (i.toLong * 3 + 1, v, math.sqrt(v.map(x => x * x).sum), true)
    }
    val exact = Similarity.exactShardKnnLists(m)
      .map(r => r._1 -> r._4.take(8).toSet).toMap
    // minShard = 0 forces the descent path regardless of c
    val nndRows = Similarity.shardKnnLists(m, minShard = 0).toArray
    val nnd = nndRows.map(r => r._1 -> r._4.take(8).toSet).toMap
    val rec = exact.keys.toSeq
      .map(id => (nnd(id) & exact(id)).size.toDouble / exact(id).size)
    val mean = rec.sum / rec.size
    info(f"NN-descent adjacency recall@8 on c=$c synthetic: $mean%.3f")
    assert(mean >= 0.85,
      f"NN-descent top-8 recall $mean%.3f vs exact — kernel diverged")
    // every emitted score is the TRUE cosine of its pair (coverage is
    // approximate, scores are not)
    val byId = m.map(t => t._1 -> t).toMap
    nndRows.take(20).foreach { case (id, v, nrm, ids, cos) =>
      ids.zip(cos).foreach { case (oid, cs) =>
        val (_, ov, onrm, _) = byId(oid)
        val d = v.zip(ov).map { case (a, b) => a * b }.sum / (nrm * onrm)
        assert(math.abs(d - cs) < 1e-12, s"stored score not the exact cosine")
      }
    }
    // deterministic: an identical input array reproduces identical lists
    val again = Similarity.shardKnnLists(m, minShard = 0).toArray
    assert(nndRows.map(r => (r._1, r._4.toSeq, r._5.toSeq)).sameElements(
      again.map(r => (r._1, r._4.toSeq, r._5.toSeq))),
      "two NN-descent runs on the same member array diverged")
    // sel discipline: only sel rows emit, all rows stay candidates
    val half = m.map { case (id, v, nrm, _) => (id, v, nrm, id % 2 == 0) }
    val selOut = Similarity.shardKnnLists(half, minShard = 0).toArray
    assert(selOut.forall(_._1 % 2 == 0) && selOut.length == c / 2,
      "sel filter regressed in the descent path")
    assert(selOut.exists(_._4.exists(_ % 2 == 1)),
      "odd (non-sel) ids never appear as candidates — candidate set shrank")
  }

  test("s21 NN-descent build: adjacency recall vs the exact build at " +
    "gate scale, and the descent path is really active there") {
    import org.apache.spark.sql.functions._
    val e = Similarity.prepared(spark, sf01)
    val anchors = Similarity.trainedAnchors(spark, sf01, e)
    // the production kernel must actually take the descent path at the
    // gate corpus — otherwise this spec proves nothing
    val shardSizes = e.select(
        explode(graft.functions.VectorFunctions.topCells(
          col("v"), col("nrm"), anchors, 2)).as("cell"))
      .groupBy(col("cell")).count().collect().map(_.getLong(1))
    assert(shardSizes.max > Similarity.NnDescentMinShard,
      s"largest shard ${shardSizes.max} ≤ min-shard floor — NN-descent " +
        "inactive at gate scale, the quality claim is untested")
    val nnd = Similarity.s21Graph(e, anchors)
      .select(col("vec_id"), col("nbrs")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val exact = Similarity.s21GraphExact(e, anchors)
      .select(col("vec_id"), col("nbrs")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(nnd.keySet == exact.keySet)
    val rec = exact.toSeq.map { case (id, ex) =>
      if (ex.isEmpty) 1.0 else (nnd(id) & ex).size.toDouble / ex.size
    }
    val mean = rec.sum / rec.size
    info(f"gate-scale adjacency recall vs exact build: $mean%.3f")
    assert(mean >= 0.85,
      f"NN-descent adjacency recall $mean%.3f vs exact build at gate scale")
  }

  test("s21 adjacency: degree ≤ DEG, no self-loops, neighbors exist") {
    import org.apache.spark.sql.functions._
    val e = Similarity.prepared(spark, sf01)
    val anchors = Similarity.trainedAnchors(spark, sf01, e)
    val g = Similarity.s21Graph(e, anchors).cache()
    try {
      val n = e.count()
      assert(g.count() === n, "every vector must own an adjacency row")
      assert(g.filter(size(col("nbrs")) > 8).count() === 0, "degree bound breached")
      assert(g.filter(array_contains(col("nbrs"), col("vec_id"))).count() === 0,
        "self-loop in adjacency")
      // dangling edges would strand the beam: every neighbor id is a node
      val dangling = g.select(explode(col("nbrs")).as("n"))
        .join(g.select(col("vec_id").as("n")), Seq("n"), "left_anti").count()
      assert(dangling === 0, s"$dangling dangling edges")
    } finally g.unpersist()
  }

  test("graph hop fetch is a pushed-down point read (the 100 TB serve shape)") {
    import org.apache.spark.sql.functions._
    val (path, _) = Similarity.graphIndexPath(spark, sf01)
    val g = spark.read.parquet(s"$path/adj")
    val plan = g.filter(col("vec_id").isin(1L, 2L, 3L))
      .queryExecution.executedPlan.toString
    // the IN list must reach the scan: row-group min/max stats prune
    // against it (the adjacency is range-sorted on vec_id at write),
    // which is what makes each beam round a key lookup, not a scan
    assert(plan.contains("PushedFilters: [In(vec_id"),
      s"hop fetch lost its scan pushdown:\n$plan")
  }

  test("diversifyAdjacency: α-RNG keeps nearest + diverse, drops the " +
    "clone, and reverse edges enter the pool") {
    import spark.implicits._
    def nrm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    // u's wide list holds a near candidate `a`, its near-clone `a2`,
    // and the orthogonal `b`; `c` lists u (REVERSE edge only — u's
    // own forward list never mentions c)
    val vs = Seq(
      (0L, Array(1.0, 0.0, 0.0), Seq(1L, 2L, 3L)),   // u
      (1L, Array(1.0, 0.10, 0.0), Seq(2L, 0L)),      // a (nearest)
      (2L, Array(1.0, 0.11, 0.0), Seq(1L, 0L)),      // a2 ≈ clone of a
      (3L, Array(0.0, 1.0, 0.0), Seq(0L)),           // b ⊥ u
      (4L, Array(0.7, 0.0, 0.714), Seq(0L)))         // c → u reverse only
    val wide = vs.map { case (id, v, ns) => (id, v, nrm(v), ns) }
      .toDF("vec_id", "v", "nrm", "nbrs")
    val out = Similarity.diversifyAdjacency(wide).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](3).toSeq).toMap
    assert(out.keySet === vs.map(_._1).toSet, "every node keeps its row")
    // u's pruned list: a survives first (best is never covered), the
    // clone a2 is α-covered by a, the reverse-only c and orthogonal b
    // survive as diverse directions — in greedy (-cos, id) prune order
    assert(out(0L) === Seq(1L, 4L, 3L),
      s"α-prune of u's pool drifted: ${out(0L)}")
  }

  test("base graph artifact is α-diverse on disk: degree bound + no " +
    "kept edge α-covered by an earlier one") {
    import org.apache.spark.sql.functions._
    val (path, _) = Similarity.graphIndexPath(spark, sf01)
    val rows = spark.read.parquet(s"$path/adj").collect()
    val vecs = rows.map(r => r.getLong(0) ->
      (r.getSeq[Double](1).toArray, r.getDouble(2))).toMap
    def cos(a: (Array[Double], Double), b: (Array[Double], Double)): Double = {
      var dot = 0.0; var i = 0
      while (i < a._1.length) { dot += a._1(i) * b._1(i); i += 1 }
      dot / (a._2 * b._2)
    }
    var checked = 0
    rows.foreach { r =>
      val u = r.getLong(0); val ns = r.getSeq[Long](3).toIndexedSeq
      assert(ns.size <= 8, s"degree bound breached at $u: ${ns.size}")
      assert(!ns.contains(u), s"self-loop at $u")
      for (i <- ns.indices; j <- (i + 1) until ns.size) {
        val cov = Similarity.DiversifyAlpha *
          (1.0 - cos(vecs(ns(i)), vecs(ns(j)))) <=
          (1.0 - cos(vecs(u), vecs(ns(j)))) - 1e-9
        assert(!cov,
          s"node $u kept ${ns(j)} although ${ns(i)} α-covers it — " +
            "the stored adjacency is not the RobustPrune output")
        checked += 1
      }
    }
    info(s"α-diversity invariant held over $checked kept-edge pairs")
    assert(checked > 0, "no edges audited — empty artifact?")
  }

  test("label-histogram sidecar: written at graph ingest, matches the " +
    "corpus aggregate (s25's selectivity source)") {
    import org.apache.spark.sql.functions._
    val (path, _) = Similarity.graphIndexPath(spark, sf01)
    val hist = Similarity.readLabelHist(new java.io.File(path))
    assert(hist.isDefined, "label-histogram sidecar missing from the artifact")
    val agg = graft.sources.Tables.embeddings(spark, sf01)
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(hist.get === agg,
      "sidecar histogram drifted from the corpus label counts")
  }

  test("s22 graph append: recall + reachability gates, delta discipline, determinism") {
    import org.apache.spark.sql.functions._
    val exact = topk(Similarity.s1BruteForce(spark, sf01))
    val a = Similarity.s22GraphAppend(spark, sf01)
    val r = recallVs(exact, topk(a))
    info(f"s22 recall@5 = $r%.3f")
    assert(r >= 0.7, f"merged-graph recall $r%.3f — delta serving broken")
    val gate = a.select("reach4", "reach_ok").distinct().collect()
    assert(gate.length === 1 && gate(0).getBoolean(1),
      s"reach gate must hold (got ${gate.mkString})")
    info(f"s22 reach = ${gate(0).getDouble(0)}%.3f")
    // delta discipline: base holds exactly the 90% slice, the delta
    // exactly the batch, and every forward edge has its back-link
    val (path, _) = Similarity.graphIncrPath(spark, sf01)
    val e = Similarity.prepared(spark, sf01)
    val base = spark.read.parquet(s"$path/base/adj")
    val delta = spark.read.parquet(s"$path/delta/adj")
    val back = spark.read.parquet(s"$path/back")
    assert(base.count() === e.filter(col("vec_id") % 10 =!= 9).count())
    assert(base.filter(col("vec_id") % 10 === 9).count() === 0,
      "an appended id leaked into the base generation")
    assert(delta.count() === e.filter(col("vec_id") % 10 === 9).count())
    // v10: delta lists carry up to BridgeK insert-search bridge edges
    // past the kNN cut (base stays at DEG — checked by the α-diversity
    // artifact spec)
    assert(delta.filter(size(col("nbrs")) > 8 + Similarity.BridgeK).count() === 0,
      "delta degree bound")
    // ...and the bridge did its job: appended nodes must hold edges
    // INTO the base generation (back-links onto base carriers are what
    // make the delta reachable at all — the clustered-append island
    // regression)
    val baseIdsDf = base.select(col("vec_id").as("t"))
    val deltaToBase = delta.select(explode(col("nbrs")).as("t"))
      .join(baseIdsDf, Seq("t"), "left_semi").count()
    assert(deltaToBase > 0, "no delta→base edge: appended nodes are an island")
    assert(back.count() === delta.select(explode(col("nbrs"))).count(),
      "every forward edge must carry a reverse back-link")
    val b = Similarity.s22GraphAppend(spark, sf01)
    assert(a.collect().map(_.toSeq).sameElements(b.collect().map(_.toSeq)),
      "two s22 runs diverged")
  }

  test("s23 graph delete: survivor recall, soundness, tombstones still route") {
    import org.apache.spark.sql.functions._
    val a = Similarity.s23GraphDelete(spark, sf01)
    val gate = a.select("recall4", "recall_ok", "no_deleted_ok").distinct().collect()
    assert(gate.length === 1 && gate(0).getBoolean(1) && gate(0).getBoolean(2),
      s"s23 gates must hold (got ${gate.mkString})")
    info(f"s23 survivor recall@5 = ${gate(0).getDouble(0)}%.3f")
    // soundness re-checked here against the independent tombstone rule
    val answered = a.select("neighbor_id").collect().map(_.getLong(0))
    assert(!answered.exists(id => id % 17 == 5 && id >= 10),
      "a tombstoned id surfaced in an answer")
    // LAZY semantics demonstrated: the beam still SCORES tombstoned
    // nodes (they route), it just never ANSWERS with them — run the
    // raw beam and assert tombstoned waypoints were visited
    val (path, anchors) = Similarity.graphIndexPath(spark, sf01)
    val g = spark.read.parquet(s"$path/adj")
    val e = Similarity.prepared(spark, sf01)
    val q = e.filter(col("vec_id") < 10)
    val scored = Similarity.graphBeam(spark,
      ids => g.filter(col("vec_id").isin(ids: _*)),
      q.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn")),
      Similarity.graphSeeds(q, anchors, spark.read.parquet(s"$path/reps")))
    val waypointHits = scored
      .filter(col("neighbor_id") % 17 === 5 && col("neighbor_id") >= 10).count()
    assert(waypointHits > 0,
      "no tombstoned node was traversed — the lane is masking the graph, not the answer")
    val b = Similarity.s23GraphDelete(spark, sf01)
    assert(a.collect().map(_.toSeq).sameElements(b.collect().map(_.toSeq)),
      "two s23 runs diverged")
  }

  test("executor-side beam (graphBeamExec) is row-identical to the driver " +
    "loop at the gate query set and at 6.4x it") {
    import org.apache.spark.sql.functions._
    val (path, anchors) = Similarity.graphIndexPath(spark, sf01)
    val g = spark.read.parquet(s"$path/adj")
    val reps = spark.read.parquet(s"$path/reps")
    val e = Similarity.prepared(spark, sf01)
    def run(nq: Int): (Array[Seq[Any]], Array[Seq[Any]]) = {
      val q = e.filter(col("vec_id") < nq)
      val qSide = q.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
      val seeds = Similarity.graphSeeds(q, anchors, reps)
      val fetch = (ids: Seq[Long]) => g.filter(col("vec_id").isin(ids: _*))
      def sorted(df: org.apache.spark.sql.DataFrame) =
        df.select(col("query_id"), col("neighbor_id"), col("cos4"))
          .distinct()
          .orderBy(col("query_id"), col("neighbor_id"))
          .collect().map(_.toSeq)
      (sorted(Similarity.graphBeam(spark, fetch, qSide, seeds)),
        sorted(Similarity.graphBeamExec(spark, fetch, qSide, seeds)))
    }
    val (d10, x10) = run(10)
    assert(d10.nonEmpty && d10.sameElements(x10),
      "exec beam diverged from the driver loop at the gate query set")
    val (d64, x64) = run(64)
    assert(d64.length > d10.length && d64.sameElements(x64),
      "exec beam diverged from the driver loop at the 64-query batch")
    // the auto dispatch routes by distinct-query count (threshold 512
    // since round 16: the exec lane's per-round job overhead dominated
    // real epoch batches, while driver state at ≤512 queries is tens
    // of MB — see GraphBeamExecMinQueries's sizing note)
    def autoPathFor(q: org.apache.spark.sql.DataFrame): String = {
      Similarity.graphBeamAuto(spark,
        ids => g.filter(col("vec_id").isin(ids: _*)),
        q.select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn")),
        Similarity.graphSeeds(q, anchors, reps)).count()
      Similarity.lastBeamPath
    }
    assert(autoPathFor(e.filter(col("vec_id") < 64)) == "driver",
      "an epoch/gate-shape batch must take the driver loop")
    // fabricate a threshold-crossing batch from the gate vectors
    // (distinct ids, duplicated vectors — dispatch counts queries)
    val big = e.unionByName(e.withColumn("vec_id", col("vec_id") + 10000L))
    assert(big.select("vec_id").distinct().count() >=
      Similarity.GraphBeamExecMinQueries)
    assert(autoPathFor(big) == "exec",
      "a tier-scale batch must take the executor-side loop")
  }

  test("s25 filtered graph serve: recall gate green, answers label-pure, " +
    "vacuous filter answers exactly s21") {
    import org.apache.spark.sql.functions._
    val a = Similarity.s25GraphFiltered(spark, sf01)
    val rows = a.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("recall_ok")),
      s"s25 recall gate red: recall4=${rows.headOption.map(_.getAs[Double]("recall4"))}")
    info(f"s25 filtered recall = ${rows.head.getAs[Double]("recall4")}%.3f")
    // label purity: every answered neighbor carries the query's label
    val raw = graft.sources.Tables.embeddings(spark, sf01)
      .select(col("vec_id"), col("label"))
    val lab = raw.collect().map(r => r.getLong(0) -> r.get(1)).toMap
    rows.foreach { r =>
      assert(lab(r.getAs[Long]("neighbor_id")) == lab(r.getAs[Long]("query_id")),
        s"neighbor ${r.getAs[Long]("neighbor_id")} label-mismatches its query")
    }
    // deterministic
    val b = Similarity.s25GraphFiltered(spark, sf01).collect()
    assert(rows.map(_.toSeq).sameElements(b.map(_.toSeq)), "s25 runs diverged")
    // vacuous-filter identity: a label every node shares, at s21's own
    // beam width, must reproduce the unfiltered serve row-for-row
    val allSame = raw.select(col("vec_id"), lit(0).as("label"))
    val vac = Similarity.s25Core(spark, sf01, allSame, beam = 8)
      .select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
      .collect().map(_.toSeq)
    val unfiltered = Similarity.s21AnnGraph(spark, sf01)
      .select(col("query_id"), col("neighbor_id"), col("cos4"), col("rn"))
      .collect().map(_.toSeq)
    assert(vac.sameElements(unfiltered),
      "vacuous filter perturbed the unfiltered answer — the filter " +
        "plumbing is not a pure constraint")
  }

  test("s25 adaptive filtered beam: widening follows measured selectivity " +
    "and the recall floor holds at a ≤1% label") {
    import org.apache.spark.sql.functions._
    // the adaptive-L arithmetic (filtered-DiskANN's knob): vacuous
    // selectivity keeps the measured-good 4× floor, moderate labels
    // widen as K/sel, rare labels hit the declared cost cap
    assert(Similarity.filteredBeamFor(1.0) == Similarity.FilteredBeam)
    assert(Similarity.filteredBeamFor(0.1) == 50)
    assert(Similarity.filteredBeamFor(0.01) == Similarity.MaxFilteredBeam)
    // synthetic ≤1% label: 5 of the 500 gate vectors share label 1
    // (query 0 + four spread corpus vectors); every other vector gets
    // a unique label, so query 0 is the only query with any match
    val rare = Seq(0L, 123L, 251L, 377L, 449L)
    val labelOf = graft.sources.Tables.embeddings(spark, sf01)
      .select(col("vec_id"),
        when(col("vec_id").isin(rare: _*), lit(-1L))
          .otherwise(col("vec_id") + 1000000L).as("label"))
    val sel = 5.0 / 500.0
    val out = Similarity.s25Core(spark, sf01, labelOf,
        Similarity.filteredBeamFor(sel))
      .filter(col("query_id") === 0L)
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
    val want = rare.drop(1).toSet
    val recall = (out & want).size.toDouble / want.size
    info(f"s25 rare-label (1%%) recall = $recall%.3f at beam " +
      s"${Similarity.filteredBeamFor(sel)}")
    assert(recall >= 0.7,
      f"≤1%% label recall $recall%.3f under the adaptive beam — widening insufficient")
  }

  test("s26 graph audit: all-green on the fresh artifact; corrupt one " +
    "thing and exactly its check flips") {
    import org.apache.spark.sql.functions._
    val (incrPath, _) = Similarity.graphIncrPath(spark, sf01)
    val clean = Similarity.graphAuditOf(spark, incrPath).collect()
    assert(clean.nonEmpty)
    Seq("degree_ok", "dangling_ok", "reps_ok", "recip_ok").foreach { c =>
      assert(clean.forall(_.getAs[Boolean](c)), s"fresh artifact red on $c")
    }
    // histogram sanity: node counts sum to the artifact's node count
    val nNodes = spark.read.parquet(s"$incrPath/base/adj").count() +
      spark.read.parquet(s"$incrPath/delta/adj").count()
    assert(clean.map(_.getAs[Long]("n_nodes")).sum == nNodes)
    // tampered copies: each corruption flips its own check and no other
    def tampered(mutate: String => Unit): Map[String, Boolean] = {
      val t = java.nio.file.Files.createTempDirectory("graft-s26-tamper")
        .toFile.getAbsolutePath
      Seq("base/adj", "delta/adj", "back", "reps").foreach { leg =>
        spark.read.parquet(s"$incrPath/$leg")
          .write.mode("overwrite").parquet(s"$t/$leg")
      }
      mutate(t)
      val r = Similarity.graphAuditOf(spark, t).collect()
      val out = Seq("degree_ok", "dangling_ok", "reps_ok", "recip_ok")
        .map(c => c -> r.forall(_.getAs[Boolean](c))).toMap
      def rm(f: java.io.File): Unit = graft.FsUtil.deleteTree(f)
      rm(new java.io.File(t))
      out
    }
    // 1. a forward edge REPLACED by a nonexistent id (list length kept,
    // so degree stays green) → dangling only
    val g1 = tampered { t =>
      val d0 = spark.read.parquet(s"$t/base/adj")
      d0.withColumn("nbrs",
          when(col("vec_id") === d0.select(min(col("vec_id"))).head.getLong(0),
            concat(slice(col("nbrs"), lit(1), size(col("nbrs")) - 1),
              array(lit(99999999L))))
            .otherwise(col("nbrs")))
        .write.mode("overwrite").parquet(s"$t/base/adj2")
      spark.read.parquet(s"$t/base/adj2").write.mode("overwrite")
        .parquet(s"$t/base/adj")
    }
    assert(!g1("dangling_ok") && g1("degree_ok") && g1("reps_ok") &&
      g1("recip_ok"), s"dangling tamper flipped the wrong checks: $g1")
    // 2. a representative pointing at a nonexistent node → reps only
    val g2 = tampered { t =>
      val r0 = spark.read.parquet(s"$t/reps")
      val minCell = r0.select(min(col("cell"))).head.getInt(0)
      r0.withColumn("rep",
          when(col("cell") === minCell, lit(88888888L)).otherwise(col("rep")))
        .write.mode("overwrite").parquet(s"$t/reps2")
      spark.read.parquet(s"$t/reps2").write.mode("overwrite")
        .parquet(s"$t/reps")
    }
    assert(!g2("reps_ok") && g2("degree_ok") && g2("dangling_ok") &&
      g2("recip_ok"), s"reps tamper flipped the wrong checks: $g2")
    // 3. a back row whose forward mirror is gone → reciprocity (the
    // redirected extra is a REAL node, so dangling stays green)
    val g3 = tampered { t =>
      val bk = spark.read.parquet(s"$t/back")
      val someBase = spark.read.parquet(s"$t/base/adj")
        .select(min(col("vec_id"))).head.getLong(0)
      val firstT = bk.select(min(col("vec_id"))).head.getLong(0)
      bk.withColumn("extra",
          when(col("vec_id") === firstT, lit(someBase)).otherwise(col("extra")))
        .write.mode("overwrite").parquet(s"$t/back2")
      spark.read.parquet(s"$t/back2").write.mode("overwrite")
        .parquet(s"$t/back")
    }
    assert(!g3("recip_ok") && g3("degree_ok") && g3("dangling_ok"),
      s"reciprocity tamper flipped the wrong checks: $g3")
    // 4. a fattened forward list past DEG (valid node ids) → degree only
    val g4 = tampered { t =>
      val d0 = spark.read.parquet(s"$t/base/adj")
      val ids = d0.select(col("vec_id")).orderBy(col("vec_id"))
        .limit(12).collect().map(_.getLong(0))
      val fat = ids.map(i => lit(i))
      d0.withColumn("nbrs",
          when(col("vec_id") === ids.last,
            array_union(col("nbrs"), array(fat.toIndexedSeq: _*)))
            .otherwise(col("nbrs")))
        .write.mode("overwrite").parquet(s"$t/base/adj2")
      spark.read.parquet(s"$t/base/adj2").write.mode("overwrite")
        .parquet(s"$t/base/adj")
    }
    assert(!g4("degree_ok") && g4("dangling_ok") && g4("reps_ok") &&
      g4("recip_ok"), s"degree tamper flipped the wrong checks: $g4")
  }

  test("s24 graph fold: gates hold, deletes physical, degree bound, determinism") {
    import org.apache.spark.sql.functions._
    val a = Similarity.s24GraphFold(spark, sf01)
    val gate = a.select("recall4", "recall_ok", "reach4", "reach_ok", "no_tomb_ok")
      .distinct().collect()
    assert(gate.length === 1 && gate(0).getBoolean(1) && gate(0).getBoolean(3) &&
      gate(0).getBoolean(4), s"s24 gates must hold (got ${gate.mkString})")
    info(f"s24 survivor recall@5 = ${gate(0).getDouble(0)}%.3f, " +
      f"reach = ${gate(0).getDouble(2)}%.3f")
    // the folded generation is structurally clean: exactly the live
    // node set, degree ≤ DEG, and NO tombstoned id as node or target
    val path = Similarity.graphFoldPath(spark, sf01)
    val g = spark.read.parquet(s"$path/adj")
    val e = Similarity.prepared(spark, sf01)
    val nLive = e.filter(!(col("vec_id") % 17 === 5 && col("vec_id") >= 10)).count()
    assert(g.count() === nLive, "folded node set must be exactly the survivors")
    assert(g.filter(size(col("nbrs")) > Similarity.FoldDeg).count() === 0,
      "fold degree bound")
    assert(g.filter(col("vec_id") % 17 === 5 && col("vec_id") >= 10).count() === 0)
    assert(g.select(explode(col("nbrs")).as("t"))
      .filter(col("t") % 17 === 5 && col("t") >= 10).count() === 0,
      "a tombstoned id survived as an edge target")
    // consolidation repaired routing: folded recall must not fall
    // below the lazy-delete lane's on the same witness
    val lazyGate = Similarity.s23GraphDelete(spark, sf01)
      .select("recall4").distinct().collect()(0).getDouble(0)
    assert(gate(0).getDouble(0) >= lazyGate - 0.1,
      f"fold collapsed recall: ${gate(0).getDouble(0)}%.3f vs lazy $lazyGate%.3f")
    val b = Similarity.s24GraphFold(spark, sf01)
    assert(a.collect().map(_.toSeq).sameElements(b.collect().map(_.toSeq)),
      "two s24 runs diverged")
  }

  test("SIMD MinHash sketch equals the scalar Carter-Wegman reference") {
    import graft.functions.MinHash
    val K = 128
    val rnd = new scala.util.Random(11)
    val mulA = Array.fill(K)(rnd.nextLong().abs % (MinHash.P - 1) + 1)
    val addB = Array.fill(K)(rnd.nextLong().abs % MinHash.P)
    val sketch = new MinHash.Sketch(mulA, addB)
    for (_ <- 0 until 20) {
      val hashes = Array.fill(50 + rnd.nextInt(200))(rnd.nextLong().abs % MinHash.P)
      sketch.reset()
      hashes.foreach(sketch.absorb)
      val got = new Array[Long](K)
      sketch.mins(got)
      val want = Array.tabulate(K) { i =>
        hashes.map(h => ((BigInt(mulA(i)) * h + addB(i)) mod BigInt(MinHash.P)).toLong).min
      }
      assert(got.sameElements(want))
    }
  }
}
