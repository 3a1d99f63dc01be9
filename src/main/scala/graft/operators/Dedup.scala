package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables._

/** Deduplication suite for a large-scale training-data pipeline:
  * exact (X1, in [[Relational]]), MinHash+LSH, SimHash, brute-force
  * n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (the 100 TB story):
  *  - The ONLY all-pairs computation is P3 (brute force), kept as the
  *    small-scale oracle-matched baseline; P1 is the scale path —
  *    candidate generation via LSH banding is linear in corpus size
  *    (one shuffle keyed by (band, signature)) and the exact verify
  *    touches only candidate pairs.
  *  - MinHash signatures are computed with 128 conditional `min`
  *    aggregates over the exploded shingle set — one map-side-combinable
  *    hash aggregate, no per-hash-function pass, fully codegen'd
  *    (xxhash64 is a native Catalyst expression).
  *  - SimHash is a single groupBy with 32 conditional sums (no 32×
  *    row explosion); the dedup itself is one shuffle on the 32-bit key.
  *  - Jaccard thresholds use exact integer arithmetic
  *    (`5*inter >= 3*union` for 0.6) so Spark and the DuckDB oracle
  *    agree bit-for-bit; cosine uses fixed-order double folds
  *    (`aggregate` HOF ↔ DuckDB `sum(... ORDER BY i)`).
  *
  * Reference analog: none — the reference
  * (/root/reference/Matrix/LUDecomposition.java) has no text surface;
  * its grid-cell cogroup (Schur, :495-651) is the structural cousin of
  * the LSH bucket join used here.
  */
object Dedup {

  private val Shingle = 8

  /** Distinct character 8-gram shingles of the normalized text —
    * generated as a per-row array expression (`sequence`+`transform`)
    * then exploded, so shingling is narrow (no shuffle) and codegen'd. */
  private[operators] def shingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(1, greatest(length(t)-${Shingle - 1}, 1))," +
          s" i -> substring(t, i, $Shingle))"))).as("gram"))

  /** Exact |A∩B|, |A∪B|, Jaccard per (doc_a, doc_b) pair via a gram
    * self-join (brute force — the oracle shape). */
  private def exactPairs(grams: DataFrame): DataFrame = {
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = grams.as("ga")
      .join(grams.as("gb"),
        col("ga.gram") === col("gb.gram") && col("ga.doc_id") < col("gb.doc_id"))
      .groupBy(col("ga.doc_id").as("doc_a"), col("gb.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        (col("sa.n") + col("sb.n") - col("inter")).as("uni"))
  }

  /** jacc >= 0.6 as exact integer arithmetic — no float boundary. */
  private val nearDup: Column = col("inter") * 5 >= col("uni") * 3

  // MinHash/LSH geometry shared by P1 (self-join) and P6 (new-vs-index)
  private val K = 128       // minhash permutations
  private val R = 4         // rows per band
  private val B = K / R     // 32 bands
  /** Carter-Wegman permutation coefficients, fixed seed (the fill
    * ORDER — all of mulA, then all of addB — is part of the recorded
    * signature identity). */
  private val (mulA, addB) = {
    val rng = new scala.util.Random(7)
    val p = graft.functions.MinHash.P
    (Array.fill(K)(rng.nextLong().abs % (p - 1) + 1),
      Array.fill(K)(rng.nextLong().abs % p))
  }

  /** (doc_id, band, sig) LSH band signatures for a (doc_id, t) frame.
    *
    * Whole signature per document in ONE narrow per-partition pass:
    * stream the sliding shingles, hash each once, and keep K running
    * minima under Carter-Wegman permutations h_i = (a_i·h + b_i) mod p
    * (the mod is what makes the orderings independent — a plain
    * mul-add is monotone in h and degenerates to a single minhash).
    * No gram explode, no wide aggregate, no pre-banding shuffle —
    * cost is exactly one text scan per doc, which is the 100 TB shape.
    *
    * Hot-loop engineering: the K-permutation update runs 8 lanes at a
    * time through [[graft.functions.MinHash.Sketch]] (JDK Vector API,
    * Mersenne 2³¹−1 shift-add mod — no division); gram hashes come
    * from a rolling polynomial over the chars (one update per char,
    * no per-gram String allocation). */
  private[graft] def bandBuckets(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    import graft.functions.MinHash
    val P = MinHash.P
    val kShingle = Shingle
    val (mA, aB) = (mulA, addB)     // local copies — closure must not drag the object
    val (kK, rR, bB) = (K, R, B)
    docs.as[(Long, String)]
      .mapPartitions { it =>
        val Base = 1000003L
        // Base^(k-1) mod p, to roll the leading char out of the window
        val basePow = (1 until kShingle).foldLeft(1L)((acc, _) => MinHash.mulModP(acc, Base))
        val sketch = new MinHash.Sketch(mA, aB)   // one per partition
        it.flatMap { case (id, t) =>
          sketch.reset()
          val n = t.length
          if (n < kShingle) {
            var h = 0L; var j = 0
            while (j < n) { h = MinHash.modP(MinHash.mulModP(h, Base) + t.charAt(j)); j += 1 }
            sketch.absorb(h)
          } else {
            var h = 0L; var j = 0
            while (j < kShingle) { h = MinHash.modP(MinHash.mulModP(h, Base) + t.charAt(j)); j += 1 }
            sketch.absorb(h)
            while (j < n) {
              val drop = MinHash.mulModP(basePow, t.charAt(j - kShingle))
              h = MinHash.modP(MinHash.mulModP(MinHash.modP(h + P - drop), Base) + t.charAt(j))
              sketch.absorb(h)
              j += 1
            }
          }
          // copy the minima out BEFORE the lazy band iterator runs —
          // the sketch is reused for the next document
          val mins = new Array[Long](kK)
          sketch.mins(mins)
          (0 until bB).iterator.map { b =>
            var acc = 1125899906842597L
            var j = b * rR
            while (j < (b + 1) * rR) { acc = acc * 31 + mins(j); j += 1 }
            (id, b, acc)
          }
        }
      }
      .toDF("doc_id", "band", "sig")
  }

  /** Cap for the quadratic brute-force baselines (P3): they run on a
    * fixed-size audit sample (doc_id < 600 — still the WHOLE corpus at
    * sf≤0.01, which is the oracle-gate scale, a bounded sample beyond)
    * while the LSH path P1 covers the full corpus at any scale. An
    * unbounded gram self-join grows as Σ|posting|² ≈ corpus², which is
    * exactly the cost LSH banding exists to avoid; the audit sample
    * only needs to be big enough to bound P1's recall, not to scale. */
  private val AuditCap = 600

  private val sharedPairCte: String =
    """WITH norm AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
      |g AS (SELECT DISTINCT doc_id, substr(t, i, 8) AS gram
      |      FROM norm, unnest(generate_series(1, greatest(length(t)-7, 1))) AS u(i)),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |pairs AS (
      |  SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b, count(*) AS inter,
      |         any_value(sa.n) + any_value(sb.n) - count(*) AS uni
      |  FROM g ga JOIN g gb ON ga.gram = gb.gram AND ga.doc_id < gb.doc_id
      |  JOIN sz sa ON sa.doc_id = ga.doc_id
      |  JOIN sz sb ON sb.doc_id = gb.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  // ------------------------------------------------------------- P1
  /** MinHash (128 perms) + LSH banding (32 bands × 4 rows) candidate
    * generation, then exact Jaccard verify on candidates only.
    *
    * Miss probability for a true pair at s=0.6 is (1-0.6⁴)³² ≈ 1.2e-2
    * at the threshold boundary but ≤ 1e-19 at s≥0.93 where this
    * corpus's planted dups live — the output is the exact pair set,
    * which is why the brute-force SQL below is a valid oracle.
    * At 100 TB: signatures are one hash-agg (map-side combined); the
    * bucket join shuffles only (band, sig) keys; uniform hashing means
    * no skew; candidate verify is |candidates|-proportional. */
  def p1MinHashLsh(s: SparkSession, d: String): DataFrame =
    nearDupPairs(s, d).orderBy(col("doc_a"), col("doc_b"))

  /** Session-scoped cache of the verified near-dup pair set: P1 and P5
    * both consume it, and the pair computation (signature scan + bucket
    * join + exact verify) is by far the dominant cost — computing it
    * twice per sweep doubled the dedup suite's bench time for no new
    * information. The cached value is `localCheckpoint`ed (pairs are a
    * few rows per true dup — tiny next to the corpus), so a cache hit
    * costs one scan of materialized partitions. */
  private val pairCache = new graft.FsUtil.SessionMemo[String, DataFrame]

  /** Verified near-dup pairs (doc_a, doc_b, inter, uni, jacc), unordered.
    * Cache hygiene is [[graft.FsUtil.SessionMemo]]'s: an evicted entry
    * recomputes on the next call, since the checkpointed frame's blocks
    * are freed once unreferenced. */
  private[operators] def nearDupPairs(s: SparkSession, d: String): DataFrame =
    pairCache.getOrElseUpdate((s, d), graft.Lineage.truncate(computeNearDupPairs(s, d)))

  private def computeNearDupPairs(s: SparkSession, d: String): DataFrame =
    nearDupPairsOf(s, documents(s, d).select(col("doc_id"), col("text")))

  /** Full near-dup pair pipeline over an arbitrary documents frame.
    *
    * Mega-bucket hazard and its fix: identical texts share EVERY band
    * signature, so m copies of one document land in one bucket and the
    * naive pipeline generates — and exactly verifies — m(m−1)/2
    * candidate pairs. The pipeline therefore collapses exact
    * duplicates FIRST (the X1 content-hash pass: one corpus shuffle on
    * a uniform 256-bit key, no skew), runs signatures + banding +
    * verify on distinct texts only, and expands the verified
    * REPRESENTATIVE pairs back to member pairs at the end.
    *
    * Output semantics are unchanged: every member pair of an exact-dup
    * group appears (jacc = 1, inter = uni = |gram set|), and every
    * cross-group pair inherits its representative pair's exact
    * inter/uni/jacc (identical texts have identical gram sets). The
    * expansion is proportional to the OUTPUT size — irreducible — while
    * signature and verify work is proportional to the number of
    * DISTINCT texts: an adversarial corpus of 1k identical documents
    * costs one signature scan of one representative, not 499,500
    * verifies (spec'd in PipelineSpec).
    *
    * Residual skew note: the within-group expansion shuffles on the
    * group key, so a single pathological group concentrates its
    * (quadratic, output-bound) pair rows on one reducer. That is a
    * property of the PAIR-LIST output contract itself — a production
    * pipeline at that scale would consume the linear (doc, cluster)
    * form instead, which is exactly [[p5DupClusters]]. */
  private[graft] def nearDupPairsOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._

    // X1-style exact-dup collapse (see Scaladoc): one shuffle on the
    // content hash; everything downstream sees distinct texts only.
    val members = graft.Lineage.truncate(docs
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .withColumn("rep", min(col("doc_id")).over(
        Window.partitionBy(sha2(col("t"), 256)))))
    val mem = members.select(col("doc_id"), col("rep"))
    val reps = members.filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("t"))

    val buckets = bandBuckets(s, reps)
      // both sides of the self-join read the signatures — materialize
      // once (they are 3 longs × B per doc, tiny next to the text) so
      // the signature scan doesn't run twice
      .transform(graft.Lineage.truncate)

    val cands = bucketCandidates(buckets)

    // Exact verify on candidates only (representatives, so each
    // distinct-text pair is verified exactly once), computed
    // payload-locally: join the two doc texts to each pair (shuffles
    // |candidates| rows, not |candidates|·|grams| like a gram join
    // would) and re-shingle in a tight per-row loop.
    val repPairs = cands
      .join(reps.as("na"), col("doc_a") === col("na.doc_id"))
      .join(reps.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("na.t").as("ta"), col("nb.t").as("tb"))
      .as[(Long, Long, String, String)]
      .map { case (a, b, ta, tb) =>
        val sa = shingleSet(ta); val sb = shingleSet(tb)
        val (small, big) = if (sa.size < sb.size) (sa, sb) else (sb, sa)
        var inter = 0L
        small.foreach(g => if (big.contains(g)) inter += 1)
        (a, b, inter, sa.size.toLong + sb.size - inter)
      }
      .toDF("doc_a", "doc_b", "inter", "uni")
      .filter(nearDup)
      .withColumn("jacc", round(col("inter").cast("double") / col("uni"), 4))

    // Expand representative pairs back to member pairs — skipped
    // entirely when every text is distinct (members ≡ reps ⇒ the
    // expansion is the identity), which saves its join stages on the
    // common no-exact-dup corpus.
    val hasDupGroups = !members.filter(col("doc_id") =!= col("rep")).isEmpty
    if (!hasDupGroups) return repPairs

    val cross = repPairs
      .join(mem.as("ma"), col("doc_a") === col("ma.rep"))
      .join(mem.as("mb"), col("doc_b") === col("mb.rep"))
      .select(least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"),
        col("inter"), col("uni"), col("jacc"))
    // … and add the within-group pairs: jacc = 1, inter = uni = the
    // group's gram-set size (computed once per multi-member group).
    val dupGroups = mem.groupBy(col("rep")).agg(count(lit(1)).as("gsz"))
      .filter(col("gsz") > 1).select(col("rep").as("grp"))
    val repSizes = reps.join(dupGroups, col("doc_id") === col("grp"))
      .select(col("grp"), col("t"))
      .as[(Long, String)]
      .map { case (g, t) => (g, shingleSet(t).size.toLong) }
      .toDF("grp", "gramsz")
    val intra = mem.as("x")
      .join(mem.as("y"),
        col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
      .join(repSizes, col("x.rep") === col("grp"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("gramsz").as("inter"), col("gramsz").as("uni"), lit(1.0).as("jacc"))
    cross.union(intra)
  }

  /** Hot-bucket bound for the LSH candidate join. A (band, sig) bucket
    * of m members generates m(m−1)/2 candidates — quadratic, and an
    * adversarial corpus (one viral passage with per-copy noise, so the
    * X1 exact-collapse doesn't absorb it) can concentrate the corpus
    * into ONE bucket. Above [[HotBucketCap]] members, a bucket switches
    * to SORTED-NEIGHBOR pairing: members are ranked by doc_id within
    * the bucket and each pairs only with the next [[HotBucketWindow]]
    * ranks — cost m·W instead of m², the classic sorted-neighborhood
    * bound from record-linkage practice. Recall story: a true near-dup
    * pair suppressed in one hot bucket still surfaces through any of
    * its other B−1 shared bands (high-Jaccard pairs agree on most
    * bands, and a bucket is hot in ONE band's signature space, not all
    * of them); the exact-verify stage keeps precision exact regardless.
    * Gate innocence: the cap must never fire at oracle scale —
    * PipelineSpec asserts the sf0.01 max bucket sits far below the cap
    * (so the DuckDB hash-match proves the capped plan ≡ the exhaustive
    * one) and separately proves the m·W bound on a synthetic hot
    * bucket. */
  private[graft] val HotBucketCap = 512L
  private[graft] val HotBucketWindow = 64L

  /** Candidate pairs from band buckets, hot buckets bounded (see
    * [[HotBucketCap]]). The size/rank window shuffles on the SAME
    * (band, sig) key the self-join hashes on — one partitioning, no
    * extra exchange shape at scale. */
  private[graft] def bucketCandidates(buckets: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("band"), col("sig"))
    val ranked = buckets
      .withColumn("bsz", count(lit(1)).over(w))
      .withColumn("brn", row_number().over(w.orderBy(col("doc_id"))))
    ranked.as("x")
      .join(ranked.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id") &&
          (col("x.bsz") <= HotBucketCap ||
            col("y.brn") - col("x.brn") <= HotBucketWindow))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Scala twin of the `shingles` SQL expression (sliding k-gram set;
    * whole text when shorter than k chars). */
  private def shingleSet(t: String): Set[String] =
    if (t.isEmpty) Set("") else t.sliding(Shingle).toSet

  val p1Sql: String =
    s"""$sharedPairCte
       |SELECT doc_a, doc_b, inter, uni,
       |       ROUND(CAST(inter AS DOUBLE) / uni, 4) AS jacc
       |FROM pairs WHERE 5 * inter >= 3 * uni
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------- P2
  /** SimHash dedup: 32-bit fingerprint from per-shingle md5 hashes
    * (md5 so Spark and DuckDB compute identical bits — digest bytes
    * here, hex-prefix cast in the oracle, same value), majority vote
    * per bit in one narrow per-partition pass per doc (no shingle
    * explode), then keep-first per fingerprint. ONE shuffle total
    * (the fingerprint window), on a uniform 32-bit key. */
  /** (doc_id, simhash) fingerprints for a (doc_id, normalized-text)
    * Dataset — one narrow pass per doc: md5 each DISTINCT shingle
    * (distinct to match the SQL `SELECT DISTINCT doc_id, gram`
    * semantics), take the first 4 digest bytes as the same unsigned
    * 32-bit value the oracle derives from the hex prefix, majority-vote
    * the bits. Stateless, so it runs unchanged on a STREAMING Dataset —
    * [[graft.streaming.Streaming.st7StreamSimhashDedup]] reuses it. */
  private[graft] def simhashFingerprints(
      docs: org.apache.spark.sql.Dataset[(Long, String)]): DataFrame = {
    val kShingle = Shingle
    import docs.sparkSession.implicits._
    docs
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, t) =>
          val counts = new Array[Int](32)
          val grams = if (t.length < kShingle) Set(t) else t.sliding(kShingle).toSet
          grams.foreach { g =>
            val dg = md.digest(g.getBytes("UTF-8"))
            // first 8 hex chars == big-endian unsigned int of bytes 0..3
            val h = ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
              ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
            var k = 0
            while (k < 32) { counts(k) += (if (((h >> k) & 1L) == 1L) 1 else -1); k += 1 }
          }
          var sim = 0L; var k = 0
          while (k < 32) { if (counts(k) > 0) sim |= (1L << k); k += 1 }
          (id, sim)
        }
      }
      .toDF("doc_id", "simhash")
  }

  def p2SimHash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fp = simhashFingerprints(
      documents(s, d)
        .select(col("doc_id"), lower(trim(col("text"))).as("t"))
        .as[(Long, String)])

    val w = Window.partitionBy(col("simhash")).orderBy(col("doc_id"))
    fp.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("simhash"))
      .orderBy(col("doc_id"))
  }

  /** SQL twin of [[simhashFingerprints]]: CTE ending in
    * `sh(doc_id, simhash)`. Shared by p2's and st7's oracles. */
  private[graft] val simhashCte: String =
    """WITH norm AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
      |g AS (SELECT DISTINCT doc_id, substr(t, i, 8) AS gram
      |      FROM norm, unnest(generate_series(1, greatest(length(t)-7, 1))) AS u(i)),
      |g2 AS (SELECT doc_id, CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT) AS h FROM g),
      |bits AS (
      |  SELECT doc_id, k,
      |    CASE WHEN SUM(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |         THEN CAST(1 AS BIGINT) << k ELSE 0 END AS bitv
      |  FROM g2, unnest(generate_series(0, 31)) AS u(k) GROUP BY 1, 2),
      |sh AS (SELECT doc_id, CAST(SUM(bitv) AS BIGINT) AS simhash FROM bits GROUP BY 1)""".stripMargin

  val p2Sql: String =
    s"""$simhashCte
      |SELECT doc_id, simhash FROM (
      |  SELECT doc_id, simhash,
      |         ROW_NUMBER() OVER (PARTITION BY simhash ORDER BY doc_id) AS rn
      |  FROM sh) t
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- P3
  /** Brute-force n-gram Jaccard dedup: drop every doc that has a
    * lower-id near-dup partner (single pass, no transitive closure).
    * This is the quadratic baseline that P1 replaces at scale — kept
    * because it is exactly oracle-checkable and bounds P1's recall. */
  def p3NgramJaccardDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).filter(col("doc_id") < AuditCap)
    val dups = exactPairs(shingles(docs))
      .filter(nearDup)
      .select(col("doc_b").as("dup_id"))
      .distinct()
    docs.join(dups, col("doc_id") === col("dup_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val p3Sql: String = {
    val capped = sharedPairCte.replace(
      "FROM documents)", s"FROM documents WHERE doc_id < $AuditCap)")
    s"""$capped
       |SELECT doc_id, lang, n_chars FROM documents
       |WHERE doc_id < $AuditCap
       |  AND doc_id NOT IN (SELECT doc_b FROM pairs WHERE 5 * inter >= 3 * uni)
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------- P4
  /** Embedding-cosine near-dup pairs (rounded cosine >= 0.35).
    * Dot/norm are fixed-order left-to-right double folds (`aggregate`
    * HOF) matching DuckDB's `sum(... ORDER BY i)`, so both engines see
    * identical doubles. Brute-force pair join at test scale; the ANN
    * path for 100 TB is [[Similarity.s2AnnLsh]]/[[Similarity.s3AnnIvf]]. */
  def p4EmbeddingNearDup(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).filter(col("vec_id") < AuditCap).select(
      col("vec_id"),
      graft.functions.VectorFunctions.toDoubleArray(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(graft.functions.VectorFunctions.vecNorm2(col("v"))))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("dot",
        graft.functions.VectorFunctions.vecDot(col("a.v"), col("b.v")))
      .withColumn("cos4", round(col("dot") / (col("a.nrm") * col("b.nrm")), 4))
      .filter(col("cos4") >= 0.35)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos4"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Session-scoped cache of P4's brute-force drop set (distinct vec_b
    * over the audit subset): P7's recall gate measures against it on
    * EVERY invocation, and recomputing it was a second full pairwise
    * pass per call for identical information. Same hygiene as
    * [[pairCache]] (stopped sessions evicted, bounded, immutable-dir
    * assumption); localCheckpoint'd — ≤ AuditCap rows, so a hit costs
    * one scan of tiny materialized partitions. */
  private val p4DropCache = new graft.FsUtil.SessionMemo[String, DataFrame]

  private def p4DropSet(s: SparkSession, d: String): DataFrame =
    p4DropCache.getOrElseUpdate((s, d),
      graft.Lineage.truncate(
        p4EmbeddingNearDup(s, d).select(col("vec_b")).distinct()))

  val p4Sql: String =
    s"""WITH ex AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings WHERE vec_id < $AuditCap),
      |nrm AS (SELECT vec_id, sqrt(SUM(x * x ORDER BY i)) AS nrm FROM ex GROUP BY 1),
      |dots AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.x * b.x ORDER BY a.i) AS dot
      |  FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2)
      |SELECT vec_a, vec_b,
      |       ROUND(dot / (na.nrm * nb.nrm), 4) AS cos4
      |FROM dots JOIN nrm na ON na.vec_id = vec_a JOIN nrm nb ON nb.vec_id = vec_b
      |WHERE ROUND(dot / (na.nrm * nb.nrm), 4) >= 0.35
      |ORDER BY vec_a, vec_b""".stripMargin

  // ------------------------------------------------------------- P5
  /** Duplicate-cluster formation: connected components over the
    * verified near-dup pair graph ([[p1MinHashLsh]]), assigning every
    * document its component's minimum doc_id as `cluster_id` — the
    * canonical-representative step a dedup pipeline runs after pair
    * generation (keep one doc per cluster).
    *
    * Algorithm: iterative min-label propagation. Labels only decrease
    * and reach the component minimum in ≤ diameter iterations; dedup
    * components are near-cliques (every member pairs with most others),
    * so convergence is 2-3 rounds in practice — each round is one small
    * shuffle over the EDGE set (candidate pairs), never the corpus. The
    * full corpus is touched exactly twice: once by P1's signature scan
    * and once by the final membership join. `Lineage.truncate` per round
    * caps lineage (same hazard as the LU recursion, SURVEY.md §7).
    * At 100 TB: edges ≪ docs (only near-dups), so the loop runs on a
    * few-GB edge list regardless of corpus size. */
  def p5DupClusters(s: SparkSession, d: String): DataFrame = {
    // Reuse the session-cached P1 pair set — pair generation is the
    // expensive half of the sweep and recomputing it here doubled it.
    val pairs = nearDupPairs(s, d).select(col("doc_a"), col("doc_b"))
    val edges = graft.Lineage.truncate(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))

    var labels = graft.Lineage.truncate(
      edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")))
    var converged = false
    var iter = 0
    while (!converged && iter < 25) {
      val nbrMin = edges
        .join(labels, col("src") === col("node"))
        .groupBy(col("dst")).agg(min(col("label")).as("nbr"))
      // The `changed` flag rides along in the same pass, so convergence
      // detection is a limit-1 scan of the checkpointed result rather
      // than a second join against the previous labels.
      val next = labels.as("l")
        .join(nbrMin, col("node") === col("dst"), "left")
        .select(col("node"),
          least(col("l.label"), coalesce(col("nbr"), col("l.label"))).as("label"),
          (coalesce(col("nbr"), col("l.label")) < col("l.label")).as("changed"))
        .transform(graft.Lineage.truncate)
      converged = next.filter(col("changed")).isEmpty
      labels = next.drop("changed")
      iter += 1
    }

    documents(s, d)
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: transitive closure by recursive CTE over the same
    * brute-force pair set P1 is hash-matched against.
    *
    * Gate validity caveat (same as P1's): the Spark side clusters LSH
    * pairs, whose per-pair miss probability is ≈1.2e-2 AT the 0.6
    * Jaccard boundary; the gate is exact only because this corpus's
    * true pairs sit at ≥0.93 Jaccard (miss ≤1e-19 — see the P1
    * Scaladoc). On a corpus with natural boundary-straddling pairs the
    * closure could legitimately differ by the banding miss rate even
    * though both sides are individually correct. */
  val p5Sql: String = {
    val cte = sharedPairCte.replaceFirst("WITH ", "WITH RECURSIVE ")
    s"""$cte,
       |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs WHERE 5 * inter >= 3 * uni
       |      UNION ALL
       |      SELECT doc_b, doc_a FROM pairs WHERE 5 * inter >= 3 * uni),
       |reach(node, root) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, r.root FROM reach r JOIN e ON e.a = r.node)
       |SELECT node AS doc_id, MIN(root) AS cluster_id
       |FROM reach GROUP BY node ORDER BY node""".stripMargin
  }

  // ------------------------------------------------------------- P10
  /** P10: SOFT dedup — reweighting instead of removal: every document
    * keeps its data, weighted 1/cluster-size (in ×10⁴ basis points,
    * integer division) over [[p5DupClusters]]'s components, so a
    * near-dup cluster contributes ONE document's worth of gradient in
    * aggregate while unique documents keep full weight. The
    * soft alternative pipelines use when hard dedup would throw away
    * high-quality duplicated text (canonical docs, licenses, famous
    * passages) — down-weight, don't drop.
    *
    * Scale: p5's clustering (edge-frame work) + one map-side-combined
    * cluster-size aggregate (≤ \|clusters\| rows, broadcast back).
    * Integer output ⇒ hash-exact oracle (p5's recursive closure CTE
    * extended with the size/weight arithmetic). */
  def p10SoftDedup(s: SparkSession, d: String): DataFrame = {
    val clusters = p5DupClusters(s, d)
    val sizes = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    clusters.join(broadcast(sizes), Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        expr("10000L div cluster_size").as("weight_bp"))
      .orderBy(col("doc_id"))
  }

  val p10Sql: String = {
    val cte = sharedPairCte.replaceFirst("WITH ", "WITH RECURSIVE ")
    s"""$cte,
       |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs WHERE 5 * inter >= 3 * uni
       |      UNION ALL
       |      SELECT doc_b, doc_a FROM pairs WHERE 5 * inter >= 3 * uni),
       |reach(node, root) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, r.root FROM reach r JOIN e ON e.a = r.node),
       |cl AS (SELECT node AS doc_id, MIN(root) AS cluster_id
       |       FROM reach GROUP BY node),
       |csz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cl GROUP BY 1)
       |SELECT doc_id, cl.cluster_id, csz.cluster_size,
       |       10000 // csz.cluster_size AS weight_bp
       |FROM cl JOIN csz ON csz.cluster_id = cl.cluster_id
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------- X31
  /** The deterministic per-CLUSTER split rule shared by the query, the
    * oracle, and the spec: mix the cluster id with pure int64
    * arithmetic both engines compute identically (id · 40503 mod 2¹⁶ —
    * a Fibonacci-ish multiplier spreads the min-doc-id cluster ids,
    * which arrive clustered near the low end, across the bucket
    * space), then carve 90/5/5. No RNG, no collation, no float. */
  private[graft] def x31SplitCol(cluster: Column): Column = {
    val bk = cluster * lit(40503L) % lit(65536L)
    when(bk < lit(58983L), lit("train"))
      .when(bk < lit(62259L), lit("val"))
      .otherwise(lit("test"))
  }

  /** X31: LEAKAGE-FREE train/val/test split — assignment at near-dup
    * CLUSTER granularity, so no document ever lands in a different
    * split than its near-duplicates. X20 splits per-document by
    * md5(text): a near-dup pair whose texts differ by one word can
    * straddle train and test, which is exactly the contamination
    * public dedup work measures benchmark inflation from (shifted or
    * lightly-edited copies of eval text inside training data). X31
    * closes it by construction: the split is a pure function of
    * [[p5DupClusters]]'s cluster id ([[x31SplitCol]]), so a cluster is
    * atomic — its members agree on the split whatever their text
    * hashes say.
    *
    * Scale: p5's banded-LSH clustering (the measured piece — never
    * all-pairs) + ONE projection; the assignment itself adds no
    * shuffle and no new corpus pass. Integer-exact output ⇒ full hash
    * oracle (p5's recursive-closure CTE with the same split CASE). */
  def x31LeakageSplit(s: SparkSession, d: String): DataFrame =
    p5DupClusters(s, d)
      .withColumn("split", x31SplitCol(col("cluster_id")))
      .orderBy(col("doc_id"))

  val x31Sql: String = {
    val cte = sharedPairCte.replaceFirst("WITH ", "WITH RECURSIVE ")
    s"""$cte,
       |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs WHERE 5 * inter >= 3 * uni
       |      UNION ALL
       |      SELECT doc_b, doc_a FROM pairs WHERE 5 * inter >= 3 * uni),
       |reach(node, root) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, r.root FROM reach r JOIN e ON e.a = r.node),
       |cl AS (SELECT node AS doc_id, MIN(root) AS cluster_id
       |       FROM reach GROUP BY node)
       |SELECT doc_id, cluster_id,
       |       CASE WHEN (cluster_id * 40503) % 65536 < 58983 THEN 'train'
       |            WHEN (cluster_id * 40503) % 65536 < 62259 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM cl ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------- P9
  /** Iteration count of the last [[p9DupComponents]] / star-contraction
    * call — observability hook for the convergence spec (t15LastRegime's
    * pattern). */
  @volatile private[graft] var p9LastRounds: Int = -1

  /** The alternating large-star / small-star contraction over an edge
    * frame — Kiveris et al. 2014 ("Connected Components in MapReduce
    * and Beyond"): large-star points every strictly-LARGER neighbor of
    * u at min(Γ(u) ∪ u); small-star points every smaller-or-equal
    * neighbor there. Alternating the two contracts every component to
    * a star rooted at its minimum in O(log n) rounds REGARDLESS of
    * diameter — the property p5's min-label propagation lacks (its
    * round count is the component diameter). Each round is two
    * broadcast-free self-aggregates over the EDGE frame (never the
    * corpus); convergence is detected on the checkpointed edge set.
    * Returns (node, root) for every node in the edge frame. */
  private[graft] def starContract(edgesIn: DataFrame): DataFrame = {
    // canonical undirected form (a < b) between rounds; symmetric
    // directed form inside each star step
    def canon(e: DataFrame): DataFrame = e
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .select(col("a").as("src"), col("b").as("dst"))
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    // m(u) = min(Γ(u) ∪ {u}) over a symmetric edge frame
    def mins(e: DataFrame): DataFrame = e
      .union(e.select(col("src"), col("src").as("dst")))
      .groupBy(col("src")).agg(min(col("dst")).as("m"))
    var edges = graft.Lineage.truncate(canon(edgesIn))
    var rounds = 0
    var converged = false
    while (!converged && rounds < 30) {
      // large-star: every strictly-larger neighbor of u attaches to m(u)
      val e1 = sym(edges)
      val ls = canon(e1.join(mins(e1), "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst")))
      // small-star: every smaller-or-equal neighbor of u, and u itself,
      // attaches to m(u)
      val e2 = sym(graft.Lineage.truncate(ls))
      val sm = mins(e2)
      val ss = canon(e2.join(sm, "src")
        .filter(col("dst") <= col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(sm.select(col("src"), col("m").as("dst"))))
      val next = graft.Lineage.truncate(ss)
      converged =
        next.exceptAll(edges).isEmpty && edges.exceptAll(next).isEmpty
      edges = next
      rounds += 1
    }
    p9LastRounds = rounds
    // fixed point is a star per component: min(Γ(u) ∪ {u}) IS the root
    // for members and root alike
    mins(sym(edges)).select(col("src").as("node"), col("m").as("root"))
  }

  /** P9: duplicate components via STAR CONTRACTION — the same answer
    * as [[p5DupClusters]] (identical output schema, identical SQL
    * oracle), computed with the O(log n)-round algorithm instead of
    * O(diameter) label propagation. On dedup graphs (near-cliques,
    * diameter 2-3) both are fast; the star contraction is the one that
    * survives a pathological 100 TB graph with million-hop chains
    * (e.g. boilerplate rings across crawl snapshots), where
    * propagation would schedule a million rounds. PipelineSpec pins
    * the algorithmic claim by building a 4096-node path graph:
    * contraction resolves it in ≤ ~2·log₂ rounds (measured via
    * [[p9LastRounds]]) where propagation needs the full 4096. */
  def p9DupComponents(s: SparkSession, d: String): DataFrame = {
    val pairs = nearDupPairs(s, d).select(col("doc_a"), col("doc_b"))
    val labels = starContract(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
    documents(s, d)
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- P6
  /** Incremental dedup: screen a NEW ingest batch (here doc_id ≡ 4
    * mod 5 — a deterministic ~20% slice standing in for "today's
    * crawl") against the EXISTING corpus (the other 80% — standing in
    * for the persisted index), without any new-vs-new or old-vs-old
    * work. Per new document: how many existing near-dups (Jaccard ≥
    * 0.6, exact-integer threshold) it has and the smallest matching
    * existing doc_id (−1 if novel).
    *
    * This is the production shape at 100 TB: the historical corpus is
    * never rescanned — its (band, sig) LSH index is a persisted table
    * (bucketed by (band, sig), so the candidate join is co-located);
    * each daily batch costs one narrow signature pass over the BATCH
    * plus a candidate join whose left side is |batch|·32 rows. Exact
    * duplicates surface as jacc = 1 through the same path — no
    * separate hash join needed.
    *
    * Gate validity caveat (same as P1's): banding miss probability at
    * the 0.6 boundary is ≈1.2e-2 per pair; the brute-force oracle is
    * exact here only because this corpus's true pairs sit at ≥0.93
    * Jaccard (miss ≤ 1e-19). */
  def p6IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val norm = documents(s, d)
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
    val isNew = col("doc_id") % 5 === 4
    val newDocs = norm.filter(isNew)
    val oldDocs = norm.filter(!isNew)

    // In production oldSigs IS the index (persisted, bucketed); here it
    // is recomputed because the gate has no cross-query storage.
    val oldSigs = bandBuckets(s, oldDocs)
    val newSigs = bandBuckets(s, newDocs)

    val cands = newSigs.as("n")
      .join(oldSigs.as("o"),
        col("n.band") === col("o.band") && col("n.sig") === col("o.sig"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
      .distinct()

    // Payload-local exact verify on candidates only (P1's discipline).
    val dups = cands
      .join(newDocs.as("nd"), col("new_id") === col("nd.doc_id"))
      .join(oldDocs.as("od"), col("old_id") === col("od.doc_id"))
      .select(col("new_id"), col("old_id"), col("nd.t").as("tn"), col("od.t").as("to"))
      .as[(Long, Long, String, String)]
      .map { case (n, o, tn, to) =>
        val sn = shingleSet(tn); val so = shingleSet(to)
        val (small, big) = if (sn.size < so.size) (sn, so) else (so, sn)
        var inter = 0L
        small.foreach(g => if (big.contains(g)) inter += 1)
        (n, o, inter, sn.size.toLong + so.size - inter)
      }
      .toDF("new_id", "old_id", "inter", "uni")
      .filter(nearDup)

    newDocs.select(col("doc_id"))
      .join(dups, col("doc_id") === col("new_id"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("old_id")).as("n_dups"),
        coalesce(min(col("old_id")), lit(-1L)).as("dup_of"))
      .orderBy(col("doc_id"))
  }

  val p6Sql: String =
    """WITH norm AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
      |g AS (SELECT DISTINCT doc_id, substr(t, i, 8) AS gram
      |      FROM norm, unnest(generate_series(1, greatest(length(t)-7, 1))) AS u(i)),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |cp AS (
      |  SELECT gn.doc_id AS new_id, go.doc_id AS old_id, count(*) AS inter,
      |         any_value(sn.n) + any_value(so.n) - count(*) AS uni
      |  FROM g gn JOIN g go ON gn.gram = go.gram
      |  JOIN sz sn ON sn.doc_id = gn.doc_id
      |  JOIN sz so ON so.doc_id = go.doc_id
      |  WHERE gn.doc_id % 5 = 4 AND go.doc_id % 5 <> 4
      |  GROUP BY 1, 2),
      |dups AS (SELECT new_id, old_id FROM cp WHERE 5 * inter >= 3 * uni)
      |SELECT n.doc_id, COUNT(d.old_id) AS n_dups,
      |       COALESCE(MIN(d.old_id), -1) AS dup_of
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) n
      |LEFT JOIN dups d ON d.new_id = n.doc_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- P7
  /** Semantic dedup at scale (the SemDeDup shape): k-means-cluster the
    * embeddings with trained anchors ([[Similarity.trainAnchors]] —
    * bit-deterministic, integer-sum centroids), then exact pairwise
    * cosine ONLY within clusters; every vector with a LOWER-id
    * cluster-mate at cos4 ≥ 0.35 (P4's threshold) is dropped.
    *
    * This is the scale path P4's Scaladoc points to: brute force is
    * O(n²) over the corpus, while cluster-bounded comparison is
    * ≈ probes²·Σᵢ mᵢ² ≈ 9·n·√n at the IVF sizing (nCells ≈ √n). The
    * within-cluster self-join shuffles both sides on the cell key — at
    * 100 TB the cell id is the storage partition key (same layout S3
    * probes), so the join is co-located and each cluster's pairs never
    * leave their partition.
    *
    * Cluster-bounding is the approximation: a pair sharing none of the
    * two members' probed cells is missed by design. The query therefore
    * measures RECALL of its drop set against the brute-force P4 drop
    * set on the audit subset (vec_id < AuditCap) and publishes
    * `recall4`/`recall_ok` (floor 0.7; measured 0.84 at the sf0.01
    * gate scale) — [[graft.Verify.gateInvariants]] enforces it
    * driver-side, like s2/s3's recall gates. */
  def p7SemanticDedup(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VectorFunctions.{topCells, vecDot}
    val e = Similarity.prepared(s, d).cache()  // training + membership passes
    val anchors = Similarity.trainedAnchors(s, d, e)
    // Soft assignment: each vector belongs to its top-`probes` cells —
    // the clustering analog of S2's multi-probe. Single-cell assignment
    // measured 0.32 recall on this corpus (its planted similarity is
    // WEAK, max cos ≈ 0.51, so τ-pairs often straddle cells — a real
    // SemDeDup at τ ≈ 0.95 co-clusters far more readily); membership
    // overlap buys the recall back for a ≤ probes²× candidate bound.
    // The top-3 cells come from the narrow codegen'd [[topCells]]
    // projection — zero shuffle over the corpus (round 4's window over
    // the corpus×anchors cross product sort-shuffled n·√n rows here);
    // posexplode rebuilds the (cell, crn) membership rows bit-for-bit
    // (same sim arithmetic, same (sim desc, cell asc) tie-break).
    val probes = 3
    // materialized once: the membership set (≤ probes rows/vector)
    // feeds the self-join twice plus the primary-cell projection.
    // localCheckpoint (not cache) so the blocks are reclaimed by the
    // ContextCleaner when the result goes out of scope — a catalog
    // cache() entry here had no owner to unpersist it and leaked
    // executor storage per invocation for callers other than
    // Verify/Bench (which clearCache between queries).
    val members = e
      .withColumn("tc", topCells(col("v"), col("nrm"), anchors, probes))
      .select(col("vec_id"), col("v"), col("nrm"),
        posexplode(col("tc")).as(Seq("pos", "cell")))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"),
        (col("pos") + 1).as("crn"))
      .localCheckpoint(true)
    e.unpersist(false)
    val assigned = members.filter(col("crn") === 1)
      .select(col("vec_id"), col("cell"))

    // drop-id set consumed twice (recall hits + the final anti-join);
    // checkpointed so the cell-local pair join runs ONCE
    val dropped = members.as("a")
      .join(members.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(round(vecDot(col("a.v"), col("b.v")) /
        (col("a.nrm") * col("b.nrm")), 4) >= 0.35)
      .select(col("b.vec_id").as("drop_id")).distinct()
      .localCheckpoint(true)

    // recall of the drop decision vs the brute-force P4 drop set,
    // measured on the audit subset both are defined over (cached per
    // session — the gate costs one pairwise pass per session, not one
    // per invocation)
    val bruteDrop = p4DropSet(s, d)
    val denom = bruteDrop.count()
    val hits = bruteDrop
      .join(dropped.filter(col("drop_id") < AuditCap),
        col("vec_b") === col("drop_id"), "left_semi").count()
    val recall = if (denom == 0) 1.0 else hits.toDouble / denom

    assigned.join(dropped, col("vec_id") === col("drop_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
      .withColumn("recall4", lit(math.round(recall * 1e4) / 1e4))
      .withColumn("recall_ok", lit(recall >= 0.7))
      .orderBy(col("vec_id"))
  }

  // ------------------------------------------------------------- X11
  /** Passage-level exact dedup (the RefinedWeb/CCNet move): documents
    * are cut into fixed-width 16-word passages, each passage is kept
    * only at its FIRST corpus occurrence (lowest (doc_id, pos)), and
    * every document is re-assembled from its surviving passages. The
    * sub-document counterpart of X1 — boilerplate repeated across
    * pages disappears while the unique prose stays.
    *
    * Scale shape: the keep-first decision is a `min(struct(doc_id,
    * pos))` aggregate on the passage key, NOT a ranking window — the
    * aggregate is map-side combinable, so a passage duplicated across
    * millions of documents collapses to one row per partition before
    * the exchange (a window's rank-within-key would haul every copy to
    * one reducer: the mega-bucket skew X1's Scaladoc warns about).
    * One narrow chunking pass, one combined shuffle on the passage,
    * one shuffle back on doc_id for re-assembly; at 100 TB all keys
    * (digest-uniform passages, doc ids) are skew-free. */
  private val PassageW = 16

  def x11PassageDedup(s: SparkSession, d: String): DataFrame =
    passageDedupOf(documents(s, d))

  /** The operator body over any (doc_id, text) frame — split out so the
    * adversarial-scale spec can feed a synthetic corpus with one passage
    * duplicated across 10⁵ documents (PipelineSpec asserts the keep-
    * first decision collapses map-side, no rank window anywhere). */
  private[graft] def passageDedupOf(docs: DataFrame): DataFrame = {
    val pass = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(w) / ${PassageW}.0) AS int) - 1),
           |          p -> array_join(slice(w, p * $PassageW + 1, $PassageW), ' '))"""
          .stripMargin)).as(Seq("pos", "passage")))
    val tot = pass.groupBy(col("doc_id")).agg(count(lit(1)).as("n_pass"))
    // one row per DISTINCT passage: its first occurrence — this IS the
    // kept set, no join back to the exploded corpus needed
    val kept = pass.groupBy(col("passage"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.pos").as("pos"), col("passage"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("passage")))),
            x => x.getField("passage")), " ")).as("new_hash"))
    tot.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_pass"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("new_hash"), md5(lit(""))).as("new_hash"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- X30
  /** Exact-substring dedup at ARBITRARY offsets — the suffix-array-
    * shape pass (Lee et al. 2021, "Deduplicating Training Data Makes
    * Language Models Better"): any repeated span of ≥ [[SpanK]] tokens,
    * at any offset, within or across documents, is removed everywhere
    * except its first corpus occurrence. The strongest member of the
    * dedup family: X11's FIXED 16-word passages catch only aligned
    * repeats — a duplicated paragraph shifted by one token straddles
    * every passage boundary and survives X11; it does not survive this.
    *
    * The detection identity that makes it Spark-shaped: a token lies in
    * a non-first occurrence of some repeated span of length ≥ k IFF
    * some k-token window containing it is a non-first occurrence of a
    * repeated k-gram. (⇐ a repeated k-gram IS a repeated span; ⇒ any
    * in-span window of a non-first span occurrence recurs at the span's
    * first occurrence, which is earlier in corpus order.) So the union
    * of redundant k-gram windows EQUALS the union of redundant spans —
    * exact detection with no materialized suffix array, no global sort,
    * no prefix doubling; DedupSpec proves the identity against an
    * independent suffix-array+LCP reference on overlapping/shifted/
    * nested repeats.
    *
    * Scale shape: one narrow pass fingerprints every k-token window to
    * 16 bytes (md5 — collision odds ~1e-15 at 10¹² windows, vs carrying
    * ~100 B of gram text through two shuffles); keep-first is X11's
    * map-side-combinable `min(struct(doc_id, pos))` aggregate on the
    * fingerprint — a span duplicated across millions of documents
    * collapses to one row per partition before the exchange, never a
    * ranking window; redundant occurrences come back via ONE
    * fingerprint-keyed join whose output is redundancy-proportional
    * (AQE splits a hot fingerprint's bucket); coverage explodes k rows
    * per redundant window (redundancy-, not corpus-, proportional) and
    * re-assembly shuffles once on doc_id. All keys are digest-uniform
    * ⇒ skew-free at 100 TB. */
  private val SpanK = 16

  def x30ExactSubstringDedup(s: SparkSession, d: String): DataFrame =
    exactSubstringDedupOf(documents(s, d))

  /** The operator body over any (doc_id, text) frame at a caller-chosen
    * span width — split out so the suffix-array reference spec can
    * drive small k over rich synthetic corpora. */
  private[graft] def exactSubstringDedupOf(docs: DataFrame,
                                           k: Int = SpanK): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    // one row per k-token window: (doc, offset, 16-byte fingerprint) —
    // round-16: the per-window slice/join/md5-hex/unhex interpreted
    // lambda chain became one native single-pass digest expression
    // (byte-identical; this is the corpus-wide hot loop of the pass)
    val occ = toks.filter(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(
        graft.functions.TextFunctions.wordGramMd5(col("w"), k))
        .as(Seq("pos", "fp")))
    // first corpus occurrence of every REPEATED window fingerprint
    val firstOcc = occ.groupBy(col("fp"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("f"))
      .filter(col("cnt") >= 2)
      .select(col("fp"), col("f.doc_id").as("fdoc"), col("f.pos").as("fpos"))
    // redundant = any occurrence of a repeated window except the first
    val red = occ.join(firstOcc, Seq("fp"))
      .filter(!(col("doc_id") === col("fdoc") && col("pos") === col("fpos")))
      .select(col("doc_id"), col("pos"))
    val cov = red.select(col("doc_id"),
      explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("tp"))
      .distinct()
    val tok = toks.select(col("doc_id"), posexplode(col("w")).as(Seq("tp", "tok")))
    val kept = tok.join(cov, Seq("doc_id", "tp"), "left_anti")
    val tot = toks.select(col("doc_id"), size(col("w")).cast("long").as("n_tok"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("tp"), col("tok")))),
            x => x.getField("tok")), " ")).as("new_hash"))
    tot.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("new_hash"), md5(lit(""))).as("new_hash"))
      .orderBy(col("doc_id"))
  }

  /** The oracle pays the window machinery the engine's fingerprint
    * aggregate avoids: rank every k-gram occurrence, cover, rebuild. */
  val x30Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT doc_id, i AS pos,
       |             array_to_string(list_slice(ws, i + 1, i + $SpanK), ' ') AS gram
       |      FROM w, unnest(generate_series(0, len(ws) - $SpanK)) AS u(i)
       |      WHERE len(ws) >= $SpanK),
       |r AS (SELECT doc_id, pos,
       |             ROW_NUMBER() OVER (PARTITION BY gram
       |                                ORDER BY doc_id, pos) AS rn,
       |             COUNT(*) OVER (PARTITION BY gram) AS cnt
       |      FROM g),
       |cov AS (SELECT DISTINCT doc_id, pos + off AS tp
       |        FROM r, unnest(generate_series(0, ${SpanK - 1})) AS v(off)
       |        WHERE rn > 1),
       |tok AS (SELECT doc_id, i - 1 AS tp, ws[i] AS tok
       |        FROM w, unnest(generate_series(1, len(ws))) AS t(i)),
       |kept AS (SELECT t.doc_id, t.tp, t.tok
       |         FROM tok t ANTI JOIN cov c USING (doc_id, tp)),
       |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
       |               md5(string_agg(tok, ' ' ORDER BY tp)) AS new_hash
       |        FROM kept GROUP BY 1),
       |tot AS (SELECT doc_id, len(ws) AS n_tok FROM w)
       |SELECT t.doc_id, t.n_tok, COALESCE(a.n_kept, 0) AS n_kept,
       |       COALESCE(a.new_hash, md5('')) AS new_hash
       |FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin

  // ------------------------------------------------------------- X18
  /** Source-level boilerplate stripping — the hygiene pass X11 does NOT
    * cover: X11 keeps a duplicated passage's first occurrence, but
    * boilerplate (nav bars, license headers, site templates) must be
    * dropped from EVERY document carrying it, first copy included. A
    * 16-word aligned passage is boilerplate iff it appears in ≥
    * [[BoilerMinDocs]] DISTINCT documents of the SAME source (the
    * "repeated within a domain" signal C4/RefinedWeb strip on);
    * documents are re-assembled from their surviving passages.
    *
    * Scale shape: chunking is X11's narrow pass; the boilerplate
    * decision is count(DISTINCT doc) per (source, passage), executed as
    * two map-side-combinable aggregates (distinct triples, then
    * counts); the verdict flows back as a left_anti join on the
    * (source, passage) key and re-assembly shuffles once on doc_id.
    * Passage keys are digest-uniform → skew-free; a passage duplicated
    * across millions of documents collapses to one row per partition
    * in the distinct's partial aggregate, the same mega-bucket
    * protection as X11 (no ranking window anywhere). */
  private val BoilerMinDocs = 2

  def x18BoilerplateStrip(s: SparkSession, d: String): DataFrame =
    boilerplateStripOf(documents(s, d))

  /** The operator body over any (doc_id, source, text) frame — split
    * out so the adversarial-scale spec can feed a synthetic corpus
    * with one passage duplicated across 10⁵ documents of one source. */
  private[graft] def boilerplateStripOf(docs: DataFrame): DataFrame = {
    val pass = docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(w) / ${PassageW}.0) AS int) - 1),
           |          p -> array_join(slice(w, p * $PassageW + 1, $PassageW), ' '))"""
          .stripMargin)).as(Seq("pos", "passage")))
    val boiler = pass.select(col("source"), col("passage"), col("doc_id")).distinct()
      .groupBy(col("source"), col("passage"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= BoilerMinDocs)
      .select(col("source"), col("passage"))
    val kept = pass.join(boiler, Seq("source", "passage"), "left_anti")
    val tot = pass.groupBy(col("doc_id")).agg(count(lit(1)).as("n_pass"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("passage")))),
            x => x.getField("passage")), " ")).as("new_hash"))
    tot.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_pass"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("new_hash"), md5(lit(""))).as("new_hash"))
      .orderBy(col("doc_id"))
  }

  val x18Sql: String =
    s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
       |p AS (SELECT doc_id, source, pos,
       |             array_to_string(list_slice(ws, pos * $PassageW + 1,
       |                                        pos * $PassageW + $PassageW), ' ') AS passage
       |      FROM w, unnest(generate_series(0,
       |             CAST(ceil(len(ws) / ${PassageW}.0) AS INT) - 1)) AS u(pos)),
       |boiler AS (SELECT source, passage
       |           FROM (SELECT DISTINCT source, passage, doc_id FROM p) d
       |           GROUP BY source, passage HAVING COUNT(*) >= $BoilerMinDocs),
       |kept AS (SELECT doc_id, pos, passage FROM p ANTI JOIN boiler USING (source, passage)),
       |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
       |               md5(string_agg(passage, ' ' ORDER BY pos)) AS new_hash
       |        FROM kept GROUP BY 1),
       |tot AS (SELECT doc_id, COUNT(*) AS n_pass FROM p GROUP BY 1)
       |SELECT t.doc_id, t.n_pass, COALESCE(a.n_kept, 0) AS n_kept,
       |       COALESCE(a.new_hash, md5('')) AS new_hash
       |FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin

  val x11Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |p AS (SELECT doc_id, pos,
       |             array_to_string(list_slice(ws, pos * $PassageW + 1,
       |                                        pos * $PassageW + $PassageW), ' ') AS passage
       |      FROM w, unnest(generate_series(0,
       |             CAST(ceil(len(ws) / ${PassageW}.0) AS INT) - 1)) AS u(pos)),
       |kept AS (SELECT doc_id, pos, passage FROM (
       |           SELECT doc_id, pos, passage,
       |                  ROW_NUMBER() OVER (PARTITION BY passage
       |                                     ORDER BY doc_id, pos) AS rn
       |           FROM p) t WHERE rn = 1),
       |agg AS (SELECT doc_id, COUNT(*) AS n_kept,
       |               md5(string_agg(passage, ' ' ORDER BY pos)) AS new_hash
       |        FROM kept GROUP BY 1),
       |tot AS (SELECT doc_id, COUNT(*) AS n_pass FROM p GROUP BY 1)
       |SELECT t.doc_id, t.n_pass, COALESCE(a.n_kept, 0) AS n_kept,
       |       COALESCE(a.new_hash, md5('')) AS new_hash
       |FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id""".stripMargin

  // ------------------------------------------------------------- X12
  /** Benchmark decontamination: flag every training document that
    * shares at least one 8-word gram with the held-out evaluation set
    * (here: doc_id % 50 = 0 stands in for the benchmark), reporting how
    * many distinct grams leak and the first eval document hit. The
    * standard pre-training hygiene pass (GPT-3 §C / PaLM-style n-gram
    * overlap).
    *
    * Scale shape: eval sets are tiny by definition (thousands of rows
    * vs 10¹⁰ training docs), so the eval gram set rides a BROADCAST —
    * the training side is one narrow gram pass probed in place, no
    * shuffle of training data at all. (At extreme eval sizes the
    * broadcast becomes the r30 Bloom pushdown + residual join; same
    * plan family.) */
  private val DecontamGram = 8

  /** Distinct 8-word grams per document — the shared front half of X12,
    * X13 and the streaming ST8 (one narrow stateless pass, no shuffle,
    * so it lifts onto a stream unchanged). */
  private[graft] def decontamGramsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= DecontamGram)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(w) - $DecontamGram)," +
          s" i -> array_join(slice(w, i + 1, $DecontamGram), ' '))"))).as("g"))

  private def decontamGrams(s: SparkSession, d: String): DataFrame =
    decontamGramsOf(documents(s, d))

  def x12Decontaminate(s: SparkSession, d: String): DataFrame = {
    val grams = decontamGrams(s, d)
    val evalG = grams.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("eval_id"), col("g"))
    val trainG = grams.filter(col("doc_id") % 50 =!= 0)
    trainG.join(broadcast(evalG), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_shared"),
        min(col("eval_id")).as("first_eval"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- X28
  /** X28: EVAL-SIDE contamination report — x12 answers "which TRAINING
    * docs carry eval text" (so they can be dropped); x28 answers the
    * dual integrity question every model report must: "how
    * contaminated is each EVAL item against this training corpus" —
    * per eval doc, its distinct 8-gram count, how many of those grams
    * appear anywhere in training, the contamination fraction in basis
    * points, how many distinct training docs share them, and a
    * `flagged` verdict at 20% (the threshold eval-suite audits
    * typically quarantine at). Zero-contamination eval docs still get
    * a row — absence of evidence must be visible, not missing.
    *
    * Scale: the training corpus flows ONCE through the same narrow
    * gram projection as x12, joined against the broadcast-small eval
    * gram set (x12's premise; the unbroadcastable-eval regime swaps in
    * x13's Bloom-pushdown front end with the identical downstream
    * aggregate); the report frame is \|eval docs\| rows. Integer
    * arithmetic throughout ⇒ hash-exact. */
  def x28ContaminationReport(s: SparkSession, d: String): DataFrame = {
    val grams = decontamGrams(s, d)
    // checkpoint the eval gram side (broadcast-small by premise): both
    // the totals aggregate and the contamination join read it, and it
    // must not cost a second corpus gram pass
    val evalG = grams.filter(col("doc_id") % 50 === 0).localCheckpoint(true)
    val trainG = grams.filter(col("doc_id") % 50 =!= 0)
    val totals = evalG.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams")) // grams are distinct per doc
    val hits = trainG.join(broadcast(evalG.select(col("doc_id").as("eval_id"), col("g"))),
        Seq("g"))
      .groupBy(col("eval_id"))
      .agg(countDistinct(col("g")).as("n_contaminated"),
        countDistinct(col("doc_id")).as("n_train_docs"))
      .withColumnRenamed("eval_id", "doc_id")
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"))
      .withColumn("contamination_bp",
        expr("n_contaminated * 10000 DIV n_grams"))
      .withColumn("flagged", col("contamination_bp") >= 2000L)
      .orderBy(col("doc_id"))
  }

  val x28Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT DISTINCT doc_id,
       |             array_to_string(list_slice(ws, i, i + ${DecontamGram - 1}), ' ') AS g
       |      FROM w, unnest(generate_series(1, len(ws) - ${DecontamGram - 1})) AS u(i)
       |      WHERE len(ws) >= $DecontamGram),
       |ev AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
       |       FROM g WHERE doc_id % 50 = 0 GROUP BY 1),
       |hits AS (SELECT e.doc_id,
       |                CAST(COUNT(DISTINCT e.g) AS BIGINT) AS n_contaminated,
       |                CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_train_docs
       |         FROM g e JOIN g t ON e.g = t.g
       |         WHERE e.doc_id % 50 = 0 AND t.doc_id % 50 <> 0
       |         GROUP BY 1)
       |SELECT ev.doc_id, n_grams,
       |  CAST(COALESCE(n_contaminated, 0) AS BIGINT) AS n_contaminated,
       |  CAST(COALESCE(n_train_docs, 0) AS BIGINT) AS n_train_docs,
       |  CAST(COALESCE(n_contaminated, 0) * 10000 // n_grams AS BIGINT)
       |    AS contamination_bp,
       |  COALESCE(n_contaminated, 0) * 10000 // n_grams >= 2000 AS flagged
       |FROM ev LEFT JOIN hits ON ev.doc_id = hits.doc_id
       |ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- X13
  /** X12's documented fallback, wired end-to-end: when the eval gram
    * set is too big to BROADCAST, fold its xxhash64 values into a ~1%
    * FPP Bloom filter (compact even at 10⁹ grams — ~10 bits/key) and
    * push the probe — the codegen'd
    * [[graft.functions.SketchFunctions.bloomMightContainLong]]
    * expression, same machinery as R30 — onto the TRAINING gram stream.
    * Only survivors (true hits + ~1% false positives of a stream that
    * is overwhelmingly non-contaminated) reach the residual join, which
    * runs as an explicitly hinted SHUFFLE join on the gram text: the
    * eval set is never broadcast, and hash/Bloom false positives are
    * eliminated there, so the output is EXACTLY x12's (same DuckDB
    * oracle). PipelineSpec asserts the plan shape: bloom probe present
    * on the training side, no BroadcastHashJoin for the gram join. */
  def x13DecontaminateBloom(s: SparkSession, d: String): DataFrame = {
    val grams = decontamGrams(s, d)
    val evalG = grams.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("eval_id"), col("g"))
    val trainG = grams.filter(col("doc_id") % 50 =!= 0)
    // Build the filter in one aggregate pass over the eval grams. The
    // sizing count is a second (cheap, eval-side-only) action; at scale
    // both are a single scan of the small side each — nothing here
    // touches the training corpus.
    val nEval = math.max(evalG.count(), 1024L)
    val bloom = evalG.select(xxhash64(col("g")).as("gh"))
      .stat.bloomFilter("gh", nEval, 0.01)
    val survivors = trainG.filter(
      graft.functions.SketchFunctions.bloomMightContainLong(bloom, xxhash64(col("g"))))
    // residual join on the gram TEXT removes Bloom + hash false
    // positives; `merge` hint pins a shuffle join — the premise is an
    // eval set too big for broadcast, so the plan must not rely on one
    survivors.join(evalG.hint("merge"), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_shared"),
        min(col("eval_id")).as("first_eval"))
      .orderBy(col("doc_id"))
  }

  val x12Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT DISTINCT doc_id,
       |             array_to_string(list_slice(ws, i, i + ${DecontamGram - 1}), ' ') AS g
       |      FROM w, unnest(generate_series(1, len(ws) - ${DecontamGram - 1})) AS u(i)
       |      WHERE len(ws) >= $DecontamGram)
       |SELECT t.doc_id, COUNT(DISTINCT t.g) AS n_shared,
       |       MIN(e.doc_id) AS first_eval
       |FROM g t JOIN g e ON t.g = e.g
       |WHERE t.doc_id % 50 <> 0 AND e.doc_id % 50 = 0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------- P8
  /** P8: PageRank over the near-dup graph — the iterative-graph member
    * of the dedup family (P5 gives the connected components; P8 ranks
    * WITHIN the duplication structure: a document tied to many
    * near-dups concentrates rank, the canonical-representative signal
    * a curation pipeline uses to pick which copy to keep). Standard
    * damped formulation (d = 0.85, 10 fixed iterations) with dangling
    * mass — here every isolated document — redistributed uniformly, so
    * Σ rank = n is an exact invariant of the recurrence and its drift
    * measures numerical health: the in-query `pass` gate asserts
    * |Σr − n| ≤ 1e-6·n after the final iteration.
    *
    * Scale shape — the iteration is GRAPH-bounded, not corpus-bounded:
    * edges come from P1's session-cached verified pair set (2·|pairs|
    * rows, ≪ corpus), and only the g nodes that appear in an edge ever
    * receive a contribution. Every ISOLATED node (n − g of them — the
    * overwhelming mass of a real corpus) is analytically identical:
    * r_iso(t+1) = (1−d) + d·dangling(t)/n with dangling(t) =
    * (n−g)·r_iso(t) — a closed-form SCALAR recurrence carried on the
    * driver, zero jobs. Per iteration the distributed work is one
    * graph-bounded join + one map-side-combinable sum + one g-row
    * localCheckpoint (M15's lineage hygiene at dup-graph size); the
    * corpus is touched exactly twice — the node count up front and ONE
    * final projection that unions the per-node graph ranks with the
    * shared isolated-rank constant. At 100 TB that turns 10 full-corpus
    * materializations into 10 tiny-graph jobs + 1 projection.
    * [[dupGraphRanks]] is the iteration kernel; PipelineSpec asserts
    * its rank frame has exactly g rows (graph-boundedness is tested,
    * not asserted in prose). */
  private[graft] def dupGraphRanks(s: SparkSession, d: String)
      : (DataFrame, Double, Long, Long) = {
    val n = documents(s, d).select(col("doc_id")).count()
    val pairs = nearDupPairs(s, d).select(col("doc_a"), col("doc_b"))
    val edges = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst").localCheckpoint(true)
    // the symmetric union puts every endpoint in `src`, so the graph
    // node set AND the degree table are one aggregate of `edges`; every
    // graph node has deg ≥ 1 ⇒ dangling mass is exactly the isolated set
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val gNodes = deg.select(col("src").as("doc_id")).localCheckpoint(true)
    val g = gNodes.count()
    val dmp = 0.85
    var rIso = 1.0
    var ranks = gNodes.select(col("doc_id"), lit(1.0).as("r"))
      .localCheckpoint(true)
    var iter = 0
    while (iter < 10) {
      // closed-form dangling mass: (n−g) isolated nodes share rIso
      val dangling = (n - g) * rIso
      val contribs = ranks.join(deg, ranks("doc_id") === deg("src"))
        .select(ranks("doc_id").as("u"), (col("r") / col("deg")).as("w"))
        .join(edges, col("u") === col("src"))
        .groupBy(col("dst")).agg(sum(col("w")).as("c"))
      ranks = gNodes.join(contribs, gNodes("doc_id") === contribs("dst"), "left")
        .select(gNodes("doc_id"),
          (lit(1 - dmp) +
            lit(dmp) * (coalesce(col("c"), lit(0.0)) + lit(dangling / n))).as("r"))
        .localCheckpoint(true)
      rIso = (1 - dmp) + dmp * (0.0 + dangling / n)
      iter += 1
    }
    (ranks, rIso, n, g)
  }

  def p8DupPagerank(s: SparkSession, d: String): DataFrame = {
    val (ranks, rIso, n, g) = dupGraphRanks(s, d)
    val gSum = ranks.agg(coalesce(sum(col("r")), lit(0.0))).head.getDouble(0) // bounded: ONE-row sum aggregate
    val total = gSum + (n - g) * rIso
    // the single corpus-sized job: project the shared isolated-node
    // constant over every doc_id not in the graph
    documents(s, d).select(col("doc_id"))
      .join(ranks.withColumnRenamed("doc_id", "gid"),
        col("doc_id") === col("gid"), "left")
      .select(col("doc_id"), round(coalesce(col("r"), lit(rIso)), 4).as("rank4"))
      .withColumn("pass", lit(math.abs(total - n) <= 1e-6 * n))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- X19
  /** End-to-end decontamination PURGE — X12/X13 report which training
    * documents share eval n-grams; X19 executes the removal and emits
    * the post-purge corpus accounting a pipeline operator actually
    * hands downstream: per source, how many training documents and
    * tokens survive. The contamination rule is exactly X12's (any
    * shared [[DecontamGram]]-gram with the eval slice).
    *
    * Scale shape: the gram side reuses X12's broadcast of the
    * (deduplicated) eval grams against the training gram stream — zero
    * training-corpus shuffle; the contaminated-id set (≪ corpus) joins
    * back as a left join on doc_id, and the per-source accounting is
    * two map-side-combinable aggregates. Nothing here touches floats
    * or windows; a 100 TB corpus pays one gram scan + one id join. */
  def x19DecontaminatePurge(s: SparkSession, d: String): DataFrame = {
    val grams = decontamGrams(s, d)
    val evalG = grams.filter(col("doc_id") % 50 === 0).select(col("g")).distinct()
    val contaminated = grams.filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(evalG), Seq("g"))
      .select(col("doc_id")).distinct()
      .withColumn("bad", lit(1))
    documents(s, d).filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      .join(contaminated, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs_total"),
        sum(when(col("bad").isNull, 1L).otherwise(0L)).as("n_docs_kept"),
        coalesce(sum(when(col("bad").isNull, col("ntok"))), lit(0L)).as("n_tokens_kept"))
      .orderBy(col("source"))
  }

  val x19Sql: String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT DISTINCT doc_id,
       |             array_to_string(list_slice(ws, i, i + ${DecontamGram - 1}), ' ') AS g
       |      FROM w, unnest(generate_series(1, len(ws) - ${DecontamGram - 1})) AS u(i)
       |      WHERE len(ws) >= $DecontamGram),
       |bad AS (SELECT DISTINCT t.doc_id FROM g t JOIN g e ON t.g = e.g
       |        WHERE t.doc_id % 50 <> 0 AND e.doc_id % 50 = 0),
       |d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS ntok
       |      FROM documents WHERE doc_id % 50 <> 0)
       |SELECT d.source, count(*) AS n_docs_total,
       |       count(*) FILTER (bad.doc_id IS NULL) AS n_docs_kept,
       |       CAST(COALESCE(sum(d.ntok) FILTER (bad.doc_id IS NULL), 0) AS BIGINT) AS n_tokens_kept
       |FROM d LEFT JOIN bad ON bad.doc_id = d.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // -------------------------------------------------------------
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p8_dup_pagerank" -> (p8DupPagerank _),
    "x19_decontaminate_purge" -> (x19DecontaminatePurge _),
    "p7_semantic_dedup" -> (p7SemanticDedup _),
    "p1_minhash_lsh"   -> (p1MinHashLsh _),
    "p2_simhash"       -> (p2SimHash _),
    "p3_ngram_jaccard" -> (p3NgramJaccardDedup _),
    "p4_embedding_dup" -> (p4EmbeddingNearDup _),
    "p5_dup_clusters"  -> (p5DupClusters _),
    "p9_dup_components" -> (p9DupComponents _),
    "p10_soft_dedup"   -> (p10SoftDedup _),
    "p6_incremental_dedup" -> (p6IncrementalDedup _),
    "x11_passage_dedup" -> (x11PassageDedup _),
    "x30_exact_substring_dedup" -> (x30ExactSubstringDedup _),
    "x31_leakage_split" -> (x31LeakageSplit _),
    "x18_boilerplate_strip" -> (x18BoilerplateStrip _),
    "x12_decontaminate" -> (x12Decontaminate _),
    "x28_contamination_report" -> (x28ContaminationReport _),
    "x13_decontaminate_bloom" -> (x13DecontaminateBloom _))

  val oracles: Map[String, String] = Map(
    "x19_decontaminate_purge" -> x19Sql,
    "x11_passage_dedup" -> x11Sql,
    "x30_exact_substring_dedup" -> x30Sql,
    "x31_leakage_split" -> x31Sql,
    "x18_boilerplate_strip" -> x18Sql,
    "x12_decontaminate" -> x12Sql,
    "x28_contamination_report" -> x28Sql,
    // x13 is x12's exact output via the Bloom-pushdown plan — same oracle
    "x13_decontaminate_bloom" -> x12Sql,
    "p1_minhash_lsh"   -> p1Sql,
    "p2_simhash"       -> p2Sql,
    "p3_ngram_jaccard" -> p3Sql,
    "p4_embedding_dup" -> p4Sql,
    "p5_dup_clusters"  -> p5Sql,
    // p9 computes p5's exact answer via star contraction — same oracle
    "p9_dup_components" -> p5Sql,
    "p10_soft_dedup"   -> p10Sql,
    "p6_incremental_dedup" -> p6Sql)
}
