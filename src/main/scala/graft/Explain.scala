package graft

/** Plan auditor: prints `explain("formatted")` for selected queries so
  * scan pruning (PushedFilters/ReadSchema), join strategies (broadcast
  * vs shuffle) and WholeStageCodegen spans can be reviewed — the
  * "would this plan survive 100×?" check the scale design demands. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("r01_filter_project", "r04_multijoin", "r11_topk",
        "x1_exact_dedup", "s1_ann_bruteforce", "p4_embedding_dup",
        // round-5 flagships: bloom pushdown, heap top-k, pruned probe
        "x13_decontaminate_bloom", "t11_bm25_search", "s7_ann_index_probe",
        // round-6 flagships: sequence-side packing, boilerplate verdict
        "x17_sequence_table", "x18_boilerplate_strip",
        // round-7 flagships: stored-code ADC scan, pruned IVFPQ probe
        "s9_ann_pq", "s10_ann_ivfpq",
        // round-9 flagships: one-exchange SCD2 build, slim snapshot
        // diff join, tombstone-masked pruned probe
        "r34_scd2_history", "x22_snapshot_diff", "s12_ann_delete",
        // round-10 flagships: folded-generation plain probe (the gated
        // plans print from the registered pre-checkpoint frames now),
        // delta-merged view refresh, zero-join DSIR scoring pass
        "s14_ann_lifecycle", "r35_incremental_agg", "x24_dsir_sample",
        // late round-10 flagships: range-partitioned rank scans (the
        // prefix-sum RFM build), WindowGroupLimit-capped MMR shortlist
        "r37_rfm_segment", "s17_mmr_rerank",
        // round-10 close-out flagships: fused validation aggregates,
        // gram-dictionary novelty join, sound int8 range prune (the
        // registered s19 candidate frame prints the codes-only scan)
        "r38_quality_checks", "t18_ngram_novelty", "s19_range_search",
        // round-11 flagships: masked+delta probe (registered frame),
        // stored-opq8 codes-only ADC scan
        "s13_ann_update", "s15_ann_opq",
        // round-11 close-out: pinned shuffle-hash variant join (no
        // broadcast of the corpus-sized frame), WindowGroupLimit-
        // capped binary shortlist + TF-IDF top-3, narrow argmax
        // assignment (no corpus×anchors exchange)
        "r40_fuzzy_join", "s20_ann_binary", "t19_keyword_extract",
        "x29_diversity_sample",
        // round-14 flagships: fingerprint keep-first + redundancy-
        // proportional join-back (no rank window over the gram space)
        "x30_exact_substring_dedup",
        // round-15 flagships: filtered graph serve (registered frame —
        // the key-pruned label fetch + bounded rerank), t22's
        // zero-shuffle memoized encode scan
        "s25_graph_filtered", "t22_unigram_encode")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      // Recall-gated queries return a localCheckpoint'd frame (the gate
      // evaluates the probe once), which explains as a bare LogicalRDD
      // scan. Constructing the query registered its pre-checkpoint
      // probe frame under (session, tag) — print THAT plan: the pruned
      // scans / masked joins are what the audit is for.
      val tag = n.takeWhile(_ != '_')
      graft.operators.Similarity.lastGatedApprox.get((spark, tag)) match {
        case Some(probe) => probe.explain("formatted")
        case None => df.explain("formatted")
      }
    }
    spark.stop()
  }
}
