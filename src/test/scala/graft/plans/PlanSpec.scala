package graft.plans

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions for the scale-critical query shapes: the
  * claims the scaladoc makes about broadcasts, exchange reuse, and
  * pushdown are checked against the ACTUAL plans, so a regression in
  * join strategy or scan pruning fails CI instead of silently turning
  * into a shuffle at 100 TB. Runs on sf0.001 — plan shape, not speed. */
class PlanSpec extends AnyFunSuite with graft.TestSession {
  private val SF = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, SF)

  /** EVERY registered query's plan (SparkEntry.queries.size of them),
    * constructed ONCE and shared by the
    * suite-wide sweeps below (construction executes the staging jobs
    * of the side-effecting builders — sub-second each at sf0.001, but
    * paid once, not once per sweep). */
  private lazy val suitePlans
  : Seq[(String, org.apache.spark.sql.execution.QueryExecution)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val qe = try {
        val e = fn(spark, SF).queryExecution
        e.executedPlan // force physical planning eagerly
        e
      } catch { case e: Throwable =>
        fail(s"$name failed to plan at $SF: $e")
      }
      (name, qe)
    }

  test("SUITE-WIDE: no query ever plans a CartesianProduct") {
    // every named pin above guards one shape; this sweep guards the
    // whole suite — a future non-equi join that silently degrades to a
    // cartesian fails here, at plan time, before it becomes an
    // all-pairs explosion at 100 TB. Scalar one-row crossJoins plan
    // as BroadcastNestedLoopJoin, never CartesianProduct, so no
    // whitelist is needed.
    val offenders = suitePlans.collect {
      case (name, qe)
        if qe.executedPlan.toString.contains("CartesianProduct") => name
    }
    assert(offenders.isEmpty,
      s"queries planning CartesianProduct: $offenders")
  }

  test("SUITE-WIDE: no global window over an unbounded (non-aggregated) " +
    "input") {
    // the q121 bug class: a Window with an EMPTY partitionBy sorts its
    // whole input through ONE task — fine over a bounded aggregated
    // domain (a distinct-value histogram), a scale-killer over corpus
    // rows (q121's global argmax window sorted 40M rows at sf10). The
    // sweep walks every optimized plan: any unpartitioned Window must
    // have an Aggregate or a GlobalLimit somewhere below it bounding
    // the row domain.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      GlobalLimit, Window => LWin}
    val offenders = suitePlans.flatMap { case (name, qe) =>
      qe.optimizedPlan.collect {
        case w: LWin if w.partitionSpec.isEmpty &&
          w.child.collectFirst {
            case a: Aggregate => a
            case l: GlobalLimit => l
          }.isEmpty => s"$name: $w"
      }
    }
    assert(offenders.isEmpty,
      s"global windows over unbounded inputs:\n${offenders.mkString("\n")}")
  }

  test("SUITE-WIDE: no broadcast HINT on a raw corpus-table side") {
    // a broadcast() hint overrides the planner's stats at ANY scale,
    // so a hint on a side that scans a corpus-proportional table
    // (documents/lineitem) without an intervening cardinality bound
    // (Aggregate / GlobalLimit) is an executor OOM at 100 TB even
    // though it runs fine at test SFs. Every such hint must come from
    // a stats-gated call site (the Dedup broadcast gates, which emit
    // the hint ONLY under the width-corrected size cap) and be listed
    // here with its gate. Auto-broadcasts (no hint) are exempt: the
    // planner's own size estimate is the gate.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      GlobalLimit, Join, LogicalPlan, BROADCAST}
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    def corpusScan(p: LogicalPlan): Boolean = p.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.exists { rp =>
          val s = rp.toString
          s.contains("documents.parquet") ||
            s.contains("lineitem.parquet") ||
            s.contains("embeddings.parquet")
        }
        case _ => false
      }
    }.contains(true)
    def bounded(p: LogicalPlan): Boolean = p.collectFirst {
      case a: Aggregate => a
      case l: GlobalLimit => l
    }.isDefined
    // gated call sites (each hint is emitted under a measured size
    // cap, so at scale the SAME query degrades to a shuffled join):
    //   - Dedup.shingleBroadcastable (width-amplification-corrected,
    //     llm/Dedup.scala) guards the shingle-frame hints feeding
    //     q25/q27/q44/q45/q57/q70/q100/q105/q154/q176/q193 and the
    //     staged-artifact builders;
    //   - Similarity.vectorBroadcastable (tight fixed-width estimate,
    //     4x amplification, 256 MB cap) guards the vector join-back
    //     hints in embeddingNearDuplicates / semanticDedup feeding
    //     q42/q109 (r11: ids-only pair emission + gated vector fetch
    //     replaced the in-task pair-with-vectors array that OOM'd at
    //     sf10);
    //   - Similarity's bounded probe/sample batches are k-bounded by
    //     construction but read the corpus table for vectors.
    // At sf0.001 every gate passes, so those hints ARE present here;
    // the sweep pins that NO OTHER query grows an ungated corpus hint.
    val gated = Set(
      "q100_training_build", "q105_streaming_lsh", "q154_containment_dedup",
      "q176_sketch_calibration", "q193_prefix_filter_join",
      "q25_minhash_pairs", "q27_ngram_jaccard", "q44_dedup_survivors",
      "q45_curate_funnel", "q57_dedup_components", "q70_dedup_keep_best",
      "q42_embedding_neardup", "q109_semantic_dedup",
      "q201_embedding_neardup_scaled",
      "q202_embedding_neardup_auto", // same vectorBroadcastable gate (r12)
      // k-bounded probe batches over embeddings: the hinted side is
      // `vec_id % step = 0 AND vec_id < K` — a literal id-range
      // predicate that caps the batch at a CONSTANT (<= K/step rows,
      // a few hundred) at any corpus size. The structural `bounded`
      // check only recognizes Aggregate/GlobalLimit, so these are
      // allowlisted by name; the bound lives in each query's filter.
      "q92_knn_graph", "q121_triplet_mining", "q151_knn_triangles",
      "q160_bfs_hops")
    val offenders = suitePlans.flatMap { case (name, qe) =>
      qe.optimizedPlan.collect {
        case j: Join =>
          val sides = Seq(j.hint.leftHint -> j.left,
            j.hint.rightHint -> j.right)
          sides.collect {
            case (Some(h), side)
              if h.strategy.contains(BROADCAST) && corpusScan(side) &&
                !bounded(side) => name
          }
      }.flatten
    }.distinct.filterNot(gated)
    assert(offenders.isEmpty,
      s"ungated broadcast hints on corpus-table sides: $offenders")
  }

  test("SUITE-WIDE: documents.text is scanned only by text-computing " +
    "queries") {
    // read-amplification invariant: `text` is ~99% of documents bytes
    // at corpus scale, so a metadata-only query whose scan still reads
    // the text column costs ~100x its necessary I/O at 100 TB even
    // though it returns identical rows at test SFs. Catalyst's column
    // pruning normally guarantees this, but a persist() of the raw
    // table, a custom node that blocks pruning, or an artifact builder
    // materializing unpruned rows all silently defeat it — this sweep
    // pins the physical ReadSchema of EVERY documents.parquet scan in
    // every query. The allowlist names the queries whose computation
    // genuinely consumes text (tokenize/shingle/hash/regex over the
    // column); everything else must scan documents WITHOUT text.
    import org.apache.spark.sql.execution.FileSourceScanExec
    // every name verified against its definition: each one feeds text
    // into a tokenize/shingle/fingerprint/quality/regex kernel (q30
    // derives the synthetic media bytes from text; q174's card and
    // q66's report include text-derived stats). Conspicuously ABSENT
    // and staying that way: the metadata-only pipelines — packing
    // (q72), mixing (q73), splits (q58/q118), coreset/resample
    // (q137/q139), shard manifests (q148/q199), length quantiles
    // (q64) — all pack/sample/shard by n_chars and NEVER pay the
    // text column's bytes.
    val textConsumers = Set(
      "q108_bloom_decontaminate", "q111_bigram_familiarity",
      "q112_sketch_distinct", "q117_gram_novelty", "q122_phrase_search",
      "q124_canonical_dedup", "q127_delta_dedup", "q129_boilerplate_grams",
      "q130_streaming_sketch", "q131_bpe_merges", "q133_source_drift",
      "q140_feature_hashing", "q141_lsh_tuning", "q142_chunk_roundtrip",
      "q150_pmi_collocations", "q152_auc_quality", "q153_token_entropy",
      "q154_containment_dedup", "q157_ks_drift", "q159_rrf_fusion",
      "q161_quantile_normalize", "q165_pareto_curve", "q174_dataset_card",
      "q175_heaps_curve", "q176_sketch_calibration",
      "q177_quality_calibration", "q180_grouped_topk", "q185_gini_tokens",
      "q193_prefix_filter_join", "q194_source_signatures",
      "q198_dsir_select", "q20_dedup_exact", "q21_token_counts",
      "q22_quality_scores", "q23_langid", "q24_minhash_signature",
      "q26_simhash", "q30_multimodal_bytes", "q41_simhash_bands",
      "q45_curate_funnel", "q51_winnow_fingerprint",
      "q59_repetition_signals", "q61_token_histogram",
      "q62_term_relevance", "q63_decontaminate", "q65_unigram_familiarity",
      "q66_source_report", "q70_dedup_keep_best", "q74_pii_scrub",
      "q75_chunk_overlap", "q76_vocab_oov", "q77_source_similarity",
      "q79_quality_quota", "q80_dup_spans", "q82_bm25", "q85_frame_dedup",
      "q99_edit_distance",
      "q200_simhash_scalable" /* simhash64 over text (round 11) */,
      "q203_simhash_candidates_default" /* simhash64 over text (r12) */)
    val offenders = suitePlans.flatMap { case (name, qe) =>
      qe.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(
            _.toString.contains("documents.parquet")) &&
            f.requiredSchema.fieldNames.contains("text") => name
      }
    }.distinct.filterNot(textConsumers)
    assert(offenders.isEmpty,
      s"queries reading documents.text without computing on it: " +
        s"${offenders.sorted}")
  }

  test("q87 range-band join broadcasts the band dimension (no shuffle)") {
    val plan = q("q87_range_band_join")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi band join should be broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      "band join must never plan a cartesian product")
  }

  test("kNN edge build broadcasts the sample side; q92 reads the " +
    "staged artifact") {
    // r12: q92/q119/q151/q160 read stagedKnnEdges (one build per
    // corpus), so the broadcast pin moves to the BUILDER's plan —
    // q92's own plan must be a bare parquet read of the staged edges
    // (no rescoring scan hiding behind the stage).
    import org.apache.spark.sql.functions.col
    val emb = graft.Queries.T(spark, SF, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
    val build = graft.llm.Similarity.knnEdges(emb, 3)
      .queryExecution.executedPlan.toString
    assert(build.contains("BroadcastNestedLoopJoin") ||
      build.contains("BroadcastHashJoin"),
      s"kNN scoring should be map-side over a broadcast sample:\n$build")
    val served = q("q92_knn_graph").queryExecution.executedPlan.toString
    assert(served.contains("graft-knn-edges"),
      s"q92 should read the staged edge artifact:\n$served")
    assert(!served.contains("cosine_sim"),
      s"q92 must not re-run the scoring scan:\n$served")
  }

  test("q127 delta dedup broadcasts the delta fingerprints and never " +
    "shuffles the base corpus") {
    val plan = q("q127_delta_dedup").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"base-side membership probe should be a broadcast join:\n$plan")
    // the base scan must not feed a hash-partition exchange on fp
    // BEFORE the join (its only exchange is the tiny distinct above
    // the broadcast probe's output)
    assert(!plan.contains("SortMergeJoin"),
      s"delta-vs-base must not sort-merge the corpus:\n$plan")
  }

  test("q121 triplet mining is one broadcast pass with map-side argmax") {
    val plan = q("q121_triplet_mining")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"anchor batch should broadcast against one candidate scan:\n$plan")
    // top-1 per (anchor, same?) must be a hash aggregate with a
    // map-side partial (the scored stream reduces to <= 2|A| rows per
    // task BEFORE any exchange) — the old window formulation shuffled
    // and sorted the whole N*|A| stream (superlinear at sf10)
    assert(plan.contains("partial_max"),
      s"argmax must partial-aggregate map-side:\n$plan")
    assert(!plan.contains("Window"),
      s"no window sort over the scored stream:\n$plan")
    // single-pass: exactly one join over the cross product — the old
    // pos/neg self-join shape scanned it twice
    assert("BroadcastHashJoin".r.findAllIn(plan).size <= 1,
      s"cross product must be scanned once:\n$plan")
  }

  test("q80 dup-span pipeline hashes the corpus once (no join-back)") {
    val plan = q("q80_dup_spans").queryExecution.executedPlan.toString
    // the dup flagging must be a single-pass window count, not an
    // aggregate joined back to a recomputed hash stream
    assert(!plan.contains("Join"),
      s"dup flagging must not join back (double hash pass):\n$plan")
    assert("char_window_hashes".r.findAllIn(plan).size == 1,
      s"corpus must be hashed exactly once:\n$plan")
  }

  test("q86 as-of join shuffles once on user_id (union+window, no range join)") {
    val plan = q("q86_asof_join").queryExecution.executedPlan.toString
    val userExchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(plan).size
    assert(userExchanges == 1,
      s"expected exactly one user_id exchange, got $userExchanges:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "as-of must not degrade to a per-row range join")
  }

  test("q63 decontamination broadcasts the benchmark shingle set") {
    val plan = q("q63_decontaminate").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"benchmark set must broadcast (it is suite-bounded, not corpus-linear):\n$plan")
  }

  test("q82 BM25 broadcasts the per-term df side") {
    val plan = q("q82_bm25").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"|query|-row df table must broadcast:\n$plan")
  }

  test("q97 star join broadcasts the dims; fact never sort-merges") {
    val df = q("q97_local_supplier_volume")
    df.write.format("noop").mode("overwrite").save() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"dims must broadcast at this scale, not sort-merge:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"expected broadcast dim joins:\n$plan")
  }

  test("q96 profiling reads the fact table exactly once") {
    val plan = q("q96_profile").queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(plan).size == 1,
      s"profiling must be one scan, not one per column:\n$plan")
  }

  test("near-dup verify pipeline: no cartesian, one pair-kernel pass") {
    val docs = graft.Queries.T(spark, SF, "documents")
    val pairs = graft.llm.Dedup.minhashNearDuplicates(
      docs, "text", "doc_id", threshold = 0.5, ngram = 3)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"LSH verify must stay bucketed, never all-pairs:\n$plan")
    assert("lsh_first_band_pairs".r.findAllIn(plan).size == 1,
      s"pairs must be emitted by exactly one kernel pass:\n$plan")
  }

  test("bucket truncation is a projection, not an extra exchange") {
    // the maxBucket cap (slice after the bucket agg) must not add a
    // shuffle or a window: the candidate pipeline keeps exactly ONE
    // HASH exchange (the band groupBy) regardless of cap value. (The
    // r16 ScanParallelism kernel-parallelism floor may add ONE
    // round-robin exchange BELOW the signature kernel on narrow
    // single-file inputs — that is scan widening, not a cap cost, and
    // it must never be hash-partitioned.)
    val docs = graft.Queries.T(spark, SF, "documents")
    val pairs = graft.llm.Dedup.minhashCandidatePairs(
      docs, "text", "doc_id", maxBucket = 3)
    val plan = pairs.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"truncated candidate pairs must keep the single band shuffle:\n$plan")
    assert("Exchange".r.findAllIn(plan).size <= 2,
      s"at most the band shuffle plus the scan-widening round robin:\n$plan")
    assert(!plan.contains("Window"),
      s"the cap is a slice(), not a windowed rank:\n$plan")
  }

  test("staged dedup components: consumers read the artifact, not the pipeline") {
    val docs = graft.Queries.T(spark, SF, "documents")
    // first call stages (runs the pipeline once, writes parquet)...
    graft.llm.Dedup.stagedComponents(docs, "text", "doc_id",
      cacheKey = SF, threshold = 0.5, ngram = 3)
    // ...every subsequent call must be a bare parquet read
    val again = graft.llm.Dedup.stagedComponents(docs, "text", "doc_id",
      cacheKey = SF, threshold = 0.5, ngram = 3)
    val plan = again.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet") &&
      !plan.contains("lsh_first_band_pairs"),
      s"staged components must not re-run LSH:\n$plan")
    // q27/q44 (verified pairs) and q57/q70 (component labels) all
    // consume the staged chain: no final plan re-runs LSH->verify,
    // none ever plans a cartesian
    for (name <- Seq("q27_ngram_jaccard", "q44_dedup_survivors",
      "q57_dedup_components", "q70_dedup_keep_best")) {
      val p = q(name).queryExecution.executedPlan.toString
      assert(!p.contains("lsh_first_band_pairs"),
        s"$name must consume the staged artifact:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name cartesian:\n$p")
    }
  }

  test("staged LSH candidates: one banding pass per corpus, consumers read back") {
    val docs = graft.Queries.T(spark, SF, "documents")
    // first call stages the candidate artifact...
    graft.llm.Dedup.stagedCandidatePairs(docs, "text", "doc_id",
      cacheKey = SF)
    // ...subsequent calls are a bare parquet read: lsh_first_band_pairs
    // must appear in NO consumer plan (the r8 q154 lesson — the
    // pre-verify consumers were re-running the corpus-scale banding
    // pass their verify-chain siblings already stage)
    val again = graft.llm.Dedup.stagedCandidatePairs(docs, "text",
      "doc_id", cacheKey = SF)
    val plan = again.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet") &&
      !plan.contains("lsh_first_band_pairs"),
      s"staged candidates must not re-run LSH:\n$plan")
    for (name <- Seq("q25_minhash_pairs", "q154_containment_dedup")) {
      val p = q(name).queryExecution.executedPlan.toString
      assert(!p.contains("lsh_first_band_pairs"),
        s"$name must consume the staged candidate artifact:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name cartesian:\n$p")
    }
  }

  test("q100 manifest consumes materialized artifacts, not live pipelines") {
    val plan = q("q100_training_build")
      .queryExecution.executedPlan.toString
    // every stage is staged through parquet: if a curation/dedup/
    // decontamination kernel shows up in the FINAL stage's plan, a
    // pipeline is being re-executed per consumer instead of read back
    for (marker <- Seq("lsh_first_band_pairs", "minhash_signature",
      "ngram_hash48", "jaccard_sorted"))
      assert(!plan.contains(marker),
        s"$marker leaked into the final stage:\n$plan")
  }

  test("q156 join-cardinality joins per-key aggregates, never raw rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val lp = q("q156_join_cardinality").queryExecution.optimizedPlan
    val joins = lp.collect { case j: Join => j }
    assert(joins.nonEmpty, "expected at least the ne-x-no key join")
    // the whole point of the estimator: both inputs of EVERY join are
    // already aggregated (per-key counts / one-row totals) — a raw
    // events-x-orders row join here would BE the explosion it predicts
    joins.foreach { j =>
      Seq(j.left, j.right).foreach { side =>
        assert(side.collectFirst { case a: Aggregate => a }.isDefined,
          s"join side is raw rows:\n$side")
      }
    }
  }

  test("q198 DSIR selection: bounded ratio broadcast, top-k never a " +
    "global sort") {
    val plan = q("q198_dsir_select").queryExecution.executedPlan.toString
    // the <=512-row feature-ratio table joins back to per-doc counts
    // as a broadcast (it is Aggregate-bounded, not corpus-linear)
    assert(plan.contains("BroadcastHashJoin"),
      s"feature-ratio join must broadcast:\n$plan")
    // top-50 is TakeOrderedAndProject — a per-partition heap + driver
    // merge of 50 rows — never Sort+GlobalLimit over all doc scores
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan TakeOrderedAndProject:\n$plan")
  }

  test("q199 epoch shuffle plans no global window and no documents.text " +
    "read") {
    val qe = q("q199_epoch_shuffle").queryExecution
    // shard offsets come from the two-phase prefix scan: the running
    // sum is a window PARTITIONED by the shuffle-partition id (its
    // row domain is one partition) plus broadcast per-partition
    // offsets — never a global running-sum window over corpus rows
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWin}
    qe.optimizedPlan.collect { case w: LWin => w }.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"byte offsets must never use a GLOBAL window:\n$w")
    }
    import org.apache.spark.sql.execution.FileSourceScanExec
    qe.sparkPlan.collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(
          _.toString.contains("documents.parquet")) => f
    }.foreach { f =>
      assert(!f.requiredSchema.fieldNames.contains("text"),
        s"q199 is metadata-only and must prune text: ${f.requiredSchema}")
    }
  }

  test("q161 percentile window is partitioned by source, never global") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWin}
    val lp = q("q161_quantile_normalize").queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWin => w }
    assert(wins.nonEmpty)
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"q161 planned a GLOBAL window — single-partition at scale:\n$w"))
  }

  test("q152/q157/q165 global windows run over aggregated domains only") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      Window => LWin}
    for (name <- Seq("q152_auc_quality", "q157_ks_drift",
      "q165_pareto_curve")) {
      val lp = q(name).queryExecution.optimizedPlan
      // a global (unpartitioned) window is only scale-safe when its
      // input is a bounded-domain aggregate, not corpus rows
      lp.collect { case w: LWin if w.partitionSpec.isEmpty => w }
        .foreach { w =>
          assert(w.child.collectFirst { case a: Aggregate => a }
            .isDefined, s"$name: global window over raw rows:\n$w")
        }
    }
  }

  test("q180 grouped top-k plans WindowGroupLimit, not a full sort") {
    val plan = q("q180_grouped_topk").queryExecution.executedPlan
      .toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k filter should rewrite to a per-group limit:\n$plan")
  }

  test("q154 containment verify join broadcasts the shingle side") {
    val plan = q("q154_containment_dedup")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"shingle probe should broadcast at this SF:\n$plan")
  }

  test("q188 prunes partitions at the scan, not with a row filter") {
    val plan = q("q188_partition_pruning")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("event_type"),
      s"event_type filter must prune directories:\n$plan")
  }

  test("q189 bucketed join plans no exchange above the bucketed scans") {
    // at sf0.001 both sides fit the broadcast threshold and the
    // planner ignores bucketing; disable broadcast so the test pins
    // the layout contract that matters at warehouse scale
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = try q("q189_bucketed_join").queryExecution.executedPlan
      .toString
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // the join consumes the 8-bucket layout directly: both scans
    // bucketed, and the ONLY exchange in the plan is the final
    // presentation orderBy (range) — no hash repartition anywhere
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"scans must consume the bucketed layout:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not re-shuffle its inputs:\n$plan")
  }

  test("projection + filter push down into the parquet scan") {
    val df = graft.Queries.T(spark, SF, "lineitem")
      .where(org.apache.spark.sql.functions.col("l_orderkey") === 1L)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,1)"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema") &&
      scan.contains("l_orderkey:bigint,l_quantity:double") &&
      !scan.contains("l_comment"),
      s"column pruning failed:\n$scan")
  }
}
