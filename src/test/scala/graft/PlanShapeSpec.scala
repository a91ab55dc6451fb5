package graft

/** Physical-plan assertions for the scale-critical queries: the shapes
  * the 100-TB design argument rests on must survive refactors —
  * broadcasting dims, pushing filters to the scan, and never letting a
  * dedup/ANN operator degrade to a cartesian product.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.001")).queryExecution.executedPlan.toString

  test("q_join_agg broadcasts the dimension side of the fact join") {
    assert(plan("q_join_agg").contains("BroadcastHashJoin"))
  }

  test("q_filter_project pushes its predicates into the parquet scan") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters: ["))
    assert(!p.contains("PushedFilters: []"))
  }

  test("bucketed dedup/ANN paths never degrade to cartesian joins") {
    for (name <- Seq("q_minhash_lsh_pairs", "q_jaccard_pairs",
      "q_embed_neardup_lsh", "q_ivf_topk", "q_asof_join", "q_range_join",
      "q_simhash_neardup", "q_incremental_dedup", "q_curation_pipeline",
      "q_containment", "q_span_mask")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plan has a cartesian product")
      // broadcast nested loop is only acceptable for broadcasting a
      // tiny constant side (the IVF centroid/query frames, span_mask's
      // one-row planted span); never for pair generation over the corpus
      if (!Seq("q_ivf_topk", "q_span_mask").contains(name))
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plan has a BNL join")
    }
  }

  test("round-19 cell/star operators stay cartesian-free") {
    // q_semantic_dedup's pair space is the within-cell equi-join (the
    // SemDeDup contract) — a cartesian here means the cell blocking
    // collapsed and the corpus is being paired all-against-all. Its
    // BNLs are the tiny-constant-side centroid broadcasts
    // (assignCells), the same allowance q_ivf_topk carries.
    // q_cc_bigstar's per-round joins run eagerly inside the query
    // body; the returned plan covers the final label join — pinned
    // BNL-free too, the star rounds share its equi-join construction.
    for (name <- Seq("q_semantic_dedup", "q_cc_bigstar")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plan has a cartesian product:\n$p")
      if (name != "q_semantic_dedup")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plan has a BNL join:\n$p")
    }
  }

  test("round-20 operators: keyed windows and guarded self-joins, nothing quadratic") {
    // q_interval_merge: both running-max/sum windows must stay inside
    // the user_id partition — a SinglePartition window would serialize
    // the whole corpus through one task; q_assoc_rules: the basket
    // self-join is an equi-join on the basket key with the 1-row
    // basket count as the only broadcast constant — a cartesian means
    // the orderkey blocking collapsed; q_ohlc is one partial-agged
    // groupBy with no window at all.
    val im = plan("q_interval_merge")
    assert(im.contains("Window"), "interval merge lost its windows")
    assert(!im.contains("SinglePartition"), s"interval merge collapsed to one task:\n$im")
    val ar = plan("q_assoc_rules")
    assert(!ar.contains("CartesianProduct"), s"q_assoc_rules has a cartesian:\n$ar")
    val oh = plan("q_ohlc")
    assert(!oh.contains("Window") && !oh.contains("CartesianProduct"), oh)
  }

  test("round-20 late wave: distributed sweeps and keyed windows, nothing single-task") {
    // q_peak_concurrency's GLOBAL running sum must ride the
    // partition-offset machinery — a bare SUM() OVER (ORDER BY t)
    // would move every endpoint into one task; q_cusum_shift's
    // running sum/min stay inside the event_type partition;
    // q_label_noise's global margin rank is the same native machinery
    // (its per-doc top-2 window is keyed by doc_id); q_pmi_terms'
    // top-50 is a TakeOrdered, never a global sort+limit-less window.
    // the running-sum frame is pinned, so the EXECUTED plan reads an
    // InMemoryRelation whose child is elided from the string — the
    // native expression is asserted on the analyzed plan (pre-cache
    // substitution), the task-collapse on the executed one
    val pcAnalyzed = SparkEntry.queries("q_peak_concurrency")(spark, sf("sf0.001"))
      .queryExecution.analyzed.toString
    assert(pcAnalyzed.contains("partition_offset_running_sum"),
      "peak concurrency fell back from the distributed running sum")
    // no Window anywhere: the sweep is the native running-sum
    // projection plus scalar/keyed aggregates (the 1-ROW global-max
    // agg legitimately lands on a single partition — that's a scalar,
    // not the endpoint stream)
    val pc = plan("q_peak_concurrency")
    assert(!pc.contains("Window"), s"peak concurrency reintroduced a window:\n$pc")
    val cu = plan("q_cusum_shift")
    assert(cu.contains("Window") && !cu.contains("SinglePartition"),
      s"CUSUM windows left the type partition:\n$cu")
    val ln = plan("q_label_noise")
    assert(ln.contains("partition_offset_rank"),
      "label-noise rank fell back from the native machinery")
    val pm = plan("q_pmi_terms")
    assert(pm.contains("TakeOrderedAndProject"),
      s"PMI top-k is not a TakeOrdered:\n$pm")
  }

  test("q_topn is a TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topn")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_decontaminate broadcasts the eval side, never the corpus scan") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_span_mask materializes its postings once (cached, bounded stages)") {
    val stages = graft.util.SparkMeter.measure(spark) {
      graft.util.CacheScope.loan {
        val df = SparkEntry.queries("q_span_mask")(spark, sf("sf0.001"))
        // the postings subtree must be replaced by the cache on reuse
        assert(df.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
        df.collect()
      }
    }._2.stages
    info(s"q_span_mask ran $stages stages")
    // pinned form measured at 19 stages; headroom for AQE variance,
    // but a per-consumer postings recompute lands well above
    assert(stages <= 24, s"q_span_mask ran $stages stages — postings recomputed?")
  }

  test("q_length_decile ranks without a single-partition window") {
    // exact global ntile must stay distributed: ranks come from the
    // range-partitioned per-partition counter, no window at all, and
    // nothing in the plan collapses to one partition
    val p = plan("q_length_decile")
    assert(!p.contains("Window"), "global ntile reintroduced a window")
    assert(!p.contains("SinglePartition"), "global ntile collapsed to one task")
    // the rank is a native codegen'd projection over the pinned sorted
    // frame — an RDD round-trip would surface as an ExistingRDD scan
    // and break whole-stage codegen below the rank
    assert(!p.contains("ExistingRDD"), "ranking fell back to an RDD round-trip")
    assert(p.contains("partition_offset_rank"), "native rank expression missing from plan")
  }

  test("graft_target TVF composes with filter pushdown and column pruning") {
    // the TVF returns a parquet relation; a filtered, projected SELECT
    // over it must reach the scan as pushed filters + a pruned
    // ReadSchema, not a full-snapshot scan — the SQL read side of path
    // merges must not silently regress to read-everything
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tvf_plan").toString
    val src = (1L to 100L).map(k => (k, s"v$k", k % 7)).toDF("k", "v", "w")
    graft.merge.MergeWriter.merge(spark, dir, src.withColumn("ord", lit(1)), "k", "ord", 4)
    val s2 = graft.plans.SiblingSession.withExtensions(spark, new graft.plans.GraftExtensions)
    val df = s2.sql(s"SELECT k FROM graft_target('$dir') WHERE k >= 90")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"),
      s"graft_target scan lost filter pushdown:\n$p")
    assert(p.contains("struct<k:bigint>"),
      s"graft_target scan reads more than the projected column:\n$p")
    assert(df.as[Long].collect().sorted.toSeq == (90L to 100L))
  }

  test("q_bm25 broadcasts the 1-row corpus stats and keeps top-k sorted-limited") {
    val p = plan("q_bm25")
    // the corpus-constant side is one row: it must broadcast (a shuffle
    // join or cartesian against the corpus scan would be the scale bug)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"bm25 corpus constants not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    // ORDER BY score LIMIT 100 must be a TakeOrderedAndProject, not a
    // global sort of every scored document
    assert(p.contains("TakeOrderedAndProject"), s"bm25 top-k is a global sort:\n$p")
  }

  test("q_chunk_windows generates chunks map-side (no shuffle before the sort)") {
    val p = plan("q_chunk_windows")
    assert(p.contains("Generate"), "chunk explode missing")
    // exactly the one exchange the deterministic final ORDER BY needs —
    // chunk generation itself must not shuffle
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"q_chunk_windows shuffles $exchanges times:\n$p")
  }

  test("q_seq_pack shuffles once on the pack key, no global window") {
    // a Window without PARTITION BY would collapse to a single
    // partition — the per-source partitioning must survive
    val p = plan("q_seq_pack")
    assert(p.contains("Window"))
    assert(!p.contains("SinglePartition"), "q_seq_pack window lost its partition key")
  }

  test("q_stratified_split stays map-only up to its deterministic ORDER BY") {
    // the split is a pure per-row hash — any extra exchange means a
    // stray aggregation/window crept into what must scan-and-label
    val p = plan("q_stratified_split")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 1, s"q_stratified_split shuffles $exchanges times:\n$p")
    assert(!p.contains("Window") && !p.contains("HashAggregate"),
      s"q_stratified_split picked up non-map-only operators:\n$p")
  }

  test("q_dedup_priority is one partial-aggregated shuffle, no join-back") {
    // keep-from-preferred-source must stay the exactGroups plan shape:
    // min_by carries the surviving row through ONE aggregation — a
    // groupBy-then-join formulation would shuffle the corpus twice
    val p = plan("q_dedup_priority")
    assert(!p.contains("Join"), s"q_dedup_priority joins back:\n$p")
    assert(p.contains("partial_min_by") || p.contains("min_by"),
      s"q_dedup_priority lost its min_by aggregation:\n$p")
  }

  test("NB / bigram scoring broadcast their models; no sort-merge joins, no cartesians") {
    // the classifier plans' 100 TB shape: the model (classes×vocab
    // grid / bigram table) is broadcast under a map-side scoring pass;
    // a SortMergeJoin would mean the corpus shuffles on token keys
    for (name <- Seq("q_nb_classify", "q_bigram_ppl")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name lost its broadcast model:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name shuffles the corpus on a join key:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product:\n$p")
    }
  }

  test("q_bloom_decontaminate probes the sketch as a literal, broadcasts the confirm side") {
    val p = plan("q_bloom_decontaminate")
    assert(p.contains("might_contain"), s"bloom prefilter missing from the plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"exact confirm join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"corpus-side shuffle/cartesian crept into the bloom path:\n$p")
  }

  test("q_unpivot melts map-side (Expand), no shuffle before the metric aggregation") {
    val p = plan("q_unpivot")
    assert(p.contains("Expand"), s"unpivot lost its Expand node:\n$p")
    // exactly the aggregation exchange + the final orderBy range exchange
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"q_unpivot shuffles $exchanges times:\n$p")
  }

  test("q_vocab_coverage ranks without any single-partition window") {
    // rank + cumulative count route through the Ranking machinery
    // (range partition + broadcast offsets) — a Window node here means
    // the induction regressed to a one-task global sort
    val p = plan("q_vocab_coverage")
    assert(!p.contains("Window"), s"q_vocab_coverage picked up a global window:\n$p")
  }

  test("q_oov_rate joins only the broadcast vocabulary; corpus aggregates once") {
    val p = plan("q_oov_rate")
    assert(!p.contains("SortMergeJoin"), s"q_oov_rate shuffles the corpus to join the vocab:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("sorted-neighborhood / edit near-dup: dense-key equi-joins, no windows, no cartesians") {
    for (name <- Seq("q_sorted_neighborhood", "q_edit_neardup")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name has a BNL join")
      assert(!p.contains("SinglePartition"), s"$name collapsed to one task")
      // SNM's total order must come from the partition-offset machinery
      if (name == "q_sorted_neighborhood") {
        assert(!p.contains("Window"), s"$name reintroduced a window")
        assert(p.contains("partition_offset_rank"), s"$name lost the native rank")
      }
    }
  }

  test("q_ngram_novelty: one gram aggregation + hash join-back, nothing quadratic") {
    val p = plan("q_ngram_novelty")
    assert(!p.contains("CartesianProduct")) // the 1-row planted span may BNL
    assert(!p.contains("Window") && !p.contains("SinglePartition"))
  }

  test("q_weighted_sample / q_event_transitions window only on partitioned keys") {
    for (name <- Seq("q_weighted_sample", "q_event_transitions")) {
      val p = plan(name)
      assert(!p.contains("SinglePartition"), s"$name collapsed to one task:\n$p")
    }
  }

  test("q_curriculum ranks through the partition-offset machinery at every global step") {
    val p = plan("q_curriculum")
    assert(!p.contains("SinglePartition"), s"q_curriculum collapsed to one task")
    assert(p.contains("partition_offset_rank"), "native rank expression missing")
  }

  test("round-15 operators stay off quadratic paths; balanced sampling broadcasts") {
    for (name <- Seq("q_quality_gate_multi", "q_cluster_balance",
        "q_paragraph_dedup", "q_distinct_ngrams", "q_tokenizer_fertility",
        "q_contamination_report", "q_length_outliers", "q_lsh_recall",
        "q_funnel_ledger")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product:\n$p")
    }
    // the centroid assign and the k-row alloc join must broadcast — the
    // corpus never shuffles for either
    assert(plan("q_cluster_balance").contains("BroadcastHashJoin"))
    // quartiles are a broadcast join back onto the doc frame
    assert(plan("q_length_outliers").contains("BroadcastHashJoin"))
    // the line-dedup rebuild needs no window — (doc, line) aggregates only
    assert(!plan("q_paragraph_dedup").contains("Window"))
  }

  test("round-16 operators: banded/broadcast shapes, no quadratic paths") {
    for (name <- Seq("q_lsh_tuning", "q_contamination_span",
        "q_image_phash", "q_image_neardup", "q_audio_phash", "q_audio_neardup",
        "q_span_decontaminate", "q_video_framedup", "q_ivf_tuning",
        "q_neardup_resolution")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product:\n$p")
    }
    // span audits: the corpus side must reach the match positions via
    // broadcast joins — the big side never shuffles
    assert(plan("q_contamination_span").contains("BroadcastHashJoin"))
    assert(plan("q_span_decontaminate").contains("BroadcastHashJoin"))
    // image near-dup pairs through the band equi-join, never all-pairs
    assert(plan("q_image_neardup").contains("band_id"))
  }

  test("q_logodds_terms: vocab-sized broadcast joins, window only on the group key") {
    val p = plan("q_logodds_terms")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"), s"q_logodds_terms shuffles a vocab-sized join:\n$p")
  }

  test("q_incremental_novelty / q_snm_multipass stay off quadratic paths") {
    for (name <- Seq("q_incremental_novelty", "q_snm_multipass")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
      assert(!p.contains("Window"), s"$name ranks through a window")
      if (name == "q_snm_multipass")
        assert(p.contains("partition_offset_rank"), s"$name lost the native rank")
    }
  }

  test("q_bpe_merges: vocab-sized aggregations + 1-row broadcast argmax per step") {
    val p = plan("q_bpe_merges")
    assert(!p.contains("CartesianProduct")) // 1-row best side may BNL
    assert(!p.contains("Window"), "the greedy merge must stay a map-side fold")
  }

  test("q_salted_join joins on (key, salt) as a hash join, never a product") {
    val p = plan("q_salted_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_water_fill: corpus collapses to a group aggregate before any window") {
    // windows here run over the sources-sized count frame (documented
    // single-partition-by-design); the corpus itself must reach them
    // only THROUGH the partial-aggregated groupBy — pinned by the
    // aggregate being present and nothing degrading to a product
    val p = plan("q_water_fill")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"), "group-count aggregate missing")
  }

  test("q_scd2 windows stay partitioned by the entity key") {
    val p = plan("q_scd2")
    assert(!p.contains("SinglePartition"), s"q_scd2 collapsed to one task:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_triangles / q_autocorr: equi-joins only, no windows, no products") {
    for (name <- Seq("q_triangles", "q_autocorr")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(!p.contains("Window"), s"$name ranks through a window")
    }
  }

  test("exact-moment stats and normalized dedup are one aggregation, no windows") {
    for (name <- Seq("q_moments", "q_correlation", "q_dedup_norm")) {
      val p = plan(name)
      assert(!p.contains("Window") && !p.contains("CartesianProduct"), s"$name:\n$p")
      assert(p.contains("HashAggregate") || p.contains("SortAggregate"),
        s"$name lost its aggregate")
    }
  }

  test("q_zorder is map-only up to its deterministic ORDER BY") {
    val p = plan("q_zorder")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"))
    assert(!p.contains("Exchange hashpartitioning"),
      s"q_zorder shuffled before the sort:\n$p")
  }

  test("q_mmr_select: per-query joins over the candidate frames, no cartesian") {
    // the candidate/pair frames scale with |Q| (not broadcastable at a
    // million queries) — shuffle joins ON q_id are the correct
    // distributed shape; the pin is that nothing degrades to an
    // unkeyed product and no stage collapses to one task
    val p = plan("q_mmr_select")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SinglePartition"), s"q_mmr_select collapsed to one task")
  }

  test("q_rrf_fusion: broadcast query vector, distributed ranks, no single-task stage") {
    val p = plan("q_rrf_fusion")
    assert(!p.contains("CartesianProduct"))
    // (a SinglePartition exchange exists and is fine: BM25's 1-ROW
    // corpus-stats aggregate — same shape q_bm25 pins; the corpus-grain
    // stages below must still rank via the distributed machinery)
    assert(!p.contains("Window"), "q_rrf_fusion ranks through a window")
    assert(p.contains("partition_offset_rank"), "ranking fell back from the native machinery")
  }

  test("round-17 operators never degrade to cartesian products") {
    // (1-row broadcast cross-joins plan as BroadcastNestedLoopJoin and
    // are fine — corpus-stats/n-count frames; an unkeyed CartesianProduct
    // over data-grain frames is never fine)
    for (name <- Seq("q_multimodal_neardup", "q_chunk_dup_rate",
      "q_retrieval_metrics", "q_dataset_card", "q_pagerank", "q_ks_drift",
      "q_ivf_sq8_topk", "q_asof_forward", "q_asof_nearest", "q_event_funnel",
      "q_ivf_index_probe", "q_pagerank_weighted", "q_pagerank_converge")) {
      assert(!plan(name).contains("CartesianProduct"),
        s"$name plan has a cartesian product")
    }
  }

  test("dataset card distinct runs over the 48-bit text hash, not full text bytes") {
    // the two-phase COUNT(DISTINCT) shuffles its distinct key at the
    // (source, key) grain — at 100 TB that key must be the 8-byte
    // hash48, never the document itself (r17 verdict finding #3)
    val p = SparkEntry.queries("q_dataset_card")(spark, sf("sf0.001"))
      .queryExecution.optimizedPlan.toString
    val distinctExpr = p.linesIterator.find(_.contains("count(distinct"))
      .getOrElse(fail("q_dataset_card lost its distinct aggregate"))
    assert(distinctExpr.contains("md5"),
      s"n_exact_dups distinct key is not the md5-derived hash48: $distinctExpr")
  }

  test("vector audits sample to an ABSOLUTE cap, not a rate (r16 perf-weak fix)") {
    // The pair join in q_class_separation and the query fan-out in
    // q_knn_classify must stay bounded as the corpus grows: a
    // fixed-rate sample makes them O(n²)/O(n²/rate) at 100×. Pin the
    // cap plan (TakeOrderedAndProject — per-partition top-cap, no
    // global sort) and the exact bounded counts at a corpus larger
    // than both caps.
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
    val sampled = graft.curation.Sampling.hashCapSample(emb, "vec_id", 120)
    assert(sampled.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"), "hashCapSample lost its bounded top-cap plan")
    assert(sampled.count() == 120)
    // stable across partitioning — the cap is a selection, not a race
    val ids1 = sampled.select("vec_id").collect().map(_.getLong(0)).toSet
    val ids2 = graft.curation.Sampling.hashCapSample(emb.repartition(13), "vec_id", 120)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    for (name <- Seq("q_class_separation", "q_knn_classify")) {
      val p = plan(name)
      assert(p.contains("TakeOrderedAndProject"), s"$name sample is not cap-bounded")
    }
    // query fan-out of the kNN audit == its cap
    val knn = SparkEntry.queries("q_knn_classify")(spark, sf("sf0.001"))
    assert(knn.count() == 60)
    // pair grain of the separation audit ≤ cap·(cap−1)/2 by construction:
    // pair counts in the output must sum to at most that (inter pairs
    // are attributed twice, so the bound is 2× the pair count)
    val sep = SparkEntry.queries("q_class_separation")(spark, sf("sf0.001"))
      .agg(sum(col("n_intra")).as("i"), sum(col("n_inter")).as("e")).collect()(0)
    assert(sep.getLong(0) + sep.getLong(1) / 2 <= 120L * 119 / 2)
  }

  test("q_bloom_anti_join probes the sketch as a literal BELOW the exact join") {
    val p = plan("q_bloom_anti_join")
    // the might_contain probe must appear as a Filter over the scan
    // side (the pre-shuffle prune this operator exists for), with the
    // sketch folded into the plan as a literal — no extra join to a
    // sketch frame
    assert(p.contains("might_contain"), "bloom probe missing from the plan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the definite-miss branch unions back AROUND the anti join: the
    // plan has a Union and exactly one join over the confirm sliver
    assert(p.contains("Union"), "bloom short-circuit union missing")
  }

  test("close-wave queries: no cartesians, no single-task windows where keyed ones suffice") {
    // snapshot diff is one keyed full-outer; join-cardinality ranks on
    // the range-partitioned machinery; debounce's windows partition on
    // (user, type); cluster topics joins broadcast centroids
    for (name <- Seq("q_snapshot_diff", "q_join_cardinality",
      "q_event_debounce", "q_cluster_topics", "q_golden_record",
      "q_expectations")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plan has a cartesian product")
    }
    // q_join_cardinality: no Window operator at all — the global rank
    // must come from the partition-offset machinery
    assert(!plan("q_join_cardinality").contains("Window"),
      "q_join_cardinality fell back to a window")
    // debounce windows must be partitioned (no empty PARTITION BY —
    // the single-task global-window shape WindowExec warns about)
    val dp = plan("q_event_debounce")
    assert(!dp.contains("windowspecdefinition(" + "ts"),
      "q_event_debounce window lost its key partitioning")
  }

  test("graph family: no cartesians; the skew profiler ranks without single-task windows") {
    for (name <- Seq("q_hits", "q_label_prop", "q_kcore", "q_copurchase",
      "q_bfs_hops", "q_assortativity", "q_degree_hist", "q_mutual_nn")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plan has a cartesian product")
    }
    // keySkewProfile's two global rankings ride the range-partitioned
    // machinery: no Window over a single partition anywhere
    val p = plan("q_key_skew")
    assert(!p.contains("Window [row_number()"), s"q_key_skew fell back to a window")
  }
}
