package graft

/** Dev-only: dump formatted physical plans for the headline queries and
  * assert the plan properties the engine is designed around (pushdown,
  * broadcast joins, bounded top-k). Run: sbt "runMain graft.PlanAudit".
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val checks: Seq[(String, String => Boolean, String)] = Seq(
      ("q1_pricing", _.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
        "shipdate filter pushed to parquet scan"),
      ("q1_pricing", p => !p.contains("l_comment"), "column pruning"),
      ("q3_shipping", _.contains("BroadcastHashJoin"), "dims broadcast"),
      ("q3_shipping", _.contains("TakeOrderedAndProject"), "bounded top-k, no global sort"),
      // the lineitem-orders fact join legitimately shuffles at scale (no
      // !SortMergeJoin assertion — it's SF-dependent); dims must broadcast
      ("q5_volume", p => "BroadcastHashJoin".r.findAllIn(p).size >= 4, "all dims broadcast (>=4 BHJ)"),
      ("ann_topk", _.contains("TakeOrderedAndProject"), "top-k bounded"),
      ("ann_topk", _.contains("Kernels.cosineF"), "native cosine expression in plan"),
      ("ts_gap_chunks", p => "Exchange hashpartitioning".r.findAllIn(p).size <= 2,
        "single channel shuffle (+AQE read)"),
      ("token_count", p => p.contains("WholeStageCodegen") || p.contains("*(1)"), "codegen"),
      ("dedup_minhash", p => p.contains("ReusedExchange") || p.contains("BroadcastHashJoin"),
        "self-join avoids dual shuffle (reuse or AQE broadcast)"),
      ("ts_asof_native", _.contains("AsOfJoin"), "custom physical operator planned"),
      ("ts_asof_native", p => "Exchange hashpartitioning".r
        .findAllIn(p.split("== Initial Plan ==").head).size <= 2,
        "one exchange per side in the final plan, merge without cross product"),
      ("percentiles", _.contains("BroadcastHashJoin"), "target buckets join broadcast"),
      ("percentiles", p => !p.contains("SortMergeJoin"), "no shuffle join in selection path"),
      ("sample_stratified", p => !p.contains("Exchange hashpartitioning"),
        "sampling is a narrow map (broadcast rates, no hash shuffle)"),
      ("ts_bandpower", p => !p.contains("Window"), "no window/sort: trig aggregates only"),
      ("text_repetition", _.contains("Kernels.shingleHashes"), "native kernel in plan"),
      ("ts_outlier", _.contains("BroadcastHashJoin"), "channel stats broadcast back"),
      // >= 2 occurrences: "partial_graft_topk" contains "graft_topk" as a
      // substring, so a bare contains() would never assert the final mode
      ("ann_batch_agg", p => "graft_topk".r.findAllIn(p).size >= 2 && p.contains("partial_graft_topk"),
        "native bounded aggregate with map-side partial AND final merge"),
      ("ann_batch_agg", p => !p.contains("Window"), "no window sort in aggregate top-k"),
      ("decontaminate", p => p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
        "benchmark hashes broadcast; corpus side never shuffle-joins"),
      ("corpus_stats", _.contains("BroadcastHashJoin"), "stratum-cardinality joins broadcast"),
      ("mad_outlier", p => !p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
        "literal-median scoring pass carries no join at all"),
      ("embed_neardup_lsh", p => !p.contains("CartesianProduct"),
        "LSH candidate generation is a bucket join, never a cross product"),
      ("decontaminate_bloom", _.contains("might_contain"),
        "bloom prefilter reaches the corpus scan"),
      ("ts_spectrum", p => !p.contains("Window"),
        "all spectrum bins in aggregates, no window/sort"),
      // the round-5 skew fix: first-occurrence via min_by partial agg —
      // a Window here would funnel every hot-paragraph instance through
      // one task (SkewStressSpec measures the record-level consequence)
      ("paragraph_dedup", p => !p.contains("Window"),
        "first-occurrence pick is a window-free aggregation"),
      ("paragraph_dedup", _.contains("partial_min_by"),
        "hot paragraph keys collapse map-side (partial min_by)"),
      // the redaction pass must stay a narrow scan: no join, no
      // hash-shuffle (the final orderBy is a range exchange, not hash)
      ("pii_redact", p => !p.contains("Join") && !p.contains("Exchange hashpartitioning"),
        "redaction is one narrow scan pass (no join, no hash shuffle)"),
      ("decontaminate_fuzzy", p => p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
        "benchmark bands broadcast; candidates never cross-product"),
      ("substring_dedup", p => !p.contains("CartesianProduct"),
        "winnow pairing is a fingerprint bucket join, never a cross product"),
      ("substring_dedup", _.contains("Kernels.winnowHashes"),
        "native one-pass winnow kernel in plan"),
      ("source_cap", p => !p.contains("Window") && p.contains("partial_graft_topk"),
        "per-source cap is a bounded heap aggregate (map-side partial), no window sort"),
      ("bm25_search", p => p.contains("BroadcastHashJoin") && p.contains("TakeOrderedAndProject"),
        "df/stats broadcast; top-k bounded, no global sort"),
      // C37: bigram pairing happens inside the token array (zip_with) —
      // the pair stream must reach the (w1,w2) aggregation without a
      // doc-keyed window/sort, and OOV mapping must broadcast the
      // bounded vocabulary, never shuffle the corpus for it
      ("ngram_lm", p => !p.contains("Window"),
        "bigram pairing is array-side: no per-doc window/sort"),
      ("ngram_lm", _.contains("BroadcastHashJoin"),
        "vocabulary mapping joins broadcast (vocab is top-V bounded)"),
      ("lm_score", p => !p.contains("Window") && !p.contains("CartesianProduct"),
        "scoring reuses the pair stream: no window, no cross product"),
      // C38: the bucket->weight table is a literal map Column, so the
      // scoring pass must be a pure narrow scan — no join of any kind
      // and no doc-keyed exchange survive in the plan
      ("dsir_weights", p => !p.contains("Join") && !p.contains("Window") &&
          !p.contains("Exchange hashpartitioning"),
        "scoring is a zero-shuffle narrow scan (literal weight map, no join)"),
      ("dsir_select", _.contains("TakeOrderedAndProject"),
        "Gumbel top-k is a bounded ordered take, no global sort"),
      // C39: lo/hi are literal array Columns, so encoding must be a pure
      // narrow scan — no join, no hash shuffle (the driver-boundary
      // orderBy adds a range exchange, same as pii_redact)
      ("embed_quantize", p => !p.contains("Join") && !p.contains("Exchange hashpartitioning"),
        "encoding is a zero-shuffle narrow scan (literal lo/hi arrays)"),
      // C40: the whole intra-doc dedup happens inside the row's arrays —
      // no generator, no join, no hash exchange at any corpus size
      ("line_dedup", p => !p.contains("Join") && !p.contains("Generate") &&
          !p.contains("Exchange hashpartitioning"),
        "intra-doc segment dedup is one narrow array scan (no explode, no shuffle)"),
      // C41: both retrieval arms end in a bounded take BEFORE fusion —
      // the rank windows and the fusion join see ≤ n rows, not the corpus
      ("rrf_fusion", p => "TakeOrderedAndProject".r.findAllIn(p).size >= 2,
        "both retrieval arms bounded-take before fusion"),
      ("rrf_fusion", p => !p.contains("CartesianProduct"),
        "fusion joins bounded candidate lists, never a cross product"),
      // C42: within-cell pairing is keyed on cell_id; assignment is the
      // literal-fold argmax (no join in the assignment pass)
      ("semdedup", p => !p.contains("CartesianProduct"),
        "within-cell pairing is a cell-keyed join, never a cross product"),
      // C43: codebooks ride as one literal Column — encode and ADC are
      // pure narrow scans; ADC's top-k is a bounded ordered take
      ("pq_encode", p => !p.contains("Join") && !p.contains("Exchange hashpartitioning"),
        "PQ encoding is a zero-shuffle narrow scan (literal codebooks)"),
      ("ann_pq", p => p.contains("TakeOrderedAndProject") &&
          !p.contains("Exchange hashpartitioning"),
        "ADC search is a narrow scan + bounded ordered take"),
      // C43c: cell pruning joins the broadcast probed-cell list; scoring
      // and the final take never hash-shuffle the corpus
      ("ann_ivf_pq", p => p.contains("BroadcastHashJoin") &&
          p.contains("TakeOrderedAndProject") && !p.contains("SortMergeJoin"),
        "IVF-PQ: broadcast probed cells, ADC scan, bounded take"),
      // C44b: frozen-weight classifier scoring is the 100 TB deployment
      // pass — one fused-kernel narrow scan, no join, no hash exchange
      ("classifier_score", p => !p.contains("Join") && !p.contains("Exchange hashpartitioning"),
        "classifier scoring is a zero-shuffle fused-kernel scan"),
      // C45: the projection matrix derives from integer constants inside
      // the expression — no stats pass, no join, no hash exchange
      ("embed_project", p => !p.contains("Join") && !p.contains("Exchange hashpartitioning"),
        "JL projection is a zero-shuffle narrow scan (hash-derived matrix)"),
      // C46: the pair stream leaves the scan array-side (no per-doc
      // window); top-k is a bounded ordered take
      ("pmi_top", p => !p.contains("Window") && p.contains("TakeOrderedAndProject"),
        "PMI pairing is array-side; top-k bounded, no global sort"),
      // C47: pair stats explode over the DISTINCT-word dict, top-k is a
      // bounded take; frozen-merge encoding is a pure narrow scan
      ("bpe_pairs", p => !p.contains("Window") && p.contains("TakeOrderedAndProject"),
        "BPE pair stats aggregate the word dict; top-k bounded"),
      ("bpe_encode", p => !p.contains("Join") && !p.contains("Exchange hashpartitioning"),
        "frozen-merge BPE encoding is a zero-shuffle narrow scan"),
      // C48: chunking scope is the row — scan + explode only
      ("chunk_text", p => !p.contains("Join") && !p.contains("Exchange hashpartitioning") &&
          !p.contains("Window"),
        "RAG chunking is a zero-shuffle scan + explode"),
      // B19/B20: static integer algebra + bounded aggregations only
      ("zorder_layout", p => !p.contains("Join") && !p.contains("Window"),
        "Z-order layout evidence: narrow interleave + one bucket aggregate"),
      ("skew_profile", p => !p.contains("Join") && !p.contains("Window"),
        "skew profile: two map-side-combinable aggregations, no window"),
      // C49: negatives selected by the bounded heap aggregate after ONE
      // broadcast of the query set — no window sort, no corpus shuffle
      // beyond the q_id-keyed buffer exchange
      ("hard_negatives", p => !p.contains("Window") && p.contains("partial_graft_topk") &&
          p.contains("BroadcastNestedLoopJoin"),
        "hard-negative mining: queries broadcast, bounded heap top-k, no window"),
      // C50: everything past the (source, slot) min-aggregate is
      // #sources-bounded; the pair stage must join broadcast and the
      // slot mins must combine map-side
      ("source_similarity", p => p.contains("partial_min") && p.contains("BroadcastHashJoin") &&
          !p.contains("Window") && !p.contains("CartesianProduct"),
        "source signatures combine map-side; pair stage joins the bounded slot relation broadcast"),
      // C51: band assignment is a literal fold over the score — the scan
      // pass must carry no join and no window (pass 1's histogram runs
      // at plan-build time, outside this plan)
      ("curriculum_bands", p => !p.contains("Join") && !p.contains("Window"),
        "curriculum banding scores+assigns in one narrow scan (literal cutoffs)"),
      // C43d: both stages bounded takes — never a global sort — and the
      // shortlist's exact re-rank must not re-touch the corpus (no
      // second scan join; the shortlist carries its vectors)
      ("pq_refine", p => p.contains("TakeOrderedAndProject") && !p.contains("Window") &&
          !p.contains("SortMergeJoin"),
        "ADC shortlist and exact re-rank are bounded ordered takes, no global sort"),
      // C52: fingerprint bucket join only — no cross product, native
      // winnow kernel feeding it
      ("containment", p => !p.contains("CartesianProduct") && p.contains("Kernels.winnowHashes"),
        "containment pairs via the fingerprint bucket join over the native winnow kernel"),
      // C53: normalization is a pure narrow scan (pii_redact precedent:
      // the driver-boundary orderBy adds a range exchange, never hash)
      ("normalize_text", p => !p.contains("Join") && !p.contains("Exchange hashpartitioning"),
        "normalization is one narrow scan (native NFC kernel, no join/hash shuffle)"),
      // C54: the survivor pick must be a partial-aggregable struct min —
      // a Window here would funnel hot clusters through one task — and
      // the map-back join stays on the same hash key (no cross product)
      ("canonical_select", p => !p.contains("Window") && p.contains("partial_min") &&
          !p.contains("CartesianProduct"),
        "survivor pick is a map-side-combinable struct min, no window sort"),
      // C55: pass 1 (df aggregation) runs eagerly at call time; the
      // RETURNED plan is pass 2 — the boilerplate set rides as a literal
      // array, so the filter scan carries no join and no hash exchange
      ("boilerplate_segs", p => !p.contains("Join") && !p.contains("Exchange hashpartitioning"),
        "boilerplate filtering is a zero-shuffle narrow scan (literal segment set)"),
      // C56: n-grams assemble array-side (no token-level window); the
      // head is a bounded ordered take, never a global sort
      ("ngram_counts", p => !p.contains("Window") && p.contains("TakeOrderedAndProject"),
        "n-gram profile: array-side assembly, bounded top-k"),
      // C57: scoring inherits C37b's window-free plan; band assignment
      // is a literal fold — no per-lang ntile/range sort anywhere
      ("ppl_bucket", p => !p.contains("Window") && p.contains("BroadcastHashJoin"),
        "per-lang perplexity banding: no window sort; vocab joins broadcast"),
      // C58: full bands admit via a literal-map fold (no join); ONLY the
      // one boundary band per source pays a window — one Window node
      // (tree line + detail line) in the final plan, none elsewhere
      ("budget_select", p => !p.contains("Join") &&
          "Window".r.findAllIn(p.split("== Initial Plan ==").head).size <= 2,
        "token-budget admission: literal-fold full bands, window only on the boundary band"),
      // C59: the entropy pass is one narrow kernel scan (pii_redact
      // precedent: the driver-boundary orderBy adds a range exchange)
      ("entropy_score", p => !p.contains("Join") && !p.contains("Exchange hashpartitioning"),
        "char entropy is a zero-shuffle narrow scan (native one-pass kernel)"),
      // C60: vocabulary maps broadcast; everything past the (source,
      // token) count is (sources x vocab)-bounded; no window anywhere
      ("source_kl", p => p.contains("BroadcastHashJoin") && !p.contains("Window") &&
          !p.contains("CartesianProduct"),
        "source KL: broadcast vocab mapping, bounded post-aggregate relations, no window"),
      // C61: strip chain is one narrow scan (pii_redact precedent: the
      // driver-boundary orderBy adds a range exchange, never hash)
      ("html_strip", p => !p.contains("Join") && !p.contains("Exchange hashpartitioning"),
        "markup strip is a zero-shuffle narrow scan (codegen'd replace chain)"),
      // C62: grams assemble array-side; two map-side-combinable
      // aggregations, no window, no join
      ("ngram_diversity", p => !p.contains("Join") && !p.contains("Window"),
        "distinct-n: array-side grams, two map-side-combinable aggregations"),
      // C63: pairs assemble array-side per offset; top-k bounded
      ("cooccur_top", p => !p.contains("Window") && !p.contains("Join") &&
          p.contains("TakeOrderedAndProject"),
        "co-occurrence pairs array-side; bounded top-k, no window"),
      // C64: one corpus count, bounded top-V take, rank-ordered fold —
      // no window over corpus data (row_number only exists in the oracle)
      ("zipf_fit", p => !p.contains("Window") && !p.contains("Join") &&
          p.contains("TakeOrderedAndProject"),
        "Zipf fit: bounded top-V take + ordered fold, no window/join"),
      // C65: the sketch must combine map-side (one 4 KiB buffer per task
      // crosses the exchange, not the distinct tokens) — and the exact
      // count(distinct) expand/double-shuffle rewrite must be absent
      ("hll_distinct", p => "graft_hll".r.findAllIn(p).size >= 2 && p.contains("partial_graft_hll") &&
          !p.contains("Expand"),
        "distinct sketch combines map-side; no exact-distinct expand rewrite"),
      // B22: every stage is a min-aggregate join of a type-FILTERED scan
      // against the user-cardinality previous stage — no per-user event
      // collection, no window, no cross product
      ("window_funnel", p => !p.contains("Window") && !p.contains("CartesianProduct") &&
          p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,"),
        "windowed funnel: stage filters pushed to scan, min-agg joins, no window"),
      // C66: the split is a zero-shuffle projection over C17's labels —
      // no window beyond C17's own cluster_size window, no cross product
      ("split_safe", p => !p.contains("CartesianProduct"),
        "leakage-safe split inherits the cluster pipeline, no cross product"),
      // C67: the index read must carry bucket PartitionFilters (only the
      // query terms' partition dirs are listed/scanned), broadcast the
      // bucket-pruned df relation, and end in a bounded take
      ("bm25_indexed", p => p.contains("PartitionFilters: [bucket") &&
          p.contains("BroadcastHashJoin") && p.contains("TakeOrderedAndProject"),
        "indexed BM25: bucket partition pruning, broadcast df, bounded top-k"),
      // B23: wedge/closure are hash equi-joins on the degree-ORIENTED
      // edge relation — no cross product anywhere, and the closure is the
      // compressed-adjacency edge iterator: the wedge stream must NOT
      // appear as a row relation (no self-join of oriented on src), only
      // as a codegen'd array_intersect over the joined adjacency arrays
      ("triangle_count", p => !p.contains("CartesianProduct") &&
          p.toLowerCase.contains("array_intersect") &&
          p.toLowerCase.contains("collect_list"),
        "triangle census: compressed-adjacency closure, wedges never materialize"),
      // B21: per-iteration shape — rank relation joins the cached edges
      // (broadcast or co-partitioned hash, never a cross product), final
      // top-k is a bounded take; no Window anywhere in 5 iterations
      ("graph_pagerank", p => !p.contains("CartesianProduct") && !p.contains("Window") &&
          p.contains("TakeOrderedAndProject"),
        "PageRank: rank x edges joins, bounded final take, no window/cross product"),
      // B24: exactly one user-keyed window (the lead), no join at all —
      // the aggregation collapses to type² before any further exchange
      ("event_transitions", p => p.contains("Window") && !p.contains("Join") &&
          p.contains("TakeOrderedAndProject") && p.contains("partial_count"),
        "transition mining: one lead window, map-side-combined type-pair counts, no join"),
      // B26: the whole sessionize+truncate+collect pipeline must reuse
      // ONE user-keyed exchange (HashPartitioning(user) satisfies the
      // (user, session) clustered distributions) — count the Exchanges
      // in the FINAL plan: one for the user shuffle, one for the
      // path-cardinality count, one for the distinct-user expand side
      ("session_paths", p => !p.contains("Join") &&
          p.contains("TakeOrderedAndProject") &&
          p.split("== Initial Plan ==")(0).count(_ == '+') > 0 &&
          "Exchange ".r.findAllIn(p.split("== Initial Plan ==")(0)).size <= 3,
        "session paths: one user shuffle serves both windows + row_number + collect"),
      // B27: all joins are over user-cardinality chain relations (never a
      // cross product), quantiles go through the bucketed rank-select
      // kernel (graft_sortable_bits in the plan) — NOT Spark's value-map
      // `percentile` aggregate, whose per-group hashmap is unbounded
      ("funnel_latency", p => !p.contains("CartesianProduct") &&
          p.toLowerCase.contains("sortablebits") && !p.contains("percentile(") &&
          p.contains("BroadcastHashJoin"),
        "funnel latency: user-sized joins, bucketed rank-select quantiles, broadcast target buckets"),
      // B28: the corpus is scanned ONCE into the checkpointed (type, day)
      // count relation (the downstream plan reads the materialized RDD,
      // never re-scans events), quantiles go through the bucketed
      // rank-select kernel, threshold joins broadcast
      ("anomaly_days", p => !p.contains("CartesianProduct") &&
          p.contains("ExistingRDD") && !p.contains("Scan parquet") &&
          p.toLowerCase.contains("sortablebits") && p.contains("BroadcastHashJoin"),
        "anomaly days: one corpus scan checkpointed, rank-select medians, broadcast thresholds"),
      // B25: one scan, one map-side-combinable aggregation — no join, no
      // window; the 1-field from_json stays in the project
      ("props_profile", p => !p.contains("Join") && !p.contains("Window") &&
          p.contains("from_json") && p.contains("partial_count"),
        "JSON profile: single scan, map-side-combined per-type stats, no join/window"),
      // C71: the join is hash-only on shingle hashes (text never crosses
      // the exchange), final per-doc aggregation map-side combinable
      ("novelty_score", p => !p.contains("CartesianProduct") && !p.contains("Window") &&
          p.contains("Kernels.shingleHashes") && p.contains("partial_count"),
        "novelty: hash-only reference join, no window/cross product"),
      // B29: pair generation is an equi-join keyed on the order (never a
      // cross product over items), pair counts combine map-side, the
      // basket total is ONE broadcast scalar, final top-k bounded
      ("assoc_rules", p => !p.contains("CartesianProduct") && !p.contains("Window") &&
          p.contains("partial_count") && p.contains("TakeOrderedAndProject"),
        "assoc rules: within-order pair join, map-side pair counts, bounded top-k"),
      // B30: customer metrics combine map-side (min/count/long-sum — no
      // window, no Spark value-map percentile), cutoffs go through the
      // bucketed rank-select kernel and ride back as one broadcast row
      ("rfm_segments", p => !p.contains("CartesianProduct") &&
          p.toLowerCase.contains("sortablebits") && !p.contains("percentile(") &&
          p.contains("partial_min"),
        "RFM: map-side customer rollup, rank-select cutoffs, broadcast band bounds"),
      // C73: block-keyed equi-join pair space, native bounded heap with
      // map-side partial — no window sort, no cross product
      ("knn_graph", p => !p.contains("CartesianProduct") && !p.contains("Window") &&
          p.contains("partial_graft_topk"),
        "kNN graph: block equi-join pairs, heap top-k with map-side partial"),
      // C73b: candidates from the banded kernel (bucket join, never a
      // cross product), same heap selection
      ("knn_graph_lsh", p => !p.contains("CartesianProduct") && !p.contains("Window") &&
          p.contains("partial_graft_topk") && p.toLowerCase.contains("hyperplanebands"),
        "LSH kNN graph: banded candidates, heap top-k, no cross product"),
      // C72: C17's per-doc cluster_size window must be PRUNED out of
      // this plan (the histogram recomputes sizes by aggregation)
      ("cluster_hist", p => !p.contains("Window") && !p.contains("CartesianProduct") &&
          p.contains("partial_count"),
        "cluster histogram: window-free double count collapse"),
      // A24: one corpus scan into map-side partial sums; phase stats join
      // back as a broadcast; no window, no per-row second pass
      ("ts_seasonal", p => p.contains("BroadcastHashJoin") &&
          p.contains("partial_sum") && !p.contains("Window") &&
          !p.contains("CartesianProduct"),
        "seasonal profile: map-side sums, broadcast phase join, window-free"),
      // A25: ONE map-side-combinable aggregation — open/close ride struct
      // min/max partials; no join, no window, no sort before the agg
      ("ts_ohlc", p => !p.contains("Join") && !p.contains("Window") &&
          p.contains("partial_min") && p.contains("partial_max"),
        "OHLC bars: single map-side-combined aggregation, no join/window"),
      // B31: component labels aggregate map-side and the census is a
      // bounded take — never a global sort; no cross product anywhere
      // (at the audit SF the edge set gates to the driver union-find, so
      // the label relation enters the plan as a distributed RDD scan)
      ("graph_cc", p => !p.contains("CartesianProduct") &&
          p.contains("partial_count") && p.contains("TakeOrderedAndProject"),
        "connected components: map-side census, bounded take, no cross product"),
      // C67b: the segmented read keeps C67's bucket partition pruning,
      // applies liveDocs as a broadcast ANTI join (tombstones are
      // delta-sized), and stays a bounded take
      ("bm25_delta", p => p.contains("PartitionFilters: [bucket") &&
          p.contains("LeftAnti") && p.contains("TakeOrderedAndProject"),
        "segmented BM25: bucket pruning + broadcast tombstone anti-join + bounded top-k"),
      // C67c: after a FULL compaction the tombstone relation is empty —
      // the query plan must show bucket pruning but NO anti-join at all
      // (the generation-rule join is the cost compaction exists to retire)
      ("bm25_compact", p => p.contains("PartitionFilters: [bucket") &&
          !p.contains("LeftAnti") && p.contains("TakeOrderedAndProject"),
        "compacted BM25: bucket pruning, ZERO tombstone anti-join, bounded top-k"),
      // A26: the STFT's window start is bucket arithmetic, so unlike
      // ts_spectrum there is no channel-start join — every trig sum rides
      // ONE map-side-combinable aggregation; no window, no join at all
      ("ts_spectrogram", p => !p.contains("Window") && !p.contains("Join") &&
          p.contains("partial_sum"),
        "spectrogram: join-free single map-side-combined trig aggregation"),
      // A27: the two chained lag windows and the channel aggregation all
      // need only hash(event_type) — ONE exchange serves the whole plan
      ("ts_hjorth", p => "Exchange hashpartitioning".r
          .findAllIn(p.split("== Initial Plan ==").head).size <= 1 && !p.contains("Join"),
        "Hjorth: one channel exchange shared by lags and aggregation, no join"),
      // A28: epoch-scoped lags and the (channel, epoch) aggregation share
      // one clustering — a single hash exchange, no join
      ("ts_epoch_features", p => "Exchange hashpartitioning".r
          .findAllIn(p.split("== Initial Plan ==").head).size <= 1 && !p.contains("Join"),
        "epoch features: one exchange for lag windows + epoch aggregation, no join"),
      // A29: the corpus collapses map-side to (channel, bucket) partial
      // sums; the cross-channel totals are a window over the COLLAPSED
      // relation — no join anywhere in the plan
      ("ts_car", p => !p.contains("Join") && p.contains("partial_sum") &&
          !p.contains("CartesianProduct"),
        "CAR re-reference: map-side bucket sums, join-free"),
      // A31: all five regression sums ride ONE map-side-combinable
      // aggregation over a narrow scan — no window, no join, no 2nd pass
      ("ts_detrend", p => !p.contains("Window") && !p.contains("Join") &&
          p.contains("partial_sum"),
        "linear detrend: single map-side-combined aggregation, no join/window"),
      // C77: both Flesch formulas are regexp counts + column algebra on
      // one narrow scan — no join, no hash shuffle anywhere
      ("readability", p => !p.contains("Join") && !p.contains("Exchange hashpartitioning"),
        "readability: one narrow codegen scan, no join/shuffle"),
      // B35: ONE user-keyed exchange serves both window frames; the
      // credited relation collapses map-side to (model, touch_type)
      ("attribution", p => !p.contains("Join") &&
          "Exchange hashpartitioning".r.findAllIn(p.split("== Initial Plan ==").head).size <= 2 &&
          p.contains("partial_count"),
        "attribution: one stream exchange + map-side model collapse, no join"),
      // B36: interval containment rides a HASH equi-join on the entity
      // key (residual range predicate) — never a cross product
      ("pit_join", p => !p.contains("CartesianProduct") &&
          (p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
            p.contains("ShuffledHashJoin")),
        "PIT join: hash equi-join on user with interval residual, no cross product"),
      // C79: the d²/2 pair stream aggregates map-side onto d(d+1)/2 keys
      // and the ranking is a bounded take — no join, no global sort
      ("emb_corr", p => !p.contains("Join") && p.contains("partial_sum") &&
          p.contains("TakeOrderedAndProject"),
        "dimension correlation: map-side moment sums + bounded top-k, join-free"),
      // A30: all 4k+3 taper/trig sums ride one map-side aggregation; the
      // completeness filter joins the channel-span relation BROADCAST
      // against the window relation; no window function anywhere
      ("ts_welch", p => p.contains("BroadcastHashJoin") && p.contains("partial_sum") &&
          !p.contains("Window") && !p.contains("SortMergeJoin"),
        "Welch PSD: map-side trig sums, broadcast span join, window-free"),
      // B37: the non-associative fold is ONE hash exchange + in-partition
      // sort + sequential scan — no window function, no join
      ("running_balance", p => !p.contains("Window") && !p.contains("Join") &&
          "Exchange hashpartitioning".r.findAllIn(p.split("== Initial Plan ==").head).size <= 1,
        "clamped balance: secondary sort + one keyed exchange, no window/join"),
      // A32: the cross-spectrum self-join runs on the channels x windows
      // relation (never the corpus); spans broadcast; no window function
      ("ts_coherence", p => !p.contains("CartesianProduct") &&
          p.contains("BroadcastHashJoin") && !p.contains("Window"),
        "coherence: window-relation self-join, broadcast spans, no cross product"),
      // A33: the corpus collapses to the bucket grid FIRST; the n-1 lag
      // windows and their ordering ride one channel exchange of the
      // collapsed relation; no join anywhere
      ("ts_fir", p => !p.contains("Join") &&
          "Exchange hashpartitioning".r.findAllIn(p.split("== Initial Plan ==").head).size <= 2,
        "FIR filter: grid collapse + one channel exchange for the lag chain, no join"),
      // A34: epoch-scoped lag + (channel, epoch) aggregation share one
      // clustering — a single exchange, no join (A28's shape)
      ("ts_artifacts", p => "Exchange hashpartitioning".r
          .findAllIn(p.split("== Initial Plan ==").head).size <= 1 && !p.contains("Join"),
        "artifact gates: one exchange for epoch lag + aggregation, no join"),
      // B38: the stream collapses to distinct user-days FIRST; the
      // rolling window explodes that collapsed relation, never events
      ("rolling_actives", p => !p.contains("Window") && !p.contains("CartesianProduct") &&
          p.contains("partial_count"),
        "rolling actives: user-day collapse first, map-side counts, window-free"),
      // A35: FIR lag chain, envelope frame and run windows all share the
      // channel clustering after the grid collapse; no join anywhere
      ("ts_bursts", p => !p.contains("Join") &&
          "Exchange hashpartitioning".r.findAllIn(p.split("== Initial Plan ==").head).size <= 2,
        "burst detection: grid collapse + one shared channel exchange, no join"),
      // A37: lowpass lag chain + rank stride share the channel
      // clustering after the grid collapse; no join
      ("ts_decimate", p => !p.contains("Join") &&
          "Exchange hashpartitioning".r.findAllIn(p.split("== Initial Plan ==").head).size <= 2,
        "decimation: grid collapse + one shared channel exchange, no join"),
      // B32: change-detect lag, interval lead and version row_number all
      // share one (user, type) clustering — a single exchange, no join
      ("scd2_build", p => "Exchange hashpartitioning".r
          .findAllIn(p.split("== Initial Plan ==").head).size <= 1 && !p.contains("Join"),
        "SCD2 build: one keyed exchange for all three window passes, no join"),
      // C75: candidate generation is a prefix-token bucket join over the
      // native shingle kernel — never a cross product; both join sides
      // read one repartition (ReuseExchange) or AQE broadcasts the side
      ("jaccard_join_exact", p => !p.contains("CartesianProduct") &&
          p.contains("Kernels.shingleHashes") &&
          (p.contains("ReusedExchange") || p.contains("BroadcastHashJoin")),
        "exact similarity join: prefix bucket join, no cross product, shared exchange"),
      // C76: key computation is a zero-shuffle narrow scan; selection is a
      // bounded ordered take — no hash exchange, no join, no global sort
      ("sample_weighted", p => p.contains("TakeOrderedAndProject") &&
          !p.contains("Exchange hashpartitioning") && !p.contains("Join"),
        "weighted sampling: narrow key scan + bounded take, no shuffle/join"),
      // B33: interval candidates equi-join on grid cells — a plain range
      // predicate would plan the cross product this operator exists to
      // avoid; both sides read one repartition (or AQE broadcasts)
      ("interval_join", p => !p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin") &&
          (p.contains("ReusedExchange") || p.contains("BroadcastHashJoin")),
        "interval join: cell-keyed hash join, never a cross product"),
      // B34: the declared query's rounds are materialized checkpoints, so
      // the census plan is checked here (bounded take, window-free) and
      // the per-round vote + struct-min shape is asserted on the kernel
      // itself in lib:lpa_round below
      ("graph_lpa", p => !p.contains("CartesianProduct") && !p.contains("Window") &&
          p.contains("partial_count") && p.contains("TakeOrderedAndProject"),
        "LPA census: map-side counts, window-free, bounded take"),
      // C67d scan floor: the whole match is array-side in one narrow scan
      ("phrase_search", p => p.contains("TakeOrderedAndProject") &&
          !p.contains("Join") && !p.contains("Exchange hashpartitioning"),
        "phrase scan: zero-shuffle array-side match + bounded take"),
      // C67d indexed: bucket partitions prune and the corpus text is
      // NEVER re-read — only the positional postings enter the plan
      ("phrase_indexed", p => p.contains("PartitionFilters: [bucket") &&
          !p.contains("documents.parquet") && p.contains("TakeOrderedAndProject"),
        "phrase index: bucket pruning, no corpus re-scan, bounded take"))

    // EDF DSv2 scan: channel + time predicates must reach the source
    // (per-signal ranged reads + record-window partition pruning)
    val edfPath = java.nio.file.Files.createTempDirectory("planaudit-edf").resolve("audit.edf").toString
    writeAuditEdf(edfPath)
    val edfDf = spark.read.format("edf").load(edfPath)
      .filter(org.apache.spark.sql.functions.col("channel") === "ch000" &&
        org.apache.spark.sql.functions.col("ts_us") < Long.MaxValue / 2)
    edfDf.collect()
    val edfScanDesc = edfDf.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.description() }
      .getOrElse("")
    // the scan hands batches to a ColumnarToRow boundary, never rows
    val edfColumnar = edfDf.queryExecution.executedPlan.exists {
      case c: org.apache.spark.sql.execution.ColumnarToRowExec => c.child.exists {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.supportsColumnar
        case _ => false
      }
      case _ => false
    }
    val edfChecks: Seq[(String, Boolean, String)] = Seq(
      ("edf_scan", edfScanDesc.contains("EqualTo(channel,"), "channel predicate pushed to EDF scan"),
      ("edf_scan", edfScanDesc.contains("LessThan(ts_us,"), "time predicate pushed to EDF scan"),
      ("edf_scan", edfColumnar, "EDF scan is columnar, under ColumnarToRow"))

    // Library-API sort-freedom: operator methods called DIRECTLY (not
    // through SparkEntry.queries, which adds the oracle-determinism sort
    // at the driver boundary) must not carry a global sort — at 100 TB a
    // rangepartitioning exchange of the whole corpus would be the most
    // expensive stage of an otherwise exchange-free plan. The narrow
    // scan-shaped operators must in fact plan with ZERO exchanges.
    val t = Tables(spark, sfDir)
    def libPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")) +
        "\n" + df.queryExecution.executedPlan.toString
    }
    val libChecks: Seq[(String, Boolean, String)] = Seq(
      ("lib:pii_redact", !libPlan(operators.TextAnalysis.piiRedact(t)).contains("Exchange"),
        "library redaction is a zero-exchange narrow scan (sort-free API)"),
      ("lib:token_count", !libPlan(operators.TextAnalysis.tokenCount(t)).contains("Exchange"),
        "library token counting is a zero-exchange narrow scan (sort-free API)"),
      ("lib:gopher_rules", !libPlan(operators.TextAnalysis.gopherRules(t)).contains("Exchange"),
        "library gopher rules are a zero-exchange narrow scan (sort-free API)"),
      ("lib:fingerprint", !libPlan(operators.TextAnalysis.fingerprint(t)).contains("Exchange"),
        "library fingerprinting is a zero-exchange narrow scan (sort-free API)"),
      ("lib:line_dedup", !libPlan(operators.TextAnalysis.lineDedup(t)).contains("Exchange"),
        "library intra-doc dedup is a zero-exchange narrow scan (sort-free API)"),
      ("lib:pq_encode", !libPlan(operators.Similarity.pqEncode(t)).contains("Exchange"),
        "library PQ encoding is a zero-exchange narrow scan (sort-free API)"),
      // C79c: after the bounded moment job resolves the rotation, the
      // whiten+encode APPLY pass is a zero-exchange narrow scan — the
      // rotation and codebooks both ride as literals
      ("lib:pq_whiten", !libPlan(operators.Similarity.pqEncodeWhitened(t)).contains("Exchange"),
        "whiten -> PQ apply pass is a zero-exchange narrow scan (literal rotation + codebooks)"),
      ("lib:curate", !libPlan(operators.TextAnalysis.curate(t)).contains("rangepartitioning"),
        "library curation carries no global sort"),
      ("lib:corpus_delta", !libPlan(operators.TextAnalysis.corpusDelta(t)).contains("rangepartitioning"),
        "library snapshot delta carries no global sort (one co-partitioned hash join)"),
      ("lib:refresh_incremental",
        !libPlan(operators.TextAnalysis.refreshIncremental(t)).contains("rangepartitioning"),
        "incremental refresh carries no global sort (delta join + semi-joined compute)"),
      ("lib:lpa_round", {
        import org.apache.spark.sql.functions.col
        // one lazy LPA round (nothing persisted or checkpointed): the
        // vote count must combine map-side and the argmax must be a
        // struct-min partial aggregate, never a window (a fused mode()
        // round was measured ~20 % slower at sf1 — see
        // Analytics.lpaRound)
        val e = t.lineitem.limit(64)
          .select((col("l_partkey") % 8L).as("a"), (col("l_suppkey") % 8L + 8L).as("b"))
          .distinct()
        val labels = e.select(col("a").as("node"), col("a").as("lbl")).distinct()
        val plan = libPlan(operators.Analytics.lpaRound(labels, e))
        plan.contains("partial_min") && !plan.contains("Window")
      }, "LPA round: map-side votes + struct-min pick, window-free (kernel plan)"),
      ("lib:neardup_incremental", {
        import org.apache.spark.sql.functions.col
        val docs = t.documents.select(col("doc_id"), col("text"))
        val prev = operators.TextAnalysis.simulatedPrev(docs)
        !libPlan(operators.Dedup.ngramJaccardIncremental(docs, prev,
          operators.Dedup.minhashBands(prev, 3, 8, 4),
          operators.Dedup.ngramJaccardDocs(prev, 3, 8, 4, 0.0)))
          .contains("rangepartitioning")
      }, "incremental near-dup maintenance carries no global sort"))

    var failed = 0
    edfChecks.foreach { case (q, ok, what) =>
      if (!ok) failed += 1
      println(s"[audit] ${if (ok) "PASS" else "FAIL"} $q: $what")
    }
    libChecks.foreach { case (q, ok, what) =>
      if (!ok) failed += 1
      println(s"[audit] ${if (ok) "PASS" else "FAIL"} $q: $what")
    }
    val plans = scala.collection.mutable.Map[String, String]()
    checks.foreach { case (q, pred, what) =>
      val plan = plans.getOrElseUpdate(q, {
        val df = SparkEntry.queries(q)(spark, sfDir)
        // drive THIS QueryExecution so its adaptive plan finalizes
        df.collect()
        df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted")) +
          "\n" + df.queryExecution.executedPlan.toString
      })
      val ok = pred(plan)
      if (!ok) failed += 1
      println(s"[audit] ${if (ok) "PASS" else "FAIL"} $q: $what")
    }
    if (args.contains("--dump")) plans.foreach { case (q, p) => println(s"\n===== $q =====\n$p") }
    val total = checks.size + edfChecks.size + libChecks.size
    println(s"[audit] ${total - failed}/$total plan checks pass")
    spark.stop()
  }

  /** The EDF pushdown check's input: EDF+C, signals "ch000" and "ch001",
    * 16 records of 1 s at 256 samples each, every sample digital 0.
    */
  private def writeAuditEdf(path: String): Unit = {
    val (ns, samples, records) = (2, 256, 16)
    val out = new java.io.ByteArrayOutputStream()
    def field(v: String, width: Int): Unit =
      out.write(v.padTo(width, ' ').getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def perSignal(v: Int => String, width: Int): Unit = (0 until ns).foreach(s => field(v(s), width))
    field("0", 8); field("audit", 80); field("audit", 80); field("01.01.24", 8); field("00.00.00", 8)
    field((256 + ns * 256).toString, 8); field("EDF+C", 44); field(records.toString, 8)
    field("1", 8); field(ns.toString, 4)
    perSignal(s => f"ch$s%03d", 16); perSignal(_ => "", 80); perSignal(_ => "uV", 8)
    perSignal(_ => "-3276.8", 8); perSignal(_ => "3276.7", 8)
    perSignal(_ => "-32768", 8); perSignal(_ => "32767", 8)
    perSignal(_ => "", 80); perSignal(_ => samples.toString, 8); perSignal(_ => "", 32)
    out.write(new Array[Byte](ns * samples * 2 * records))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), out.toByteArray): Unit
  }
}
