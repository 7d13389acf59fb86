package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registry of LLM-data-pipeline operator queries (text analysis, dedup,
  * similarity search) for the driver contract. Binary/array-valued
  * operators are registered through their scalar `*Check` projections
  * (md5 digests + counts) so every query is hash-comparable; every entry
  * is DuckDB-verified.
  */
object OpsQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ANALYZE-style per-column profile (nulls/distinct/min/max, one scan)
    "events_column_profile" -> ((s, dir) => TableProfile.events(s, dir)),
    // the scale tier: hll_sketch UDAF per column replaces the exact
    // multi-distinct Expand — one scan, constant per-task state
    "events_column_profile_approx" -> ((s, dir) => TableProfile.eventsApprox(s, dir)),
    // metadata-only COUNT/MIN/MAX from parquet footer stats (v2 source
    // aggregate pushdown, self-enforced in the plan)
    "events_stats_fast" -> ((s, dir) => TableProfile.eventsStatsFast(s, dir)),
    // classic OLAP shapes over the star tables (TPC-H Q1/Q3/Q5 patterns)
    "olap_pricing" -> ((s, dir) => Olap.q1Pricing(s, dir)),
    "olap_revenue_topk" -> ((s, dir) => Olap.q3Revenue(s, dir)),
    "olap_local_supplier" -> ((s, dir) => Olap.q5LocalSupplier(s, dir)),
    // grouped Pearson correlation from exact decimal moment sums
    "olap_corr" -> ((s, dir) => Olap.corrQtyPrice(s, dir)),
    // join-shape completeness: semi (Q4), outer histogram (Q13), anti (Q22)
    "olap_priority_semi" -> ((s, dir) => Olap.q4PrioritySemi(s, dir)),
    // global NTILE without a single-partition sort (two-tier ranking)
    "events_user_deciles" -> ((s, dir) => Olap.userDeciles(s, dir)),
    // RFM segmentation: three quartile rankings over customer grain
    "orders_rfm" -> ((s, dir) => Olap.rfm(s, dir)),
    // INTERSECT / EXCEPT relational set operators
    "events_set_ops" -> ((s, dir) => Olap.setOps(s, dir)),
    // theta-sketch set algebra: union/intersection distinct estimates
    // from KMV sketches alone, exact-confirmed
    "events_kmv_setops" -> ((s, dir) => Sketch.kmvSetOps(s, dir)),
    // transparent materialized-view serving: the optimizer rule rewrites
    // the plain daily-count aggregate to scan the pre-built rollup
    "events_daily_mv" -> ((s, dir) => graft.plans.MvRewrite.check(s, dir)),
    // the persisted+incremental MV lifecycle: versioned artifact,
    // one-day fold, served through the same rewrite rule
    "events_daily_mv_incremental" -> ((s, dir) => graft.plans.MvRewrite.incrementalCheck(s, dir)),
    // lakehouse time travel: version-retention window + AS OF reads;
    // the cross-version diff never touches the fact table
    "mv_time_travel" -> ((s, dir) => TimeTravel.check(s, dir)),
    // plan-fingerprint result cache: second serve of an identical plan
    // hits the stored result; source rewrites invalidate structurally
    "result_cache_daily" -> ((s, dir) => TimeTravel.resultCacheCheck(s, dir)),
    // EXACT median by distributed selection (histogram bin search) —
    // three bounded passes, never a total-order shuffle
    "events_exact_median" -> ((s, dir) => ExactQuantile.exactMedian(s, dir)),
    "events_exact_quantiles" -> ((s, dir) => ExactQuantile.exactQuantiles(s, dir)),
    // EWMA smoothing with exact cross-engine arithmetic (alpha=1/2,
    // 28-day memory: integer cents x powers of two never round)
    "events_ewma" -> ((s, dir) => EventsOps.ewma(s, dir)),
    // Efraimidis-Spirakis weighted sampling WITHOUT replacement: one
    // pass, exponential keys, global top-k on the native heap operator
    "sample_weighted_noreplace" -> ((s, dir) => Sampling.weightedSample(s, dir)),
    "olap_cust_dist" -> ((s, dir) => Olap.q13CustDist(s, dir)),
    "olap_idle_customers" -> ((s, dir) => Olap.q22IdleCustomers(s, dir)),
    // second tranche of TPC-H shapes: bilateral volume (Q7), market
    // share (Q8), profit rollup (Q9), returned-revenue top-k (Q10),
    // scalar-threshold value list (Q11), scalar-max supplier (Q15),
    // correlated-avg small-qty (Q17), HAVING-gated big orders (Q18),
    // disjunctive DNF (Q19), GROUPING SETS, correlated-min (Q2)
    "olap_volume_shipping" -> ((s, dir) => OlapTpch.q7VolumeShipping(s, dir)),
    "olap_market_share" -> ((s, dir) => OlapTpch.q8MarketShare(s, dir)),
    "olap_product_profit" -> ((s, dir) => OlapTpch.q9ProductProfit(s, dir)),
    "olap_returned_top" -> ((s, dir) => OlapTpch.q10ReturnedTop(s, dir)),
    "olap_part_value" -> ((s, dir) => OlapTpch.q11PartValue(s, dir)),
    "olap_top_supplier" -> ((s, dir) => OlapTpch.q15TopSupplier(s, dir)),
    "olap_small_qty" -> ((s, dir) => OlapTpch.q17SmallQty(s, dir)),
    "olap_big_orders" -> ((s, dir) => OlapTpch.q18BigOrders(s, dir)),
    "olap_disjunctive" -> ((s, dir) => OlapTpch.q19Disjunctive(s, dir)),
    "olap_grouping_sets" -> ((s, dir) => OlapTpch.groupingSets(s, dir)),
    "olap_min_bal_supplier" -> ((s, dir) => OlapTpch.q2MinBalSupplier(s, dir)),
    "olap_problem_suppliers" -> ((s, dir) => OlapTpch.q21ProblemSuppliers(s, dir)),
    // third tranche — completes the 22-skeleton TPC-H catalog: forecast
    // scalar (Q6), late-lines CASE split (Q12), promo share (Q14),
    // descriptor supplier counts with NOT IN (Q16), nested-agg
    // concentration threshold (Q20)
    "olap_forecast" -> ((s, dir) => OlapTpch3.q6Forecast(s, dir)),
    "olap_late_lines" -> ((s, dir) => OlapTpch3.q12LateLines(s, dir)),
    "olap_promo_share" -> ((s, dir) => OlapTpch3.q14PromoShare(s, dir)),
    "olap_supplier_cnt" -> ((s, dir) => OlapTpch3.q16SupplierCnt(s, dir)),
    "olap_excess_share" -> ((s, dir) => OlapTpch3.q20ExcessShare(s, dir)),
    // recursive-CTE hierarchy closure + native UNPIVOT reshape
    "part_hierarchy_rollup" -> ((s, dir) => OlapTpch.partHierarchy(s, dir)),
    "lineitem_unpivot" -> ((s, dir) => OlapTpch.unpivotMeasures(s, dir)),
    // text analysis
    "text_stats" -> ((s, dir) => TextMetrics.stats(s, dir)),
    // unicode NFC canonicalization (codegen'd custom Expression) over a
    // planted decomposed/precomposed fixture; DuckDB replays natively
    "text_normalize" -> ((s, dir) => Normalize.report(s, dir)),
    "text_lang_id" -> ((s, dir) => TextMetrics.langId(s, dir)),
    // langId evaluated against the labeled corpus: confusion matrix + recall
    "lang_confusion" -> ((s, dir) => TextMetrics.langConfusion(s, dir)),
    "text_quality" -> ((s, dir) => TextMetrics.quality(s, dir)),
    // source-fair quality filtering: within-source percentile from a
    // grid-bounded histogram CDF (never a per-doc rank window)
    "quality_calibrated" -> ((s, dir) => QualityModel.calibrated(s, dir)),
    // model-based quality filter: fixed-weight logistic over the features
    "quality_model" -> ((s, dir) => QualityModel.score(s, dir)),
    // bigram stupid-backoff LM perplexity, trained on the train split
    "lm_score" -> ((s, dir) => LangModel.score(s, dir)),
    // CCNet-style segment-level corpus dedup (keep first occurrence)
    "dedup_segments" -> ((s, dir) => SegmentDedup.report(s, dir)),
    // content-defined chunking: hash-boundary chunks + corpus dup card
    "text_cdc_chunks" -> ((s, dir) => CdcChunk.report(s, dir)),
    // Misra-Gries heavy hitters + exact confirm pass
    "heavy_hitters" -> ((s, dir) => Sketch.heavyHitters(s, dir)),
    // apply the top-k ranked BPE merges to every document
    "bpe_encode" -> ((s, dir) => TextPrep.bpeEncode(s, dir)),
    // blocked fuzzy similarity join over part names (entity resolution)
    "fuzzy_parts" -> ((s, dir) => FuzzyJoin.parts(s, dir)),
    // per-source data card: volumes, quality, dup rate, dominant language
    "corpus_profile" -> ((s, dir) => Profile.corpusProfile(s, dir)),
    // per-source language-mix card: entropy + dominant share
    "source_lang_entropy" -> ((s, dir) => Profile.langEntropy(s, dir)),
    // the same card maintained via mergeable partial state (MV pattern)
    "corpus_profile_incremental" -> ((s, dir) => Profile.corpusProfileIncremental(s, dir)),
    // cross-source near-dup matrix (syndication detection)
    "dedup_source_overlap" -> ((s, dir) => Dedup.sourceOverlap(s, dir)),
    // near-dup cluster-size histogram (dup concentration diagnostic)
    "dedup_cluster_sizes" -> ((s, dir) => Dedup.clusterSizes(s, dir)),
    // which sources leak the eval set
    "contamination_by_source" -> ((s, dir) => Contamination.bySource(s, dir)),
    // per-source shingle-set Jaccard between corpus halves (text drift)
    "corpus_shingle_drift" -> ((s, dir) => Dedup.shingleDrift(s, dir)),
    // the data card folded from STREAMED deliveries (foreachBatch state)
    "stream_profile" -> ((s, dir) => graft.streaming.DocStream.profileCheck(s, dir)),
    // cross-batch exact dedup against externalized fingerprint state
    "stream_dedup_docs" -> ((s, dir) => graft.streaming.DocStream.dedupCheck(s, dir)),
    // sliding 1h/15min windows (4 windows per event, complete mode)
    "stream_sliding" -> ((s, dir) => graft.streaming.EventStream.slidingCheck(s, dir)),
    // built-in session_window aggregate (append mode, watermark-gated)
    "stream_session_window" -> ((s, dir) => graft.streaming.EventStream.sessionWindowCheck(s, dir)),
    // streaming NEAR-dedup: per-batch LSH-index probe + exact verify
    // against streamed state; earlier delivery's survivor kept
    "stream_neardups" -> ((s, dir) => graft.streaming.DocStream.nearDupsCheck(s, dir)),
    // keep-with-probability-quality soft filter + calibration report
    "sample_quality_weighted" -> ((s, dir) => Sampling.qualityWeighted(s, dir)),
    // preference pairs: quality argmax vs argmin per (source, lang)
    "pref_pairs" -> ((s, dir) => Preference.pairs(s, dir)),
    // synthetic-annotator agreement card + Fleiss' kappa
    "rater_agreement" -> ((s, dir) => Preference.raterAgreement(s, dir)),
    // one-row key-skew diagnostic for the events aggregation key
    "events_skew_report" -> ((s, dir) => Salting.skewReport(s, dir)),
    // per-source PII span counts and affected-document counts
    "pii_stats" -> ((s, dir) => Redact.piiStats(s, dir)),
    // quality-aware survivor per near-dup cluster (keep best, not min-id)
    "dedup_keep_best" -> ((s, dir) => Dedup.keepBest(s, dir)),
    // per-label embedding QA: dims, zero vectors, norm stats
    "emb_stats" -> ((s, dir) => Similarity.embStats(s, dir)),
    // text-store vs vector-store referential integrity per source
    "emb_coverage" -> ((s, dir) => Similarity.coverage(s, dir)),
    // k-NN label agreement of the exact neighbor structure
    "ann_label_purity" -> ((s, dir) => Similarity.labelPurity(s, dir)),
    // length-bucketed batching: per-bucket batch and padding cost
    "batch_padding" -> ((s, dir) => Pack.paddingStats(s, dir)),
    // PSI distribution drift between event-time halves, per value bin
    "events_psi" -> ((s, dir) => Drift.psi(s, dir)),
    // vector-space drift: per-source centroid cosine between corpus
    // halves over ENGINE-derived vectors (exact integer sums)
    "emb_drift" -> ((s, dir) => Drift.embDrift(s, dir)),
    "text_fingerprint" -> ((s, dir) => TextMetrics.fingerprint(s, dir)),
    "text_repetition" -> ((s, dir) => TextMetrics.repetition(s, dir)),
    "text_redact" -> ((s, dir) => Redact.scrub(s, dir)),
    // capstone: keep/drop per doc with first-failing-rule reason
    "corpus_filter" -> ((s, dir) => CorpusFilter.report(s, dir)),
    // write the curated corpus, reload it, reconcile per source
    "corpus_export" -> ((s, dir) => CorpusFilter.export(s, dir)),
    // the full curation DAG chained through materialized files:
    // clean → pack → rollup, reconciled per stage from the reloaded data
    "curation_e2e" -> ((s, dir) => CurationE2e.run(s, dir)),
    // benchmark decontamination: n-gram overlap vs the eval-set slice
    "contamination" -> ((s, dir) => Contamination.report(s, dir)),
    // dedup
    "dedup_exact" -> ((s, dir) => Dedup.exact(s, dir)),
    // corpus-wide repeated n-grams (exact substring-dup signal)
    "dup_ngrams" -> ((s, dir) => Contamination.repeatedNgrams(s, dir)),
    // per-doc corpus-unique n-gram fraction (novelty/diversity signal)
    "text_novelty" -> ((s, dir) => Contamination.novelty(s, dir)),
    "dedup_shingle_stats" -> ((s, dir) => Dedup.shingleStats(s, dir)),
    "dedup_lsh_bands" -> ((s, dir) => Dedup.bands(s, dir)),
    "dedup_candidates" -> ((s, dir) => Dedup.candidates(s, dir)),
    // signature-estimate vs exact-Jaccard calibration per candidate pair
    "dedup_minhash_calibration" -> ((s, dir) => Dedup.minhashCalibration(s, dir)),
    "dedup_neardups" -> ((s, dir) => Dedup.nearDups(s, dir)),
    // asymmetric containment |A∩B|/|A| over the candidate pairs — the
    // quoted-inside/boilerplate-wrapping case resemblance misses
    "dedup_containment" -> ((s, dir) => Dedup.containment(s, dir)),
    // incoming batch vs corpus band index: no corpus-corpus pairs
    "dedup_incremental" -> ((s, dir) => Dedup.incrementalNearDups(s, dir)),
    // train/val/test leakage audit over near-dup pairs
    "split_leakage" -> ((s, dir) => Dedup.splitLeakage(s, dir)),
    "dedup_multisignal" -> ((s, dir) => Dedup.multiSignal(s, dir)),
    "dedup_canonical" -> ((s, dir) => Dedup.canonical(s, dir)),
    "simhash" -> ((s, dir) => SimHash.signatures(s, dir)),
    "simhash_pairs" -> ((s, dir) => SimHash.candidates(s, dir)),
    // similarity search
    "ann_topk" -> ((s, dir) => Similarity.bruteForceTopK(s, dir)),
    "ann_lsh_buckets" -> ((s, dir) => Similarity.lshBuckets(s, dir)),
    "ann_bucket_stats" -> ((s, dir) => Similarity.bucketStats(s, dir)),
    "ann_multiprobe" -> ((s, dir) => Similarity.multiprobeTopK(s, dir)),
    // 0.3: this corpus is near-random (max pairwise cosine ≈ 0.5), so a
    // production-style 0.9 cut returns empty; 0.3 exercises the refine
    "emb_neardups" -> ((s, dir) => Similarity.cosineNearDups(s, dir, threshold = 0.3)),
    // SemDeDup: k-means-cluster-bounded semantic dedup reusing the IVF
    // assignment as the clustering (threshold matched to emb_neardups'
    // corpus calibration)
    "dedup_semantic" -> ((s, dir) => Similarity.semDedup(s, dir, threshold = 0.3)),
    // SemDeDup end-to-end from text: cluster-bounded pairwise cosine over
    // the ENGINE-DERIVED vectors (real near-dup texts score ≈1 here,
    // unlike the isotropic fixture — hence the production 0.8 cut)
    "dedup_semantic_derived" -> ((s, dir) =>
      Similarity.semDedup(s, dir, threshold = 0.8, corpus = Featurize.corpus)),
    // retrieval quality: recall@10 of both approximate paths vs brute force
    "ann_recall" -> ((s, dir) => Recall.atK(s, dir)),
    // matryoshka truncation recall: how much neighborhood structure
    // each prefix width retains vs the full-dimension truth
    "emb_matryoshka" -> ((s, dir) => Recall.matryoshka(s, dir)),
    // product quantization: 4-bit codes per subspace, ADC top-k, recall
    "pq_codes" -> ((s, dir) => Pq.codes(s, dir)),
    "pq_topk" -> ((s, dir) => Pq.topK(s, dir)),
    "pq_recall" -> ((s, dir) => Recall.pqAtK(s, dir)),
    // the composed production stack: IVF probes → ADC over codes → rerank
    "ivfpq_topk" -> ((s, dir) => Pq.ivfPqTopK(s, dir)),
    // engine-produced embeddings: hashing-trick n-gram featurizer over
    // documents.text — unit-norm vector exploded to (doc_id, pos, feature)
    "emb_featurize" -> ((s, dir) => Featurize.featurized(s, dir)),
    // IVF top-k over the DERIVED vectors — text → vector → index → search
    // end-to-end, no fixture embeddings anywhere in the chain; answered
    // from the PERSISTED index (the serve path), not an inline rebuild
    "ann_topk_derived" -> ((s, dir) => AnnIndex.topKDerived(s, dir)),
    // the full residual IVF-PQ stack (probe → ADC → rerank) on derived
    // vectors — same code path as ivfpq_topk, different VecCorpus
    "ivfpq_topk_derived" -> ((s, dir) =>
      Pq.ivfPqTopK(s, dir, queryMod = 200, corpus = Featurize.corpus)),
    // persisted index: build writes the IVF/PQ artifacts as one atomic
    // version; serve answers ENTIRELY from the loaded artifacts and
    // must hash-equal the from-source recompute
    "ann_index_build" -> ((s, dir) => AnnIndex.buildReport(s, dir)),
    "ann_index_serve" -> ((s, dir) => AnnIndex.serve(s, dir)),
    "ivf_assign" -> ((s, dir) => Ivf.assignments(s, dir)),
    "ivf_list_stats" -> ((s, dir) => Ivf.listStats(s, dir)),
    "ivf_topk" -> ((s, dir) => Ivf.topK(s, dir)),
    // filtered vector search: metadata predicate (query's label) applied
    // BEFORE scoring — exact pre-filter baseline + the IVF-probed path
    "ann_topk_filtered" -> ((s, dir) => Similarity.filteredTopK(s, dir)),
    "ivf_topk_filtered" -> ((s, dir) => Ivf.filteredTopK(s, dir)),
    // incremental index maintenance: a held-out batch folded into the
    // frozen base index (no recluster), per-list growth + rebalance flag
    "ivf_append" -> ((s, dir) => Ivf.appendReport(s, dir)),
    // the same maintenance composed with the persisted-index protocol:
    // frozen centroids loaded from a committed version, growth read
    // back across the v0->v1 retention window
    "ivf_append_persisted" -> ((s, dir) => Ivf.appendCommit(s, dir)),
    // events / time series
    "events_daily" -> ((s, dir) => EventsOps.daily(s, dir)),
    // state+delta partial-agg merge == the one-pass rollup (MV maintenance)
    "events_daily_incremental" -> ((s, dir) => EventsOps.dailyIncremental(s, dir)),
    "events_sessions" -> ((s, dir) => EventsOps.sessions(s, dir)),
    // ordered per-session action sequences — behavioral/agent training
    // examples assembled with a deterministic distributed sort
    "events_trajectories" -> ((s, dir) => EventsOps.trajectories(s, dir)),
    // CDC apply: final state from an I/U/D change log via map-side
    // max_by latest-wins with tombstone drop (the MERGE INTO pattern)
    "cdc_apply" -> ((s, dir) => EventsOps.cdcApply(s, dir)),
    "events_top_users" -> ((s, dir) => EventsOps.topUsers(s, dir)),
    "events_pivot" -> ((s, dir) => EventsOps.dailyPivot(s, dir)),
    "events_props" -> ((s, dir) => EventsOps.propsStats(s, dir)),
    // schema-on-read profiler: key inventory + regex type votes over a
    // planted-heterogeneity props column, invalid payloads tolerated
    "events_props_keys" -> ((s, dir) => EventsOps.propsKeys(s, dir)),
    "events_quantiles" -> ((s, dir) => EventsOps.valueQuantiles(s, dir)),
    "events_rollup" -> ((s, dir) => EventsOps.dailyRollup(s, dir)),
    // full grouping lattice with subtotal-vs-NULL disambiguation
    "events_cube" -> ((s, dir) => EventsOps.dailyCube(s, dir)),
    "events_funnel" -> ((s, dir) => EventsOps.funnel(s, dir)),
    "events_retention" -> ((s, dir) => EventsOps.retention(s, dir)),
    "events_anomaly" -> ((s, dir) => EventsOps.dailyAnomalies(s, dir)),
    // same detector with the weekly cycle removed: per-(type, day-of-
    // week) baseline, portable epoch-day dow arithmetic
    "events_anomaly_dow" -> ((s, dir) => EventsOps.seasonalAnomalies(s, dir)),
    // last-touch purchase attribution within a 1h window
    "events_attribution" -> ((s, dir) => EventsOps.attribution(s, dir)),
    // hash-bucket A/B readout: per-arm conversion + pooled z-statistic
    "events_abtest" -> ((s, dir) => Experiment.abTest(s, dir)),
    // one-sided CUSUM over per-type daily counts (integer recursion)
    "events_cusum" -> ((s, dir) => Experiment.cusum(s, dir)),
    // per-type OLS trend + one-day-ahead forecast from integer sums
    "events_trend" -> ((s, dir) => EventsOps.dailyTrend(s, dir)),
    // 7-day trailing moving average over the daily rollup (window, no
    // extra shuffle of raw events)
    "events_ma" -> ((s, dir) => EventsOps.movingAvg(s, dir)),
    // DAU / trailing-28-day MAU engagement ratio (explode, not range join)
    "events_stickiness" -> ((s, dir) => EventsOps.stickiness(s, dir)),
    // dense daily spine + zero-fill + portable forward-fill per type
    "events_gapfill" -> ((s, dir) => EventsOps.gapFill(s, dir)),
    // linear interpolation over the gap-filled series (bfill/ffill edges)
    "events_interpolate" -> ((s, dir) => EventsOps.interpolate(s, dir)),
    // interval-union engagement time per user (island sweep, no range join)
    "events_coverage" -> ((s, dir) => EventsOps.coverage(s, dir)),
    // k-anonymity equivalence-class histogram at two generalization levels
    "kanon_audit" -> ((s, dir) => Privacy.kAnonymity(s, dir)),
    // two-tier record linkage vs a planted dirty delivery (precision known)
    "entity_resolution" -> ((s, dir) => EntityResolution.customers(s, dir)),
    // identical semantics through the skew-safe two-phase salted plan
    "events_top_users_salted" -> ((s, dir) => Salting.topUsersSalted(s, dir)),
    // KMV distinct sketch: per-day + merged whole-range estimates
    "events_kmv" -> ((s, dir) => Sketch.kmvDistinctUsers(s, dir)),
    // HyperLogLog distinct sketch: constant-size mergeable registers,
    // per-day states max-merged into the whole-range estimate
    "events_hll" -> ((s, dir) => Sketch.hllDistinctUsers(s, dir)),
    // the same sketches through native TypedImperativeAggregate UDAFs
    // (hll_sketch/hll_merge, kmv_sketch/kmv_union): single-buffer
    // passes, map-side partial merge, unchanged oracles
    "events_hll_udaf" -> ((s, dir) => Sketch.hllDistinctUsersUdaf(s, dir)),
    "events_kmv_udaf" -> ((s, dir) => Sketch.kmvDistinctUsersUdaf(s, dir)),
    // cross-session incremental sketch maintenance: persisted per-day
    // HLL state + one-day fold, oracle = the full-rebuild SQL verbatim
    "events_hll_incremental" -> ((s, dir) => SketchState.incrementalReport(s, dir)),
    // mergeable quantile sketch: per-day weighted anchors merged into
    // whole-range estimates with a provable rank-error bound + confirm
    "events_quantiles_sketch" -> ((s, dir) => Sketch.quantileSketch(s, dir)),
    // Count-Min frequency sketch: per-day d×w counter states sum-merged
    // into the whole range; point estimates proven never-under and
    // checked against the ε·N overcount bound
    "events_cms" -> ((s, dir) => Sketch.cmsUserCounts(s, dir)),
    // as-of join (union + carry-forward window) vs DuckDB's native ASOF
    "events_asof" -> ((s, dir) => AsofJoin.purchaseAttribution(s, dir)),
    // binned interval join vs DuckDB's native BETWEEN range join
    "events_interval_join" -> ((s, dir) => RangeJoin.sessionErrorLoad(s, dir)),
    // parquet/orc/csv/json write→read roundtrips, digest-verified
    "io_formats" -> ((s, dir) => graft.io.Formats.roundtrip(s, dir)),
    // small-file compaction: fragment → rebalance-rewrite → invariants
    "compact_roundtrip" -> ((s, dir) => graft.io.Compact.roundtrip(s, dir)),
    // MERGE (upsert+delete+insert) over the manifest table: matched rows
    // are deleted by position, the rest of the files are referenced
    "cow_merge" -> ((s, dir) => graft.io.CowTable.mergeCheck(s, dir)),
    // full row-level lifecycle: MERGE → DELETE WHERE → compact → vacuum,
    // final snapshot read through the compacted manifest
    "cow_lifecycle" -> ((s, dir) => graft.io.CowTable.lifecycleCheck(s, dir)),
    // merge-on-read DELETE by deletion vector: a scattered delete writes
    // O(deleted rows), rewrites ZERO data files; compact materializes
    "cow_dv" -> ((s, dir) => graft.io.CowTable.dvCheck(s, dir)),
    // predicate DELETE with manifest-stats pruning: per-file min/max on a
    // declared stats column turn a date purge into a head-of-timeline
    // scan (fewer files scanned than listed, proven in-band)
    "cow_delete" -> ((s, dir) => graft.io.CowTable.deleteCheck(s, dir)),
    // additive schema evolution: a merge source with a new column widens
    // the schema; untouched files read back NULL for it, unrewritten
    "cow_evolve" -> ((s, dir) => graft.io.CowTable.evolveCheck(s, dir)),
    // change data feed: row-level diff of two committed versions from
    // the files present in exactly one manifest — O(changed files)
    "cow_changes" -> ((s, dir) => graft.io.CowTable.changesCheck(s, dir)),
    // exactly-once streaming MERGE into the cow table: txn-stamped
    // commits make checkpoint replays no-ops (replay proven in-band)
    "stream_cow_merge" -> ((s, dir) => graft.streaming.CowStream.mergeCheck(s, dir)),
    // CDC replay completeness: v0 snapshot + folded change feed ==
    // final table, across merge, vector delete and delete where
    "cow_cdf_replay" -> ((s, dir) => graft.io.CowTable.cdfReplayCheck(s, dir)),
    // VARCHAR natural keys (the reference's dimension identities):
    // string clustering key with bucketed discovery + stats pruning
    "cow_string_key" -> ((s, dir) => graft.io.CowTable.stringKeyCheck(s, dir)),
    // SQL DML surface: DELETE FROM / INSERT INTO / SELECT through the
    // V2 GraftCatalog, against the same manifest the API paths commit
    "cow_sql_delete" -> ((s, dir) => graft.sources.GraftCatalog.check(s, dir)),
    // SQL MERGE INTO / UPDATE through Spark's delta-based row-level
    // framework: deletes land as deletion vectors (zero files
    // rewritten), inserts as new pool files, updates as delete+insert
    "cow_sql_merge" -> ((s, dir) => graft.sources.GraftCatalog.mergeCheck(s, dir)),
    // the 100 TB SQL-MERGE proof: a range-local MERGE INTO whose target
    // rewrite is runtime-pruned to the matched files (group-based COW)
    "cow_sql_merge_pruned" -> ((s, dir) =>
      graft.sources.GraftCatalog.mergePrunedCheck(s, dir)),
    // MERGE WITH SCHEMA EVOLUTION: a source-only column auto-ADDs
    // through column mapping (fresh physical name); untouched files
    // stay untouched and read back NULL
    "cow_sql_merge_evolve" -> ((s, dir) =>
      graft.sources.GraftCatalog.mergeEvolveCheck(s, dir)),
    // OPTIMIZE ZORDER: CALL graft.compact(zorder => 'user_id,d')
    // re-clusters along the Morton curve; a 2-D box predicate proves
    // strictly fewer may-contain files (manifest stats, in-band)
    "cow_zorder_compact" -> ((s, dir) =>
      graft.sources.GraftCatalog.zorderCompactCheck(s, dir)),
    // composite clustering key (o_custkey, o_orderkey): MERGE joins
    // on the full tuple (group route, runtime-pruned), UPDATE row-
    // identifies by the tuple (delta route, vectors)
    "cow_composite_key" -> ((s, dir) =>
      graft.sources.GraftCatalog.compositeKeyCheck(s, dir)),
    // column mapping: RENAME/DROP COLUMN metadata-only over immutable
    // physical names; re-added names never resurrect dropped data
    "cow_col_mapping" -> ((s, dir) =>
      graft.sources.GraftCatalog.colMappingCheck(s, dir)),
    // spark.readStream.table("graft.t"): bootstrap snapshot + live
    // append batches through the catalog, folded == whole table
    "stream_table_read" -> ((s, dir) =>
      graft.streaming.TableFeed.check(s, dir)),
    // SQL time travel: VERSION AS OF / TIMESTAMP AS OF through the catalog
    "cow_time_travel" -> ((s, dir) =>
      graft.sources.GraftCatalog.timeTravelCheck(s, dir)),
    // RESTORE to a retained version (new metadata-only commit) +
    // CALL graft.history (the DESCRIBE HISTORY commit log)
    "cow_restore" -> ((s, dir) =>
      graft.sources.GraftCatalog.restoreCheck(s, dir)),
    // CHECK constraints: ADD CONSTRAINT validates + stores, every write
    // path enforces per-row, a violating statement fails whole
    "cow_constraint" -> ((s, dir) =>
      graft.sources.GraftCatalog.constraintCheck(s, dir)),
    // column DEFAULT values: ADD COLUMN DEFAULT fills existing rows
    // metadata-only; INSERT omission + SET DEFAULT + UPDATE ... DEFAULT
    "cow_defaults" -> ((s, dir) =>
      graft.sources.GraftCatalog.defaultsCheck(s, dir)),
    // DESCRIBE DETAIL: manifest/meta facts, O(1) rows, no data scan
    "cow_detail" -> ((s, dir) =>
      graft.sources.GraftCatalog.detailCheck(s, dir)),
    // GENERATED ALWAYS AS: expression recomputed on every write
    "cow_generated" -> ((s, dir) =>
      graft.sources.GraftCatalog.generatedCheck(s, dir)),
    // IDENTITY surrogate keys: hwm-committed assignment, dense id space
    "cow_identity" -> ((s, dir) =>
      graft.sources.GraftCatalog.identityCheck(s, dir)),
    // warehouse registry: CREATE TABLE graft.<name> / SHOW TABLES /
    // ALTER TABLE ADD COLUMN (metadata-only) / UPDATE the new column
    "cow_sql_registry" -> ((s, dir) =>
      graft.sources.GraftCatalog.registryCheck(s, dir)),
    // streaming change-data-feed: each committed version = one
    // micro-batch of I/U/D rows; folded stream == final snapshot
    "stream_cdf" -> ((s, dir) => graft.streaming.CdfStream.check(s, dir)),
    // mutating-table CDC fidelity: SQL UPDATE/DELETE/compact folded via
    // changeFeed=true into a replica cow table; compaction emits zero
    // change rows (layout-only), replica == table bit-for-bit
    "stream_cdc_mutate" -> ((s, dir) =>
      graft.streaming.CdfStream.mutateCheck(s, dir)),
    // commit-log streaming: every AtomicPublish version = one exactly-once
    // micro-batch of the graft-artifact DSv2 source (offsets = version ids)
    "stream_publish_feed" -> ((s, dir) => graft.streaming.PublishFeed.check(s, dir)),
    // two materialized table versions diffed from the reloaded files:
    // per-source added/removed/changed/unchanged via key-join row digests
    "snapshot_diff" -> ((s, dir) => SnapshotDiff.report(s, dir)),
    // files written under two schema versions, read back merged: NULL
    // fill for pre-evolution files, union schema, no column loss
    "schema_evolution" -> ((s, dir) => graft.io.SchemaEvolution.report(s, dir)),
    // Structured Streaming rollup run to completion == the batch rollup
    "stream_hourly" -> ((s, dir) => graft.streaming.EventStream.hourlyCheck(s, dir)),
    // streaming dedup of a doubled stream == plain batch counts
    "stream_dedup" -> ((s, dir) => graft.streaming.EventStream.dedupCheck(s, dir)),
    // flatMapGroupsWithState sessionization: emitted (closed) sessions ==
    // batch sessions minus watermark-open finals
    "stream_sessions" -> ((s, dir) => graft.streaming.EventStream.sessionsCheck(s, dir)),
    // stream-static broadcast enrichment == the batch left join
    "stream_enrich" -> ((s, dir) => graft.streaming.EventStream.enrichCheck(s, dir)),
    // watermarked stream-stream join == the batch inner join
    "stream_join" -> ((s, dir) => graft.streaming.EventStream.joinCheck(s, dir)),
    // multi-micro-batch watermark proofs (maxFilesPerTrigger=1): late rows
    // demonstrably dropped, trailing windows demonstrably withheld
    "stream_hourly_incremental" -> ((s, dir) =>
      graft.streaming.EventStream.hourlyIncrementalCheck(s, dir)),
    "stream_join_incremental" -> ((s, dir) =>
      graft.streaming.EventStream.joinIncrementalCheck(s, dir)),
    // checkpoint recovery: three query lifetimes over one checkpoint +
    // parquet file sink; restart must skip processed files, restore the
    // watermark, and commit no duplicates — final sink == the
    // uninterrupted run's oracle
    "stream_recovery" -> ((s, dir) =>
      graft.streaming.EventStream.recoveryCheck(s, dir)),
    // foreachBatch keyed upsert sink: late batch MERGES (vs append-mode
    // drop); batchId-idempotent versioned-state commit, replay-checked
    "stream_upsert" -> ((s, dir) =>
      graft.streaming.EventStream.upsertCheck(s, dir)),
    // streaming HLL: per-batch register deltas max-merged through the
    // versioned-state sink; the oracle is the BATCH sketch SQL verbatim
    "stream_hll" -> ((s, dir) =>
      graft.streaming.EventStream.hllStreamCheck(s, dir)),
    // streaming quantile sketch: per-batch anchor summaries appended
    // through the versioned-state sink; oracle replays the sketch at the
    // finer (type, day, delivery) grain the stream actually folded
    "stream_quantiles" -> ((s, dir) =>
      graft.streaming.EventStream.quantStreamCheck(s, dir)),
    // streaming anomaly monitor: z-scores computed from the folded
    // per-day count state only; oracle is the BATCH detector verbatim
    "stream_anomaly" -> ((s, dir) =>
      graft.streaming.EventStream.anomalyStreamCheck(s, dir)),
    // stream-stream LEFT OUTER join: watermark-gated null emission,
    // boundary arithmetic replayed by the oracle
    "stream_join_outer" -> ((s, dir) =>
      graft.streaming.EventStream.joinOuterCheck(s, dir)),
    // streaming CDC: latest-wins fold with in-state tombstones; oracle
    // is the BATCH cdc_apply SQL verbatim
    "stream_cdc" -> ((s, dir) =>
      graft.streaming.EventStream.cdcStreamCheck(s, dir)),
    // multimodal: mm_features/mm_resize decode REAL BMP payloads with
    // javax.imageio and emit pixel stats the oracle recomputes
    // analytically from the planted pattern; mm_media/mm_frames are the
    // opaque-binary plumbing leg (md5-digest projections)
    "mm_media" -> ((s, dir) => Multimodal.mediaCheck(s, dir)),
    "mm_features" -> ((s, dir) => Multimodal.featuresCheck(s, dir)),
    "mm_frames" -> ((s, dir) => Multimodal.framesCheck(s, dir)),
    "mm_resize" -> ((s, dir) => Multimodal.resizeCheck(s, dir)),
    // perceptual aHash fingerprint over the decoded raster
    "mm_ahash" -> ((s, dir) => Multimodal.imageAHash(s, dir)),
    // perceptual near-dup pairs over twin-planted images (band LSH + verify)
    "mm_ahash_neardups" -> ((s, dir) => Multimodal.ahashNearDups(s, dir)),
    // COMPRESSED-codec leg: the same planted raster as a real
    // deflate-compressed PNG, decoded by ImageIO's PNG reader — the
    // lossless round trip makes the analytic BMP oracles carry over
    "mm_png_features" -> ((s, dir) => Multimodal.pngStats(s, dir)),
    "mm_png_ahash" -> ((s, dir) => Multimodal.pngAHash(s, dir)),
    // LOSSY-codec leg: real JPEG decode, means bounded vs planted truth
    "mm_jpeg" -> ((s, dir) => Multimodal.jpegCheck(s, dir)),
    // energy-hash audio fingerprint over decoded PCM windows
    "mm_audio_fingerprint" -> ((s, dir) => Multimodal.audioFingerprint(s, dir)),
    // real WAV decode: javax.sound parses executor-built PCM payloads;
    // per-window integer stats vs an analytic planted-truth oracle
    "mm_audio" -> ((s, dir) => Multimodal.audioCheck(s, dir)),
    // real AVI demux: own RIFF chunk walker over executor-built
    // containers; per-sampled-frame DIB channel sums vs analytic oracle
    "mm_video" -> ((s, dir) => Multimodal.videoCheck(s, dir)),
    // winnowing rolling-hash fingerprints (custom Catalyst expression;
    // the oracle recomputes the mod-2^64 hash in HUGEINT SQL)
    "winnow_fingerprints" -> ((s, dir) => Winnow.fingerprintsCheck(s, dir)),
    "winnow_neardups" -> ((s, dir) => Winnow.nearDups(s, dir)),
    // training-shard prep: chunking, vocabulary, embedding quantization
    "text_chunks" -> ((s, dir) => TextPrep.chunks(s, dir)),
    "text_vocab" -> ((s, dir) => TextPrep.vocabulary(s, dir)),
    "text_tfidf" -> ((s, dir) => TextPrep.tfIdf(s, dir)),
    "text_shards" -> ((s, dir) => TextPrep.shards(s, dir)),
    // global concat-and-chunk packing via two-tier distributed prefix sum
    "text_pack" -> ((s, dir) => Pack.pack(s, dir)),
    "text_pack_assign" -> ((s, dir) => Pack.assignments(s, dir)),
    // NO-SPLIT shelf packing (SFT variant): whole docs into fixed-
    // capacity bins via closed-form rank arithmetic, waste reported
    "pack_bins" -> ((s, dir) => Pack.bins(s, dir)),
    // BPE merge-candidate scan: top-k adjacent token pairs
    "bpe_pairs" -> ((s, dir) => TextPrep.bpePairs(s, dir)),
    // PMI collocations: top-k adjacent pairs by pointwise mutual
    // information — the phrase-detection statistic tokenizers fuse on
    "text_pmi" -> ((s, dir) => TextPrep.pmi(s, dir)),
    // per-language tokenizer parity: realized merge compression and
    // chars/token by lang — the fairness QA a tokenizer drop ships with
    "bpe_fertility" -> ((s, dir) => TextPrep.fertility(s, dir)),
    // z-order vs single-key layout: per-file (user × day) footprints —
    // the multi-column data-skipping comparison an OPTIMIZE would publish
    "zorder_layout" -> ((s, dir) => Layout.zorderReport(s, dir)),
    // MEASURED skipping: both layouts written (one file per bucket,
    // write-time stats manifest), 2-D box answered from pruned files
    "zorder_skipping" -> ((s, dir) => Layout.zorderSkipping(s, dir)),
    // maximal duplicated substring spans (positional anchors + interval
    // merge — the suffix-array dedup signal, reformulated to shard)
    "dedup_substring" -> ((s, dir) => SubstringDedup.report(s, dir)),
    // Bloom-prefiltered decontamination (exact result; Bloom is invisible)
    "contamination_bloom" -> ((s, dir) => Contamination.flaggedViaBloom(s, dir)),
    "emb_quantize" -> ((s, dir) => TextPrep.quantize(s, dir)),
    // BM25 lexical top-k — the keyword complement of the ANN path
    "text_bm25" -> ((s, dir) => TextPrep.bm25(s, dir)),
    // hybrid retrieval: BM25 ∪ derived-vector cosine fused by RRF
    "retrieval_rrf" -> ((s, dir) => Retrieval.hybridRrf(s, dir)),
    // batch known-item eval: fixed query panel, MRR/nDCG@10 vs planted truth
    "retrieval_eval" -> ((s, dir) => Retrieval.knownItemEval(s, dir)),
    // main-content extraction from planted HTML boilerplate (round-trip)
    "text_extract" -> ((s, dir) => Extract.htmlRoundtrip(s, dir)),
    // per-source cap via the native TopKPerKey operator (crawl balancing)
    "source_quota" -> ((s, dir) => Sampling.sourceQuota(s, dir)),
    // token-budget curriculum: best-first fill of per-source budgets
    "curriculum_select" -> ((s, dir) => Curriculum.select(s, dir)),
    // deterministic hash-based sampling / splitting / mixture weighting
    "sample_stratified" -> ((s, dir) => Sampling.stratifiedDocs(s, dir)),
    "sample_split" -> ((s, dir) => Sampling.split(s, dir)),
    "sample_mixture" -> ((s, dir) => Sampling.mixture(s, dir)),
    // temperature-scaled source mixing (p^0.5) against a token budget
    "sample_temperature" -> ((s, dir) => Sampling.temperatureMixture(s, dir)),
    // deterministic multi-epoch shard/order assignment for the reader
    "epoch_shuffle" -> ((s, dir) => Sampling.epochShuffle(s, dir)),
    // native per-key top-k operator (custom LogicalPlan/Strategy/Exec)
    "topk_native" -> ((s, dir) =>
      graft.plans.TopK.perKey(s,
        graft.Tables.events(s, dir)
          .select("event_id", "ts", "user_id", "event_type", "value"),
        Seq("user_id"), Seq("ts" -> false, "event_id" -> false), 3))
  )

  def oracles: Map[String, String] = Map(
    "events_column_profile" -> TableProfile.eventsSql,
    "events_column_profile_approx" -> TableProfile.eventsApproxSql(),
    "stream_sliding" -> graft.streaming.EventStream.slidingCheckSql,
    "stream_session_window" -> graft.streaming.EventStream.sessionWindowCheckSql(),
    "olap_pricing" -> Olap.q1PricingSql,
    "olap_revenue_topk" -> Olap.q3RevenueSql,
    "olap_local_supplier" -> Olap.q5LocalSupplierSql,
    "olap_corr" -> Olap.corrQtyPriceSql,
    "olap_priority_semi" -> Olap.q4PrioritySemiSql,
    "events_user_deciles" -> Olap.userDecilesSql,
    "orders_rfm" -> Olap.rfmSql,
    "events_set_ops" -> Olap.setOpsSql,
    "events_kmv_setops" -> Sketch.kmvSetOpsSql(),
    "events_daily_mv" -> graft.plans.MvRewrite.checkSql,
    "events_daily_mv_incremental" -> graft.plans.MvRewrite.checkSql,
    "mv_time_travel" -> TimeTravel.checkSql,
    "result_cache_daily" -> TimeTravel.resultCacheSql,
    "events_exact_median" -> ExactQuantile.exactMedianSql,
    "events_exact_quantiles" -> ExactQuantile.exactQuantilesSql,
    "events_ewma" -> EventsOps.ewmaSql(),
    "events_stats_fast" -> TableProfile.eventsStatsFastSql,
    "sample_weighted_noreplace" -> Sampling.weightedSampleSql(),
    "olap_cust_dist" -> Olap.q13CustDistSql,
    "olap_idle_customers" -> Olap.q22IdleCustomersSql,
    "olap_volume_shipping" -> OlapTpch.q7VolumeShippingSql,
    "olap_market_share" -> OlapTpch.q8MarketShareSql,
    "olap_product_profit" -> OlapTpch.q9ProductProfitSql,
    "olap_returned_top" -> OlapTpch.q10ReturnedTopSql,
    "olap_part_value" -> OlapTpch.q11PartValueSql,
    "olap_top_supplier" -> OlapTpch.q15TopSupplierSql,
    "olap_small_qty" -> OlapTpch.q17SmallQtySql,
    "olap_big_orders" -> OlapTpch.q18BigOrdersSql,
    "olap_disjunctive" -> OlapTpch.q19DisjunctiveSql,
    "olap_grouping_sets" -> OlapTpch.groupingSetsSql,
    "olap_min_bal_supplier" -> OlapTpch.q2MinBalSupplierSql,
    "olap_problem_suppliers" -> OlapTpch.q21ProblemSuppliersSql,
    "olap_forecast" -> OlapTpch3.q6ForecastSql,
    "olap_late_lines" -> OlapTpch3.q12LateLinesSql,
    "olap_promo_share" -> OlapTpch3.q14PromoShareSql,
    "olap_supplier_cnt" -> OlapTpch3.q16SupplierCntSql,
    "olap_excess_share" -> OlapTpch3.q20ExcessShareSql,
    "part_hierarchy_rollup" -> OlapTpch.partHierarchySql,
    "lineitem_unpivot" -> OlapTpch.unpivotMeasuresSql,
    "text_stats" -> TextMetrics.statsSql,
    "text_normalize" -> Normalize.reportSql,
    "text_lang_id" -> TextMetrics.langIdSql,
    "lang_confusion" -> TextMetrics.langConfusionSql,
    "text_quality" -> TextMetrics.qualitySql,
    "quality_calibrated" -> QualityModel.calibratedSql(),
    "quality_model" -> QualityModel.scoreSql,
    "lm_score" -> LangModel.scoreSql(),
    "dedup_segments" -> SegmentDedup.reportSql(),
    "text_cdc_chunks" -> CdcChunk.reportSql,
    "heavy_hitters" -> Sketch.heavyHittersSql(),
    "bpe_encode" -> TextPrep.bpeEncodeSql(),
    "fuzzy_parts" -> FuzzyJoin.partsSql(),
    "events_psi" -> Drift.psiSql(),
    "emb_drift" -> Drift.embDriftSql,
    "text_fingerprint" -> TextMetrics.fingerprintSql,
    "text_repetition" -> TextMetrics.repetitionSql,
    "text_redact" -> Redact.scrubSql,
    "corpus_filter" -> CorpusFilter.reportSql,
    "corpus_export" -> CorpusFilter.exportSql,
    "curation_e2e" -> CurationE2e.runSql,
    "contamination" -> Contamination.reportSql,
    "dup_ngrams" -> Contamination.repeatedNgramsSql(),
    "text_novelty" -> Contamination.noveltySql,
    "dedup_exact" -> Dedup.exactSql,
    "dedup_shingle_stats" -> Dedup.shingleStatsSql,
    "dedup_lsh_bands" -> Dedup.bandsSql,
    "dedup_candidates" -> Dedup.candidatesSql,
    "dedup_minhash_calibration" -> Dedup.minhashCalibrationSql,
    "dedup_neardups" -> Dedup.nearDupsOutSql(0.5),
    "dedup_containment" -> Dedup.containmentSql(),
    "dedup_incremental" -> Dedup.incrementalSql(0.5),
    "split_leakage" -> Dedup.splitLeakageSql(0.5),
    "dedup_multisignal" -> Dedup.multiSignalSql(0.5),
    "dedup_canonical" -> Dedup.canonicalSql(0.5),
    "corpus_profile" -> Profile.corpusProfileSql,
    "source_lang_entropy" -> Profile.langEntropySql,
    // incremental maintenance must be invisible in the result: the
    // oracle is the full recompute
    "corpus_profile_incremental" -> Profile.corpusProfileSql,
    "dedup_source_overlap" -> Dedup.sourceOverlapSql(0.5),
    "dedup_cluster_sizes" -> Dedup.clusterSizesSql(0.5),
    "contamination_by_source" -> Contamination.bySourceSql,
    "corpus_shingle_drift" -> Dedup.shingleDriftSql,
    // streaming maintenance must be invisible: full-recompute oracle
    "stream_profile" -> Profile.corpusProfileSql,
    "stream_dedup_docs" -> graft.streaming.DocStream.dedupCheckSql,
    "stream_neardups" -> graft.streaming.DocStream.nearDupsCheckSql,
    "sample_quality_weighted" -> Sampling.qualityWeightedSql(),
    "pref_pairs" -> Preference.pairsSql,
    "rater_agreement" -> Preference.raterAgreementSql(),
    "events_skew_report" -> Salting.skewReportSql,
    "pii_stats" -> Redact.piiStatsSql,
    "dedup_keep_best" -> Dedup.keepBestSql(0.5),
    "emb_stats" -> Similarity.embStatsSql,
    "emb_coverage" -> Similarity.coverageSql,
    "ann_label_purity" -> Similarity.labelPuritySql(),
    "batch_padding" -> Pack.paddingStatsSql,
    "ann_topk" -> Similarity.bruteForceSql(),
    "ann_lsh_buckets" -> Similarity.lshBucketsSql,
    "ann_bucket_stats" -> Similarity.bucketStatsSql,
    "ann_multiprobe" -> Similarity.multiprobeSql(),
    "emb_neardups" -> Similarity.cosineNearDupsSql(0.3),
    "dedup_semantic" -> Similarity.semDedupSql(0.3),
    "dedup_semantic_derived" ->
      Similarity.semDedupSqlFor(0.8, Featurize.corpus.embCte, "documents"),
    "ann_recall" -> Recall.atKSql(),
    "emb_matryoshka" -> Recall.matryoshkaSql(),
    "pq_codes" -> Pq.codesSql,
    "pq_topk" -> Pq.topKSql(),
    "pq_recall" -> Recall.pqAtKSql(),
    "ivfpq_topk" -> Pq.ivfPqSql(),
    "emb_featurize" -> Featurize.featurizedSql,
    "ann_topk_derived" ->
      Ivf.topKSqlFor(10, 200, Featurize.corpus.embCte, "documents"),
    "ivfpq_topk_derived" ->
      Pq.ivfPqSqlFor(10, 100, 200, Featurize.corpus.embCte, "documents"),
    "ann_index_build" -> AnnIndex.buildReportSql,
    "ann_index_serve" -> AnnIndex.serveSql,
    "ann_topk_filtered" -> Similarity.filteredTopKSql(),
    "ivf_topk_filtered" -> Ivf.filteredTopKSql(),
    "ivf_append" -> Ivf.appendReportSql,
    "ivf_append_persisted" -> Ivf.appendReportSql,
    "ivf_assign" -> Ivf.assignmentsSql,
    "ivf_list_stats" -> Ivf.listStatsSql,
    "ivf_topk" -> Ivf.topKSql(),
    "events_daily" -> EventsOps.dailySql,
    "events_daily_incremental" -> EventsOps.dailySql,
    "events_sessions" -> EventsOps.sessionsSql(),
    "events_trajectories" -> EventsOps.trajectoriesSql(),
    "cdc_apply" -> EventsOps.cdcApplySql,
    "events_top_users" -> EventsOps.topUsersSql(),
    "events_pivot" -> EventsOps.dailyPivotSql,
    "events_props" -> EventsOps.propsStatsSql,
    "events_props_keys" -> EventsOps.propsKeysSql,
    "events_quantiles" -> EventsOps.valueQuantilesSql,
    "events_rollup" -> EventsOps.dailyRollupSql,
    "events_cube" -> EventsOps.dailyCubeSql,
    "events_funnel" -> EventsOps.funnelSql,
    "events_retention" -> EventsOps.retentionSql,
    "events_anomaly" -> EventsOps.dailyAnomaliesSql,
    "events_anomaly_dow" -> EventsOps.seasonalAnomaliesSql,
    "events_attribution" -> EventsOps.attributionSql(),
    "events_abtest" -> Experiment.abTestSql(),
    "events_cusum" -> Experiment.cusumSql(),
    "events_trend" -> EventsOps.dailyTrendSql,
    "events_ma" -> EventsOps.movingAvgSql(),
    "events_stickiness" -> EventsOps.stickinessSql(),
    "events_gapfill" -> EventsOps.gapFillSql,
    "events_interpolate" -> EventsOps.interpolateSql,
    "events_coverage" -> EventsOps.coverageSql(),
    "kanon_audit" -> Privacy.kAnonymitySql(),
    "entity_resolution" -> EntityResolution.customersSql(),
    // the salted plan must produce byte-identical results to the plain one
    "events_top_users_salted" -> EventsOps.topUsersSql(),
    "events_kmv" -> Sketch.kmvDistinctUsersSql(),
    "events_hll" -> Sketch.hllDistinctUsersSql(),
    // the UDAF paths are bit-identical to the SQL-composed sketches, so
    // their oracles are the same replays verbatim
    "events_hll_udaf" -> Sketch.hllDistinctUsersSql(),
    "events_kmv_udaf" -> Sketch.kmvDistinctUsersSql(),
    "events_hll_incremental" -> Sketch.hllDistinctUsersSql(),
    "events_quantiles_sketch" -> Sketch.quantileSketchSql(),
    "events_cms" -> Sketch.cmsUserCountsSql(),
    "events_asof" -> AsofJoin.purchaseAttributionSql,
    "events_interval_join" -> RangeJoin.sessionErrorLoadSql(),
    "io_formats" -> graft.io.Formats.roundtripSql,
    "compact_roundtrip" -> graft.io.Compact.roundtripSql,
    "cow_merge" -> graft.io.CowTable.mergeSql,
    "cow_lifecycle" -> graft.io.CowTable.lifecycleSql,
    "cow_dv" -> graft.io.CowTable.dvSql,
    "cow_delete" -> graft.io.CowTable.deleteSql,
    "cow_evolve" -> graft.io.CowTable.evolveSql,
    "cow_changes" -> graft.io.CowTable.changesSql,
    "stream_cow_merge" -> graft.streaming.CowStream.mergeCheckSql,
    "cow_cdf_replay" -> graft.io.CowTable.cdfReplaySql,
    "cow_string_key" -> graft.io.CowTable.stringKeySql,
    "cow_sql_delete" -> graft.sources.GraftCatalog.checkSql,
    "cow_sql_merge" -> graft.sources.GraftCatalog.mergeCheckSql,
    "cow_sql_merge_pruned" -> graft.sources.GraftCatalog.mergePrunedSql,
    "cow_sql_merge_evolve" -> graft.sources.GraftCatalog.mergeEvolveSql,
    "cow_zorder_compact" -> graft.sources.GraftCatalog.zorderCompactSql,
    "cow_composite_key" -> graft.sources.GraftCatalog.compositeKeySql,
    "cow_col_mapping" -> graft.sources.GraftCatalog.colMappingSql,
    "stream_table_read" -> graft.streaming.TableFeed.checkSql,
    "cow_time_travel" -> graft.sources.GraftCatalog.timeTravelSql,
    "cow_restore" -> graft.sources.GraftCatalog.restoreSql,
    "cow_constraint" -> graft.sources.GraftCatalog.constraintSql,
    "cow_defaults" -> graft.sources.GraftCatalog.defaultsSql,
    "cow_detail" -> graft.sources.GraftCatalog.detailSql,
    "cow_generated" -> graft.sources.GraftCatalog.generatedSql,
    "cow_identity" -> graft.sources.GraftCatalog.identitySql,
    "cow_sql_registry" -> graft.sources.GraftCatalog.registrySql,
    "stream_cdf" -> graft.streaming.CdfStream.checkSql,
    "stream_cdc_mutate" -> graft.streaming.CdfStream.mutateSql,
    "stream_publish_feed" -> graft.streaming.PublishFeed.checkSql,
    "snapshot_diff" -> SnapshotDiff.reportSql,
    "schema_evolution" -> graft.io.SchemaEvolution.reportSql,
    "stream_hourly" -> graft.streaming.EventStream.hourlyCheckSql,
    "stream_dedup" -> graft.streaming.EventStream.dedupCheckSql,
    "stream_sessions" -> graft.streaming.EventStream.sessionsCheckSql(),
    "stream_enrich" -> graft.streaming.EventStream.enrichCheckSql,
    "stream_join" -> graft.streaming.EventStream.joinCheckSql,
    "stream_hourly_incremental" ->
      graft.streaming.EventStream.hourlyIncrementalCheckSql,
    "stream_join_incremental" ->
      graft.streaming.EventStream.joinIncrementalCheckSql,
    "stream_recovery" -> graft.streaming.EventStream.recoveryCheckSql,
    "stream_upsert" -> graft.streaming.EventStream.upsertCheckSql,
    // identical to events_hll's oracle: the streamed fold must be invisible
    "stream_hll" -> Sketch.hllDistinctUsersSql(),
    "stream_quantiles" -> graft.streaming.EventStream.streamQuantilesSql(),
    // identical to events_anomaly's oracle: the streamed fold must be invisible
    "stream_anomaly" -> EventsOps.dailyAnomaliesSql,
    "stream_join_outer" -> graft.streaming.EventStream.joinOuterCheckSql,
    // identical to cdc_apply's oracle: the streamed fold must be invisible
    "stream_cdc" -> EventsOps.cdcApplySql,
    "text_chunks" -> TextPrep.chunksSql(),
    "text_vocab" -> TextPrep.vocabularySql(),
    "text_tfidf" -> TextPrep.tfIdfSql(),
    "text_shards" -> TextPrep.shardsSql(),
    "text_pack" -> Pack.packSql,
    "pack_bins" -> Pack.binsSql,
    "text_pack_assign" -> Pack.assignmentsSql,
    "bpe_pairs" -> TextPrep.bpePairsSql(),
    "text_pmi" -> TextPrep.pmiSql(),
    "bpe_fertility" -> TextPrep.fertilitySql(),
    "zorder_layout" -> Layout.zorderReportSql(),
    "zorder_skipping" -> Layout.zorderSkippingSql(),
    "dedup_substring" -> SubstringDedup.reportSql,
    "curriculum_select" -> Curriculum.selectSql,
    "contamination_bloom" -> Contamination.flaggedSql,
    "emb_quantize" -> TextPrep.quantizeSql,
    "text_bm25" -> TextPrep.bm25Sql(),
    "retrieval_rrf" -> Retrieval.hybridRrfSql(),
    "retrieval_eval" -> Retrieval.knownItemEvalSql(),
    "text_extract" -> Extract.htmlRoundtripSql,
    "source_quota" -> Sampling.sourceQuotaSql(),
    "sample_stratified" -> Sampling.stratifiedDocsSql(),
    "sample_split" -> Sampling.splitSql(),
    "sample_mixture" -> Sampling.mixtureSql(),
    "sample_temperature" -> Sampling.temperatureMixtureSql(),
    "epoch_shuffle" -> Sampling.epochShuffleSql(),
    // native operator vs the standard window formulation
    "topk_native" ->
      """SELECT event_id, ts, user_id, event_type, value FROM (
        |  SELECT event_id, ts, user_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events
        |) WHERE rk <= 3""".stripMargin,
    // simhash: mechanically generated 60-bit twin (DuckDB bit ops)
    "simhash" -> SimHash.signaturesSql,
    "simhash_pairs" -> SimHash.candidatesSql,
    // multimodal digests recomputed from documents.text (ASCII corpus:
    // char slicing == byte slicing)
    "mm_media" -> Multimodal.mediaCheckSql,
    "mm_features" -> Multimodal.featuresCheckSql,
    "mm_frames" -> Multimodal.framesCheckSql,
    "mm_resize" -> Multimodal.resizeCheckSql,
    "mm_ahash" -> Multimodal.aHashSql,
    "mm_ahash_neardups" -> Multimodal.ahashNearDupsSql(),
    // lossless codec ⇒ the analytic planted-truth oracles are identical
    "mm_png_features" -> Multimodal.featuresCheckSql,
    "mm_png_ahash" -> Multimodal.aHashSql,
    // lossy codec ⇒ tolerance flags earned from the decoded bytes
    "mm_jpeg" -> Multimodal.jpegCheckSql,
    "mm_audio_fingerprint" -> Multimodal.audioFingerprintSql,
    "mm_audio" -> Multimodal.audioCheckSql,
    "mm_video" -> Multimodal.videoCheckSql,
    // winnowing: direct-sum rolling hash in HUGEINT + window-min
    "winnow_fingerprints" -> Winnow.fingerprintsCheckSql(),
    "winnow_neardups" -> Winnow.nearDupsSql()
  )
}
