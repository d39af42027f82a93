"""Physical-plan assertions: the scale properties PERF.md claims must
show up in .explain output — pushdown, broadcast joins, codegen — so a
refactor that silently loses them fails here, not at 100 TB.
"""

from pyspark.sql import functions as F

from spark_binlog_spark.cdc import changes_df, load_table
from spark_binlog_spark.operators import cdc_apply, offset_range
from tests.conftest import SF_TEST


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestPushdown:
    def test_offset_range_pushed_to_scan(self, spark):
        ev = load_table(spark, SF_TEST, "events")
        df = offset_range(ev.select(F.col("event_id").alias("cdc_offset"), "user_id"), 100, 900,
                          offset_col="cdc_offset")
        plan = _physical(df)
        assert "PushedFilters:" in plan
        pushed = plan.split("PushedFilters:")[1][:200]
        assert "GreaterThanOrEqual(event_id,100)" in pushed and "LessThan(event_id,900)" in pushed

    def test_column_pruning_reaches_scan(self, spark):
        ev = load_table(spark, SF_TEST, "events")
        df = ev.select("event_id")
        plan = _physical(df)
        read = plan.split("ReadSchema:")[1][:120]
        assert "event_id" in read and "props" not in read  # only the projected column read

    def test_event_type_filter_pushed(self, spark):
        ev = load_table(spark, SF_TEST, "events")
        df = ev.filter(F.col("event_type").isin("signup", "error")).select("event_id")
        plan = _physical(df)
        assert "In(event_type" in plan.split("PushedFilters:")[1][:200]


class TestJoinStrategy:
    def test_cdc_apply_one_key_shuffle_no_join_no_cache(self, spark):
        """cdc_apply is one aggregate over base ∪ changes: a single
        exchange on the key, no join of any kind, nothing cached."""
        base = load_table(spark, SF_TEST, "customer")
        ch = changes_df(spark, SF_TEST)
        plan = _physical(cdc_apply(base, ch, key_col="c_custkey", set_cols={"c_acctbal": "value"}))
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("Exchange hashpartitioning(__k#") == 1  # on the primary key
        assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
        assert "InMemoryTableScan" not in plan

    def test_latest_image_single_shuffle(self, spark):
        from spark_binlog_spark.operators import latest_image

        ch = changes_df(spark, SF_TEST)
        plan = _physical(latest_image(ch, ["pk"]))
        # one exchange for the window partitioning, nothing else
        assert plan.count("Exchange hashpartitioning") == 1


class TestShipPriority:
    def test_topk_is_take_ordered_and_dim_broadcasts(self, spark):
        """q_ship_priority: the filtered customer dim must broadcast and
        the global top-10 must be TakeOrderedAndProject (per-partition
        heap + merge), never a full global Sort materialization."""
        from spark_binlog_spark.queries_cdc import q_ship_priority

        df = q_ship_priority(spark, SF_TEST)
        plan = _physical(df)
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan


class TestRangeBand:
    def test_equi_key_keeps_hash_join_with_residual_range(self, spark):
        """q_range_band: the equi component (table_name) must keep the
        non-equi band join a BroadcastHashJoin with a residual range
        condition — NOT a nested-loop — and the fact side unshuffled
        before the join."""
        from spark_binlog_spark.queries_cdc import q_range_band

        plan = _physical(q_range_band(spark, SF_TEST))
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestGridRangeJoin:
    def test_no_cross_product(self, spark):
        """q_grid_range_join: large×large interval containment must stay
        an equi join on (key, cell) — never a nested-loop or cartesian
        fallback."""
        from spark_binlog_spark.queries_cdc import q_grid_range_join

        plan = _physical(q_grid_range_join(spark, SF_TEST))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestScaleSafeWindows:
    def test_offset_gaps_no_global_sort_of_big_relation(self, spark):
        """q_offset_gaps: the big relation flows through bucket-partitioned
        windows; the only single-partition window allowed is over the
        per-bucket min/max summary (|offsets|/8192 rows)."""
        from spark_binlog_spark.queries_cdc import q_offset_gaps

        plan = _physical(q_offset_gaps(spark, SF_TEST))
        assert "hashpartitioning(bucket" in plan  # parallel in-bucket lag
        assert plan.count("Exchange SinglePartition") <= 1  # summary only

    def test_cell_rollup_regional_fully_partitioned(self, spark):
        """Headline rollup (regional form): no single-partition exchange
        anywhere — every window is sharded by region."""
        from spark_binlog_spark.queries_cdc import q_cell_rollup_regional

        plan = _physical(q_cell_rollup_regional(spark, SF_TEST))
        assert "Exchange SinglePartition" not in plan
        assert "hashpartitioning" in plan


class TestTrainingDataOps:
    def test_decontaminate_never_shuffles_corpus_for_joins(self, spark):
        """q_decontaminate: the benchmark gram set and the hit set both
        BROADCAST — the training-corpus side must never sort-merge; the
        only exchanges are the two small aggregates (bench distinct,
        per-doc hit counts)."""
        from spark_binlog_spark.queries_ext import q_decontaminate

        plan = _physical(q_decontaminate(spark, SF_TEST))
        assert plan.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in plan
        assert "Exchange SinglePartition" not in plan

    def test_stratified_sample_is_pure_scan(self, spark):
        """q_stratified_sample: the rate map is a literal CASE chain —
        the whole query must be a single scan-project-filter with no
        exchange and no join of any kind."""
        from spark_binlog_spark.queries_ext import q_stratified_sample

        plan = _physical(q_stratified_sample(spark, SF_TEST))
        assert "Exchange" not in plan
        assert "Join" not in plan

    def test_token_shards_no_global_window_on_corpus(self, spark):
        """q_token_shards: the corpus-wide running sum must run as
        bucket-partitioned windows; the only single-partition exchange
        allowed is the |docs|/8192-row bucket-prefix table, which then
        broadcasts."""
        from spark_binlog_spark.queries_ext import q_token_shards

        plan = _physical(q_token_shards(spark, SF_TEST))
        assert "hashpartitioning(bucket" in plan
        assert plan.count("Exchange SinglePartition") <= 1
        assert "BroadcastHashJoin" in plan

    def test_lm_familiarity_scoring_pass_never_shuffles(self, spark):
        """q_lm_familiarity (r13 vectorized form): under the model gate
        the scoring read is ONE Arrow-batched MapInPandas scan with the
        gated driver-collected model in the closure — NO exchange of
        any kind on the corpus (the old broadcast-join plan, still the
        above-gate fallback, needed a doc-keyed aggregation shuffle),
        and never per-row Python (BatchEvalPython)."""
        from spark_binlog_spark.functions.text import LM_MODEL_COLLECT_MAX
        from spark_binlog_spark.queries_ext import q_lm_familiarity

        plan = _physical(q_lm_familiarity(spark, SF_TEST))
        assert "MapInPandas" in plan
        assert "Exchange" not in plan
        assert "SortMergeJoin" not in plan
        assert "BatchEvalPython" not in plan
        # the gate that makes the collect bounded must stay material
        assert LM_MODEL_COLLECT_MAX <= 10_000_000

    def test_repeated_spans_hashes_before_shuffle(self, spark):
        """q_repeated_spans: every exchange of the positional-span
        relation must carry the 48-bit span HASH, not span strings (8-word
        strings would multiply shuffle bytes ~10×), and nothing runs on
        a single partition."""
        from spark_binlog_spark.queries_ext import q_repeated_spans

        plan = _physical(q_repeated_spans(spark, SF_TEST))
        assert "hashpartitioning(span_h" in plan
        assert "Exchange SinglePartition" not in plan
        # the span string itself must never be a shuffle key
        assert "hashpartitioning(span," not in plan and "hashpartitioning(span#" not in plan

    def test_bpe_merges_reduces_before_pair_explosion(self, spark):
        """q_bpe_merges: the corpus must collapse to the vocabulary-sized
        word-frequency table BEFORE pairs explode — exactly two hash
        exchanges (word counts, pair counts); the rank window's input is
        |charset|²-bounded so its single partition is exempt."""
        from spark_binlog_spark.queries_ext import q_bpe_merges

        plan = _physical(q_bpe_merges(spark, SF_TEST))
        assert plan.count("Exchange hashpartitioning") == 2
        assert "BatchEvalPython" not in plan

    def test_chunking_and_compressibility_are_pure_scans(self, spark):
        """q_chunk_documents / q_compressibility / q_repetition claim
        scan speed — their plans must contain NO exchange, NO join, NO
        row-wise Python: a refactor that sneaks in a shuffle fails
        here, not at 100 TB.  (q_repetition joined the battery in r14
        when its two per-doc (doc, term) shuffles collapsed into the
        Arrow kernel — all its signals are per-document.)"""
        from spark_binlog_spark.queries_ext import (
            q_chunk_documents,
            q_compressibility,
            q_repetition,
        )

        for fn in (q_chunk_documents, q_compressibility, q_repetition):
            plan = _physical(fn(spark, SF_TEST))
            assert "Exchange" not in plan
            assert "Join" not in plan
            assert "BatchEvalPython" not in plan

    def test_semantic_decontaminate_is_shuffle_free_kernel(self, spark):
        """q_semantic_decontaminate: under the benchmark-collect gate
        the corpus pass is ONE Arrow MapInPandas scan — no exchange,
        no join, no row-wise Python (the benchmark matrix ships in the
        kernel closure, the shared-collected-side shape where kernels
        win; PERF r14)."""
        from spark_binlog_spark.queries_ext import q_semantic_decontaminate

        plan = _physical(q_semantic_decontaminate(spark, SF_TEST))
        assert "MapInPandas" in plan
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert "BatchEvalPython" not in plan

    def test_vocab_coverage_topk_is_take_ordered(self, spark):
        """q_vocab_coverage: the vocabulary cut must be a distributed
        TakeOrderedAndProject over the (unbounded) word-count table —
        never a single-partition rank window."""
        from spark_binlog_spark.queries_ext import q_vocab_coverage

        plan = _physical(q_vocab_coverage(spark, SF_TEST))
        assert "TakeOrderedAndProject" in plan
        assert "Exchange SinglePartition" not in plan

    def test_source_dup_matrix_single_scan_no_doc_join(self, spark):
        """q_source_dup_matrix: fp48 is computed inline in the scan —
        no corpus-sized doc_id join before the distinct, and nothing
        single-partition."""
        from spark_binlog_spark.queries_ext import q_source_dup_matrix

        plan = _physical(q_source_dup_matrix(spark, SF_TEST))
        assert "hashpartitioning(doc_id" not in plan
        assert "Exchange SinglePartition" not in plan

    def test_quality_prune_broadcasts_thresholds(self, spark):
        """q_quality_prune: the per-language threshold aggregate (5
        rows) broadcasts into the filter; the corpus is one scan — the
        only exchange is the tiny threshold agg."""
        from spark_binlog_spark.queries_ext import q_quality_prune

        plan = _physical(q_quality_prune(spark, SF_TEST))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("Exchange hashpartitioning") <= 1

    def test_mixture_rebalance_broadcasts_rates(self, spark):
        """q_mixture_rebalance: the derived per-source rate table
        broadcasts into ONE corpus scan; the only hash shuffles carry
        the |sources|-row aggregate, never the corpus."""
        from spark_binlog_spark.queries_ext import q_mixture_rebalance

        plan = _physical(q_mixture_rebalance(spark, SF_TEST))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # corpus-side probe scan appears once; the other scans sit
        # under the |sources|-row rate subtree (per_src feeds both the
        # rates and the 1-row totals)
        assert plan.count("Scan parquet") == 3

    def test_new_window_queries_never_single_partition(self, spark):
        """q_scd2_history / q_time_travel / q_exact_sample: every
        window partitions by a key or stratum — a global-order window
        (Exchange SinglePartition) would serialize the table through
        one reducer at 100 TB."""
        from spark_binlog_spark.queries_cdc import q_scd2_history, q_time_travel
        from spark_binlog_spark.queries_ext import q_exact_sample

        for fn in (q_scd2_history, q_time_travel, q_exact_sample):
            plan = _physical(fn(spark, SF_TEST))
            assert "Exchange SinglePartition" not in plan, fn.__name__

    def test_gopher_rules_is_one_scan_no_shuffle(self, spark):
        """q_gopher_rules: the whole rule battery is a single corpus
        scan projection — no Exchange, no join, no Python eval."""
        from spark_binlog_spark.queries_ext import q_gopher_rules

        plan = _physical(q_gopher_rules(spark, SF_TEST))
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert plan.count("Scan parquet") == 1

    def test_line_dedup_two_content_shuffles_no_global_order(self, spark):
        """q_line_dedup: winner pick shuffles on the line hash,
        reassembly on doc_id — content-keyed hash exchanges only; no
        cartesian, no global-order window, no sort-merge explosion on
        the full text (the struct carried is (line_no, line) keyed by
        doc)."""
        from spark_binlog_spark.queries_ext import q_line_dedup

        plan = _physical(q_line_dedup(spark, SF_TEST))
        assert "CartesianProduct" not in plan
        assert "Exchange SinglePartition" not in plan
        assert "Exchange rangepartitioning" not in plan

    def test_stream_scd2_history_single_fold_shuffle(self, spark, tmp_path):
        """Scd2HistorySink.history(): ONE groupBy(key, valid_from)
        hash exchange over the store — no window, no join, no
        single-partition stage."""
        from spark_binlog_spark.streaming.scd2_sink import Scd2HistorySink

        sink = Scd2HistorySink(spark, str(tmp_path / "store"))
        sink(
            spark.createDataFrame(
                [(1, 10.0, 1, "insert"), (2, 20.0, 2, "insert")],
                "pk long, value double, cdc_offset long, op string",
            ),
            0,
        )
        plan = _physical(sink.history())
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Exchange SinglePartition" not in plan
        assert "Join" not in plan

    def test_bm25_broadcasts_small_relations_reuses_tf(self, spark):
        """q_bm25_search (r14 shape): the exploded words are filtered to
        the query-term set BEFORE any aggregation — the only relation
        that ever reaches an exchange is bounded by docs-containing-a-
        query-term, never the corpus vocabulary (the old full (doc,term)
        count shuffle is gone); qterms/dfreq/totals broadcast; the
        persisted filtered-tf relation feeds dfreq + scoring
        (InMemoryTableScan present); no cartesian joins."""
        from spark_binlog_spark.queries_ext import q_bm25_search

        spark.catalog.clearCache()
        plan = _physical(q_bm25_search(spark, SF_TEST))
        assert plan.count("BroadcastHashJoin") >= 2
        assert "CartesianProduct" not in plan
        assert "InMemoryTableScan" in plan
        # the query-term IN-filter must sit on the exploded relation
        # (below the tf aggregate): a full-vocab tf/dfreq is ~10^8
        # grouped rows at 100 TB (VERDICT r7 #3)
        assert "IN (batch,hash,join,scan,sort,stream,window)" in plan
        assert "Exchange SinglePartition" not in plan.replace(
            "Exchange SinglePartition", "", 1
        )  # only the 1-row totals agg may single-partition

    def test_pq_scoring_broadcasts_lut_and_codebooks(self, spark):
        """q_pq_topk: codebooks and the query LUT are broadcast; the
        encoded-corpus scoring join must never sort-merge (the corpus
        side carries only (vec_id, sub, code) ints)."""
        from spark_binlog_spark.queries_ext import q_pq_topk

        spark.catalog.clearCache()
        plan = _physical(q_pq_topk(spark, SF_TEST))
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastHashJoin") >= 2

    def test_semdedup_is_kernel_assign_plus_one_cluster_exchange(self, spark):
        """q_semdedup (r14 kernel shape): centroid assignment is one
        Arrow-batched mapInPandas pass (NO cross join, NO per-vector
        argmax window), and the in-cluster pair verdict is ONE
        applyInPandas keyed on the cluster id — the corpus shuffles
        exactly once and no candidate pair ever becomes a row."""
        from spark_binlog_spark.queries_ext import q_semdedup

        spark.catalog.clearCache()
        plan = _physical(q_semdedup(spark, SF_TEST))
        assert "CartesianProduct" not in plan
        assert "Join" not in plan  # pair search never materializes pairs
        assert "Window" not in plan  # argmax runs inside the kernel
        assert "FlatMapGroupsInPandas" in plan  # per-cluster verdict
        assert "MapInPandas" in plan  # kernel assignment
        # exactly one KEYED corpus shuffle: hash on the cluster id.  An
        # optional round-robin spread before the assignment kernel is
        # the under-split local-fixture mitigation (spread_small_input
        # no-ops on a many-split table, so it is not a scale cost)
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("Exchange") <= 2
        assert "hashpartitioning(centroid_id" in plan

    def test_bloom_decontaminate_broadcasts_filter_corpus_never_smj(self, spark):
        """q_bloom_decontaminate: the set-bit position table and the
        per-doc gram sizes broadcast; the training corpus must never
        sort-merge — its only shuffle is the (doc, gram) verdict
        aggregate."""
        from spark_binlog_spark.queries_ext import q_bloom_decontaminate

        plan = _physical(q_bloom_decontaminate(spark, SF_TEST))
        assert plan.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in plan
        assert "Exchange SinglePartition" not in plan

    def test_sequence_pack_single_source_window_shuffle(self, spark):
        """q_sequence_pack: ONE hash exchange keyed on source feeding
        the running-sum window — no global order, no join, no
        single-partition stage."""
        from spark_binlog_spark.queries_ext import q_sequence_pack

        plan = _physical(q_sequence_pack(spark, SF_TEST))
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Exchange SinglePartition" not in plan
        assert "Exchange rangepartitioning" not in plan
        assert "Join" not in plan

    def test_hard_negatives_broadcasts_anchors_no_corpus_shuffle(self, spark):
        """q_hard_negatives: the anchor rows broadcast; the corpus is
        ONE scan (label rides the quantize projection — no self-join to
        fetch it) feeding the per-anchor rank window."""
        from spark_binlog_spark.queries_ext import q_hard_negatives

        plan = _physical(q_hard_negatives(spark, SF_TEST))
        assert "SortMergeJoin" not in plan
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        # one corpus scan per side of the broadcast join, nothing more
        assert plan.count("FileScan parquet") <= 2

    def test_epoch_shuffle_single_shard_window_no_global_sort(self, spark):
        """q_epoch_shuffle: ONE hash exchange keyed on shard for the
        rank window — never a global sort or single-partition stage."""
        from spark_binlog_spark.queries_ext import q_epoch_shuffle

        plan = _physical(q_epoch_shuffle(spark, SF_TEST))
        assert plan.count("Exchange hashpartitioning") == 1
        assert "Exchange rangepartitioning" not in plan
        assert "Exchange SinglePartition" not in plan
        assert "Join" not in plan

    def test_ivfadc_all_small_relations_broadcast(self, spark):
        """q_ivfadc_topk: centroids, residual codebooks, the query LUT
        and the (cell, sub, code) norm cross table ALL broadcast — the
        encoded corpus must never sort-merge after encoding."""
        from spark_binlog_spark.queries_ext import q_ivfadc_topk

        spark.catalog.clearCache()
        plan = _physical(q_ivfadc_topk(spark, SF_TEST))
        assert plan.count("BroadcastHashJoin") >= 3
        assert "CartesianProduct" not in plan
        assert "Exchange SinglePartition" not in plan

    def test_ivfadc_trained_all_small_relations_broadcast(self, spark):
        """q_ivfadc_trained_topk: the TRAINED centroids and codebooks
        are materialized local relations (n_cells and M*codes rows), so
        the SEARCH plan must look exactly like the seeded form — every
        small relation broadcast, no sort-merge onto the encoded
        corpus, no cartesian products, and no replay of the Lloyd
        training inside the search plan (training is plan
        construction, asserted by the LocalTableScan count)."""
        from spark_binlog_spark.queries_ext import q_ivfadc_trained_topk

        spark.catalog.clearCache()
        plan = _physical(q_ivfadc_trained_topk(spark, SF_TEST))
        assert plan.count("BroadcastHashJoin") >= 3
        assert "CartesianProduct" not in plan
        assert "Exchange SinglePartition" not in plan
        # trained cents + codebooks enter as materialized local tables
        # (Python createDataFrame renders as an ExistingRDD scan)
        assert "LocalTableScan" in plan or "ExistingRDD" in plan

    def test_unimax_corpus_aggregates_once(self, spark):
        """q_unimax_budget: the corpus hash-aggregates ONCE (map-side
        partial sums) down to |langs| rows; the only SinglePartition
        exchange is the waterfill windows over that tiny relation, and
        the scan is pruned to (text, lang)."""
        from spark_binlog_spark.queries_ext import q_unimax_budget

        plan = _physical(q_unimax_budget(spark, SF_TEST))
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("Exchange SinglePartition") == 1  # post-agg only
        assert "Join" not in plan
        assert "struct<text:string,lang:string>" in plan

    def test_ccnet_buckets_histogram_cuts_no_corpus_sort(self, spark):
        """q_ccnet_buckets: tercile cutoffs come from the bounded
        (lang, bin) histogram — the corpus relation must never be
        globally or per-lang sorted (no rangepartitioning), the cutoff
        table broadcasts, and the trigram model tables broadcast (the
        lm_familiarity shape underneath)."""
        from spark_binlog_spark.queries_ext import q_ccnet_buckets

        spark.catalog.clearCache()
        plan = _physical(q_ccnet_buckets(spark, SF_TEST))
        assert "Exchange rangepartitioning" not in plan
        assert plan.count("BroadcastHashJoin") >= 3
        assert "CartesianProduct" not in plan

    def test_cluster_sample_broadcasts_centroids_and_quota(self, spark):
        """q_cluster_sample: centroids broadcast into the assignment
        pass, the 1-row quota rides a broadcast cross join (a scalar,
        not a corpus-wide window), and the corpus is never globally
        sorted."""
        from spark_binlog_spark.queries_ext import q_cluster_sample

        spark.catalog.clearCache()
        plan = _physical(q_cluster_sample(spark, SF_TEST))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert "Exchange rangepartitioning" not in plan
        assert "SortMergeJoin" not in plan

    def test_streamed_model_serving_reads_are_corpus_free(self, spark):
        """q_stream_unimax / q_stream_kmeans: the RETURNED serving plan
        reads only the streamed model store — the corpus parquet must
        not appear anywhere in it (re-planning a budget or serving
        centroids costs the |groups|/k·dim-row store, never a corpus
        re-read)."""
        from spark_binlog_spark.queries_ext import q_stream_kmeans, q_stream_unimax

        plan = _physical(q_stream_unimax(spark, SF_TEST))
        assert "documents.parquet" not in plan
        plan = _physical(q_stream_kmeans(spark, SF_TEST))
        assert "embeddings.parquet" not in plan

    def test_dsir_broadcasts_bucket_table_corpus_never_smj(self, spark):
        """q_dsir_importance: the lr4 importance table (≤ DSIR_BUCKETS
        rows by construction) broadcasts into the scoring pass; the
        exploded corpus must never sort-merge, and the only
        SinglePartition exchange is the totals window over the bucket
        relation."""
        from spark_binlog_spark.queries_ext import q_dsir_importance

        plan = _physical(q_dsir_importance(spark, SF_TEST))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        assert plan.count("Exchange SinglePartition") <= 1

    def test_embedding_standardize_broadcasts_stats(self, spark):
        """q_embedding_standardize: the 64-row per-dim moment table
        broadcasts back into the corpus pass — the exploded corpus must
        never sort-merge or hit a single partition."""
        from spark_binlog_spark.queries_ext import q_embedding_standardize

        plan = _physical(q_embedding_standardize(spark, SF_TEST))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "Exchange SinglePartition" not in plan

    def test_decontaminate_spans_broadcast_semi_no_corpus_shuffle(self, spark):
        """q_decontaminate_spans: the benchmark gram-hash set
        broadcasts; the positional corpus scan joins map-side with no
        downstream aggregation — the ONLY key exchange in the plan is
        the (tiny) benchmark distinct."""
        from spark_binlog_spark.queries_ext import q_decontaminate_spans

        plan = _physical(q_decontaminate_spans(spark, SF_TEST))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert plan.count("Exchange hashpartitioning") == 1  # bench distinct

    def test_quality_classifier_pure_scan(self, spark):
        """q_quality_classifier: the hashed weight table is implicit in
        the expression — the whole scorer is a single scan-project with
        no join and no Python; the only exchange allowed is the
        hash-heavy small-input round-robin spread (never a key
        shuffle)."""
        from spark_binlog_spark.queries_ext import q_quality_classifier

        plan = _physical(q_quality_classifier(spark, SF_TEST))
        assert "Exchange hashpartitioning" not in plan
        assert "Exchange SinglePartition" not in plan
        assert "Join" not in plan
        assert "Python" not in plan

    def test_ngram_jaccard_never_forces_corpus_broadcast(self, spark):
        """q_ngram_jaccard: the per-document sizes relation is
        corpus-cardinality — it must NEVER carry a broadcast hint (a
        forced broadcast of one-row-per-document is an OOM at web
        scale).  With the estimate-based planner disabled
        (autoBroadcastJoinThreshold=-1), any BroadcastExchange left in
        the static plan can only come from a forced hint — assert there
        is none; only AQE may upgrade at runtime from measured sizes.
        Also: no cartesian/single-partition stages anywhere in the
        candidate pipeline."""
        from spark_binlog_spark.queries_ext import q_ngram_jaccard

        spark.catalog.clearCache()
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _physical(q_ngram_jaccard(spark, SF_TEST))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "BroadcastExchange" not in plan  # no forced broadcast of any side
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Exchange SinglePartition" not in plan

    def test_boilerplate_never_forces_dictionary_broadcast(self, spark):
        """q_boilerplate_ratio: the >= min_df shingle dictionary is
        corpus-derived and unbounded (web-scale crawls have ~10^9
        shared shingles) — it must NEVER carry a broadcast hint.  The
        hit join shuffles on `shingle`, the same key the dictionary agg
        already partitioned on; AQE alone may upgrade at runtime.  Same
        hint-isolation protocol as the ngram gate: estimate-based
        broadcasts off, so a surviving BroadcastExchange = a hint."""
        from spark_binlog_spark.queries_ext import q_boilerplate_ratio

        spark.catalog.clearCache()
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _physical(q_boilerplate_ratio(spark, SF_TEST))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "BroadcastExchange" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Exchange SinglePartition" not in plan

    def test_tfidf_never_forces_vocabulary_broadcast(self, spark):
        """q_tfidf_topterms: the document-frequency table is
        vocabulary-sized (~10^9 terms at web scale) — its scoring join
        must carry NO broadcast hint.  Hint-isolation protocol: with
        estimates off, the only broadcast left is the 1-row n_docs
        scalar (a BroadcastNestedLoopJoin) — a BroadcastHashJoin would
        mean the keyed dfreq join is hint-forced."""
        from spark_binlog_spark.queries_ext import q_tfidf_topterms

        spark.catalog.clearCache()
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _physical(q_tfidf_topterms(spark, SF_TEST))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "BroadcastHashJoin" not in plan  # no forced keyed broadcast
        assert plan.count("BroadcastExchange") == 1  # the n_docs scalar only
        assert "CartesianProduct" not in plan

    def test_token_shards_never_forces_prefix_broadcast(self, spark):
        """q_token_shards: the bucket-prefix table is |docs|/bucket_size
        rows — corpus-scaling — so its join must carry no hint; only
        AQE may broadcast from measured size."""
        from spark_binlog_spark.queries_ext import q_token_shards

        spark.catalog.clearCache()
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _physical(q_token_shards(spark, SF_TEST))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "BroadcastExchange" not in plan
        assert "CartesianProduct" not in plan


class TestCodegen:
    def test_quality_features_jvm_only_columnar_scan(self, spark):
        from spark_binlog_spark.functions.text import quality_features

        docs = load_table(spark, SF_TEST, "documents")
        df = quality_features(docs)
        plan = _physical(df)
        formatted = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # higher-order-function projections are JVM-interpreted (no
        # codegen for lambdas) — the property that matters is: columnar
        # batched scan, some codegen stage, and ZERO Python eval nodes
        assert "Batched: true" in formatted
        assert "codegen id" in formatted
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_no_python_udfs_in_cdc_queries(self, spark):
        from spark_binlog_spark import registry

        # every CDC query plan must be pure JVM (UDFs are the slow path);
        # multimodal decode is the one sanctioned Arrow/Python stage and
        # lives outside queries()
        for name, fn in registry.queries().items():
            if name.startswith("q_stream"):
                continue  # builds a streaming query, not a plain DF plan
            plan = _physical(fn(spark, SF_TEST))
            assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"


class TestSketchPlans:
    def test_cms_probe_broadcasts_grid_no_smj(self, spark):
        """q_cms_topterms: the <= d*w-cell grid broadcasts into the
        point-query probe; nothing sort-merges and no cartesian
        product appears (the probe relation is |query terms| * d)."""
        from spark_binlog_spark.queries_ext import q_cms_topterms

        plan = _physical(q_cms_topterms(spark, SF_TEST))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "Python" not in plan

    def test_hll_no_corpus_sort_or_smj(self, spark):
        """q_hll_distinct: registers and estimates are bounded
        relations; the est-vs-exact join broadcasts, the corpus is
        never range-partitioned, and the whole plan stays JVM-side."""
        from spark_binlog_spark.queries_ext import q_hll_distinct

        plan = _physical(q_hll_distinct(spark, SF_TEST))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "Exchange rangepartitioning" not in plan
        assert "Python" not in plan

    def test_token_quantiles_no_global_sort(self, spark):
        """q_token_quantiles: quantiles come from windows over the
        BOUNDED histogram, never a global sort of the corpus, and the
        sketch-vs-exact join broadcasts; everything stays JVM-side."""
        from spark_binlog_spark.queries_ext import q_token_quantiles

        plan = _physical(q_token_quantiles(spark, SF_TEST))
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "Python" not in plan

    def test_bpe_iteration_stays_jvm_side(self, spark):
        """Each BPE iteration's two moving parts never leave the JVM:
        pair counting is a partial-aggregating hash agg over the
        vocabulary, and merge application is a codegen'd higher-order
        fold — no Python evaluation anywhere in the loop."""
        from spark_binlog_spark.functions import bpe

        docs = load_table(spark, SF_TEST, "documents")
        vocab = bpe.bpe_vocab(docs)
        pair_plan = _physical(bpe._pair_counts(vocab))
        assert "Python" not in pair_plan
        assert "HashAggregate" in pair_plan  # map-side combinable
        fold_plan = _physical(
            vocab.selectExpr(bpe._merge_expr("a", "b") + " AS syms")
        )
        assert "Python" not in fold_plan

    def test_source_jaccard_salted_rank_no_cartesian(self, spark):
        """q_source_jaccard: the bottom-k rank windows carry the
        WindowGroupLimit pushdown so no task buffers a whole group's
        vocabulary — asserted on the kmv_sketch subtree, which since
        the r10 cache-leak fix executes at CONSTRUCTION (kmv_jaccard
        localCheckpoints its bounded pair matrix, so the RETURNED plan
        reads it back as an RDD scan).  The returned dashboard plan
        must still be cartesian-free and Python-free, with the exact
        side joined by broadcast."""
        from spark_binlog_spark.cdc import load_table
        from spark_binlog_spark.functions import sketch
        from spark_binlog_spark.queries_ext import q_source_jaccard

        docs = load_table(spark, SF_TEST, "documents")
        sk_plan = _physical(sketch.kmv_sketch(docs))
        assert "WindowGroupLimit" in sk_plan

        plan = _physical(q_source_jaccard(spark, SF_TEST))
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "Python" not in plan
        # the checkpointed pair matrix rides in as a materialized scan
        assert "ExistingRDD" in plan or "LocalTableScan" in plan

    def test_priority_sample_windowgrouplimit_no_python(self, spark):
        """q_priority_sample: both rank phases carry the
        WindowGroupLimit pushdown (no task buffers a whole group) and
        the whole plan stays JVM-side with no cartesian product."""
        from spark_binlog_spark.queries_ext import q_priority_sample

        plan = _physical(q_priority_sample(spark, SF_TEST))
        assert "WindowGroupLimit" in plan
        assert "CartesianProduct" not in plan
        assert "Python" not in plan

    def test_sketch_sink_serving_is_corpus_free(self, spark, tmp_path):
        """The sketch stores serve with ZERO corpus reads: a CMS point
        query and an HLL cardinality read touch only the stats parquet
        (at 100 TB, 'how often has this term appeared' must not re-read
        the world)."""
        from pyspark.sql import Row

        from spark_binlog_spark.streaming.sketch_sink import (
            CmsSketchSink,
            HistSketchSink,
            HllSketchSink,
        )

        docs = spark.createDataFrame(
            [Row(doc_id=1, source="s", text="a b c a")]
        )
        cms = CmsSketchSink(spark, str(tmp_path / "cms"))
        cms(docs, 0)
        terms = spark.createDataFrame([Row(term="a")])
        plan = _physical(cms.estimate(terms))
        assert "documents.parquet" not in plan

        hll = HllSketchSink(spark, str(tmp_path / "hll"))
        hll(docs, 0)
        plan = _physical(hll.distinct_counts())
        assert "documents.parquet" not in plan

        hist = HistSketchSink(spark, str(tmp_path / "hist"))
        hist(docs, 0)
        plan = _physical(hist.quantiles())
        assert "documents.parquet" not in plan


class TestLambdaCaptureHygiene:
    """r12: Catalyst does not CSE inside higher-order-function lambdas,
    so an inline split(text) captured by a transform lambda re-splits
    once PER ELEMENT (O(words²)/doc — 350 s vs 31 s for one shingle
    count at the 500k-doc rung).  These gates pin the two-projection
    form: exactly ONE split(...) in the optimized plan of every
    shingle/bigram/chunk path, so a refactor that re-inlines the split
    fails here, not at scale."""

    @staticmethod
    def _assert_no_split_in_lambda(df):
        # a split captured by a HOF lambda prints inside the
        # lambdafunction(...) expression on the same plan line; a
        # materialized __w column prints as a bound attribute instead.
        # (Pushed-down generator FILTERS may legitimately repeat split
        # per-row — constant work, not per-element — so the gate is
        # scoped to lambda bodies, not a global count.)
        for line in _optimized(df).splitlines():
            if "lambdafunction" in line:
                assert "split(" not in line, line.strip()[:300]

    def test_doc_shingles(self, spark):
        from spark_binlog_spark.functions.dedup import doc_shingles

        docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
        self._assert_no_split_in_lambda(doc_shingles(docs))

    def test_positional_shingles(self, spark):
        from spark_binlog_spark.functions.dedup import positional_shingles

        docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
        self._assert_no_split_in_lambda(positional_shingles(docs))

    def test_chunk_documents(self, spark):
        from spark_binlog_spark.functions.text import chunk_documents

        docs = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id long, text string")
        self._assert_no_split_in_lambda(chunk_documents(docs, chunk_tokens=4, overlap=1))

    def test_dsir_gram_buckets(self, spark):
        from spark_binlog_spark.functions.text import dsir_gram_buckets

        docs = spark.createDataFrame(
            [(1, "en", "a b c")], "doc_id long, lang string, text string"
        )
        self._assert_no_split_in_lambda(dsir_gram_buckets(docs))

    def test_decontaminate_sizes_branch(self, spark):
        from spark_binlog_spark.functions.dedup import decontaminate

        docs = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
        bench = spark.createDataFrame([(1, "x y z w v u")], "doc_id long, text string")
        self._assert_no_split_in_lambda(decontaminate(docs, bench))
