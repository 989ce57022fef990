"""Plan-property regression gates: the physical plans we ship are the
plans we designed. A dim join that stops broadcasting or a filter that
stops reaching the scan fails here, not at 100 TB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hcdc_spark.operators import analytics, analytics_ext, cdc_queries
from hcdc_spark.plans import inspect as I


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    df = analytics.q05_star_join(spark, sf_dir)
    # customer/supplier/nation/region are dims → all four joins broadcast
    assert I.broadcast_join_count(df) >= 4
    assert I.sortmerge_join_count(df) == 0
    assert not I.has_cartesian(df)


def test_filter_and_projection_reach_scan(spark, sf_dir):
    df = analytics.q02_filter_project(spark, sf_dir)
    assert I.pushed_filters(df), "no PushedFilters at the scan"
    # projection pruned: the lineitem scan must not read all 11 columns
    schemas = I.read_schemas(df)
    assert schemas and all(s.count(",") < 10 for s in schemas)


def test_agg_cascade_shuffles(spark, sf_dir):
    df = analytics.q01_pricing_summary(spark, sf_dir)
    # exact_money_summary cascade: stage-1 exchange on
    # (keys, partition_id) — rows = groups x partitions, not the fact
    # table — plus the final exchange on the keys. Anything beyond two
    # means the cascade shape regressed.
    assert I.count_exchanges(df) == 2
    # the fact table must never reach a decimal aggregate: decimals
    # appear only after the long partials are summed
    plan = I.simple_plan(df)
    assert "floor(" in plan.lower() or "FLOOR(" in plan


def test_latest_per_key_single_shuffle(spark, sf_dir):
    df = cdc_queries.q24_latest_per_key(spark, sf_dir)
    assert I.count_exchanges(df) == 1


def test_range_join_broadcasts_band_dim(spark, sf_dir):
    df = analytics_ext.q48_range_join(spark, sf_dir)
    assert I.has_broadcast_join(df)
    assert not I.has_cartesian(df)


def test_asof_join_single_shuffle_no_join_node(spark, sf_dir):
    df = analytics_ext.q47_asof_join(spark, sf_dir)
    p = I.simple_plan(df)
    # union-merge asof: no join operator at all, and exactly ONE
    # exchange — the click dedup rides in the window's tie_break
    # ordering (r14), so the standalone groupBy shuffle of the clicks
    # stream must not come back.
    assert "Join" not in p
    assert I.count_exchanges(df) == 1


def test_latest_per_key_aggregates_before_shuffle(spark, sf_dir):
    # q24 is the two-phase max_by form (r14): partial aggregation on
    # the map side, no Window/Sort of the full event stream. A ranking
    # window sneaking back means |events| rows through the shuffle.
    df = cdc_queries.q24_latest_per_key(spark, sf_dir)
    p = I.simple_plan(df)
    assert "Window" not in p
    assert I.count_exchanges(df) == 1


def test_set_ops_scan_fact_table_once_per_side(spark, sf_dir):
    # q16's distinct key-sets are materialized once each (r14): the
    # final plan runs set ops over the collapsed frames, so the orders
    # fact table must not appear in it at all — while the set-op
    # operators themselves must survive (they are the operator family
    # q16 exists to exercise).
    df = analytics.q16_set_ops(spark, sf_dir)
    p = I.plan(df)
    assert "Scan parquet" not in p
    low = p.lower()
    assert "intersect" in low or "leftsemi" in low
    assert "except" in low or "generate" in low or "leftanti" in low


def test_codegen_covers_relational_queries(spark, sf_dir):
    for fn in (analytics.q01_pricing_summary, analytics.q03_join_topn_revenue):
        df = fn(spark, sf_dir)
        assert I.codegen_stage_count(df) >= 1


def test_tx_gap_detection_fully_parallel(spark, sf_dir):
    # T5 gap detect must never serialize the tx stream through one task:
    # no global-sort window, no single-partition exchange anywhere.
    from hcdc_spark.cdc.generator import events_df, generate_events
    from hcdc_spark.cdc.reconcile import detect_tx_gaps

    df = detect_tx_gaps(
        events_df(spark, generate_events(n_files=20, seed=3))
    )
    p = I.simple_plan(df)
    assert "Exchange SinglePartition" not in p
    assert "Window" not in p


def test_broadcast_threshold_active(spark, sf_dir):
    # a plain dim join must broadcast under the session conf
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pa = spark.read.parquet(f"{sf_dir}/part.parquet")
    j = li.join(pa, li["l_partkey"] == pa["p_partkey"])
    assert I.broadcast_join_count(j) == 1


def test_media_analyze_driver_path_is_jvm_only(spark, sf_dir):
    # q42's surfaced columns are pure builtins (length/md5/ceil): no
    # Python evaluation node may appear; mean_byte (the decode stand-in)
    # is the only sanctioned Python column and q42 excludes it.
    from hcdc_spark.operators import multimodal

    df = multimodal.q42_media_analyze(spark, sf_dir)
    p = I.simple_plan(df)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "MapInPandas" not in p
    assert I.codegen_stage_count(df) >= 1


def test_scan_side_pipeline_ops_shuffle_free(spark, sf_dir):
    """q60/q62 are pure scan-side projections — zero exchanges; q63's
    prefix sums stay inside a partitioned window (no SinglePartition)."""
    from hcdc_spark.operators import text as T

    for name in ("q60_stratified_sample", "q62_pii_redaction"):
        df = T.REG.specs[name].fn(spark, sf_dir)
        assert I.count_exchanges(df) == 0, name

    packing = T.REG.specs["q63_sequence_packing"].fn(spark, sf_dir)
    p = I.simple_plan(packing)
    assert "Exchange SinglePartition" not in p
    assert I.count_exchanges(packing) == 1  # hash by shard only


def test_quantization_shuffle_free(spark, sf_dir):
    from hcdc_spark.operators import similarity as S

    df = S.REG.specs["q64_embedding_quantization"].fn(spark, sf_dir)
    assert I.count_exchanges(df) == 0


def test_block_range_read_no_content_scan(spark, sf_dir):
    """q61 must plan the binaryFile scan WITHOUT the content column —
    only path+length feed the range builder; bytes come from seeks."""
    from hcdc_spark.operators import sources_queries as SQ

    df = SQ.REG.specs["q61_block_range_read"].fn(spark, sf_dir)
    for rs in I.read_schemas(df):
        assert "content" not in rs


def test_q12_cube_expands_preagg_not_fact(spark, sf_dir):
    """CUBE must run over the base-key pre-aggregate: Expand sits ABOVE
    a HashAggregate, never directly above the file scan — otherwise
    every fact row is quadrupled before the first shuffle."""
    df = analytics.q12_cube(spark, sf_dir)
    p = I.simple_plan(df)
    lines = p.splitlines()
    expand_idx = [i for i, l in enumerate(lines) if "Expand" in l]
    assert expand_idx, "no Expand in cube plan"
    below = "\n".join(lines[expand_idx[0]:])
    # the subtree under Expand must aggregate before any scan
    assert "HashAggregate" in below.split("Scan")[0]


def test_q67_bm25_broadcasts_stats(spark, sf_dir):
    """Corpus stats (1 row) must broadcast back over the scan — a
    shuffle-side cross join would serialize the corpus."""
    from hcdc_spark.operators import text

    df = text.q67_bm25_search(spark, sf_dir)
    assert I.has_broadcast_join(df)
    assert I.sortmerge_join_count(df) == 0


def test_q68_pairs_join_on_cell_key(spark, sf_dir):
    """The SemDeDup pair join must be an equi-join on the cell key —
    a cartesian pair step would defeat the entire cluster-first
    design."""
    from hcdc_spark.operators import similarity

    df = similarity.q68_semantic_dedup(spark, sf_dir)
    assert not I.has_cartesian(df)


def test_q70_salted_join_no_broadcast_on_fact_side(spark, sf_dir):
    """salted_join is the explicit non-broadcast path: the fact-dim
    join must shuffle on (key, salt) — if Spark broadcasts the
    replicated dim the salting is pointless but harmless; what must
    never appear is a cartesian product."""
    from hcdc_spark.operators import skew

    df = skew.q70_salted_join_agg(spark, sf_dir)
    assert not I.has_cartesian(df)
    p = I.simple_plan(df)
    assert "_salt" in p  # the salt key actually reaches the join


def test_q73_md5_lsh_candidate_join_on_band_bucket(spark, sf_dir):
    """The md5-mode LSH pipeline must keep the q29 scale shape: the
    candidate join is an equi-join on (band, bucket) — never a
    cartesian pair step — and signatures/banding stay projections (no
    SortMergeJoin at test scale where every side is broadcast-small;
    the collapse groupBy and the joins are the only exchanges)."""
    from hcdc_spark.operators import dedup

    df = dedup.q73_minhash_lsh_md5(spark, sf_dir)
    assert not I.has_cartesian(df)
    p = I.simple_plan(df)
    assert "bucket" in p  # band/bucket key reaches the join
    # the collapsed rep table is served from the eager localCheckpoint,
    # not recomputed per branch: every consumer scans the checkpointed
    # RDD instead of re-running the tokenize + groupBy
    assert "ExistingRDD" in p


def test_q74_bucketed_join_no_shuffle_into_join(spark, sf_dir):
    """Both sides written bucketed+sorted on the join key → the
    SortMergeJoin must consume the bucket layout directly: zero
    Exchange anywhere under the join; the only shuffle in the whole
    query is the final groupBy aggregate."""
    from hcdc_spark.operators import sources_queries as SQ

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    joined, names, work = SQ.bucketed_join_frame(spark, sf_dir)
    try:
        p = I.simple_plan(joined)
        assert "SortMergeJoin" in p
        assert I.count_exchanges(joined) == 1  # the groupBy only
        assert "Bucketed: true" in I.plan(joined, "formatted")
    finally:
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        import shutil

        shutil.rmtree(work, ignore_errors=True)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_q75_scd2_single_exchange(spark, sf_dir):
    """Both SCD2 window passes partition by user_id — Catalyst must
    plan ONE exchange (the second window reuses the partitioning with
    only a re-sort). A second exchange means the build stopped being
    the minimal one-shuffle dimension pass."""
    df = analytics_ext.q75_scd2_history(spark, sf_dir)
    assert I.count_exchanges(df) == 1


def test_q78_weighted_sample_take_ordered(spark, sf_dir):
    """orderBy+limit must plan as TakeOrdered (per-partition top-k,
    k-row driver merge) — a global Sort here would be a full shuffle
    of the corpus for 50 rows."""
    from hcdc_spark.operators import text

    df = text.q78_weighted_sample(spark, sf_dir)
    assert "TakeOrdered" in I.simple_plan(df)
    assert I.count_exchanges(df) == 0


def test_q89_ann_md5_shuffle_free_take_ordered(spark, sf_dir):
    """The md5 sign-bit banding is a pure projection over the scan and
    the any-band gate a filter — the whole ANN query must plan as
    TakeOrdered on top of a shuffle-free codegen stage (no exchange,
    no Python UDF); at 100 TB the only data movement is the k-row
    driver merge."""
    from hcdc_spark.operators import similarity

    df = similarity.q89_ann_lsh_md5(spark, sf_dir)
    p = I.simple_plan(df)
    assert "TakeOrdered" in p
    assert "pythonudf" not in p.lower()
    assert I.count_exchanges(df) == 0


def test_q90_chunk_dedup_single_logical_shuffle(spark, sf_dir):
    """Chunk hashing happens map-side (explode over the scan); the only
    data movement is the groupBy on the 16-byte hash. countDistinct
    plans as a two-stage expand over the SAME key, so allow its second
    exchange but nothing more — and the top-100 must be TakeOrdered,
    never a global sort."""
    from hcdc_spark.operators import text

    df = text.q90_chunk_dedup(spark, sf_dir)
    p = I.simple_plan(df)
    assert "TakeOrdered" in p
    assert "pythonudf" not in p.lower()
    assert I.count_exchanges(df) <= 2


def test_q98_pipeline_fuses_to_four_exchanges(spark, sf_dir):
    """The composed ingest pipeline (gate → exact-dedup window →
    chunk-dedup window → doc regroup → lang rollup) must stay ONE
    fused plan: exactly four exchanges, no join operator, no Python
    UDF, and the quality gate's predicates evaluated at the scan
    stage (no separate filter pass after a materialization)."""
    from hcdc_spark.operators import text

    df = text.q98_ingest_pipeline(spark, sf_dir)
    p = I.simple_plan(df)
    assert "pythonudf" not in p.lower()
    assert "join" not in p.lower()
    assert I.count_exchanges(df) == 4


def test_q97_pq_adc_broadcasts_codebook_and_lut(spark, sf_dir):
    """PQ/ADC: the codebook (128 subvector rows) and the query LUT
    (128 entries) must both BROADCAST into the scan side — a
    sort-merge join on either would shuffle the full vector table for
    an artifact that is O(M*K). Top-10 must be TakeOrdered, never a
    global sort; no cartesian, no Python UDF."""
    from hcdc_spark.operators import similarity

    df = similarity.q97_pq_ann_adc(spark, sf_dir)
    p = I.simple_plan(df)
    assert I.broadcast_join_count(df) >= 2
    assert I.sortmerge_join_count(df) == 0
    assert not I.has_cartesian(df)
    assert "TakeOrdered" in p
    assert "pythonudf" not in p.lower()


def test_q96_bigram_dup_rate_three_shuffles_no_join(spark, sf_dir):
    """Corpus-duplicated bigram fraction: per-(doc, bigram) counts
    partially aggregate map-side [exchange 1], corpus totals come from
    ONE window on the bigram key over the already-collapsed rows
    [exchange 2] — never a groupBy+self-join round-trip — and the
    per-doc regroup is exchange 3. No join operator, no Python UDF."""
    from hcdc_spark.operators import text

    df = text.q96_bigram_dup_rate(spark, sf_dir)
    p = I.simple_plan(df)
    assert "pythonudf" not in p.lower()
    assert "join" not in p.lower()
    assert I.count_exchanges(df) == 3


def test_q28_jaccard_size_ratio_prefilter_before_pair_agg(spark, sf_dir):
    """The prefix-filtered candidate join must apply the size-ratio
    bound (J >= t implies min(n)/max(n) >= t, spelled least/greatest)
    as part of the join stage — BEFORE the candidate distinct — so
    ruled-out pairs never enter the dedup shuffle; pair generation
    stays an equi-join (token, lang), never a cartesian; and the
    verify stage recomputes the exact jaccard via array_intersect
    (round 14: candidates come from each doc's rarest-token prefix,
    immune to corpus-wide hot tokens)."""
    from hcdc_spark.operators import dedup

    df = dedup.q28_jaccard_pairs(spark, sf_dir)
    p = I.simple_plan(df)
    assert not I.has_cartesian(df)
    assert "pythonudf" not in p.lower()
    assert "array_intersect" in p, "exact verify stage missing"
    join_lines = [
        ln for ln in p.splitlines() if "Join [" in ln or "Join (" in ln
    ]
    assert join_lines, "token equi-join missing from the plan"
    assert any("least(" in ln and "greatest(" in ln for ln in join_lines), (
        "size-ratio bound is not part of the join condition — ruled-out "
        "pairs would enter the candidate-dedup shuffle"
    )


def test_q94_rewrite_two_shuffles_no_join(spark, sf_dir):
    """The rewrite pass must decide keep/drop with ONE window exchange
    on the chunk hash (not a groupBy+self-join round-trip, which would
    ship every chunk's text twice) and rebuild documents with one
    groupBy exchange on doc_id — two exchanges total, no join
    operator, no Python UDF anywhere."""
    from hcdc_spark.operators import text

    df = text.q94_chunk_dedup_rewrite(spark, sf_dir)
    p = I.simple_plan(df)
    assert "pythonudf" not in p.lower()
    assert "join" not in p.lower()
    assert I.count_exchanges(df) == 2


def test_q94_rewrite_drops_later_occurrences_only(spark, sf_dir):
    """Keep-first semantics: total kept chunks across the corpus equals
    the number of DISTINCT chunk hashes — every distinct chunk survives
    exactly once, every later occurrence is dropped — and the pass
    removed a nonzero number of chunks on this corpus."""
    from hcdc_spark.operators import text

    df = text.q94_chunk_dedup_rewrite(spark, sf_dir).cache()
    try:
        kept = df.agg(F.sum("n_kept")).collect()[0][0]
        docs = text.load_tables(spark, sf_dir, ("documents",))["documents"]
        k = text.DEDUP_CHUNK_WORDS
        n_distinct = (
            docs.select(F.split("text", " ").alias("w"))
            .where(F.size("w") > 0)
            .select(
                F.explode(
                    F.expr(
                        f"transform(sequence(0, CAST((size(w)-1) div {k} "
                        f"AS INT)), i -> md5(concat_ws(' ', "
                        f"slice(w, i*{k}+1, {k}))))"
                    )
                ).alias("h")
            )
            .agg(F.countDistinct("h"))
            .collect()[0][0]
        )
        assert kept == n_distinct
        total = df.agg(F.sum("n_chunks")).collect()[0][0]
        assert kept < total  # the pass removed something real
    finally:
        df.unpersist()


def test_q95_vocab_applies_as_broadcast_join(spark, sf_dir):
    """The learned vocabulary is an O(V) artifact — applying it back to
    the token stream must be a BroadcastHashJoin (a shuffle join here
    would re-shuffle the whole corpus against a 16-row table); the
    vocab build itself is one wordcount exchange + TakeOrdered, and
    the scoring one groupBy exchange."""
    from hcdc_spark.operators import text

    df = text.q95_vocab_oov(spark, sf_dir)
    p = I.simple_plan(df)
    assert "broadcasthashjoin" in p.lower().replace(" ", "")
    assert "sortmergejoin" not in p.lower().replace(" ", "")
    assert "pythonudf" not in p.lower()


def test_q95_oov_counts_rare_words(spark, sf_dir):
    """The top-16 vocab excludes this corpus's rare tail, so some doc
    must report a nonzero OOV rate, and every rate is n_oov/n_tokens."""
    from hcdc_spark.operators import text

    rows = text.q95_vocab_oov(spark, sf_dir).collect()
    assert any(r["n_oov"] > 0 for r in rows)
    for r in rows:
        assert 0 <= r["n_oov"] <= r["n_tokens"]
        assert abs(r["oov_rate"] - r["n_oov"] / r["n_tokens"]) < 1e-15


def test_q76_chunking_shuffle_free(spark, sf_dir):
    """Chunking is a scan-side explode: zero exchanges, no UDFs."""
    from hcdc_spark.operators import text

    df = text.q76_doc_chunking(spark, sf_dir)
    assert I.count_exchanges(df) == 0
    assert "pythonudf" not in I.simple_plan(df).lower()


def test_q79_zorder_key_stays_in_codegen(spark, sf_dir):
    """The Morton key is pure shift/mask arithmetic — single agg
    exchange, no UDFs, whole-stage codegen covers the projection."""
    df = analytics_ext.q79_zorder_cluster(spark, sf_dir)
    assert I.count_exchanges(df) == 1
    p = I.simple_plan(df)
    assert "pythonudf" not in p.lower()
    assert I.codegen_stage_count(df) >= 1


def test_q82_fuzzy_search_take_ordered_no_udf(spark, sf_dir):
    """Edit distance runs JVM-side on the scan; top-k must be
    TakeOrdered, not a global sort."""
    from hcdc_spark.operators import text

    df = text.q82_fuzzy_search(spark, sf_dir)
    p = I.simple_plan(df)
    assert "TakeOrdered" in p
    assert "pythonudf" not in p.lower()
    assert I.count_exchanges(df) == 0


def test_q83_gapfill_broadcasts_daily_onto_spine(spark, sf_dir):
    """The gap-fill join must broadcast (both sides are calendar-sized
    aggregates), and the fact table must be scanned exactly once: the
    daily aggregate is localCheckpoint-pinned, so the visible plan
    contains NO parquet scan at all (both consumers read the
    checkpointed tiny aggregate) and only the spine/bounds exchanges."""
    df = analytics_ext.q83_date_rollup_gapfill(spark, sf_dir)
    assert I.has_broadcast_join(df)
    assert not I.has_cartesian(df)
    # single-fact-scan property gated structurally (exchange count),
    # not by grepping for a "Scan parquet" substring — explain
    # formatting varies across Spark versions. Both consumers read the
    # checkpointed daily aggregate, so the only exchanges left are the
    # bounds 1-row reduce and the broadcast of the gap-fill join.
    assert I.count_exchanges(df) <= 2


def test_q84_retention_no_join_two_exchanges(spark, sf_dir):
    """Cohort day is a window min, not a self-join: no join node, and
    the fact shuffles once by user_id plus the final matrix aggregate."""
    df = analytics_ext.q84_retention_cohorts(spark, sf_dir)
    p = I.simple_plan(df)
    assert "Join" not in p
    assert I.count_exchanges(df) <= 3


def test_q85_funnel_single_user_shuffle(spark, sf_dir):
    """The min-per-stage funnel needs exactly one shuffle by user_id
    (plus the 1-row final reduce) — no window, no join, no per-stage
    cascade."""
    df = analytics_ext.q85_event_funnel(spark, sf_dir)
    p = I.simple_plan(df)
    assert "Join" not in p and "Window" not in p
    assert I.count_exchanges(df) <= 2


def test_q86_unpivot_is_projection_over_one_shuffle(spark, sf_dir):
    """Expand (unpivot) must sit above the tiny aggregate: exactly the
    groupBy's exchanges, no extra shuffle for the reshape, no join."""
    df = analytics_ext.q86_unpivot(spark, sf_dir)
    p = I.simple_plan(df)
    assert "Join" not in p
    assert I.count_exchanges(df) <= 2


def test_q87_lambdas_shuffle_free_no_udf(spark, sf_dir):
    """Higher-order functions evaluate on the scan: zero exchanges,
    zero Python evaluation nodes, no explode."""
    from hcdc_spark.operators import text

    df = text.q87_array_lambdas(spark, sf_dir)
    p = I.simple_plan(df)
    assert I.count_exchanges(df) == 0
    assert "pythonudf" not in p.lower()
    assert "Generate" not in p  # no explode — arrays stay arrays


def test_q88_mad_broadcasts_medians(spark, sf_dir):
    """The per-group median (tiny) must broadcast back over the fact
    scan; the deviations aggregate is the only extra shuffle."""
    df = analytics_ext.q88_robust_stats(spark, sf_dir)
    assert I.has_broadcast_join(df)
    assert not I.has_cartesian(df)


def test_q99_kmeans_step_broadcast_update_no_udf(spark, sf_dir):
    """The Lloyd-step update must be the canonical distributed shape:
    the k seed centroids BROADCAST into the scoring cross join (a
    sort-merge or shuffled cartesian on the full vector table would
    move every vector k times), the per-(cell, dim) update partially
    aggregates map-side, and the three tiny per-cell frames join
    broadcast. No Python UDF anywhere; the only sort is the final
    8-row orderBy."""
    from hcdc_spark.operators import similarity

    df = similarity.q99_kmeans_step(spark, sf_dir)
    p = I.simple_plan(df)
    assert "pythonudf" not in p.lower()
    assert I.broadcast_join_count(df) >= 3
    assert I.sortmerge_join_count(df) == 0


def test_q99_kmeans_step_partition_invariants(spark, sf_dir):
    """One Lloyd step is a partition of the data: member counts sum to
    the vector count, every seed cell survives (the seeds themselves
    are members, so no cell is empty), and the inertia is bounded by
    the member count (each cosine <= 1)."""
    from hcdc_spark.operators import similarity

    rows = similarity.q99_kmeans_step(spark, sf_dir).collect()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert len(rows) == similarity.KM_K
    assert sum(r["n_members"] for r in rows) == emb.count()
    for r in rows:
        assert r["inertia"] <= r["n_members"] + 1e-9
        assert r["n_members"] > 0


def test_q100_neardup_scaled_equi_join_no_cartesian(spark, sf_dir):
    """The scale-regime near-dup must keep the q52/q92 plan shape with
    corpus-sized bands: candidates come from an equi-join on the
    (band, key) pair — never a cartesian — the banding itself is a
    scan-side projection (no Python UDF), and the registry entry's
    top-20 is TakeOrdered, not a global sort."""
    from hcdc_spark.operators import similarity

    df = similarity.q100_neardup_scaled(spark, sf_dir)
    p = I.simple_plan(df)
    assert not I.has_cartesian(df)
    assert "pythonudf" not in p.lower()
    assert "TakeOrdered" in p


def test_q101_ivfpq_broadcasts_all_artifacts(spark, sf_dir):
    """IVF-PQ: the coarse centroids (16 rows), the subvector codebook
    (128 rows) and the query LUT (128 rows) must all BROADCAST — the
    scan side carries codes and cell ids only — with top-10 via
    TakeOrdered and no cartesian or Python UDF anywhere."""
    from hcdc_spark.operators import similarity

    df = similarity.q101_ivfpq_ann(spark, sf_dir)
    p = I.simple_plan(df)
    assert I.broadcast_join_count(df) >= 3
    assert not I.has_cartesian(df)
    assert "TakeOrdered" in p
    assert "pythonudf" not in p.lower()


def test_quantizer_argmax_aggregates_before_shuffle(spark, sf_dir):
    """Every quantizer assignment (coarse cells, PQ codes, k-means
    assign) is the max_by aggregate form (r14): partial aggregation on
    the map side, so one pre-collapsed candidate per group crosses the
    shuffle and nothing is sorted per group. A ranking window sneaking
    back means every scored (vector, centroid/codeword) row is sorted
    below the exchange just to keep rank 1."""
    from hcdc_spark.operators import similarity

    for fn in (
        similarity.q93_ivf_ann_fixed,
        similarity.q97_pq_ann_adc,
        similarity.q99_kmeans_step,
        similarity.q101_ivfpq_ann,
    ):
        df = fn(spark, sf_dir)
        p = I.simple_plan(df)
        assert "Window" not in p, fn.__name__
        assert "max_by" in I.plan(df), fn.__name__


def test_q102_index_search_is_partition_pruning(spark, sf_dir, tmp_path):
    """The materialized IVF-PQ index delivers the claim q101's doc
    makes: the probe filter on the cell-partitioned code table must be
    planned as PARTITION pruning (PartitionFilters at the scan — the
    unprobed directories are never listed), the scan must read the
    one-byte codes and no raw vector column, and the LUT must join
    broadcast. Then the hard proof: overwrite every UNPROBED cell
    directory's parquet bytes with garbage (same size, so the cached
    file index stays consistent) — the pruned search still returns the
    identical ranking because it never OPENS those files, while an
    unpruned full scan over the same table dies on the poison."""
    import math
    import pathlib

    import pytest as _pytest

    from hcdc_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    idx = str(tmp_path / "ivfpq")
    S.write_ivfpq_index(spark, emb, idx)

    df = S.ivfpq_index_search(spark, idx, qv, exclude_id=0)
    pf = I.partition_filters(df)
    assert any("cell" in f for f in pf), f"no cell PartitionFilters: {pf}"
    schemas = I.read_schemas(df)
    code_scan = [s for s in schemas if "c0:tinyint" in s]
    assert code_scan, f"code scan missing tinyint codes: {schemas}"
    assert all("embedding" not in s and "cv" not in s for s in code_scan)
    assert I.has_broadcast_join(df)
    assert "TakeOrdered" in I.simple_plan(df)

    # recompute the probes the search chose (same fold order: left-to-
    # right over 64 doubles, identical to the _dot aggregate)
    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    q = [float(x) for x in qv]
    qn = math.sqrt(dot(q, q))
    scored = [
        (r["ccid"], dot(q, r["c"]) / (qn * math.sqrt(dot(r["c"], r["c"]))))
        for r in spark.read.parquet(f"{idx}/centroids").collect()
    ]
    probes = {c for c, _ in sorted(scored, key=lambda t: (-t[1], t[0]))[:4]}

    expected = sorted(tuple(r) for r in df.collect())
    full = spark.read.parquet(f"{idx}/codes")  # file index cached now

    poisoned = 0
    for d in pathlib.Path(idx, "codes").rglob("cell=*"):
        if not d.is_dir():
            continue
        if int(d.name.split("=", 1)[1]) in probes:
            continue
        for f in d.glob("*.parquet"):
            f.write_bytes(b"\x00" * f.stat().st_size)
            poisoned += 1
    assert poisoned >= 4, "corpus too small to leave unprobed cells"

    # pruned search: identical ranking, unprobed files never opened
    assert sorted(tuple(r) for r in df.collect()) == expected
    # the poison is live: an UNpruned scan over the same table dies
    with _pytest.raises(Exception, match="[Pp]arquet|magic|corrupt"):
        full.count()


def test_q103_band_index_probe_prunes_bands_and_buckets(
    spark, sf_dir, tmp_path
):
    """Dedup-on-ingest scale contract (round-11 layout): the persisted
    band index is PARTITIONED by band and BUCKETED on bucket, and the
    probe reads ONE scan pruned to the band dirs the batch populates
    with the global bucket IN-list pushed when sparse — the sparse
    probe's read is O(|batch| x occupancy x n_bands), not a linear
    scan of the index (the round-10 verdict's missing #3). Plan-gated
    here: PartitionFilters prune band dirs, the bucket IN-list reaches
    parquet, and with bucketed scans forced visible the plan reports
    SelectedBucketsCount < total. The corpus index side is never
    re-shuffled in EITHER regime: the join is keyed on the bucket
    column alone (band equality rides as an SMJ residual), so the
    index side scans bucket-aligned and only the batch side (and the
    final distinct) exchange."""
    from hcdc_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") % 10 != 7)
    new_batch = emb.where(F.col("vec_id") % 10 == 7)
    table = "hcdc_band_index_gate"
    bcast = "spark.sql.autoBroadcastJoinThreshold"
    abs_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(bcast)
    prev_abs = spark.conf.get(abs_key)
    try:
        S.write_band_index(
            spark, corpus, table, str(tmp_path / "band_index")
        )
        spark.conf.set(bcast, "-1")
        meta = S.read_band_index_meta(spark, table)
        assert meta["layout"] == "band_partitioned"

        # MICRO-BATCH regime (|global keys| x 2 <= n_buckets, the
        # sparsity margin): one scan with the bucket IN-list pushed —
        # dir pruning + file pruning. 2 vecs x 6 bands = at most 12
        # distinct bucket values over 32 files.
        small = new_batch.limit(2)
        nbx_s = S._band_explode(small).select(
            F.col("vec_id").alias("vec_new"), "band", "bucket"
        )
        cand_s = S._band_candidates(
            spark, table, nbx_s, meta, "vec_new", "vec_old"
        )
        pf = I.partition_filters(cand_s)
        assert any("band" in f for f in pf), I.simple_plan(cand_s)
        assert any("In(bucket" in f for f in I.pushed_filters(cand_s))
        # bucket-FILE pruning, made visible by forcing bucketed scans
        # (the file skip itself also happens under the default conf —
        # that is what the poison test below proves behaviorally)
        spark.conf.set(abs_key, "false")
        sel = I.selected_buckets(cand_s)
        assert sel and all(k < n for k, n in sel), sel
        if prev_abs is None:
            spark.conf.unset(abs_key)
        else:
            spark.conf.set(abs_key, prev_abs)

        # BULK regime (IN-list would hit every file): the scan drops
        # the IN but the index side stays bucket-aligned — ONE
        # Bucketed: true scan, NO corpus-side exchange (only the
        # batch's bucket shuffle + the distinct). The band equality
        # must ride as an SMJ residual, NOT a join key — keyed on
        # (band, bucket) the index side would re-shuffle.
        nbx_b = S._band_explode(new_batch).select(
            F.col("vec_id").alias("vec_new"), "band", "bucket"
        )
        cand_b = S._band_candidates(
            spark, table, nbx_b, meta, "vec_new", "vec_old"
        )
        p = I.plan(cand_b, "formatted")
        assert p.count("Bucketed: true") == 1, p[:2000]
        # batch-side bucket shuffle + the final distinct; nothing else
        assert I.count_exchanges(cand_b) <= 2, I.simple_plan(cand_b)
        # end-to-end: the full pair pipeline stays cartesian-free and
        # UDF-free on the same plan
        full = S.incremental_neardup_pairs(spark, new_batch, table, corpus)
        assert not I.has_cartesian(full)
        assert "pythonudf" not in I.simple_plan(full).lower()
    finally:
        spark.conf.set(bcast, prev)
        if prev_abs is None:
            spark.conf.unset(abs_key)
        else:
            spark.conf.set(abs_key, prev_abs)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_band_and_chunk_builds_write_one_file_per_bucket(
    spark, sf_dir, tmp_path
):
    """Small-files guard: the bucketed writers must cluster rows by
    the bucket-file id before writing, so each (partition dir, bucket
    file) is produced by EXACTLY ONE task — without it Spark emits
    one file per (input task x dir x bucket): measured at sf16, the
    26-band build landed 26,624 files (32x the 832 the layout needs)
    and a 1024-bucket layout 853k, turning the write into a
    40-minute per-file-permission fork storm; at 1000 executors the
    multiplier is a small-files disaster and every probe pays the
    extra opens."""
    import glob
    import os
    import re

    from hcdc_spark.operators import similarity as S
    from hcdc_spark.operators.text import write_chunk_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") % 10 != 7)
    table = "hcdc_band_filecount_gate"
    path = str(tmp_path / "band_fc")
    try:
        S.write_band_index(spark, corpus, table, path)
        seen: set[tuple[str, str]] = set()
        for f in glob.glob(os.path.join(path, "band=*", "*.parquet")):
            m = re.search(r"_(\d{5})\.", os.path.basename(f))
            assert m, f"no bucket suffix in {f}"
            key = (os.path.dirname(f), m.group(1))
            assert key not in seen, f"two files for one bucket: {key}"
            seen.add(key)
        assert seen
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ctable = "hcdc_chunk_filecount_gate"
    cpath = str(tmp_path / "chunk_fc")
    try:
        write_chunk_index(spark, docs, ctable, cpath)
        ids = []
        for f in glob.glob(os.path.join(cpath, "*.parquet")):
            m = re.search(r"_(\d{5})\.", os.path.basename(f))
            assert m, f"no bucket suffix in {f}"
            ids.append(m.group(1))
        assert ids and len(ids) == len(set(ids)), ids
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ctable}")


def test_band_candidates_rekeys_on_degraded_occupancy(
    spark, sf_dir, tmp_path
):
    """BAND_SMJ_GROUP_CAP guard: every band shares one bucket-value
    space, so the bucket-only join's SMJ buffers ~occupancy x n_bands
    rows per key value — a degraded/stale geometry pushes that past
    Spark's 4096-row in-memory group threshold and the merge spills to
    disk-backed re-iteration per probe row (measured at sf16: 30+ min
    vs ~10 s). The probe must re-key on the (band, bucket) PAIR —
    accepting the exchange — exactly when catalog math says the group
    would spill, and keep the exchange-free bucket-only key on a
    healthy occupancy. Candidates must be identical either way."""
    from hcdc_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") % 10 != 7)
    batch = emb.where(F.col("vec_id") % 10 == 7)
    table = "hcdc_band_rekey_gate"
    bcast = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(bcast)
    try:
        spark.conf.set(bcast, "-1")
        # DEGRADED: 32 bands x 2 bits over the ~450-vec sf0.001 corpus
        # -> exp_group = 32 x 450 / 4 = 3600 > BAND_SMJ_GROUP_CAP
        S.write_band_index(
            spark, corpus, table, str(tmp_path / "bi_degraded"),
            n_bands=32, bits=2, geometry="hyperplane",
        )
        meta = S.read_band_index_meta(spark, table)
        assert (
            meta["n_bands"] * meta["n_rows"] / 2 ** meta["bits"]
            > S.BAND_SMJ_GROUP_CAP
        ), "test premise: degraded geometry must exceed the cap"
        nbx = S._band_explode(
            batch, n_bands=32, bits=2, geometry="hyperplane"
        ).select(F.col("vec_id").alias("vec_new"), "band", "bucket")
        cand = S._band_candidates(
            spark, table, nbx, meta, "vec_new", "vec_old"
        )
        p = I.simple_plan(cand)
        assert "SortMergeJoin [band" in p, p  # keyed on the pair
        # reference: the raw (band, bucket) join — identical pairs
        ref = (
            nbx.join(
                spark.table(table).select(
                    "band", "bucket", F.col("vec_id").alias("vec_old")
                ),
                ["band", "bucket"],
            )
            .select("vec_new", "vec_old")
            .distinct()
        )
        assert cand.count() == ref.count() > 0
        spark.sql(f"DROP TABLE IF EXISTS {table}")

        # HEALTHY: default sign shape (6 bands x 4 bits -> exp_group
        # ≈ 675) keeps the exchange-free bucket-only key
        S.write_band_index(
            spark, corpus, table, str(tmp_path / "bi_healthy")
        )
        meta_h = S.read_band_index_meta(spark, table)
        nbx_h = S._band_explode(batch).select(
            F.col("vec_id").alias("vec_new"), "band", "bucket"
        )
        cand_h = S._band_candidates(
            spark, table, nbx_h, meta_h, "vec_new", "vec_old"
        )
        ph = I.simple_plan(cand_h)
        assert "SortMergeJoin [bucket" in ph, ph
    finally:
        spark.conf.set(bcast, prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_band_index_probe_never_opens_unprobed_files(
    spark, sf_dir, tmp_path
):
    """The q102 poison technique applied to the band index (round-10
    verdict 'next' #3): corrupt (a) a bucket file NO probed bucket
    value hashes into (file selection is the probe's GLOBAL value
    list — a dir can open a file another band's key routes to, the
    documented single-scan trade) inside a probed band dir, and (b)
    an entire band directory no restricted probe touches — the pruned
    probe must never open either. A control full scan must fail on
    the poison (proving the files are poisoned, not dead weight), and
    a probe whose keys DO hash into the poisoned bucket must fail too
    (proving the probe actually reads the files it claims to)."""
    import glob
    import os

    import pytest as _pytest

    from hcdc_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") % 10 != 7)
    # small batch → small probed key set → unprobed buckets exist
    new_batch = emb.where(F.col("vec_id") % 10 == 7).limit(2)
    table = "hcdc_band_poison_gate"
    path = str(tmp_path / "band_poison")
    try:
        # 32 bucket files: a 2-vec probe bands into at most 12
        # distinct bucket values, inside the x2 sparsity margin, so
        # the global IN-list engages (the production micro-batch
        # regime)
        S.write_band_index(spark, corpus, table, path, n_buckets=32)
        meta = S.read_band_index_meta(spark, table)
        nbx = S._band_explode(new_batch)
        keys = nbx.select("band", "bucket").distinct().collect()
        by_band: dict[int, list[str]] = {}
        for r in keys:
            by_band.setdefault(r["band"], []).append(r["bucket"])
        # probed bucket-file ids = the GLOBAL value list's hashes (the
        # single-scan selection applies to every probed band dir), via
        # Spark's own bucket hash
        all_buckets = sorted({r["bucket"] for r in keys})
        rows = spark.createDataFrame(
            [(x,) for x in all_buckets], "bucket string"
        ).select(F.expr("pmod(hash(bucket), 32)").alias("i")).collect()
        probed_global = {r.i for r in rows}
        band0 = sorted(by_band)[0]
        unprobed = [i for i in range(32) if i not in probed_global]
        assert unprobed, "probe covered all buckets — shrink the batch"
        # pick an unprobed bucket id that actually HAS a file (empty
        # buckets write none)
        victim, files = None, []
        for cand_id in unprobed:
            files = glob.glob(
                os.path.join(
                    path, f"band={band0}", f"*_{cand_id:05d}*.parquet"
                )
            )
            if files:
                victim = cand_id
                break
        assert victim is not None, "no unprobed bucket file to poison"
        for f in files:
            with open(f, "wb") as fh:
                fh.write(b"GARBAGE NOT PARQUET")

        # (a) the standard probe never opens the unprobed bucket file
        got = S.incremental_neardup_pairs(
            spark, new_batch, table, corpus, threshold=None
        )
        assert got.count() >= 0  # executes clean over the poison

        # control: a full scan MUST hit the poison
        with _pytest.raises(Exception, match="[Pp]arquet|magic|corrupt"):
            spark.table(table).count()

        # (b) band-DIR pruning: poison every file of a band dir no
        # restricted probe touches — a single-band diagnostic probe
        # (band-sampled recall estimation) must never open that dir
        other_bands = [b for b in sorted(by_band) if b != band0]
        poison_band = other_bands[-1]
        for f in glob.glob(
            os.path.join(path, f"band={poison_band}", "*.parquet")
        ):
            with open(f, "wb") as fh:
                fh.write(b"GARBAGE NOT PARQUET")
        restricted = nbx.where(F.col("band") == band0)
        leg = S.probe_band_scan(spark, table, restricted, meta)
        assert leg.count() >= 0  # the poisoned band dir is never read

        # a probe that DOES need the poisoned bucket must fail — the
        # pruning reads precisely what it claims, nothing less
        probing_victim = spark.createDataFrame(
            [(int(-10**6), int(band0), f"__miss_{i}__")
             for i in range(64)],
            "vec_id long, band int, bucket string",
        )
        # find a synthetic bucket string that hashes into the victim file
        hit = probing_victim.select(
            "bucket", F.expr("pmod(hash(bucket), 32)").alias("i")
        ).where(F.col("i") == victim).limit(1).collect()
        assert hit, "no synthetic key hit the victim bucket — widen range"
        needs_victim = spark.createDataFrame(
            [(int(-10**6), int(band0), hit[0]["bucket"])],
            "vec_id long, band int, bucket string",
        )
        with _pytest.raises(Exception, match="[Pp]arquet|magic|corrupt"):
            S.probe_band_scan(spark, table, needs_victim, meta).count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_chunk_index_rewrite_join_is_bucket_aligned(spark, sf_dir,
                                                    tmp_path):
    """The crawl gate's chunk-rewrite reference (c26): the corpus
    chunk-hash set is a table BUCKETED on the hash, so the per-batch
    rewrite join must read it with NO corpus-side exchange — the whole
    chunk_dedup_rewrite_vs plan carries exactly TWO exchanges with
    broadcast disabled: the batch chunks shuffled to the bucket layout
    on h (the within-doc window then rides that clustering — h alone
    satisfies ClusteredDistribution(doc_id, h) — paying only a sort)
    and the per-doc regroup; an unbucketed reference would add a
    third, the 100 TB corpus re-shuffling on every ingest batch."""
    from hcdc_spark.operators.text import (
        chunk_dedup_rewrite_vs,
        write_chunk_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 10 != 3)
    batch = docs.where(F.col("doc_id") % 10 == 3)
    table = "hcdc_chunk_index_gate"
    bcast = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(bcast)
    try:
        write_chunk_index(
            spark, corpus, table, str(tmp_path / "chunk_index")
        )
        spark.conf.set(bcast, "-1")
        rewritten = chunk_dedup_rewrite_vs(batch, spark.table(table))
        p = I.plan(rewritten, "formatted")
        assert "Bucketed: true" in p
        assert I.count_exchanges(rewritten) == 2, I.simple_plan(rewritten)
        # and it still computes: every batch doc comes back rewritten
        assert rewritten.count() == batch.count()
    finally:
        spark.conf.set(bcast, prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_md5_doc_index_rekeys_on_hot_duplication_cluster(
    spark, sf_dir, tmp_path
):
    """The md5 SMJ guard (round-11 advice, medium): minhash-md5 bucket
    groups track TRUE duplication, so the 2^bits formula is
    meaningless — but a hot duplication cluster (boilerplate corpora)
    recreates the measured per-probe-row SMJ spill. The guard must
    read the PERSISTED max_group_rows statistic: small real corpus →
    bucket-only exchange-free join; statistic past BAND_SMJ_GROUP_CAP
    (here: forced via the append's conservative bump) → re-key on the
    (band, bucket) pair. Candidates identical either way."""
    from hcdc_spark.operators import dedup as D
    from hcdc_spark.operators import similarity as S
    from hcdc_spark.functions.text import distinct_words

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = docs.select(
        "doc_id", distinct_words("text").alias("ws")
    ).where(F.size("ws") > 0)
    corpus_t = t.where(F.col("doc_id") % 10 != 3)
    batch_t = t.where(F.col("doc_id") % 10 == 3).limit(5)
    table = "hcdc_md5_guard_gate"
    bcast = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(bcast)
    try:
        spark.conf.set(bcast, "-1")
        D.write_doc_band_index(
            spark, corpus_t, table, str(tmp_path / "doc_bi")
        )
        meta = S.read_band_index_meta(spark, table)
        # healthy: the build recomputed the exact statistic, small
        assert 1 <= meta["max_group_rows"] <= S.BAND_SMJ_GROUP_CAP
        nbx = D._doc_band_explode(batch_t).select(
            F.col("doc_id").alias("doc_new"), "band", "bucket"
        )
        cand = S._band_candidates(
            spark, table, nbx, meta, "doc_new", "doc_old"
        )
        assert "SortMergeJoin [bucket" in I.simple_plan(cand)
        before = sorted(tuple(r) for r in cand.collect())

        # hot-cluster regime: stamp the statistic past the cap (the
        # state a template-heavy crawl's appends accumulate into)
        S._set_band_index_props(
            spark, table,
            {"max_group_rows": S.BAND_SMJ_GROUP_CAP + 1},
        )
        meta_hot = S.read_band_index_meta(spark, table)
        cand_hot = S._band_candidates(
            spark, table, nbx, meta_hot, "doc_new", "doc_old"
        )
        assert "SortMergeJoin [band" in I.simple_plan(cand_hot)
        assert sorted(tuple(r) for r in cand_hot.collect()) == before
    finally:
        spark.conf.set(bcast, prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_q105_self_dedup_join_is_equi_keyed(spark, sf_dir):
    """The within-batch self-dedup must stay cartesian-free: the
    candidate step is an equi-join on (band, bucket) with the id
    ordering as a residual, signatures are pure projections, and no
    Python evaluation node appears anywhere."""
    from hcdc_spark.operators import dedup

    df = dedup.q105_batch_self_dedup(spark, sf_dir)
    assert not I.has_cartesian(df)
    p = I.simple_plan(df)
    assert "pythonudf" not in p.lower()
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_band_tombstone_anti_join_stays_bucket_aligned(
    spark, sf_dir, tmp_path
):
    """Plan gate for the index DELETE (round-12 verdict 'next' #2):
    applying pending tombstones must not cost the probe its layout
    wins. With NO tombstone directory the probe plan is byte-identical
    to the pre-delete plan (driver-side existence check — the
    common no-takedown case pays zero). WITH tombstones the filter
    rides as a BROADCAST join against the pruned index scan, so the
    index side stays bucket-aligned (one Bucketed: true scan, no new
    exchange) and the band-dir PartitionFilters survive; candidates
    lose exactly the tombstoned ids."""
    from hcdc_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.where(F.col("vec_id") % 10 != 7)
    batch = emb.where(F.col("vec_id") % 10 == 7)
    table = "hcdc_band_tomb_gate"
    bcast = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(bcast)
    try:
        S.write_band_index(
            spark, corpus, table, str(tmp_path / "tomb_bi")
        )
        spark.conf.set(bcast, "-1")
        meta = S.read_band_index_meta(spark, table)
        nbx = S._band_explode(batch).select(
            F.col("vec_id").alias("vec_new"), "band", "bucket"
        )
        import re as _re

        def shape(df):  # plan modulo expression/plan ids
            return _re.sub(
                r"plan_id=\d+", "plan_id=",
                _re.sub(r"#\d+", "#", I.simple_plan(df)),
            )

        cand0 = S._band_candidates(
            spark, table, nbx, meta, "vec_new", "vec_old"
        )
        plan0 = shape(cand0)
        ex0 = I.count_exchanges(cand0)  # before collect: AQE later
        # rewrites the inspected plan text
        pairs0 = {(r["vec_new"], r["vec_old"]) for r in cand0.collect()}
        assert pairs0, "no candidates — gate is vacuous"

        # no tombstone dir → the probe plan is IDENTICAL (shape-wise)
        assert shape(
            S._band_candidates(
                spark, table, nbx, meta, "vec_new", "vec_old"
            )
        ) == plan0

        victims = sorted({o for _, o in pairs0})[:2]
        S.delete_from_band_index(spark, table, victims, batch_id=1)
        cand1 = S._band_candidates(
            spark, table, nbx, meta, "vec_new", "vec_old"
        )
        p1 = I.plan(cand1, "formatted")
        # index side still ONE bucket-aligned pruned scan ...
        assert p1.count("Bucketed: true") == 1, p1[:2000]
        assert any("band" in f for f in I.partition_filters(cand1))
        # ... the tombstone join is a BROADCAST: the only new
        # exchanges are on the O(|ids|) tombstone side (its broadcast
        # + the tiny max-gen aggregation) — the index side is never
        # re-shuffled (no new hashpartitioning on the scan output;
        # the bucketed scan feeds the broadcast join then the SMJ)
        assert "BroadcastHashJoin" in p1, p1[:2000]
        sp1 = shape(cand1)
        assert sp1.count("Exchange hashpartitioning(bucket") == (
            plan0.count("Exchange hashpartitioning(bucket")
        ), sp1  # only the BATCH side shuffles on bucket, before & after
        assert I.count_exchanges(cand1) <= ex0 + 2, sp1
        pairs1 = {(r["vec_new"], r["vec_old"]) for r in cand1.collect()}
        assert pairs1 == {
            (n, o) for n, o in pairs0 if o not in victims
        }, "tombstone filter dropped the wrong candidates"
    finally:
        spark.conf.set(bcast, prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_ivfpq_tombstone_keeps_partition_pruning(spark, sf_dir, tmp_path):
    """The ANN takedown's plan gate: after delete_from_ivfpq_index the
    search's code-table scan still plans `cell IN (probes)` as a
    partition filter (the pruned read is the whole point of the
    index), with the tombstone filter riding as a broadcast join."""
    from hcdc_spark.operators import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.where(F.col("vec_id") == 0).select(
        "embedding"
    ).collect()[0][0]
    idx = str(tmp_path / "ivfpq_tomb")
    S.write_ivfpq_index(spark, emb, idx)
    victim = S.ivfpq_index_search(
        spark, idx, qv, exclude_id=0
    ).collect()[0]["vec_id"]
    S.delete_from_ivfpq_index(spark, idx, [victim], batch_id=1)
    out = S.ivfpq_index_search(spark, idx, qv, exclude_id=0)
    pf = I.partition_filters(out)
    assert any("cell" in f for f in pf), I.simple_plan(out)
    assert "BroadcastHashJoin" in I.plan(out, "formatted")
    assert victim not in {r["vec_id"] for r in out.collect()}


def test_ids_df_is_local_table_scan_not_python_rdd(spark):
    """The takedown id frame must never be Python-RDD-backed
    (round-14 profiling: a pickled-rows frame makes EVERY tombstone
    write spin up Python workers — ~5 s per delete call for a 28-id
    list vs ~0.3 s JVM-side, 16x). _ids_df converts through pandas
    with Arrow forced on, which plans as a LocalTableScan: data
    embedded JVM-side, no RDD, no Python stage. The naive
    spark.createDataFrame(list) plans as Scan ExistingRDD — the
    shape this gate exists to keep out of delete_from_band_index /
    delete_from_ivfpq_index."""
    from hcdc_spark.operators.similarity import _ids_df

    plan = _ids_df(spark, [1, 2, 3], "doc_id")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    # and the conf override restored the session's previous value
    assert spark.conf.get(
        "spark.sql.execution.arrow.pyspark.enabled"
    ) == "true"  # get_spark sets it; _ids_df must not clobber it


def _pair_join_conditions(df):
    import re as _re

    return [
        c
        for c in _re.findall(r"Join condition: (.+)", I.plan(df, "formatted"))
        if "aggregate(" in c
    ]


def test_q35_pair_condition_short_circuits_single_fold(spark, sf_dir):
    """Round-14 changes 7+10: the O(n²) twin's pair-join condition must
    keep exactly ONE O(d) array fold (the dot — norms are per-row
    projections, never per-pair) and evaluate the 8-byte id inequality
    FIRST so codegen's AND short-circuit skips the fold for half the
    ordered pairs."""
    from hcdc_spark.operators import similarity

    df = similarity.q35_embedding_neardup(spark, sf_dir)
    conds = _pair_join_conditions(df)
    assert len(conds) == 1, conds
    cond = conds[0]
    assert cond.count("aggregate(") == 1, cond  # the dot only
    assert " < " in cond and cond.index(" < ") < cond.index("aggregate("), cond


def test_q68_pair_condition_short_circuits_single_fold(spark, sf_dir):
    """Same gate for the SemDeDup within-cell pair join (the cell
    equi-key itself is gated by test_q68_pairs_join_on_cell_key)."""
    from hcdc_spark.operators import similarity

    df = similarity.q68_semantic_dedup(spark, sf_dir)
    conds = _pair_join_conditions(df)
    assert len(conds) == 1, conds
    cond = conds[0]
    assert cond.count("aggregate(") == 1, cond
    assert " < " in cond and cond.index(" < ") < cond.index("aggregate("), cond


def test_q52_q92_band_frames_materialized_once(spark, sf_dir):
    """Round-14 change 9: the banded-explode frame feeds BOTH candidate
    join sides from one localCheckpoint (Scan ExistingRDD), so the band
    projection (24 hyperplane folds for q52, per-word md5 for q92) is
    never re-derived per side — q92's plan must be md5-free end to
    end."""
    from hcdc_spark.operators import similarity

    q52 = similarity.q52_embedding_neardup_lsh(spark, sf_dir)
    assert I.simple_plan(q52).count("Scan ExistingRDD") >= 2
    q92 = similarity.q92_embedding_neardup_md5(spark, sf_dir)
    p92 = I.simple_plan(q92)
    assert p92.count("Scan ExistingRDD") >= 2
    assert "md5" not in p92, "md5 banding re-derived outside the checkpoint"


def test_noise_flagged_headline_plans_pinned(spark, sf_dir):
    """PERF_r14 flagged q03/q12/q48/q49 as regressed; their plans were
    byte-identical to r13 (driver cold-JVM noise). Pin each plan's
    node counts (r15, VERDICT item 8) so a REAL plan regression —
    a broadcast that stops firing, an extra exchange, a lost
    TakeOrdered — can never hide behind "that query is noisy"."""
    from hcdc_spark.operators import analytics

    q03 = analytics.q03_join_topn_revenue(spark, sf_dir)
    p03 = I.simple_plan(q03)
    assert I.count_exchanges(q03) == 1, p03  # the one agg shuffle
    assert I.broadcast_join_count(q03) == 2, p03  # both dims broadcast
    assert I.sortmerge_join_count(q03) == 0, p03
    assert "TakeOrderedAndProject" in p03, p03  # top-n never global-sorts

    q12 = analytics.q12_cube(spark, sf_dir)
    p12 = I.simple_plan(q12)
    assert I.count_exchanges(q12) == 2, p12  # pre-agg + cube agg
    assert p12.count("Expand") == 1, p12  # cube expands the PRE-AGG once

    q48 = analytics_ext.q48_range_join(spark, sf_dir)
    p48 = I.simple_plan(q48)
    assert I.count_exchanges(q48) == 1, p48  # only the final agg shuffles
    assert I.broadcast_join_count(q48) == 1, p48  # band dim broadcast
    assert not I.has_cartesian(q48), p48

    q49 = analytics_ext.q49_percentiles(spark, sf_dir)
    p49 = I.simple_plan(q49)
    assert I.count_exchanges(q49) == 1, p49  # single two-phase agg
    assert p49.count("ObjectHashAggregate") == 2, p49  # percentile pair
    assert "Window" not in p49, p49


def test_probe_vector_lookup_pushes_filter(spark, sf_dir):
    """The shared ANN probe-vector point lookup (probe_vector; r15,
    VERDICT item 6) must plan as a pushed scan predicate — PushedFilters
    carries the vec_id equality so row-group min/max stats skip
    non-matching blocks — never as a post-scan corpus filter. The frame
    comes from probe_vector_frame, the expression the helper collects."""
    from hcdc_spark.catalog import load_tables
    from hcdc_spark.operators import similarity as S

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    probe = S.probe_vector_frame(emb, 0)
    pushed = I.pushed_filters(probe)
    assert any("vec_id" in f and "EqualTo" in f for f in pushed), pushed
