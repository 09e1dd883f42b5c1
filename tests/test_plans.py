"""Physical-plan regression tests (SURVEY §4): the scale properties the
engine is designed around, asserted on `.explain` output so a future
change that multiplies shuffles fails here instead of at 100 TB.

AQE only removes work at runtime (reuse/coalesce/broadcast-convert), so
the pre-AQE counts asserted here are upper bounds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from marex_spark.operators.detect import preprocess_data
from marex_spark.plans import (
    broadcast_join_count,
    exchange_count,
    pushed_filters,
    scan_columns,
)
from marex_spark.sources.parquet import load_table
from marex_spark.sources.synthetic import synthetic_sst_gridded

SF = "/root/testdata/sf0.001"


def test_detect_exact_is_single_shuffle(spark):
    """The fused detect pipeline: exactly one hash Exchange (the
    cell repartition); climatology + threshold + compare are windows."""
    series = synthetic_sst_gridded(spark, n_years=1, ny=8, nx=16)
    det = preprocess_data(series, method_percentile="exact")
    assert exchange_count(det.extremes) == 1


def test_detect_shifting_is_single_shuffle(spark):
    """Shifting baseline (smoother + year-range climatology window)
    adds no extra shuffle over the cell partitioning."""
    series = synthetic_sst_gridded(spark, n_years=2, ny=8, nx=16)
    det = preprocess_data(
        series, method_anomaly="shifting_baseline", method_percentile="exact"
    )
    assert exchange_count(det.extremes) == 1


def test_scan_pushdown_and_pruning(spark):
    li = load_table(spark, SF, "lineitem")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    assert "l_quantity" in pushed_filters(q)
    cols = scan_columns(q)
    assert set(cols) == {"l_orderkey", "l_quantity"}


def test_threshold_compare_is_broadcast(spark):
    """Global thresholds (one row per cell) must broadcast-join, never
    shuffle the fact table."""
    from marex_spark.operators.threshold import (
        global_threshold_hist,
        identify_extremes,
    )
    from marex_spark.operators.climatology import anomaly_fixed_baseline, partition_by_cells

    series = synthetic_sst_gridded(spark, n_years=1, ny=8, nx=16)
    anom = anomaly_fixed_baseline(partition_by_cells(series))
    thr = global_threshold_hist(anom)
    ext = identify_extremes(anom, thr)
    assert broadcast_join_count(ext) >= 1


def test_overlap_graph_is_single_data_shuffle(spark):
    """The temporal overlap graph (J5): one hash Exchange for the
    cell-partitioned lead window + one for the map-side-combinable pair
    agg — the labelled field must NOT be shuffled twice into a
    self-join (the r1 plan this replaced)."""
    from marex_spark.operators.overlap import overlap_pairs
    from marex_spark.sources.synthetic import synthetic_extremes_gridded

    ext = synthetic_extremes_gridded(spark, n_time=8, ny=8, nx=16)
    labels = ext.filter("extreme").select(
        "time", "y", "x", F.xxhash64("time", "y", "x").alias("obj_id")
    ).localCheckpoint()  # production input is checkpointed (track_events)
    pairs = overlap_pairs(labels, keys=("y", "x"))
    # Composition: the ONE data shuffle for the lead window + the pair
    # agg, plus 5 METADATA-sized exchanges from the two-level time
    # index (distinct times, per-bucket counts, bucket-offset join —
    # frames of one row per timestep/bucket; the price of banning the
    # single-task global-order window, VERDICT r2 #6). The replaced
    # self-join plan shuffled the labelled field twice.
    assert exchange_count(pairs) <= 7
    assert broadcast_join_count(pairs) >= 1  # time index joins broadcast
    from marex_spark.plans import plan_string

    assert "SinglePartition" not in plan_string(pairs)


def test_labelling_is_single_shuffle_per_pass(spark):
    """M4 labelling: the mapInArrow kernel pass has one Exchange (the
    time hash-partitioning) and is checkpointed; after it, the W6
    offset suffix adds only metadata-sized exchanges and the labelled
    cells join the offsets by broadcast."""
    from marex_spark.operators.label import label_components
    from marex_spark.sources.synthetic import synthetic_extremes_gridded

    ext = synthetic_extremes_gridded(spark, n_time=8, ny=8, nx=16)
    # materialize=False: pin the logical plan, not the checkpoint's
    # LogicalRDD (the production path checkpoints this exact plan)
    out = label_components(ext, nx=16, materialize=False)
    # post-checkpoint plan: the W6 offset table costs one map-side-
    # combined agg (1 row/time out) + metadata-sized exchanges for the
    # two-level bucketed prefix sum; the labelled cells themselves join
    # the offsets by BROADCAST — any plan that shuffles the cell field
    # again fails.
    assert exchange_count(out) <= 5
    assert broadcast_join_count(out) >= 1
    from marex_spark.plans import plan_string

    assert "SinglePartition" not in plan_string(out)


def test_preprocess_runs_at_most_four_jobs(spark):
    """The fused gridded preprocessing: the block shuffle's map stage,
    the one aggregate (its map stage and result) over the checkpointed
    kernel output, and the job that consumes the labels — ≤ 4 Spark
    jobs in all (AQE runs each map stage as its own job). The staged
    chain it replaced ran about 20 here. Input as the tracker feeds
    it: True cells with a literal ``extreme``."""
    from marex_spark.operators.track import preprocess_extremes
    from marex_spark.sources.synthetic import synthetic_extremes_gridded

    cells = (
        synthetic_extremes_gridded(spark, n_time=12, ny=12, nx=24)
        .filter("extreme")
        .select("time", "y", "x")
        .localCheckpoint()
        .withColumn("extreme", F.lit(True))
    )
    status = spark.sparkContext.statusTracker()
    before = max(status.getJobIdsForGroup(), default=-1)
    labels = preprocess_extremes(cells, ny=12, nx=24, r_fill=2, t_fill=2, return_labels=True)
    assert labels.collect()
    assert max(status.getJobIdsForGroup()) - before <= 4


def _merging_field(spark):
    from marex_spark.sources.synthetic import synthetic_extremes_gridded

    return synthetic_extremes_gridded(
        spark, n_time=12, ny=16, nx=24, density=0.12, seed=11
    ).localCheckpoint()


def test_merge_tracking_job_count(spark):
    """Merge-mode tracking links events from the resolver kernel's link
    pairs: labelling, the resolver and the remap, with no Spark overlap
    / areas / filter / components chain. Measured here: 15 jobs (the
    Jacobi block engine this resolver replaced took 27 with 4-step
    blocks; the overlap chain the link pairs replaced cost 15 more)."""
    from marex_spark.operators.track import track_events

    ext = _merging_field(spark)
    status = spark.sparkContext.statusTracker()
    before = max(status.getJobIdsForGroup(), default=-1)
    res = track_events(
        ext, nx=24, overlap_threshold=0.5, allow_merging=True,
        compute_stats=False,
    )
    assert res.events.collect()
    assert max(status.getJobIdsForGroup()) - before <= 15


def _merge_tracker(spark, ext):
    from marex_spark.tracker import tracker

    gy = spark.range(16).select(F.col("id").cast("int").alias("y"), (F.col("id") * 5.0).alias("lat"))
    gx = spark.range(24).select(F.col("id").cast("int").alias("x"), (F.col("id") * 15.0).alias("lon"))
    return tracker(
        ext, ny=16, nx=24, R_fill=2, T_fill=2, area_filter_quartile=0.5,
        allow_merging=True, overlap_threshold=0.5, grid_y=gy, grid_x=gx,
        coordinate_units="degrees",
    )


def test_warm_merge_tracker_run_job_count(spark):
    """A warm merge-mode ``tracker(...).run()`` with stats: the fused
    preprocessing, the driver-paged resolver, the link remap and the
    stats tail in 14 Spark jobs, measured here."""
    ext = _merging_field(spark)
    _merge_tracker(spark, ext).run().lifetime_stats.collect()  # warm-up
    status = spark.sparkContext.statusTracker()
    before = max(status.getJobIdsForGroup(), default=-1)
    assert _merge_tracker(spark, ext).run().lifetime_stats.collect()
    assert max(status.getJobIdsForGroup()) - before <= 14


def test_warm_merge_tracking_does_not_recompile(spark):
    """The session sizes Spark's whole-stage codegen cache past one
    tracking run's generated classes, so a rerun in the same session
    compiles (almost) nothing in Janino. At the default 100 entries a
    warm ``tracker_run`` recompiled ~125 classes every run."""
    from marex_spark.operators.track import track_events

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    ext = _merging_field(spark)

    def run():
        _merge_tracker(spark, ext).run().lifetime_stats.collect()
        track_events(
            ext, nx=24, overlap_threshold=0.5, allow_merging=True,
            compute_stats=False,
        ).events.collect()

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    run()
    first = compiles.getCount()
    run()
    assert compiles.getCount() - first <= 5


def test_small_dim_joins_broadcast(spark):
    """Star-schema dimension joins pick broadcast strategies."""
    li = load_table(spark, SF, "lineitem")
    sup = load_table(spark, SF, "supplier")
    q = li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey).groupBy(
        "s_name"
    ).count()
    assert broadcast_join_count(q) == 1
    assert exchange_count(q) <= 2  # group-by shuffle only (+AQE final)


def test_tracking_default_has_no_global_order_window(spark):
    """VERDICT r2 #4: with compact_ids=False (the default), the event-id
    remap must not contain a single-partition global-order window over
    all object ids (SinglePartition dense_rank) — root ids are used
    as-is. Dense compaction stays available but opt-in."""
    from marex_spark.operators.track import track_events
    from marex_spark.plans import plan_string
    from marex_spark.sources.synthetic import synthetic_extremes_gridded

    ext = synthetic_extremes_gridded(spark, n_time=6, ny=8, nx=16)
    res = track_events(ext, nx=16, compute_stats=False)
    plan = plan_string(res.events)
    assert "SinglePartition" not in plan, plan[:2000]

    compacted = track_events(ext, nx=16, compute_stats=False, compact_ids=True)
    assert "SinglePartition" in plan_string(compacted.events)


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed identically on the join key SortMergeJoin
    with ZERO exchange — the storage-side co-location strategy for
    repeated 100 TB joins (sources/io.py write_bucketed)."""
    from marex_spark.sources.io import write_bucketed

    li = load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    od = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    write_bucketed(li, "t_li_b", ["l_orderkey"], 8, path=str(tmp_path / "li"))
    write_bucketed(od, "t_od_b", ["o_orderkey"], 8, path=str(tmp_path / "od"))
    try:
        a = spark.table("t_li_b")
        b = spark.table("t_od_b")
        with_bucketing = a.join(
            b.hint("merge"), a.l_orderkey == b.o_orderkey
        )
        # disable broadcast so the plan can't dodge the question
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            assert exchange_count(with_bucketing) == 0
            n = with_bucketing.count()
            plain = li.join(od, li.l_orderkey == od.o_orderkey)
            assert n == plain.count()  # same answer, zero shuffles
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_b")
        spark.sql("DROP TABLE IF EXISTS t_od_b")


def test_episode_stats_is_single_shuffle(spark):
    """Hobday episode metrics: one hash Exchange by cell; the lag
    window, running episode id, and both aggregations reuse that layout
    (grouping keys are supersets of the partition keys)."""
    from marex_spark.operators.stats import episode_stats
    from marex_spark.sources.synthetic import synthetic_extremes_gridded

    ext = synthetic_extremes_gridded(spark, n_time=6, ny=8, nx=16)
    out = episode_stats(ext)
    assert exchange_count(out) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_kmeans_assign_is_shuffle_free(spark):
    """IVF bucket assignment ships centroids as plan literals: scoring
    a vector is a pure per-row expression — zero exchanges, zero joins
    — so the 100 TB corpus scan stays embarrassingly parallel."""
    from marex_spark.operators.embed import kmeans_assign
    from marex_spark.plans import plan_string

    emb = load_table(spark, SF, "embeddings")
    cents = [[0.1] * 64, [0.2] * 64, [0.3] * 64]
    out = kmeans_assign(emb, cents)
    assert exchange_count(out) == 0
    assert "Join" not in plan_string(out)


def test_substring_spans_has_no_pair_join(spark):
    """The span-dedup plan must stay O(df) per hot window hash: hash
    groupBy + hash-keyed joins only, never a cartesian/nested-loop pair
    expansion."""
    from marex_spark.queries.dedup import dedup_substring_spans
    from marex_spark.plans import plan_string

    out = dedup_substring_spans(spark, SF)
    plan = plan_string(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_extension_prunes_prior_archive_scan(spark, tmp_path):
    """Incremental append must not re-read the archive: the boundary
    slice comes from a time-equality filter that PUSHES DOWN to the
    prior events parquet, so row groups outside the last timestep are
    skipped at the scan. (The events union necessarily re-lists the
    table, but the heavy path — labelling, overlap, CC — sees only the
    filtered slice.)"""
    from marex_spark.operators.track import track_events
    from marex_spark.plans import pushed_filters
    from marex_spark.sources.synthetic import synthetic_extremes_gridded

    ext = synthetic_extremes_gridded(spark, n_time=6, ny=12, nx=24, seed=2)
    times = sorted(r[0] for r in ext.select("time").distinct().collect())
    cutoff = times[3]
    prior = track_events(
        ext.filter(F.col("time") <= F.lit(cutoff)), nx=24, compute_stats=False
    )
    prior.events.write.mode("overwrite").parquet(f"{tmp_path}/events")
    archived = spark.read.parquet(f"{tmp_path}/events")
    boundary = archived.filter(F.col("time") == F.lit(times[3]))
    pf = pushed_filters(boundary)
    # the EqualTo on time must itself reach the scan — IsNotNull alone
    # would re-read the whole archive (precedence bug fixed in review)
    assert "time" in pf and "EqualTo" in pf, pf


def test_curation_pipeline_shuffle_bound(spark):
    """The composed curation gauntlet must stay at its two
    map-side-combinable shuffles (content hash + prefix hash) plus the
    semi-join exchanges — a materialisation barrier or accidental
    cartesian would show up as a plan blowup."""
    from marex_spark.plans import plan_string
    from marex_spark.queries.text import pipe_corpus_curation

    out = pipe_corpus_curation(spark, SF)
    plan = plan_string(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert exchange_count(out) <= 6, exchange_count(out)


@pytest.mark.slow
def test_threshold_state_scan_prunes_partitions(spark, tmp_path):
    """The streaming scale path's per-batch state read is a PRUNED
    partitioned scan: filtering on the batch's doys must reach the
    scan as PartitionFilters (read only those doy directories), not a
    post-scan filter over all 366."""
    from pyspark.sql import functions as F

    state = spark.range(366 * 50).select(
        (F.col("id") % 366 + 1).cast("int").alias("doy"),
        (F.col("id") / 366).cast("int").alias("cell"),
        F.lit(1.0).alias("clim"),
        F.lit(2.0).alias("threshold"),
    )
    path = f"{tmp_path}/state"
    state.repartition("doy").write.partitionBy("doy").parquet(path)
    scan = spark.read.parquet(path).filter(F.col("doy").isin([17, 18]))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the pruned scan reads 2 of 366 partition dirs
    assert scan.select(F.countDistinct("doy")).first()[0] == 2
    ins = [p for p in plan.splitlines() if "PartitionFilters" in p]
    assert any("doy" in line for line in ins)


def test_pca_power_covariance_is_partial_agg_single_shuffle(spark):
    """emb_pca_power's covariance pass: ONE hash exchange whose input
    is already partially aggregated (partial_sum before the Exchange),
    so the shuffle carries <= d^2+d decimal partials per task — never
    the exploded products — and the scan prunes to the vector column."""
    df = load_table(spark, SF, "embeddings")
    vdbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    prods = F.flatten(
        F.transform(vdbl, lambda xi: F.transform(vdbl, lambda xj: xi * xj))
    )
    agg = (
        df.select(F.posexplode(F.concat(vdbl, prods)).alias("pos", "val"))
        .groupBy("pos")
        .agg(F.sum(F.col("val").cast("decimal(38,6)")).cast("double").alias("s"))
    )
    assert exchange_count(agg) == 1
    plan = agg._sc._jvm.PythonSQLUtils.explainString(
        agg._jdf.queryExecution(), "formatted"
    )
    assert "partial_sum" in plan
    assert scan_columns(agg) == ["embedding"]


def test_dsir_models_broadcast_no_pair_join(spark):
    """DSIR's bucket-model tables are B-sized and must broadcast; the
    per-doc weighting join must never become a pair expansion. The
    single-row totals crossJoin is the only permitted nested-loop
    (1 × B rows)."""
    from marex_spark.plans import plan_string
    from marex_spark.queries.text import pipe_dsir_resample

    out = pipe_dsir_resample(spark, SF)
    plan = plan_string(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # docb ⋈ ltab stays broadcast
    # both bucket models come from ONE conditional aggregation — a
    # filtered target aggregate re-runs the corpus explode per model
    assert exchange_count(out) <= 8, exchange_count(out)


def test_ccnet_buckets_no_global_sort(spark):
    """CCNet bucketing partitions its tercile window by language —
    a plan with a SinglePartition window (global sort) would not
    survive a 100 TB corpus."""
    from marex_spark.plans import plan_string
    from marex_spark.queries.text import pipe_ccnet_buckets

    out = pipe_ccnet_buckets(spark, SF)
    plan = plan_string(out)
    assert "SinglePartition" not in plan, plan


@pytest.mark.slow
def test_pq_adc_scan_is_shuffle_free(spark):
    """PQ's reason to exist: codebooks and the query LUT are literals,
    so corpus encoding + ADC scoring must be ONE codegen scan — no
    exchange anywhere (top-k is TakeOrdered, not a sort shuffle)."""
    from marex_spark.queries.similarity import ann_pq_adc

    out = ann_pq_adc(spark, SF)
    assert exchange_count(out) == 0, out._jdf.queryExecution().executedPlan().toString()


@pytest.mark.slow
def test_ivfpq_scan_is_shuffle_free(spark):
    """IVF-PQ's scoring pass: coarse-bucket filter + ADC lookup are
    all literal expressions, so the candidate scan must stay one
    exchange-free codegen pass (at scale the coarse filter becomes
    partition pruning on a code-partitioned layout)."""
    from marex_spark.queries.similarity import ann_ivfpq_topk

    out = ann_ivfpq_topk(spark, SF)
    assert exchange_count(out) == 0


@pytest.mark.slow
def test_ivfpq_residual_scan_is_shuffle_free(spark):
    """Residual IVF-PQ scoring: the residual transform (zip_with
    against an element_at over the literal centroid table), the coarse
    filter, the per-list LUT branches and the decimal ADC are all
    literal expressions — the candidate scan must stay one
    exchange-free codegen pass, exactly like the non-residual form."""
    from marex_spark.queries.similarity import ann_ivfpq_residual_topk

    out = ann_ivfpq_residual_topk(spark, SF)
    assert exchange_count(out) == 0


def test_mesh_morphology_kernel_single_shuffle(spark):
    """The mesh closing/opening kernel is one repartition-by-time pass
    (edge list ships in the closure) — the frontier-join form's
    2-3 exchanges PER HOP must not creep back in."""
    from marex_spark.operators.morphology import morph_close_open_unstructured

    cells = spark.createDataFrame(
        [(t, c) for t in range(3) for c in range(0, 40, 2)],
        "time int, cell long",
    )
    edges = spark.createDataFrame(
        [(c, c + 1) for c in range(39)], "cell long, nbr long"
    )
    out = morph_close_open_unstructured(cells, edges, 2, refill_radius=1)
    assert exchange_count(out) <= 1, exchange_count(out)


def test_decontam_bloom_corpus_side_is_map_only(spark):
    """The corpus side is ONE Arrow kernel pass: the bitset rides as
    a broadcast variable, shingling/md5/probe/per-doc counts all
    happen inside mapInArrow — no join, broadcast or otherwise,
    between the training shingles and any benchmark-derived table,
    the benchmark/training split is a pushed-down source filter, and
    the corpus pays ZERO exchanges (the JVM literal-bitset reference
    in tests/reference pays one for its per-doc groupBy)."""
    from marex_spark.plans import exchange_count, plan_string
    from marex_spark.queries.dedup import decontam_bloom

    out = decontam_bloom(spark, SF)
    plan = plan_string(out)
    # ZERO joins — any join would mean the benchmark set leaked back
    # in as a table
    n_joins = plan.count("Join")
    assert n_joins == 0, plan[:2000]
    assert "CartesianProduct" not in plan
    # one Arrow kernel, no corpus exchange at all
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan[:2000]
    assert exchange_count(out) == 0, exchange_count(out)


@pytest.mark.slow
def test_semdedup_pairs_blocked_by_cluster_no_corpus_broadcast(spark):
    """SemDeDup pair generation must stay blocked by the learned
    cluster key (no unblocked corpus pairing), and — r6 verdict
    Wrong #1 — the corpus-sized assignment/norm tables must NOT be
    force-broadcast. With auto-broadcast disabled, any surviving
    BroadcastHashJoin would be a forced hint: assert there are none,
    so every corpus-scale join shuffles on its key instead."""
    from marex_spark.plans import plan_string
    from marex_spark.queries.similarity import dedup_semdedup

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = dedup_semdedup(spark, SF)
        plan = plan_string(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan
    # the corpus joins hash-shuffle on their keys
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # pair join blocked by the cluster key
    assert "cent_id" in plan


def test_stream_bloom_gate_is_map_only(spark):
    """The streaming Bloom gate must stay a pure map pass: one
    MapInArrow (the batch operator's probe kernel) with the bitset as
    a broadcast VARIABLE — zero joins and zero exchanges, so every
    micro-batch is stateless and append-safe."""
    from marex_spark.plans import exchange_count, plan_string
    from marex_spark.streaming.documents import bloom_decontaminate_stream

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    )
    out = bloom_decontaminate_stream(docs, bytes(b"0" * 128), k=3)
    plan = plan_string(out)
    assert "MapInArrow" in plan, plan[:1500]
    assert plan.count("Join") == 0, plan[:1500]
    assert exchange_count(out) == 0, exchange_count(out)


def test_domain_cap_group_limit_prunes_map_side(spark):
    """pipe_domain_cap's skew guarantee is Catalyst's
    InferWindowGroupLimit: the Partial WindowGroupLimit must sit BELOW
    the exchange (each map task forwards ≤N rows per domain, so the
    hottest domain never sorts its full row set on one reducer), with
    exactly one corpus exchange. If an operator rewrite breaks the
    filter-on-row_number pattern the rule needs, this fails."""
    from marex_spark.plans import exchange_count, plan_string
    from marex_spark.queries.text import pipe_domain_cap

    out = pipe_domain_cap(spark, SF)
    plan = plan_string(out)
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert exchange_count(out) == 1, plan[:2000]
    lines = plan.splitlines()
    partial = [i for i, ln in enumerate(lines) if "WindowGroupLimit" in ln and "Partial" in ln]
    exch = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    # explain prints sinks first: deeper operators appear LATER, so the
    # map-side Partial limit must print after the exchange
    assert partial and exch and max(partial) > max(exch), (partial, exch)


def test_bm25_terms_filter_before_shuffle_and_idf_broadcasts(spark):
    """txt_bm25_search: the query-term filter must sit under the
    generator (only query-term postings reach the tf aggregation), the
    3-row idf table must broadcast, and the global top-k must run as
    TakeOrderedAndProject (per-task k-row heaps), NOT an unpartitioned
    rank window that would single-task the whole scored table."""
    from marex_spark.plans import plan_string
    from marex_spark.queries.text import txt_bm25_search, txt_tfidf_search

    for fn in (txt_bm25_search, txt_tfidf_search):
        plan = plan_string(fn(spark, SF))
        assert "BroadcastHashJoin" in plan, plan[:2000]
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan
        assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_theta_sketch_filters_before_distinct_exchange(spark):
    """sketch_theta_distinct: the hash-threshold filter must run
    map-side BEFORE the distinct's exchange (the whole point of the
    sketch — the shuffle carries ~1/scale of the distinct mass), and
    the plan stays join-free with exactly the two aggregation
    exchanges (distinct + per-source count)."""
    from marex_spark.plans import exchange_count, plan_string
    from marex_spark.queries.dedup import _THETA_THRESHOLD, sketch_theta_distinct

    out = sketch_theta_distinct(spark, SF)
    plan = plan_string(out)
    assert "Join" not in plan
    assert exchange_count(out) <= 2, plan[:2000]
    # the threshold predicate appears below the first Exchange in the
    # plan tree (explain prints operators top-down, sinks first: the
    # LAST Filter line is the deepest — it must mention the threshold
    # and sit after the last Exchange line textually)
    lines = plan.splitlines()
    filt = [
        i
        for i, ln in enumerate(lines)
        if "Filter" in ln and str(_THETA_THRESHOLD) in ln
    ]
    exch = [i for i, ln in enumerate(lines) if "Exchange" in ln]
    assert filt, plan[:2000]
    assert max(filt) > max(exch), (filt, exch)


def test_lsh_bands_map_only_and_pairs_one_grouping(spark):
    """_lsh_bands is ONE MapInArrow over the scan (shingles, md5,
    minima and band keys in the kernel): zero exchanges. The pair
    plans add one grouping exchange by (band, band_key), which expands
    each bucket in place, plus the pair distinct: two exchanges, with
    or without the star cap (no self-join, no bucket-size join)."""
    from marex_spark.plans import exchange_count, plan_string
    from marex_spark.queries.dedup import (
        _lsh_bands,
        dedup_lsh_star_capped,
        dedup_minhash_lsh,
    )

    bands = _lsh_bands(load_table(spark, SF, "documents"))
    assert exchange_count(bands) == 0
    assert "MapInArrow" in plan_string(bands)
    for q in (dedup_minhash_lsh, dedup_lsh_star_capped):
        pairs = q(spark, SF)
        plan = plan_string(pairs)
        assert exchange_count(pairs) == 2, plan[:2000]
        assert "Join" not in plan, plan[:2000]


def test_simhash_pairs_one_grouping_no_checkpoint(spark):
    """simhash_band_pairs reads the fingerprints once: one grouping
    exchange by (band, key) plus the pair distinct, no join, and no
    eager checkpoint job while the plan is built."""
    from marex_spark.operators.simhash import simhash_band_pairs, simhash_fingerprints
    from marex_spark.plans import exchange_count, plan_string

    fps = simhash_fingerprints(load_table(spark, SF, "documents"))
    status = spark.sparkContext.statusTracker()
    before = max(status.getJobIdsForGroup(), default=-1)
    for cap in (None, 3):
        pairs = simhash_band_pairs(fps, star_cap=cap)
        plan = plan_string(pairs)
        assert exchange_count(pairs) == 2, plan[:2000]
        assert "Join" not in plan, plan[:2000]
        assert plan.count("MapInArrow") == 1, plan[:2000]
    assert max(status.getJobIdsForGroup(), default=-1) == before


def test_text_dedup_job_count(spark):
    """The three text-dedup calls of the benchmark's text workload —
    Bloom decontamination, MinHash-LSH pairs, star-capped SimHash
    pairs — run in at most 12 Spark jobs: one parquet schema job per
    table read (3), the Bloom fit's mapInArrow + distinct + toArrow
    (2), the probe (1), and per pair query the grouping and distinct
    map stages plus the result (3 each, AQE runs each map stage as its
    own job)."""
    from marex_spark.operators.simhash import simhash_band_pairs, simhash_fingerprints
    from marex_spark.queries.dedup import decontam_bloom, dedup_minhash_lsh

    status = spark.sparkContext.statusTracker()
    before = max(status.getJobIdsForGroup(), default=-1)
    flagged = decontam_bloom(spark, SF).filter(F.col("n_flagged") > 0).collect()
    lsh = dedup_minhash_lsh(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sim = simhash_band_pairs(simhash_fingerprints(docs), star_cap=100).collect()
    assert flagged and lsh and sim
    assert max(status.getJobIdsForGroup()) - before <= 12


def test_source_overlap_signature_agg_single_exchange(spark):
    """sketch_source_overlap: the 64 signature minima come out of ONE
    map-side-combined groupBy (no shingle distinct, no posexplode) and
    the pair comparison joins the sources-sized signature table by
    BROADCAST — the corpus is never joined against itself."""
    from marex_spark.plans import broadcast_join_count, plan_string
    from marex_spark.queries.dedup import sketch_source_overlap

    out = sketch_source_overlap(spark, SF)
    plan = plan_string(out)
    assert broadcast_join_count(out) >= 1
    assert "SortMergeJoin" not in plan
    # corpus-side shuffles: the two signature aggregations (one per
    # self-join branch pre-AQE; runtime exchange reuse dedupes them)
    from marex_spark.plans import exchange_count

    assert exchange_count(out) <= 2, plan[:2000]


def test_bottomk_sample_rides_group_limit(spark):
    """pipe_bottomk_sample must keep the filter-on-row_number shape
    that fires InferWindowGroupLimit (map-side ≤k-per-source prune)."""
    from marex_spark.plans import plan_string
    from marex_spark.queries.text import pipe_bottomk_sample

    plan = plan_string(pipe_bottomk_sample(spark, SF))
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_ivf_seeded_topk_no_corpus_broadcast(spark):
    """r7-verdict Wrong #2: ann_ivf_seeded_topk must not broadcast any
    corpus-sized table. Norms are carried through the dot-product
    aggregations, so with auto-broadcast disabled the ONLY surviving
    BroadcastExchanges are the forced seed-table hints — identified by
    the pushed-down seed filter LessThan(vec_id, N_SEED) on every
    broadcast-side scan. A corpus-sized broadcast would show up as a
    BroadcastExchange whose scan lacks that filter."""
    from marex_spark.plans import plan_string
    from marex_spark.queries.similarity import _N_SEED, ann_ivf_seeded_topk

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = ann_ivf_seeded_topk(spark, SF)
        plan = plan_string(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    n_bc = plan.count("BroadcastExchange")
    n_seed_scans = plan.count(f"LessThan(vec_id,{_N_SEED})")
    assert n_bc > 0, "seed broadcast hint must survive"
    # seeds feed ONLY broadcast sides, plus exactly ONE more hinted
    # broadcast (r9): the probe side of the bucket join — nq × nprobe
    # rows at any corpus size, its scan identified by the pushed
    # query filter. No other (corpus-sized) broadcast exists.
    from marex_spark.queries.similarity import _N_QUERY

    assert plan.count(f"LessThan(vec_id,{_N_QUERY})") > 0, plan[:3000]
    assert n_bc == n_seed_scans + 1, plan[:3000]
    # the corpus-side joins hash-shuffle on their keys
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_ivf_recall_no_corpus_label_broadcast(spark):
    """ann_ivf_recall (the documented brute-force measurement row) must
    still not HINT a corpus-sized broadcast: the only forced broadcast
    is the query-filtered label table (LessThan(vec_id, N_QUERY))."""
    from marex_spark.plans import plan_string
    from marex_spark.queries.similarity import _N_QUERY, ann_ivf_recall

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = ann_ivf_recall(spark, SF)
        plan = plan_string(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # exactly ONE forced broadcast (the filtered lq label table); the
    # corpus-sized lc label join must shuffle.
    assert plan.count("BroadcastHashJoin") == 1, plan[:3000]
    assert plan.count(f"LessThan(vec_id,{_N_QUERY})") > 0
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_srp_topk_no_corpus_broadcast(spark):
    """ann_srp_topk's only forced broadcasts are the bits×dims plane
    table (deterministic literals, ~4k rows). Under disabled
    auto-broadcast exactly the plane-side BroadcastHashJoins survive
    (the fingerprint subtree is evaluated once per join side), every
    corpus join shuffles, and no cartesian/nested-loop join appears
    anywhere (the planes come from ONE flat range, not a cross)."""
    from marex_spark.plans import plan_string
    from marex_spark.queries.similarity import ann_srp_topk

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = ann_srp_topk(spark, SF)
        plan = plan_string(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan
    # broadcast builds are the Range-derived plane tables PLUS exactly
    # one more (r9): the band-probe side — nq × bands rows at any
    # corpus size (its scan carries the pushed vec_id < nq filter).
    # The corpus band table itself is never broadcast.
    assert plan.count("BroadcastHashJoin") == plan.count("Range (") + 1, plan[:3000]
    assert plan.count("BroadcastHashJoin") > 1
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_srp16_topk_no_corpus_broadcast(spark):
    """ann_srp16_topk (4×16 bands + hamming-1 multi-probe, the r9
    scale-safe geometry) keeps the 8×8 row's pin: only Range-derived
    plane tables broadcast, the multi-probe fan-out lives on the QUERY
    side (an explode, not a join), every corpus join shuffles, no
    cartesian/nested-loop join anywhere."""
    from marex_spark.plans import plan_string
    from marex_spark.queries.similarity import ann_srp16_topk

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = ann_srp16_topk(spark, SF)
        plan = plan_string(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan
    # Range-derived plane tables + the one hinted band-probe build
    # (r9, same shape as the 8×8 pin above)
    assert plan.count("BroadcastHashJoin") == plan.count("Range (") + 1, plan[:3000]
    assert plan.count("BroadcastHashJoin") > 1
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_srp_curve_clustered_no_corpus_broadcast(spark):
    """ann_srp_curve_clustered: the clustered fixture is built by
    explode (zero joins), fingerprinting broadcasts only the plane
    Range tables, and the only cartesian combines are the 1-row scalar
    aggregates (n_cand × n_hit × n_corpus — two combines per geometry
    row, 4 total) — never a corpus-sized relation."""
    from marex_spark.plans import plan_string
    from marex_spark.queries.similarity import ann_srp_curve_clustered

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = ann_srp_curve_clustered(spark, SF)
        plan = plan_string(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # the scalar singleton combines are the ONLY cartesians
    assert plan.count("CartesianProduct") == 4, plan[:3000]
    assert "BroadcastNestedLoopJoin" not in plan
    # Range-derived plane tables + the hinted band-probe builds (r9):
    # each geometry's candidate subtree is referenced TWICE pre-AQE
    # (the rerank join and the n_cand count; runtime exchange reuse
    # dedupes), so 2 geometries × 2 references = 4 probe broadcasts —
    # each nq × bands × (band_bits+1) rows max at any corpus size.
    assert plan.count("BroadcastHashJoin") == plan.count("Range (") + 4, plan[:3000]
    assert plan.count("BroadcastHashJoin") > 4
