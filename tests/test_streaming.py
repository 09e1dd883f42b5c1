"""Structured-Streaming tests (SURVEY §2.10): batch-trained state scores
a file stream; watermarked window aggregation matches the batch answer
on the same data (stream-batch equivalence — the invariant Structured
Streaming guarantees for append-mode aggregations)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from marex_spark.operators.climatology import anomaly_fixed_baseline
from marex_spark.operators.detect import preprocess_data
from marex_spark.sources.synthetic import synthetic_sst_gridded
from marex_spark.streaming.detect import score_stream, streaming_area_history


@pytest.fixture(scope="module")
def stream_env(spark):
    tmp = tempfile.mkdtemp(prefix="marex_stream_")
    series = synthetic_sst_gridded(spark, n_years=1, ny=6, nx=12)
    det = preprocess_data(series, method_percentile="exact")
    clim = det.extremes.select("doy", "y", "x", "clim").dropDuplicates(["doy", "y", "x"])
    thr = det.thresholds
    # the "future" stream: same generator, next year
    stream_batch = synthetic_sst_gridded(
        spark, n_years=1, ny=6, nx=12, start="2001-01-01"
    )
    src = f"{tmp}/src"
    stream_batch.write.mode("overwrite").parquet(src)
    yield spark, tmp, src, clim, thr, stream_batch
    shutil.rmtree(tmp, ignore_errors=True)


def test_stream_scoring_matches_batch(stream_env):
    spark, tmp, src, clim, thr, stream_batch = stream_env
    schema = stream_batch.schema
    stream = spark.readStream.schema(schema).parquet(src)
    scored = score_stream(stream, clim, thr)
    assert scored.isStreaming

    q = (
        scored.writeStream.format("memory")
        .queryName("scored_rows")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt1")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = spark.sql(
        "SELECT COUNT(*) AS n, SUM(CASE WHEN extreme THEN 1 ELSE 0 END) AS e FROM scored_rows"
    ).first()
    batch_scored = score_stream(stream_batch, clim, thr)
    want = batch_scored.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("extreme"), 1).otherwise(0)).alias("e"),
    ).first()
    assert got.n == want.n and got.e == want.e
    assert got.e > 0


def test_streaming_window_aggregation(stream_env):
    spark, tmp, src, clim, thr, stream_batch = stream_env
    stream = spark.readStream.schema(stream_batch.schema).parquet(src)
    agg = streaming_area_history(score_stream(stream, clim, thr), window="7 days")
    q = (
        agg.writeStream.format("memory")
        .queryName("area_hist")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmp}/ckpt2")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM area_hist ORDER BY window_start").collect()
    assert len(rows) >= 50  # ~52 weeks
    assert all(r.n_cells > 0 for r in rows)
    # windows tile the year: 7-day spans, no overlap
    for a, b in zip(rows, rows[1:]):
        assert (b.window_start - a.window_start).days == 7


def test_stateful_episode_tracking(spark):
    """applyInPandasWithState: per-cell extreme runs become episodes;
    a gap > gap_days closes the previous episode when the next extreme
    arrives."""
    import datetime
    from marex_spark.streaming.track import streaming_extreme_episodes

    tmp = tempfile.mkdtemp(prefix="marex_state_")
    try:
        t0 = datetime.datetime(2024, 1, 1)
        # cell (1,1): days 0-3, then gap, days 10-11, then day 20 (opens 3rd)
        rows = [
            (t0 + datetime.timedelta(days=d), 1, 1)
            for d in (0, 1, 2, 3, 10, 11, 20)
        ] + [(t0 + datetime.timedelta(days=d), 2, 5) for d in (0, 5)]
        df = spark.createDataFrame(rows, "time timestamp, y int, x int")
        src = f"{tmp}/src"
        df.write.mode("overwrite").parquet(src)

        stream = spark.readStream.schema(df.schema).parquet(src)
        episodes = streaming_extreme_episodes(stream, gap_days=2)
        q = (
            episodes.writeStream.format("memory")
            .queryName("episodes")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            ((r.y, r.x), r.episode_start.day, r.episode_end.day, r.n_days)
            for r in spark.sql("SELECT * FROM episodes").collect()
        }
        # gap-closed: (1,1) days1-4 (4 days) and days 11-12 (2),
        # (2,5) day1. Watermark (day21 - 3d = day18) also flushes
        # (2,5)'s idle day-6 run via the event-time timeout; (1,1)'s
        # day-21 episode stays open (timeout day24 > watermark).
        assert ((1, 1), 1, 4, 4) in got
        assert ((1, 1), 11, 12, 2) in got
        assert ((2, 5), 1, 1, 1) in got
        assert ((2, 5), 6, 6, 1) in got
        assert len(got) == 4
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_watermark_drops_late_rows(spark):
    """Late-data semantics: a row older than the watermark arrives
    after its window is finalized — append mode must NOT re-emit or
    grow the closed window (the bounded-state guarantee the 100 TB
    streaming plan relies on)."""
    import datetime

    tmp = tempfile.mkdtemp(prefix="marex_late_")
    try:
        t0 = datetime.datetime(2024, 1, 1)

        def mk(rows):
            return spark.createDataFrame(
                [(t0 + datetime.timedelta(days=d, hours=1), True) for d in rows],
                "time timestamp, extreme boolean",
            )

        src = f"{tmp}/src"
        mk(range(10)).write.mode("overwrite").parquet(src)

        stream = spark.readStream.schema("time timestamp, extreme boolean").parquet(src)
        agg = streaming_area_history(stream, window="1 day", watermark="2 days")
        q = (
            agg.writeStream.format("memory")
            .queryName("late_hist")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        # phase 2: one LATE row (day 2 — far below the day-7 watermark)
        # plus a fresh row advancing event time
        mk([2, 12]).write.mode("append").parquet(src)
        q.processAllAvailable()
        q.stop()

        rows = {
            r.window_start.day: r.n_cells
            for r in spark.sql("SELECT * FROM late_hist").collect()
        }
        # the day-3 window (Jan 3) was finalized with exactly one row;
        # the late duplicate must not appear as a second emission/count
        assert rows[3] == 1
        # in-time windows emitted once each
        assert all(v == 1 for v in rows.values()), rows
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Streaming document pipeline (streaming/documents.py)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def doc_stream_env(spark):
    tmp = tempfile.mkdtemp(prefix="marex_docstream_")
    rows = []
    for i in range(40):
        # every 5-gram window carries a k-dependent token, so shingle
        # overlap exists ONLY within the same k family
        k = i % 10
        text = f"the k{k}a and k{k}b of k{k}c to k{k}d in k{k}e is k{k}f"
        rows.append((i, f"2024-01-01 00:{i:02d}:00", text))
    rows.append((90, "2024-01-01 01:00:00", "x"))  # fails min_tokens
    rows.append((91, "2024-01-01 01:01:00", " ".join(["zz"] * 30)))  # no stopwords
    df = spark.createDataFrame(rows, "doc_id long, ts string, text string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    src = f"{tmp}/docs"
    df.write.mode("overwrite").parquet(src)
    yield spark, tmp, src, df
    shutil.rmtree(tmp, ignore_errors=True)


def _drain(stream_df, spark, tmp, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt_{name}")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def test_stream_dedup_exact(doc_stream_env):
    from marex_spark.streaming.documents import dedup_exact_stream

    spark, tmp, src, df = doc_stream_env
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = _drain(
        dedup_exact_stream(stream, watermark="10 minutes"), spark, tmp, "dedup_out"
    )
    # 10 distinct bodies among the 40 repeats + 2 singletons
    assert out.count() == 12
    assert out.select("content_hash").distinct().count() == 12


def test_stream_quality_filter_matches_batch(doc_stream_env):
    from marex_spark.streaming.documents import quality_filter_stream

    spark, tmp, src, df = doc_stream_env
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = _drain(quality_filter_stream(stream), spark, tmp, "qual_out")
    batch = quality_filter_stream(df)
    assert out.count() == batch.count() == 40  # both junk docs dropped
    assert set(out.columns) >= {"n_tokens", "stopword_ratio", "avg_token_len"}


def test_stream_decontaminate(doc_stream_env):
    from marex_spark.streaming.documents import decontaminate_stream

    spark, tmp, src, df = doc_stream_env
    # benchmark = the body of doc 0 (hits every "% 10 == 0" repeat)
    bench_ws = df.filter(F.col("doc_id") == 0).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(F.split("text", " ")) - 5),
                lambda i: F.array_join(F.slice(F.split("text", " "), i + 1, 5), " "),
            )
        ).alias("shingle")
    ).distinct()
    stream = spark.readStream.schema(df.schema).parquet(src)
    hits = _drain(
        decontaminate_stream(stream, bench_ws), spark, tmp, "decon_out"
    )
    flagged = {r.doc_id for r in hits.select("doc_id").distinct().collect()}
    assert flagged == {0, 10, 20, 30}


def test_doc_band_keys_match_batch_banding(doc_stream_env):
    """The map-only per-row band expression must equal the batch
    explode+groupBy banding table row for row — the guarantee that the
    streaming near-dup gate uses the SAME index keys the batch corpus
    index was built with."""
    from marex_spark.queries.dedup import _lsh_bands
    from marex_spark.streaming.documents import doc_band_keys

    spark, tmp, src, df = doc_stream_env
    a = sorted(
        map(
            tuple,
            doc_band_keys(df).select("doc_id", "band", "band_key").collect(),
        )
    )
    b = sorted(map(tuple, _lsh_bands(df).collect()))
    assert a == b and len(a) > 0


def test_stream_near_dup_against_corpus(doc_stream_env):
    """Streaming docs that duplicate an archived corpus doc are
    flagged via the stream-static band join; novel docs are not."""
    from marex_spark.queries.dedup import _lsh_bands
    from marex_spark.streaming.documents import near_dup_stream

    spark, tmp, src, df = doc_stream_env
    # archive = the k-family-0 docs; stream = everything
    corpus = df.filter(F.col("doc_id") % 10 == 0)
    idx = _lsh_bands(corpus).localCheckpoint()
    stream = spark.readStream.schema(df.schema).parquet(src)
    hits = _drain(
        near_dup_stream(stream, idx), spark, tmp, "neardup_out"
    )
    flagged = {r.doc_id for r in hits.select("doc_id").distinct().collect()}
    # every k0-family doc (incl. the corpus docs themselves) collides
    # with the archive; other families share no shingles
    assert flagged == {i for i in range(40) if i % 10 == 0}


def test_stream_sessionize(spark):
    """session_window sessions: two bursts separated by more than the
    gap emit as two sessions per key once the watermark passes."""
    import shutil
    import tempfile

    from marex_spark.streaming.documents import sessionize_stream

    tmp = tempfile.mkdtemp(prefix="marex_sess_")
    try:
        rows = []
        for k in (1, 2):
            for m in (0, 5, 10):       # burst 1
                rows.append((k, f"2024-01-01 00:{m:02d}:00"))
            for m in (0, 3):           # burst 2, > 1h later
                rows.append((k, f"2024-01-01 02:{m:02d}:00"))
        rows.append((1, "2024-01-01 06:00:00"))  # watermark pusher
        df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
            "ts", F.to_timestamp("ts")
        )
        src = f"{tmp}/events"
        df.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(df.schema).parquet(src)
        out = sessionize_stream(
            stream, key_col="user_id", gap="30 minutes", watermark="1 hour"
        )
        q = (
            out.writeStream.format("memory")
            .queryName("sess_out")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = {
            (r.user_id, r.session_start.minute, r.n_events)
            for r in spark.table("sess_out").collect()
        }
        # both keys: burst1 (3 events) and burst2 (2 events) closed —
        # the watermark pusher (06:00 − 1h) passes every session end
        assert (1, 0, 3) in got and (2, 0, 3) in got
        assert (1, 0, 2) in got and (2, 0, 2) in got
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.slow
def test_partitioned_state_scoring_matches_broadcast(stream_env):
    """The 100 TB state path: doy-partitioned threshold state +
    per-batch partition pruning through foreachBatch must score
    identically to the broadcast stream-static join."""
    from marex_spark.streaming.detect import (
        score_stream_partitioned,
        write_threshold_state,
    )

    spark, tmp, src, clim, thr, stream_batch = stream_env
    state_path = f"{tmp}/state_by_doy"
    write_threshold_state(clim, thr, state_path)
    # partition layout on disk: one directory per doy
    import os

    doydirs = [d for d in os.listdir(state_path) if d.startswith("doy=")]
    assert len(doydirs) > 300

    collected = []

    def sink(df, batch_id):
        collected.extend(
            (r.time, r.y, r.x, r.extreme)
            for r in df.select("time", "y", "x", "extreme").collect()
        )

    stream = spark.readStream.schema(stream_batch.schema).parquet(src)
    q = (
        score_stream_partitioned(stream, state_path, sink)
        .option("checkpointLocation", f"{tmp}/ckpt_part")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    want = {
        (r.time, r.y, r.x, r.extreme)
        for r in score_stream(stream_batch, clim, thr)
        .select("time", "y", "x", "extreme")
        .collect()
    }
    assert set(collected) == want and len(collected) == len(want)


def test_stream_pq_scoring_matches_batch(spark, tmp_path):
    """PQ ADC scoring is a pure map expression: scoring a stream of
    vectors must produce exactly the batch expression's values (no
    state, no shuffle, any output mode)."""
    import numpy as np
    from pyspark.sql import functions as F

    from marex_spark.operators.embed import pq_fit
    from marex_spark.streaming.embed import pq_score_stream

    rng = np.random.default_rng(3)
    rows = [(int(i), [float(x) for x in rng.normal(size=16)]) for i in range(60)]
    schema = "vec_id long, embedding array<float>"
    batch = spark.createDataFrame(rows, schema)
    src = f"{tmp_path}/vecs"
    batch.write.mode("overwrite").parquet(src)

    books = pq_fit(batch, m=2, k=4, n_iter=1)
    query = [float(x) for x in rng.normal(size=16)]

    stream = spark.readStream.schema(schema).parquet(src)
    scored = pq_score_stream(stream, books, query)
    q = (
        scored.writeStream.format("memory")
        .queryName("pq_scored")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.vec_id: r.adc_dist2
        for r in spark.sql("SELECT * FROM pq_scored").collect()
    }
    expect = {
        r.vec_id: r.adc_dist2
        for r in pq_score_stream(batch, books, query).collect()
    }
    assert got == expect and len(got) == 60


@pytest.mark.slow
def test_stream_ivfpq_residual_scoring_matches_batch(spark, tmp_path):
    """The residual IVF-PQ gate is a pure map expression too: coarse
    assignment, residual transform, per-list LUT selection and the ADC
    must produce exactly the batch expression's values on a stream,
    and probe restriction must NULL the unprobed lists."""
    import numpy as np
    from pyspark.sql import functions as F

    from marex_spark.operators.embed import kmeans_assign_cols, kmeans_fit, pq_fit
    from marex_spark.streaming.embed import ivfpq_residual_score_stream

    rng = np.random.default_rng(5)
    rows = [(int(i), [float(x) for x in rng.normal(size=16)]) for i in range(60)]
    schema = "vec_id long, embedding array<float>"
    batch = spark.createDataFrame(rows, schema)
    src = f"{tmp_path}/rvecs"
    batch.write.mode("overwrite").parquet(src)

    coarse = kmeans_fit(batch, k=4, n_iter=1)
    gcode, _ = kmeans_assign_cols("embedding", coarse)
    cents_arr = F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in coarse])
    resid = F.zip_with(
        F.col("embedding"), F.element_at(cents_arr, gcode + F.lit(1)),
        lambda x, cm: x.cast("double") - cm,
    )
    books = pq_fit(
        batch.select("vec_id", resid.alias("resid")), m=2, k=4, n_iter=1,
        vec_col="resid",
    )
    query = [float(x) for x in rng.normal(size=16)]

    stream = spark.readStream.schema(schema).parquet(src)
    scored = ivfpq_residual_score_stream(stream, coarse, books, query)
    q = (
        scored.writeStream.format("memory")
        .queryName("ivfpqr_scored")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.vec_id: (r.ivf_list, r.adc_dist2)
        for r in spark.sql("SELECT * FROM ivfpqr_scored").collect()
    }
    expect = {
        r.vec_id: (r.ivf_list, r.adc_dist2)
        for r in ivfpq_residual_score_stream(batch, coarse, books, query).collect()
    }
    assert got == expect and len(got) == 60

    # probe restriction: unprobed lists emit NULL, probed values unchanged
    probed = ivfpq_residual_score_stream(
        batch, coarse, books, query, probe_ids=[0, 2]
    ).collect()
    for r in probed:
        if r.ivf_list in (0, 2):
            assert r.adc_dist2 == expect[r.vec_id][1]
        else:
            assert r.adc_dist2 is None


def test_stream_bloom_decontaminate_matches_batch(doc_stream_env):
    """The streaming Bloom gate runs the batch operator's Arrow probe
    kernel per micro-batch. A real drain must equal a batch evaluation
    of the same gate; every doc with shingles must carry the JVM
    literal-bitset reference's counts; short docs emit (id, 0, 0); and
    every exact-contaminated doc (decontaminate_stream's join) must
    also be Bloom-flagged (no false negatives — the defining Bloom
    property)."""
    from marex_spark.queries.dedup import _bloom_pos, bloom_geometry
    from marex_spark.streaming.documents import (
        bloom_decontaminate_stream,
        decontaminate_stream,
    )
    from tests.reference.bloom import bloom_counts_literal

    spark, tmp, src, df = doc_stream_env
    bench_ws = df.filter(F.col("doc_id") == 0).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(F.split("text", " ")) - 5),
                lambda i: F.array_join(F.slice(F.split("text", " "), i + 1, 5), " "),
            )
        ).alias("shingle")
    ).distinct()
    m, k = bloom_geometry(bench_ws.count())
    pos = bench_ws.select(
        F.explode(
            F.array(*[_bloom_pos(F.col("shingle"), i, m) for i in range(k)])
        ).alias("p")
    ).distinct().collect()
    bits = [False] * m
    for r in pos:
        bits[int(r[0])] = True
    as_bytes = bytes(bytearray(49 if v else 48 for v in bits))

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = _drain(
        bloom_decontaminate_stream(stream, bits, k=k), spark, tmp, "bloom_out"
    )
    got = sorted(map(tuple, out.collect()))
    batch = bloom_decontaminate_stream(df, bits, k=k)
    assert got == sorted(map(tuple, batch.collect()))
    assert len(got) == df.count(), "one row per input doc"
    # bloom_fit's bytes bitset (b"0"/b"1" per bit) is accepted directly
    # and must flag identically to the boolean-list form
    batch_bytes = bloom_decontaminate_stream(df, as_bytes, k=k)
    assert sorted(map(tuple, batch_bytes.collect())) == got
    ref = {tuple(r) for r in bloom_counts_literal(df, as_bytes, k).collect()}
    assert {r for r in got if r[1] > 0} == ref
    assert (90, 0, 0) in got, "a 1-word doc emits (id, 0, 0)"
    bloom_flagged = {r.doc_id for r in out.filter("n_flagged > 0").collect()}
    exact = decontaminate_stream(df, bench_ws)
    exact_flagged = {r.doc_id for r in exact.select("doc_id").distinct().collect()}
    assert exact_flagged <= bloom_flagged  # no false negatives


def test_stream_theta_profile_merges_to_batch_estimate(spark):
    """theta_profile_stream: accumulate per-micro-batch survivors
    (several real micro-batches via maxFilesPerTrigger=1), fold them
    with theta_estimate, and the result must EQUAL the one-shot batch
    sketch over the full corpus — the mergeability property doing the
    streaming work, with zero stream state (plan has no state store:
    duplicates across batches collapse downstream)."""
    import tempfile

    from marex_spark.operators.sketch import theta_distinct, theta_estimate
    from marex_spark.streaming.documents import theta_profile_stream

    tmp = tempfile.mkdtemp(prefix="marex_theta_stream_")
    docs = spark.range(600).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), F.pmod("id", F.lit(3))).alias("source"),
        F.concat_ws(
            " ",
            *[F.concat(F.lit("tok"), F.col("id") * 7 + j) for j in range(10)],
        ).alias("text"),
    )
    src = f"{tmp}/docs"
    # 6 files → 6 micro-batches under maxFilesPerTrigger=1
    docs.repartition(6).write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = theta_profile_stream(stream, scale=16, n=3)
    q = (
        out.writeStream.format("memory")
        .queryName("theta_surv")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp}/ckpt_theta")
        .start()
    )
    q.processAllAvailable()
    n_batches = len(q.recentProgress)
    q.stop()
    assert n_batches >= 6, n_batches

    merged = theta_estimate(
        spark.table("theta_surv"), ["source"], 16
    ).collect()
    # batch reference: identical shingle construction over the full set
    from pyspark.sql import functions as FF

    sh = docs.select(
        "source",
        FF.explode(
            __import__(
                "marex_spark.operators.dedup", fromlist=["shingle_array"]
            ).shingle_array(FF.col("text"), 3)
        ).alias("shingle"),
    )
    batch = theta_distinct(sh, ["source"], FF.col("shingle"), 16).collect()
    assert sorted(map(tuple, merged)) == sorted(map(tuple, batch))


@pytest.mark.slow
def test_stream_simhash_gate_matches_brute_force(doc_stream_env):
    """The streaming SimHash near-dup gate (map-only fingerprint +
    stream-static band-index join) must flag EXACTLY the (stream doc,
    corpus doc) pairs within the hamming gate — the banding pigeonhole
    completeness carried over to the stream-vs-archive setting, with
    zero stream state (drains in append mode)."""
    from marex_spark.operators.simhash import simhash_fingerprints
    from marex_spark.streaming.documents import simhash_near_dup_stream

    spark, tmp, src, df = doc_stream_env
    corpus = df.filter(F.col("doc_id") % 10 == 0)
    fps_corpus = simhash_fingerprints(corpus).localCheckpoint()
    stream = spark.readStream.schema(df.schema).parquet(src)
    hits = _drain(
        simhash_near_dup_stream(stream, fps_corpus, broadcast_index=True),
        spark,
        tmp,
        "simhash_gate_out",
    )
    got = {(r.doc_id, r.corpus_doc_id) for r in hits.collect()}
    fps = {r.doc_id: r.simhash for r in simhash_fingerprints(df).collect()}
    c_ids = [r.doc_id for r in corpus.select("doc_id").collect()]
    m64 = (1 << 64) - 1
    want = {
        (s, c)
        for s in fps
        for c in c_ids
        if s != c and bin((fps[s] ^ fps[c]) & m64).count("1") <= 3
    }
    assert got == want
    assert got, "identical k0-family texts must hit at hamming 0"


def test_stream_srp_probe_matches_batch(spark, tmp_path):
    """The streaming SRP probe gate (stateless mapInArrow fingerprint +
    map-only multi-probe band fan + stream-static index join + exact
    cosine) must equal the SAME expression run over the batch frame,
    and every planted exact copy must hit its corpus source in ALL
    bands (identical vectors => identical fingerprints => every band
    key matches exactly)."""
    import numpy as np
    from pyspark.sql import functions as F

    from marex_spark.operators.embed import srp_fingerprints_fast
    from marex_spark.streaming.embed import srp_probe_stream

    rng = np.random.default_rng(7)
    corpus_rows = [
        (int(i), [float(x) for x in rng.normal(size=16)]) for i in range(80)
    ]
    schema = "vec_id long, embedding array<float>"
    corpus = spark.createDataFrame(corpus_rows, schema)
    srows = [(1000 + i, corpus_rows[i][1]) for i in range(20)] + [
        (2000 + i, [float(x) for x in rng.normal(size=16)]) for i in range(20)
    ]
    sdf = spark.createDataFrame(srows, schema)
    src = f"{tmp_path}/svecs"
    sdf.write.mode("overwrite").parquet(src)

    fps = srp_fingerprints_fast(corpus).localCheckpoint()
    stream = spark.readStream.schema(sdf.schema).parquet(src)
    got_df = _drain(
        srp_probe_stream(stream, corpus, fps, tau=0.99, broadcast_index=True),
        spark,
        str(tmp_path),
        "srp_probe_out",
    )
    key = lambda r: (r.vec_id, r.corpus_vec_id, r.band, round(r.cosine, 9))  # noqa: E731
    got = {key(r) for r in got_df.collect()}
    want = {
        key(r)
        for r in srp_probe_stream(
            sdf, corpus, fps, tau=0.99, broadcast_index=True
        ).collect()
    }
    assert got == want
    # every planted copy hits its source in all 4 bands
    by_pair = {}
    for s, c, b, _ in got:
        by_pair.setdefault((s, c), set()).add(b)
    for i in range(20):
        assert by_pair.get((1000 + i, i)) == {0, 1, 2, 3}, (i, by_pair.get((1000 + i, i)))
