#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "headline_total", "value": N, "unit": "sec",
     "queries": {...}, "sf": 0.1}

Execution is forced through the no-op sink (full pipeline runs JVM-side,
no driver collect overhead). The headline set covers the heavy paths:
scan+agg (tpch_q1), the overlap self-join (j5), the shifting-baseline
fan-out (a2), histogram quantile (a5), dedup LSH, ANN top-k, a window
sweep (w1), plus the flagship detect→track slice on a synthetic grid.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Experiment knobs (the driver runs defaults):
# SPARK_GRAFT_BENCH_ONLY="row1,row2" times only the named rows (fixtures
# still materialize; for A/B experiments — the JSON total is partial).
# SPARK_GRAFT_BENCH_CANARIES=0 disables the weather canaries (for the
# canary-interaction A/B the r8 verdict asked for).
ONLY = {s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if s}
CANARIES_ON = os.environ.get("SPARK_GRAFT_BENCH_CANARIES", "1") != "0"

# Quiet floors for the canaries, measured on this box across r8's
# captures (SCALE.md §Round 8: io_cold <1 s and cpu ≈0.315 s on a quiet
# box). A pass whose canaries exceed these by the storm factors below is
# STORM-HIT; a row whose every timed pass was storm-hit is flagged
# weather_suspect in the JSON (r8 verdict #5: the bench adjudicates
# weather row by row, mechanically). Env-overridable for other boxes.
IO_COLD_QUIET_SEC = float(os.environ.get("SPARK_GRAFT_IO_QUIET", "1.0"))
# the buffered write+read probe (io_sec) senses WRITE-side pressure
# (dirty-page throttling) that the O_DIRECT read probe misses — r10:
# a capture showed io_sec at 12.7 s (quiet ~1.0-1.8) on a pass graded
# quiet, while the scan+shuffle-bound band row swung 10 → 30 s; both
# probes now gate the grading
IO_WARM_QUIET_SEC = float(os.environ.get("SPARK_GRAFT_IO_WARM_QUIET", "1.8"))
CPU_QUIET_SEC = float(os.environ.get("SPARK_GRAFT_CPU_QUIET", "0.35"))
MEM_QUIET_SEC = float(os.environ.get("SPARK_GRAFT_MEM_QUIET", "0.10"))
IO_STORM_FACTOR = 2.0
CPU_STORM_FACTOR = 1.5
MEM_STORM_FACTOR = 3.0
# bounded extra-pass budget for suspect rows (r10: 12 → 16 — the r9
# partial-storm capture flagged 14 rows, 2 past the old budget; the
# retry is at most one extra suite pass either way)
MAX_WEATHER_RETRIES = 16

HEADLINE = [
    "tpch_q1",
    "tpch_q5_local_supplier",
    "j5_temporal_selfjoin",
    "a2_shifting_climatology",
    "a5_histogram_quantile",
    "a7_doy_window_percentile",
    "w1_rolling_mean",
    "dedup_minhash_lsh",
    "dedup_exact",
    "ann_cosine_topk_fast",
    "ann_pq_adc_fast",
    "pipe_dsir_resample",
    "txt_quality_score",
    "sess_sessionize",
]


def _sf_from_dir(d: str) -> float:
    m = re.search(r"sf([0-9.]+)", d)
    return float(m.group(1)) if m else 0.0


def _force(df) -> int:
    """Execute the full plan JVM-side; count() is cheap relative to the
    pipelines and matches what the driver's verify does."""
    df.write.mode("overwrite").format("noop").save()
    return 0


def main() -> None:
    """Every step is individually guarded: one failing query (or a failing
    warmup) costs one entry in the JSON, never the whole bench signal.
    Round 1 lost its entire BENCH file to a single uncaught exception —
    the final JSON line is now printed unconditionally in a finally."""
    sf = 0.0
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    holder: dict = {}

    def note(msg: str) -> None:
        print(f"[bench] {msg}", file=sys.stderr, flush=True)

    try:
        sf = _sf_from_dir(SF_DIR)  # inside the try: a bad SF_DIR must
        _run_bench(sf, timings, errors, note, holder)  # not lose the JSON
    except Exception as e:  # session bootstrap or other fatal path
        errors["__fatal__"] = f"{type(e).__name__}: {e}"
    finally:
        total = round(sum(timings.values()), 3)
        out = {
            "metric": "headline_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "reps": N_PASSES,  # each timing is the min over this many passes
        }
        if holder.get("canary"):
            # weather telemetry (r7 verdict #5): fixed-cost IO and CPU
            # probes timed once per pass. Adjudicate storms mechanically:
            # io_sec spread >> cpu_sec spread on a capture means ambient
            # IO weather, not an engine regression. Quiet-floor history
            # lives in SCALE.md.
            out["canary"] = holder["canary"]
        if holder.get("weather"):
            # r8 verdict #5: per-row self-adjudication. storm_pass marks
            # each pass vs the quiet floors; suspect lists rows whose
            # EVERY timed pass was storm-hit (their min is weather-
            # contaminated); retried lists suspect rows re-timed on a
            # bounded post-suite quiet pass (min updated if better).
            out["weather"] = holder["weather"]
        if errors:
            out["errors"] = errors
        print(json.dumps(out), flush=True)
        # Graceful JVM shutdown AFTER the JSON line is out: an abrupt
        # python exit leaves the JVM mid-flight on the accumulator socket
        # and the resulting Broken-pipe storm is what drowned round 1's
        # bench capture.
        try:
            if "spark" in holder:
                # shutdown still races the pandas-UDF worker daemons
                # (benign "Python worker exited unexpectedly" storms);
                # mute the logger so the storm can't pollute captures.
                holder["spark"].sparkContext.setLogLevel("OFF")
                holder["spark"].stop()
        except Exception:
            pass


def _run_bench(sf, timings, errors, note, holder) -> None:
    from marex_spark.session import get_spark
    from marex_spark.queries import QUERIES

    spark = holder["spark"] = get_spark(app_name="marex-bench", cores=int(CPUS))

    # Three INTERLEAVED passes over the whole suite, min per query
    # (r6 verdict #6: single captures on this shared box swing 2-3×
    # ambient; best-of-3 with the passes spread a full suite apart
    # decorrelates a query's samples from load bursts). The rep count
    # rides the JSON so the capture's provenance is explicit.
    plan: list = []  # (name, fn), in suite order

    def guarded(name, fn) -> None:
        plan.append((name, fn))

    # ---- weather canaries (r7 verdict #5): two fixed-cost probes timed
    # at the head of every pass, reported verbatim (all reps, not min)
    # in the JSON so storm adjudication is mechanical. The IO probe
    # writes ~250 MB from a cached DF and reads it back — the write path
    # cannot be served from page cache, so co-tenant disk storms move it
    # 3-8× while the CPU probe (pure whole-stage codegen, zero IO)
    # stays within ~1.2×. Canary time is NOT added to any query timing
    # or the headline total.
    canary = holder["canary"] = {
        "io_sec": [], "io_cold_sec": [], "cpu_sec": [], "mem_sec": [],
    }
    canary_state: dict = {}

    def _canary_io() -> None:
        df = canary_state.get("df")
        if df is None:
            return
        path = canary_state["path"]
        df.write.mode("overwrite").parquet(path)
        spark.read.parquet(path).selectExpr("sum(length(h))").collect()

    def _canary_io_cold() -> None:
        # O_DIRECT read of ~512 MB from the largest on-disk fixture:
        # bypasses the page cache, so it senses DEVICE weather — the
        # failure mode the write probe missed (r8: band_100x swung
        # 165-422 s across passes while the buffered probe stayed
        # flat; dirty pages flush asynchronously and never touch the
        # saturated device inside the timed window).
        import glob as _glob
        import mmap
        import os

        budget = 512 << 20
        chunk = 4 << 20
        buf = mmap.mmap(-1, chunk)  # page-aligned, O_DIRECT-safe
        files = []
        for pat in (
            f"{tmp}/marex_bench_band_100x/*.parquet",
            f"{tmp}/marex_bench_corpus5m/documents.parquet/*.parquet",
            f"{SF_DIR}/lineitem.parquet",
        ):
            files = sorted(_glob.glob(pat))
            if files:
                break
        read = 0
        for f in files:
            if read >= budget:
                break
            try:
                fd = os.open(f, os.O_RDONLY | os.O_DIRECT)
            except OSError:
                fd = os.open(f, os.O_RDONLY)
            try:
                while read < budget:
                    try:
                        n = os.readv(fd, [buf])
                    except OSError:  # O_DIRECT tail-read EINVAL at EOF
                        break
                    if n <= 0:
                        break
                    read += n
            finally:
                os.close(fd)

    def _canary_cpu() -> None:
        spark.range(300_000_000).selectExpr(
            "sum(bit_count((id * 2654435761) ^ shiftright(id, 7))) AS s"
        ).collect()

    def _canary_mem() -> None:
        # single-thread DRAM stream (r9): the r8 spatial-hobday watch
        # item adjudicated to ambient MEMORY-BANDWIDTH bursts that the
        # cache-resident cpu canary cannot sense (the 30 MB pooling
        # tensors in _thr_hobday_spatial run at stream speed; measured
        # same-box: 0.33 s/band warm-quiet vs 3.0 s under a burst with
        # byte-identical code). ~256 MB summed once — quiet floor
        # ~0.09 s on this box; a burst moves it 3-15x.
        import numpy as np

        a = canary_state.get("mem_buf")
        if a is None:
            a = canary_state["mem_buf"] = np.zeros(1 << 28, dtype=np.uint8)
        float(a.sum())

    def _run_canaries() -> None:
        if not CANARIES_ON:
            return
        for key, fn in (
            ("io_sec", _canary_io),
            ("io_cold_sec", _canary_io_cold),
            ("cpu_sec", _canary_cpu),
            ("mem_sec", _canary_mem),
        ):
            try:
                t0 = time.perf_counter()
                fn()
                canary[key].append(round(time.perf_counter() - t0, 3))
            except Exception as e:  # a dead canary must not sink the bench
                # pad with None so pass indices stay aligned across the
                # canary lists (storm grading skips missing samples)
                canary[key].append(None)
                note(f"canary {key}: ERROR {type(e).__name__}: {e}")

    def _storm_hit(idx: int) -> bool:
        """Was canary sample ``idx`` storm-hit vs the quiet floors?"""
        storm = False
        for key, floor, factor in (
            ("io_sec", IO_WARM_QUIET_SEC, IO_STORM_FACTOR),
            ("io_cold_sec", IO_COLD_QUIET_SEC, IO_STORM_FACTOR),
            ("cpu_sec", CPU_QUIET_SEC, CPU_STORM_FACTOR),
            ("mem_sec", MEM_QUIET_SEC, MEM_STORM_FACTOR),
        ):
            vals = canary[key]
            if idx < len(vals) and vals[idx] is not None:
                storm |= vals[idx] > factor * floor
        return storm

    pass_of_min: dict[str, int] = {}

    def _time_row(name, fn, pass_idx) -> None:
        if name in errors:
            return
        try:
            t0 = time.perf_counter()
            fn()
            dt = round(time.perf_counter() - t0, 3)
            if dt < timings.get(name, float("inf")):
                timings[name] = dt
                pass_of_min[name] = pass_idx
            note(f"pass{pass_idx + 1} {name}: {dt}s")
        except Exception as e:
            timings.pop(name, None)
            errors[name] = f"{type(e).__name__}: {e}"
            note(f"{name}: ERROR {type(e).__name__}")

    def _execute_plan() -> None:
        rows = [(n, f) for n, f in plan if not ONLY or n in ONLY]
        for _pass in range(N_PASSES):
            _run_canaries()
            for name, fn in rows:
                _time_row(name, fn, _pass)
        if not CANARIES_ON:
            return
        # ---- per-row weather adjudication (r8 verdict #5) ----------
        storm_pass = [_storm_hit(p) for p in range(len(canary["cpu_sec"]))]
        if all(storm_pass):
            # every pass was storm-hit: every timed row's min is
            # weather-contaminated
            suspect = [n for n, _ in rows if n in timings]
        else:
            # capture had at least one quiet pass — a row is suspect
            # only if its best time still came from a storm-hit pass
            # (a burst can straddle a single row even inside a pass
            # whose canaries were quiet at the head; conversely a
            # storm-graded pass inflates every row timed inside it).
            suspect = [
                n
                for n, _ in rows
                if n in pass_of_min
                and pass_of_min[n] < len(storm_pass)
                and storm_pass[pass_of_min[n]]
            ]
        retried: list[str] = []
        if suspect:
            # bounded quiet retry — r9 verdict #3 extended this from the
            # all-storm case to ANY capture with suspect rows: re-time
            # them behind a fresh canary sample whenever that sample is
            # quiet, so partial-storm captures ([T,T,F] with 14 suspects
            # in r9) self-heal instead of carrying flagged minima.
            _run_canaries()
            retry_idx = len(canary["cpu_sec"]) - 1
            storm_pass.append(_storm_hit(retry_idx))
            if not storm_pass[-1]:
                budget = set(suspect[:MAX_WEATHER_RETRIES])
                for name, fn in rows:
                    if name in budget:
                        _time_row(name, fn, retry_idx)
                        retried.append(name)
                # re-timed rows clear; rows beyond the retry budget
                # stay flagged
                suspect = [n for n in suspect if n not in set(retried)]
        holder["weather"] = {
            "storm_pass": storm_pass,
            "io_quiet_floor": IO_COLD_QUIET_SEC,
            "cpu_quiet_floor": CPU_QUIET_SEC,
            "mem_quiet_floor": MEM_QUIET_SEC,
            "suspect": sorted(suspect),
            "retried": sorted(retried),
        }

    # Warm the JVM, parquet footers, and Python UDF workers outside the
    # timed region, and land the packed-parquet bench datasets ONCE
    # (the steady-state layout zarr ingestion produces — fixture
    # generation cost is not engine cost).  Warmup failure must not
    # sink the bench.
    import tempfile

    tmp = tempfile.gettempdir()
    packed_path = f"{tmp}/marex_bench_packed_sf{sf}"
    packed_shift_path = f"{tmp}/marex_bench_packed_shift_sf{sf}"
    packed_10x_path = f"{tmp}/marex_bench_packed_10x"
    n_years_shift = 8  # 5y shifting baseline + 3 scored years
    try:
        from marex_spark.sources.parquet import load_table

        load_table(spark, SF_DIR, "lineitem").count()
        _force(
            spark.range(1000)
            .selectExpr("id", "id % 7 AS g")
            .groupBy("g")
            .applyInPandas(lambda p: p, "id long, g bigint")
        )
        # warm the full detect→track code path (JIT, codegen, UDF workers,
        # broadcast machinery) on a toy grid so timed runs are steady-state
        from marex_spark.pipeline import detect_track_bench
        from marex_spark.operators.detect_blocked import materialize_packed_bench

        detect_track_bench(spark, 0.001)
        materialize_packed_bench(spark, sf, packed_path)
        materialize_packed_bench(spark, sf, packed_shift_path, n_years=n_years_shift)
        materialize_packed_bench(spark, 1.0, packed_10x_path)
        # IO canary source: ~250 MB of md5 strings, cached so each
        # pass pays only the write+readback, never regeneration
        cdf = (
            spark.range(7_000_000)
            .selectExpr("id", "md5(cast(id AS string)) AS h")
            .cache()
        )
        cdf.count()
        canary_state["df"] = cdf
        canary_state["path"] = f"{tmp}/marex_bench_canary_io"
    except Exception as e:
        errors["__warmup__"] = f"{type(e).__name__}: {e}"
        note(f"warmup: ERROR {type(e).__name__}")

    for name in HEADLINE:
        fn = QUERIES[name]
        guarded(name, lambda fn=fn: _force(fn(spark, SF_DIR)))

    # Flagship detect→track on a synthetic gridded series scaled with sf:
    # sf0.1 → 3 years of daily 40×80 (~3.5M cell-days).
    from marex_spark.pipeline import detect_track_bench

    guarded(
        "detect_track",
        lambda: (detect_track_bench(spark, sf), spark.catalog.clearCache()),
    )

    # blocked fast path: packed-parquet scan → mapInArrow numpy kernel
    # per latitude band → tracking (detect_blocked.py; the default
    # scale path per VERDICT r2 #2)
    from marex_spark.operators.detect_blocked import detect_track_packed

    guarded(
        "detect_track_blocked",
        lambda: (
            detect_track_packed(spark, sf, packed_path),
            spark.catalog.clearCache(),
        ),
    )

    # the reference's heaviest published config (BASELINE.md row 3):
    # shifting-baseline climatology + hobday per-doy threshold, through
    # the same packed kernel, on an 8-year series (a 5-year baseline
    # over the r2 bench's 3-year grid left ZERO scored rows — that run
    # tracked an empty frame)
    guarded(
        "detect_track_shifting_hobday",
        lambda: (
            detect_track_packed(
                spark,
                sf,
                packed_shift_path,
                method_anomaly="shifting_baseline",
                method_extreme="hobday_extreme",
            ),
            spark.catalog.clearCache(),
        ),
    )

    # steady-state gate vs BASELINE.md row 1: the same packed pipeline
    # at the 10× grid (30y × 40×80 ≈ 35M cell-days) where per-query
    # fixed overhead stops dominating
    guarded(
        "detect_track_blocked_10x",
        lambda: (
            detect_track_packed(spark, 1.0, packed_10x_path),
            spark.catalog.clearCache(),
        ),
    )

    # apples-to-apples vs BASELINE.md: the reference's published
    # numbers time DETECT alone (docs/modules/detect.rst rows) — these
    # two entries measure exactly that stage, without tracking, against
    # rows 1 and 3 respectively
    guarded(
        "detect_only_10x",
        lambda: (
            detect_track_packed(spark, 1.0, packed_10x_path, track=False),
            spark.catalog.clearCache(),
        ),
    )
    # BASELINE.md ROW 1's exact config: detrend_harmonic + global
    guarded(
        "detect_only_detrend_10x",
        lambda: (
            detect_track_packed(
                spark, 1.0, packed_10x_path,
                method_anomaly="detrend_harmonic", track=False,
            ),
            spark.catalog.clearCache(),
        ),
    )
    # BASELINE.md ROW 2's exact config: detrend_fixed_baseline + hobday
    # per-doy threshold, at the 10× grid
    guarded(
        "detect_only_fixed_hobday_10x",
        lambda: (
            detect_track_packed(
                spark, 1.0, packed_10x_path,
                method_anomaly="detrend_fixed_baseline",
                method_extreme="hobday_extreme",
                track=False,
            ),
            spark.catalog.clearCache(),
        ),
    )
    guarded(
        "detect_only_shifting_hobday",
        lambda: (
            detect_track_packed(
                spark,
                sf,
                packed_shift_path,
                method_anomaly="shifting_baseline",
                method_extreme="hobday_extreme",
                track=False,
            ),
            spark.catalog.clearCache(),
        ),
    )

    # the heaviest POSSIBLE config: shifting baseline + hobday with 5x5
    # spatial pooling (W4) through the y-halo kernel — strictly heavier
    # than any published reference row; evidence the full config space
    # runs at kernel speed
    def _spatial_bench() -> int:
        from marex_spark.operators.detect_blocked import (
            bench_grid_size,
            detect_extremes_blocked_packed,
        )

        _, ny, _ = bench_grid_size(sf)
        cells = detect_extremes_blocked_packed(
            spark.read.parquet(packed_shift_path),
            method_percentile="histogram",
            method_anomaly="shifting_baseline",
            method_extreme="hobday_extreme",
            window_spatial_hobday=5,
            ny=ny,
        )
        _force(cells)
        spark.catalog.clearCache()
        return 0

    guarded("detect_only_shifting_hobday_spatial", _spatial_bench)

    # scale rehearsal (VERDICT r5 #5): ≥1e9 cell-days DISTRIBUTED —
    # 30 y daily × 240×480 (0.75° global) ≈ 1.26e9 cell-days, ~5 GB
    # packed parquet, through the BASELINE row-1 config
    # (detrend_harmonic + global threshold). The fixture lands once in
    # warmup via the numpy packed generator and is REUSED across bench
    # runs (row-count check); the timed region is the scan-bound
    # steady state the 100 TB design claims: parquet scan → one band
    # shuffle → mapInArrow detrend+threshold kernel → noop.
    band_path = f"{tmp}/marex_bench_band_100x"
    band_cfg = {"n_years": 30, "ny": 240, "nx": 480}
    if sf < 0.05:
        band_cfg = None  # skip the 5 GB fixture on the quick local SFs
    try:
        from marex_spark.operators.detect_blocked import (
            materialize_packed_band_fixture,
        )

        if band_cfg is not None:
            materialize_packed_band_fixture(spark, band_path, **band_cfg)
            # prewarm the ~5 GB fixture into page cache: reuse across
            # bench runs means later runs would otherwise read it COLD
            # from a (shared, contended) virtual disk and the timed
            # row would measure disk bandwidth, not the engine — the
            # BASELINE comparison is per-CPU detect cost, so warmup
            # levels the IO state (cold-scan numbers are discussed in
            # SCALE.md instead)
            import pathlib

            for f in pathlib.Path(band_path).glob("*.parquet"):
                with open(f, "rb") as fh:
                    while fh.read(1 << 24):
                        pass
    except Exception as e:
        errors["__band_warmup__"] = f"{type(e).__name__}: {e}"
        note(f"band warmup: ERROR {type(e).__name__}")

    def _band_bench() -> int:
        from marex_spark.operators.detect_blocked import (
            detect_extremes_blocked_packed,
        )

        cells = detect_extremes_blocked_packed(
            spark.read.parquet(band_path),
            method_percentile="histogram",
            method_anomaly="detrend_harmonic",
            method_extreme="global_extreme",
        )
        cells.write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
        return 0

    if band_cfg is not None:
        guarded("detect_only_band_100x", _band_bench)

    # the unstructured (mesh) fast path at the same 10x volume: 3200
    # cells x 30y daily ≈ 35M cell-days through pack_unstructured's
    # block layout + the identical band kernel (fixed + hobday). The
    # packed mesh lands on parquet in warmup (same rule as the gridded
    # packed sets); the timed region is scan -> kernel -> noop.
    packed_mesh_path = f"{tmp}/marex_bench_packed_mesh_10x"

    def _mesh_warmup() -> None:
        from pyspark.sql import functions as Fx

        from marex_spark.operators.detect_blocked import pack_unstructured
        from marex_spark.sources.synthetic import synthetic_sst_gridded

        series = synthetic_sst_gridded(spark, n_years=30, ny=40, nx=80)
        mesh = series.select(
            "time",
            (Fx.col("y").cast("long") * 80 + Fx.col("x")).alias("cell"),
            "value",
        )
        pack_unstructured(mesh, block_cells=100).write.mode(
            "overwrite"
        ).parquet(packed_mesh_path)
        spark.catalog.clearCache()

    try:
        _mesh_warmup()
    except Exception as e:
        errors["__mesh_warmup__"] = f"{type(e).__name__}: {e}"
        note(f"mesh warmup: ERROR {type(e).__name__}")

    def _mesh_bench() -> int:
        from marex_spark.operators.detect_blocked import (
            detect_extremes_blocked_packed,
        )

        from pyspark.sql import functions as Fx

        cells = detect_extremes_blocked_packed(
            spark.read.parquet(packed_mesh_path),
            method_percentile="histogram",
            method_anomaly="detrend_fixed_baseline",
            method_extreme="hobday_extreme",
        )
        # map block coordinates back to mesh cell ids (the unmap step
        # detect_extremes_unstructured_packed performs)
        _force(
            cells.select(
                "time",
                (Fx.col("y").cast("long") * 100 + Fx.col("x")).alias("cell"),
            )
        )
        spark.catalog.clearCache()
        return 0

    guarded("detect_only_unstructured_10x", _mesh_bench)

    # the reference's tracker.run() parity path: morphological
    # preprocessing (closing/opening kernel + temporal gap fill +
    # small-object filter) BEFORE tracking — the stage the r2 bench
    # never exercised (its relational form measured 350 s at the 10×
    # grid; the per-slice kernel landed in r3 runs it in seconds)
    def _preprocess_track() -> int:
        from pyspark.sql import functions as Fx

        from marex_spark.operators.detect_blocked import (
            bench_grid_size,
            detect_extremes_blocked_packed,
        )
        from marex_spark.operators.track import preprocess_extremes, track_events

        _, ny, nx = bench_grid_size(sf)
        packed = spark.read.parquet(packed_path)
        cells = detect_extremes_blocked_packed(packed, method_percentile="histogram")
        ext = cells.withColumn("extreme", Fx.lit(True))
        # fused form: the area filter's labels feed tracking directly —
        # the second labelling pass (one full shuffle + kernel pass
        # over all extreme cells) is skipped; structure-identical
        # (tests/test_track.py::TestFusedLabelling)
        labels = preprocess_extremes(
            ext, ny=ny, nx=nx, r_fill=4, t_fill=2, area_quartile=0.5,
            return_labels=True,
        )
        res = track_events(ext, nx=nx, compute_stats=False, labels=labels)
        res.events.write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
        return 0

    guarded("preprocess_track", _preprocess_track)

    # per-cell Hobday MHW episode metrics over the 10x grid's detect
    # output (35M cell-days in, one shuffle by cell): the classic
    # summary statistics marine-heatwave users compute from extremes
    def _episode_stats_10x() -> int:
        from pyspark.sql import functions as Fx

        from marex_spark.operators.detect_blocked import (
            detect_extremes_blocked_packed,
        )
        from marex_spark.operators.stats import episode_stats

        packed = spark.read.parquet(packed_10x_path)
        cells = detect_extremes_blocked_packed(packed, method_percentile="histogram")
        ext = cells.withColumn("extreme", Fx.lit(True))
        episode_stats(ext).write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
        return 0

    guarded("episode_stats_10x", _episode_stats_10x)

    # split/merge resolution tiers on the same grid: chunked (default)
    # vs the wall-clock-parallel Jacobi time-block tier. The extreme
    # cells land on parquet ONCE in warmup (fixture generation is not
    # engine cost — same rule as the packed datasets above); the timed
    # region is scan → labelling → resolver → renumber, the pipeline a
    # tracking run actually executes over archived detect output.
    merge_ext_path = f"{tmp}/marex_bench_merge_ext_sf{sf}"
    merge_nx = {"nx": 0}

    def _merge_warmup() -> None:
        from pyspark.sql import functions as Fx

        from marex_spark.operators.detect_blocked import detect_extremes_blocked
        from marex_spark.sources.synthetic import synthetic_sst_gridded

        n_years = max(2, int(round(30 * sf)))
        ny, nx = (40, 80) if sf >= 0.05 else (20, 40)
        merge_nx["nx"] = nx
        series = synthetic_sst_gridded(spark, n_years=n_years, ny=ny, nx=nx)
        ext = detect_extremes_blocked(series).withColumn("extreme", Fx.lit(True))
        ext.write.mode("overwrite").parquet(merge_ext_path)
        spark.catalog.clearCache()

    try:
        _merge_warmup()
    except Exception as e:
        errors["__merge_warmup__"] = f"{type(e).__name__}: {e}"
        note(f"merge warmup: ERROR {type(e).__name__}")

    def _merge_bench() -> int:
        from marex_spark.operators.track import track_events

        ext = spark.read.parquet(merge_ext_path)
        res = track_events(
            ext, nx=merge_nx["nx"], overlap_threshold=0.5, compute_stats=False,
            allow_merging=True,
        )
        res.events.write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
        return 0

    guarded("track_merge_chunked", _merge_bench)

    # the capstone-class row (SCALE.md "90-year merge-mode tracking"
    # scaled to the bench budget): a 10x-longer daily series through
    # the SAME scan → labelling → driver-paged resolver → link pipeline
    # as track_merge_chunked. The row keeps its name so rounds stay
    # comparable; it times the one resolver engine over the longer
    # series (more pages, so the parquet page spill engages).
    merge10_path = f"{tmp}/marex_bench_merge_ext10_sf{sf}"
    merge10_nx = {"nx": 0}

    def _merge10_warmup() -> None:
        from pyspark.sql import functions as Fx

        from marex_spark.operators.detect_blocked import detect_extremes_blocked
        from marex_spark.sources.synthetic import synthetic_sst_gridded

        n_years = max(3, int(round(300 * sf)))
        ny, nx = (40, 80) if sf >= 0.05 else (20, 40)
        merge10_nx["nx"] = nx
        series = synthetic_sst_gridded(spark, n_years=n_years, ny=ny, nx=nx)
        ext = detect_extremes_blocked(series).withColumn("extreme", Fx.lit(True))
        ext.write.mode("overwrite").parquet(merge10_path)
        spark.catalog.clearCache()

    try:
        _merge10_warmup()
    except Exception as e:
        errors["__merge10_warmup__"] = f"{type(e).__name__}: {e}"
        note(f"merge10 warmup: ERROR {type(e).__name__}")

    def _merge10_bench() -> int:
        from pyspark.sql import functions as Fx  # noqa: F401

        from marex_spark.operators.track import track_events

        ext = spark.read.parquet(merge10_path)
        res = track_events(
            ext, nx=merge10_nx["nx"], overlap_threshold=0.5,
            compute_stats=False, allow_merging=True,
        )
        res.events.write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
        return 0

    guarded("track_merge_parallel_10x", _merge10_bench)

    # incremental append: extend a finished run with the last 30 days
    # instead of recomputing the series. Prior-run materialisation is
    # warmup (it models the archived run on disk); the timed region is
    # exactly the per-ingest-cycle cost — compare with detect_track,
    # which pays the whole series every cycle.
    extend_prior_path = f"{tmp}/marex_bench_extend_prior_sf{sf}"
    extend_new_path = f"{tmp}/marex_bench_extend_new_sf{sf}"
    extend_nx = {"nx": 0}

    def _extend_warmup() -> None:
        from pyspark.sql import functions as Fx

        from marex_spark.operators.detect_blocked import detect_extremes_blocked
        from marex_spark.operators.track import track_events
        from marex_spark.sources.synthetic import synthetic_sst_gridded

        n_years = max(2, int(round(30 * sf)))
        ny, nx_ = (40, 80) if sf >= 0.05 else (20, 40)
        extend_nx["nx"] = nx_
        series = synthetic_sst_gridded(spark, n_years=n_years, ny=ny, nx=nx_)
        ext = detect_extremes_blocked(series).withColumn("extreme", Fx.lit(True))
        ext = ext.localCheckpoint()
        times = sorted(r[0] for r in ext.select("time").distinct().collect())
        cutoff = times[-31]
        prior = track_events(
            ext.filter(Fx.col("time") <= Fx.lit(cutoff)),
            nx=nx_, compute_stats=False,
        )
        prior.events.write.mode("overwrite").parquet(extend_prior_path)
        ext.filter(Fx.col("time") > Fx.lit(cutoff)).write.mode(
            "overwrite"
        ).parquet(extend_new_path)
        spark.catalog.clearCache()

    try:
        _extend_warmup()
    except Exception as e:
        errors["__extend_warmup__"] = f"{type(e).__name__}: {e}"
        note(f"extend warmup: ERROR {type(e).__name__}")

    def _extend_bench() -> int:
        from marex_spark.operators.track import extend_track_events

        res = extend_track_events(
            spark.read.parquet(extend_prior_path),
            spark.read.parquet(extend_new_path),
            nx=extend_nx["nx"],
            compute_stats=False,
        )
        res.events.write.mode("overwrite").format("noop").save()
        spark.catalog.clearCache()
        return 0

    guarded("track_extend_append_30d", _extend_bench)

    # dedup-side scale rehearsal (r6 verdict #4) — the LLM-pipeline
    # mirror of detect_only_band_100x: the SAME registered queries the
    # correctness gate hash-verifies at sf0.01, pointed at synthetic
    # corpora 1000×/200× the sf0.1 documents table (fixture generation
    # is warmup; reuse across runs by row-count check).
    #   decontam_bloom over 5M docs — scan-bound: shingle explode +
    #   k literal-bitset probes + one per-doc aggregate (m,k derived
    #   from the ~12k-shingle benchmark side);
    #   dedup_minhash_lsh over 1M docs — shuffle-bound: shingle
    #   distinct + minhash agg + banded candidate join (~10k true
    #   dup pairs planted at 1/100).
    corpus5m_dir = f"{tmp}/marex_bench_corpus5m"
    corpus1m_dir = f"{tmp}/marex_bench_corpus1m"
    corpus_ok = {"5m": False, "1m": False}
    if sf >= 0.05:
        try:
            from marex_spark.sources.synthetic import (
                materialize_corpus_fixture,
            )

            materialize_corpus_fixture(spark, corpus5m_dir, 5_000_000)
            corpus_ok["5m"] = True
            materialize_corpus_fixture(spark, corpus1m_dir, 1_000_000)
            corpus_ok["1m"] = True
            # prewarm reused fixtures into page cache (same rule as the
            # band fixture: cold virtual-disk scans measure the shared
            # box's IO weather, not the engine)
            import pathlib

            for d in (corpus5m_dir, corpus1m_dir):
                for f in pathlib.Path(d).glob("documents.parquet/*.parquet"):
                    with open(f, "rb") as fh:
                        while fh.read(1 << 24):
                            pass
        except Exception as e:
            errors["__corpus_warmup__"] = f"{type(e).__name__}: {e}"
            note(f"corpus warmup: ERROR {type(e).__name__}")

    if corpus_ok["5m"]:
        guarded(
            "decontam_bloom_5m_docs",
            lambda: _force(QUERIES["decontam_bloom"](spark, corpus5m_dir)),
        )
    if corpus_ok["1m"]:
        guarded(
            "dedup_lsh_1m_docs",
            lambda: _force(QUERIES["dedup_minhash_lsh"](spark, corpus1m_dir)),
        )

    # SimHash near-dup pairs at 1M docs (r8: the 64-bit Manku geometry
    # rebuild) — fingerprints via the one-exchange groupBy form (the
    # measured winner; SCALE.md r8), banded 4×16-bit candidate join
    # with a production-sized star cap. Recovers exactly the 10k
    # planted dup pairs.
    def _simhash_1m() -> int:
        from marex_spark.operators.simhash import (
            simhash_band_pairs,
            simhash_fingerprints,
        )

        docs = spark.read.parquet(f"{corpus1m_dir}/documents.parquet")
        n = simhash_band_pairs(
            simhash_fingerprints(docs), star_cap=100
        ).count()
        if n == 0:
            raise RuntimeError("simhash pairs produced 0 rows")
        spark.catalog.clearCache()
        return n

    if corpus_ok["1m"]:
        guarded("dedup_simhash_1m_docs", _simhash_1m)

    # SemDeDup at 500× the sf0.1 embeddings table: corpus-derived k
    # (1M/4096 = 245 clusters), BLAS mode (exact=False — the
    # production tier; the decimal-exact tier is what the oracle
    # hash-verifies at sf0.01). Finds exactly the 10k planted dups.
    emb1m_dir = f"{tmp}/marex_bench_emb1m"
    emb_ok = {"ok": False}
    if sf >= 0.05:
        try:
            from marex_spark.sources.synthetic import (
                materialize_embedding_fixture,
            )

            materialize_embedding_fixture(spark, emb1m_dir, 1_000_000)
            emb_ok["ok"] = True
        except Exception as e:
            errors["__emb_warmup__"] = f"{type(e).__name__}: {e}"
            note(f"emb warmup: ERROR {type(e).__name__}")

    def _semdedup_1m() -> int:
        from marex_spark.operators.embed import semdedup_kernel

        emb = spark.read.parquet(f"{emb1m_dir}/embeddings.parquet")
        _force(semdedup_kernel(emb, tau=0.95, k=None, n_iter=1, exact=False))
        spark.catalog.clearCache()
        return 0

    if emb_ok["ok"]:
        guarded("semdedup_1m_vectors", _semdedup_1m)

    # SRP hyperplane-LSH index at 1M vectors (r8): numpy fast-tier
    # fingerprints (bit-identical to the oracle-verified decimal tier,
    # tests/test_embed.py), band table via the shared SimHash banding,
    # 5-query probe producing the candidate set — the serving shape of
    # the registered ann_srp_topk without its brute-force-scale rerank
    # input (candidates only ever pay the rerank).
    def _srp_1m() -> int:
        from pyspark.sql import functions as Fx

        from marex_spark.operators.embed import srp_fingerprints_fast
        from marex_spark.operators.simhash import simhash_bands

        emb = spark.read.parquet(f"{emb1m_dir}/embeddings.parquet")
        fps = srp_fingerprints_fast(emb)
        bands = simhash_bands(fps, bands=8, band_bits=8, id_col="vec_id", fp_name="srp")
        q = bands.filter(Fx.col("doc_id") < 5).select(
            Fx.col("doc_id").alias("q_id"), "band", "key"
        )
        c = bands.select(Fx.col("doc_id").alias("c_id"), "band", "key")
        # r9: broadcast the 40-row probe side (guide §3.1) — same hint
        # as _srp_candidates_from_fps; kills the corpus band-table
        # shuffle + sort feeding the old SortMergeJoin.
        n = (
            Fx.broadcast(q)
            .join(c, ["band", "key"])
            .filter(Fx.col("q_id") != Fx.col("c_id"))
            .select("q_id", "c_id")
            .distinct()
            .count()
        )
        if n == 0:
            raise RuntimeError("srp probe produced 0 candidates")
        spark.catalog.clearCache()
        return n

    if emb_ok["ok"]:
        guarded("ann_srp_1m_vectors", _srp_1m)

    # r9: the scale-safe SRP geometry (4 × 16-bit bands + hamming-1
    # multi-probe — registered row ann_srp16_topk) on the same 1M
    # corpus. Identical index cost (same 64-bit fingerprints, same
    # single (band, key) table); the candidate set drops from ~n/32
    # per query (8×8's corpus-hot buckets) to ~n/964 expected. The
    # probe must still recover the planted exact duplicate (vec 0 ==
    # vec 1 — identical fingerprints collide in every band), and the
    # note records the measured candidate fraction for SCALE.md.
    def _srp16_1m() -> int:
        from pyspark.sql import functions as Fx

        from marex_spark.operators.embed import srp_fingerprints_fast
        from marex_spark.queries.similarity import _srp_candidates_from_fps

        emb = spark.read.parquet(f"{emb1m_dir}/embeddings.parquet")
        fps = srp_fingerprints_fast(emb)
        cand = _srp_candidates_from_fps(fps, 4, 16, probe_1bit=True, nq=5)
        got = (
            cand.groupBy()
            .agg(
                Fx.count("*").alias("n"),
                Fx.max(
                    (Fx.col("q_id") == 0) & (Fx.col("c_id") == 1)
                ).alias("hit"),
            )
            .first()
        )
        if not got["hit"]:
            raise RuntimeError("srp16 probe missed the planted duplicate")
        note(
            f"srp16 candidates for 5 queries: {got['n']} "
            f"(fraction {got['n'] / 5e6:.6f})"
        )
        spark.catalog.clearCache()
        return int(got["n"])

    if emb_ok["ok"]:
        guarded("ann_srp16_1m_vectors", _srp16_1m)

    # per-domain cap at 5M docs under a REAL skew histogram (90% of the
    # corpus in one derived hot domain): domain_top_n (the registered
    # pipe_domain_cap's engine) rides Catalyst's InferWindowGroupLimit —
    # map-side ≤N-per-domain pruning before the shuffle — so the hot
    # domain never sorts on one task. SCALE.md records the measured
    # comparison vs the hand-rolled salted two-phase (8× slower here).
    def _domain_cap_5m() -> int:
        from pyspark.sql import functions as Fx

        from marex_spark.operators.curation import domain_top_n

        docs = spark.read.parquet(f"{corpus5m_dir}/documents.parquet")
        skewed = docs.select(
            "doc_id",
            Fx.when(Fx.pmod("doc_id", Fx.lit(10)) < 9, Fx.lit("bulk"))
            .otherwise(Fx.col("source"))
            .alias("source"),
            Fx.length("text").alias("n_chars"),
        )
        out = domain_top_n(
            skewed, "source", [Fx.desc("n_chars"), Fx.col("doc_id")], 100
        )
        # count() executes the same plan and carries a sanity signal
        # (ADVICE r7): an empty cap result is a broken bench row.
        n = out.count()
        if n == 0:
            raise RuntimeError("domain cap produced 0 rows")
        spark.catalog.clearCache()
        return n

    if corpus_ok["5m"]:
        guarded("domain_cap_5m_skewed", _domain_cap_5m)

    _execute_plan()


if __name__ == "__main__":
    main()
