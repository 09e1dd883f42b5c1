"""The four benchmark workloads and their output checks.

Each workload reads a fixture from :mod:`gen`, drives the engine through
its public functions and returns an :class:`Output`: a digest that does
not depend on how the engine numbers events or objects, plus the list of
invariant violations found. Engine modules are looked up through their
module objects at call time (``detect_blocked.detect_extremes_blocked_packed``),
so a traced run that rebinds those attributes sees every call.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

EXTREME_Q = 0.95
FRACTION_TOL = 0.02  # per-cell extreme fraction must lie in 5% +- this
NEAR_RECALL_MIN = 0.95  # MinHash recall floor on planted near duplicates


@dataclass
class Output:
    digest: str
    problems: list[str] = field(default_factory=list)
    counts: dict = field(default_factory=dict)


def _sha(obj) -> str:
    return hashlib.sha256(json.dumps(obj, separators=(",", ":")).encode()).hexdigest()[:16]


def event_digest(rows) -> str:
    """Digest of the multiset of (cell count, first time, last time) over
    events; event ids do not enter it, so any renumbering keeps it."""
    return _sha(sorted([int(n), int(t0), int(t1)] for n, t0, t1 in rows))


def pair_digest(pairs) -> str:
    """Digest of a set of id pairs (or id tuples), order-free."""
    return _sha(sorted({tuple(int(v) for v in p) for p in pairs}))


class Workload:
    """One workload bound to a session and a fixture directory.

    ``kind`` and ``shape`` name the :func:`gen.ensure_fixture` input; the
    shapes are part of the benchmark's definition (sized so one benchmark
    run, set-ups included, takes about a minute at ``local[4]``), so
    change them only with new pins in ``expected.json``."""

    name = ""
    kind = ""
    shape: dict = {}

    def __init__(self, spark, fixture: Path, manifest: dict):
        self.spark = spark
        self.fixture = fixture
        self.manifest = manifest

    @property
    def items(self) -> int:
        return int(self.manifest["items"])

    def run(self) -> Output:
        raise NotImplementedError


def _grid_tables(spark, ny: int, nx: int):
    lat = np.linspace(-60.0, 60.0, ny)
    lon = np.arange(nx) * (360.0 / nx)
    grid_y = spark.createDataFrame([(int(i), float(v)) for i, v in enumerate(lat)], "y int, lat double")
    grid_x = spark.createDataFrame([(int(i), float(v)) for i, v in enumerate(lon)], "x int, lon double")
    return grid_y, grid_x


def _event_rows(events):
    from pyspark.sql import functions as F

    return events.groupBy("event_id").agg(
        F.count("*").alias("n"),
        F.unix_micros(F.min("time")).alias("t0"),
        F.unix_micros(F.max("time")).alias("t1"),
    ).collect()


def check_events(rows, expect_cells: int | None) -> list[str]:
    problems = []
    if not rows:
        problems.append("no events")
    if any(r[0] is None for r in rows):
        problems.append("cells without an event id")
    total = sum(int(r[1]) for r in rows)
    if expect_cells is not None and total != expect_cells:
        problems.append(f"events hold {total} cells, input has {expect_cells}")
    return problems


class DetectHobday(Workload):
    """Packed SST -> detrended fixed baseline + Hobday day-of-year
    thresholds (histogram percentiles) -> per-cell summary."""

    name = "detect_hobday"
    kind = "sst"
    shape = {"n_years": 8, "ny": 40, "nx": 80}

    def run(self) -> Output:
        from pyspark.sql import functions as F

        from marex_spark.operators import detect_blocked

        packed = self.spark.read.parquet(str(self.fixture / "packed.parquet"))
        cells = detect_blocked.detect_extremes_blocked_packed(
            packed,
            threshold_percentile=EXTREME_Q,
            method_percentile="histogram",
            method_anomaly="detrend_fixed_baseline",
            method_extreme="hobday_extreme",
        )
        cell_hash = F.pmod(F.xxhash64(F.unix_micros("time"), "y", "x"), F.lit(1 << 31))
        rows = cells.groupBy("y", "x").agg(
            F.count("*").alias("n"), F.sum(cell_hash).alias("h")
        ).collect()
        n_days = 365 * self.shape["n_years"]
        n_cells = self.shape["ny"] * self.shape["nx"]
        frac = np.array([r["n"] for r in rows], dtype=float) / n_days
        problems = []
        if len(rows) != n_cells:
            problems.append(f"{n_cells - len(rows)} cells have no extremes")
        bad = np.abs(frac - (1 - EXTREME_Q)) > FRACTION_TOL
        if bad.any():
            problems.append(f"{int(bad.sum())} cells outside 5% +- {FRACTION_TOL} extreme fraction")
        digest = pair_digest((r["y"], r["x"], r["n"], r["h"]) for r in rows)
        return Output(digest, problems, {"extreme_cells": int(sum(r["n"] for r in rows))})


class TrackMerge(Workload):
    """Archived extreme cells -> labelling, overlap graph, components and
    the parallel split/merge resolver -> per-event summary."""

    name = "track_merge"
    kind = "cells"
    shape = {"n_years": 2, "ny": 40, "nx": 80}

    def run(self) -> Output:
        from marex_spark.operators import track

        ext = self.spark.read.parquet(str(self.fixture / "cells.parquet"))
        res = track.track_events(
            ext,
            nx=self.shape["nx"],
            ny=self.shape["ny"],
            overlap_threshold=0.5,
            compute_stats=False,
            allow_merging=True,
            merge_parallel=True,
        )
        rows = _event_rows(res.events)
        ledger_rows = res.extras["merge_ledger"].count()
        problems = check_events(rows, int(self.manifest["rows"]))
        if ledger_rows == 0:
            problems.append("empty merge ledger")
        return Output(
            event_digest((r["n"], r["t0"], r["t1"]) for r in rows),
            problems,
            {"events": len(rows), "ledger_rows": int(ledger_rows)},
        )


class TrackerRun(Workload):
    """The reference's ``tracker.run()``: packed SST -> global 95th
    percentile detect -> morphology (R_fill=8, T_fill=2, area quartile
    0.5) -> tracking with merging -> per-event lifetime stats."""

    name = "tracker_run"
    kind = "sst"
    shape = {"n_years": 4, "ny": 40, "nx": 80}

    def run(self) -> Output:
        from pyspark.sql import functions as F

        from marex_spark import tracker
        from marex_spark.operators import detect_blocked

        ny, nx = self.shape["ny"], self.shape["nx"]
        packed = self.spark.read.parquet(str(self.fixture / "packed.parquet"))
        cells = detect_blocked.detect_extremes_blocked_packed(
            packed, threshold_percentile=EXTREME_Q, method_percentile="histogram"
        )
        grid_y, grid_x = _grid_tables(self.spark, ny, nx)
        res = tracker.tracker(
            cells.withColumn("extreme", F.lit(True)),
            R_fill=8,
            T_fill=2,
            area_filter_quartile=0.5,
            allow_merging=True,
            overlap_threshold=0.5,
            ny=ny,
            nx=nx,
            grid_y=grid_y,
            grid_x=grid_x,
            coordinate_units="degrees",
        ).run()
        rows = res.lifetime_stats.select(
            "event_id",
            "total_cell_days",
            F.unix_micros("time_start").alias("t0"),
            F.unix_micros("time_end").alias("t1"),
        ).collect()
        problems = check_events(rows, None)
        return Output(
            event_digest((r["total_cell_days"], r["t0"], r["t1"]) for r in rows),
            problems,
            {"events": len(rows)},
        )


class TextDedup(Workload):
    """Corpus -> Bloom decontamination against ``src0``, MinHash-LSH
    candidate pairs, SimHash fingerprints and banded pairs."""

    name = "text_dedup"
    kind = "docs"
    shape = {"n_docs": 20_000}

    def run(self) -> Output:
        from pyspark.sql import functions as F

        from marex_spark.operators import simhash
        from marex_spark.queries import dedup

        corpus = str(self.fixture)
        flagged = dedup.decontam_bloom(self.spark, corpus).filter(
            F.col("n_flagged") > 0
        ).select("doc_id", "n_flagged").collect()
        lsh = dedup.dedup_minhash_lsh(self.spark, corpus).collect()
        docs = self.spark.read.parquet(str(self.fixture / "documents.parquet"))
        sim = simhash.simhash_band_pairs(simhash.simhash_fingerprints(docs), star_cap=100).collect()
        with np.load(self.fixture / "truth.npz") as truth:
            problems = check_dedup(
                {(r[0], r[1]) for r in lsh},
                {(r[0], r[1]) for r in sim},
                {r[0] for r in flagged},
                truth,
            )
        digest = _sha(
            [pair_digest(lsh), pair_digest(sim), pair_digest((r[0], r[1]) for r in flagged)]
        )
        counts = {"lsh_pairs": len(lsh), "simhash_pairs": len(sim), "flagged_docs": len(flagged)}
        return Output(digest, problems, counts)


def check_dedup(lsh: set, sim: set, flagged: set, truth) -> list[str]:
    problems = []
    exact = {tuple(p) for p in truth["exact"].tolist()}
    near = {tuple(p) for p in truth["near"].tolist()}
    if missed := len(exact - lsh):
        problems.append(f"MinHash-LSH missed {missed} planted exact duplicates")
    if missed := len(exact - sim):
        problems.append(f"SimHash missed {missed} planted exact duplicates")
    recall = len(near & lsh) / max(1, len(near))
    if recall < NEAR_RECALL_MIN:
        problems.append(f"MinHash-LSH near-duplicate recall {recall:.3f} < {NEAR_RECALL_MIN}")
    if missed := len(set(truth["contam"].tolist()) - flagged):
        problems.append(f"Bloom probe missed {missed} planted contaminated documents")
    return problems


CLASSES = {c.name: c for c in (DetectHobday, TrackMerge, TrackerRun, TextDedup)}
WORKLOADS = tuple(CLASSES)
