"""Traced run: per-layer spans and Spark stage metrics, recorded from
outside the engine.

Each layer's public functions are rebound at the module attributes the
orchestrators call them through (their import sites). A call opens a
span with its own Spark job group, forces every DataFrame it returns
with ``localCheckpoint`` so the span holds its own work, counts the
rows, and closes. After each traced run the listener bus is drained and
every span's jobs are read back by group: public ``statusTracker`` for
job, stage and task counts; the private status store
(``statusStore().lastStageAttempt``) for executor time, CPU, shuffle and
spill. If the private call is unavailable the tracer falls back to wall
time and the public counts, and says so in ``stage_metrics``.

Layers are the ``marex_spark/operators`` modules plus ``queries_dedup``
for ``marex_spark/queries/dedup.py``.
"""

from __future__ import annotations

import importlib
import json
import statistics
import time
from dataclasses import asdict, dataclass, field

# layer -> [(module, function)] rebound while a traced run is active
LAYERS = {
    "detect_blocked": [("marex_spark.operators.detect_blocked", "detect_extremes_blocked_packed")],
    "morphology": [
        ("marex_spark.operators.morphology", f)
        for f in ("morph_close_open_blocked", "fill_time_gaps_true_set", "filter_small_objects")
    ],
    "label": [
        ("marex_spark.operators.track", "label_components"),
        ("marex_spark.operators.label", "label_components"),
    ],
    "merge": [
        ("marex_spark.operators.merge", f)
        for f in ("split_merge_events_parallel", "split_merge_events_chunked", "split_merge_events")
    ],
    "overlap": [
        ("marex_spark.operators.track", f)
        for f in ("overlap_pairs", "object_areas", "filter_overlap_fraction")
    ],
    "components": [
        ("marex_spark.operators.track", f)
        for f in ("connected_components_driver", "remap_ids_sparse", "remap_ids")
    ],
    "stats": [
        ("marex_spark.operators.track", f)
        for f in ("attach_geo", "event_timestep_stats", "event_lifetime_stats")
    ],
    "simhash": [
        ("marex_spark.operators.simhash", f) for f in ("simhash_fingerprints", "simhash_band_pairs")
    ],
    "dedup": [("marex_spark.queries.dedup", "bloom_decontaminate")],
    "queries_dedup": [
        ("marex_spark.queries.dedup", f) for f in ("decontam_bloom", "dedup_minhash_lsh")
    ],
}
LAYER_FIELDS = (
    "wall_s", "self_s", "driver_s", "jobs", "tasks", "failed_tasks",
    "executor_run_s", "executor_cpu_s", "shuffle_write_mb", "spill_mb", "rows_out",
)
EXTRA_METRICS = {
    "overlap.kept_frac": "ratio",
    "merge.ledger_rows": "count",
    "session.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.coverage_frac": "ratio",
}
_MB = 2**20


def field_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def metric_names() -> dict[str, str]:
    """Every per-layer metric name the traced run emits, with its unit."""
    out = {f"{layer}.{f}": field_unit(f) for layer in LAYERS for f in LAYER_FIELDS}
    out.update(EXTRA_METRICS)
    return out


@dataclass
class Span:
    name: str  # layer
    fn: str
    run_id: int
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    overhead_s: float = 0.0  # row counting, excluded from wall and self
    rows: list[int] = field(default_factory=list)
    stage_windows: list[tuple[float, float]] = field(default_factory=list)
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start - self.overhead_s


def _union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class StageReader:
    """Stage metrics for a job group. ``private`` is False once the
    status-store call has failed; from then on only public counts are
    read (the pinned fallback)."""

    def __init__(self, sc):
        self.sc = sc
        self.private = True

    def drain(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # private API; the public counts still follow
            time.sleep(0.2)

    def fill(self, span: Span) -> None:
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(span.group):
            info = tracker.getJobInfo(jid)
            if info is not None:
                span.jobs += 1
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            if self.private:
                try:
                    self._fill_private(span, sid)
                    continue
                except Exception:
                    self.private = False
            info = tracker.getStageInfo(sid)
            if info is not None:
                span.tasks += info.numCompletedTasks + info.numFailedTasks
                span.failed_tasks += info.numFailedTasks

    def _fill_private(self, span: Span, sid: int) -> None:
        store = self.sc._jsc.sc().statusStore()
        try:
            sd = store.lastStageAttempt(sid)
        except Exception as exc:  # a stage the store never saw: nothing ran
            if "NoSuchElement" in str(exc):
                return
            raise
        span.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
        span.failed_tasks += sd.numFailedTasks()
        span.executor_run_s += sd.executorRunTime() / 1e3
        span.executor_cpu_s += sd.executorCpuTime() / 1e9
        span.shuffle_write_mb += sd.shuffleWriteBytes() / _MB
        span.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
        sub, done = sd.submissionTime(), sd.completionTime()
        if sub.isDefined() and done.isDefined():
            span.stage_windows.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))


class Tracer:
    """Rebinds the layer functions while active (``with Tracer(sc):``)."""

    def __init__(self, sc, reader: StageReader | None = None):
        self.sc = sc
        self.reader = reader or StageReader(sc)
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.run_id = 0
        self.run_windows: dict[int, tuple[float, float]] = {}
        self._saved: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ patching
    def __enter__(self) -> "Tracer":
        for layer, sites in LAYERS.items():
            for mod_name, fn_name in sites:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, fn_name, None)
                if orig is None:
                    continue
                self._saved.append((mod, fn_name, orig))
                setattr(mod, fn_name, self._wrap(layer, fn_name, orig))
        return self

    def __exit__(self, *exc) -> None:
        for mod, fn_name, orig in reversed(self._saved):
            setattr(mod, fn_name, orig)
        self._saved.clear()

    def _wrap(self, layer: str, fn_name: str, fn):
        def traced(*args, **kwargs):
            span = self._open(layer, fn_name)
            try:
                out = self._force(fn(*args, **kwargs), span)
            finally:
                self._close(span)
            return out

        traced.__wrapped__ = fn
        return traced

    # -------------------------------------------------------------- spans
    def _open(self, layer: str, fn_name: str) -> Span:
        idx = len(self.spans)
        span = Span(
            name=layer,
            fn=fn_name,
            run_id=self.run_id,
            parent=self.stack[-1] if self.stack else None,
            group=f"perfbench-{self.run_id}-{idx}",
            start=time.time(),
        )
        self.spans.append(span)
        self.stack.append(idx)
        self.sc.setJobGroup(span.group, f"{layer}.{fn_name}")
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self.stack.pop()
        if self.stack:
            parent = self.spans[self.stack[-1]]
            self.sc.setJobGroup(parent.group, f"{parent.name}.{parent.fn}")
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _force(self, out, span: Span):
        """Materialise DataFrames in ``out`` inside the span, then count
        their rows (the count is tracing overhead, not layer work)."""
        from pyspark.sql import DataFrame

        def one(df):
            if not isinstance(df, DataFrame):
                return df
            plan = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
            if plan != "LogicalRDD":  # already checkpointed: nothing to force
                df = df.localCheckpoint()
            t0 = time.time()
            # count under the tracer's own group so no layer is charged
            self.sc.setJobGroup(f"perfbench-{self.run_id}-count", "row count")
            try:
                span.rows.append(df.count())
            finally:
                self.sc.setJobGroup(span.group, f"{span.name}.{span.fn}")
            span.overhead_s += time.time() - t0
            return df

        if isinstance(out, tuple):
            return tuple(one(v) for v in out)
        return one(out)

    # ------------------------------------------------------------- runs
    def traced_run(self, fn) -> tuple[float, object]:
        """Run ``fn`` as one traced run; returns (wall seconds, result)."""
        self.run_id += 1
        t0 = time.time()
        try:
            result = fn()
        finally:
            t1 = time.time()
            self.reader.drain()
            for span in self.spans:
                if span.run_id == self.run_id:
                    self.reader.fill(span)
        self.run_windows[self.run_id] = (t0, t1)
        return t1 - t0, result

    def layer_metrics(self, run_id: int) -> dict[str, float]:
        spans = [(i, s) for i, s in enumerate(self.spans) if s.run_id == run_id]
        children: dict[int, list[Span]] = {}
        for _, s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in LAYER_FIELDS}
        for i, s in spans:
            kids = [(c.start, c.end) for c in children.get(i, [])]
            self_s = s.wall - _union_len(kids, s.start, s.end)
            busy = _union_len(kids + s.stage_windows, s.start, s.end)
            p = s.name + "."
            out[p + "wall_s"] += s.wall
            out[p + "self_s"] += self_s
            out[p + "driver_s"] += max(0.0, s.wall - busy) if self.reader.private else self_s
            out[p + "rows_out"] += s.rows[0] if s.rows else 0
            for f in ("jobs", "tasks", "failed_tasks", "executor_run_s",
                      "executor_cpu_s", "shuffle_write_mb", "spill_mb"):
                out[p + f] += getattr(s, f)
        pairs = sum(s.rows[0] for _, s in spans if s.fn == "overlap_pairs" and s.rows)
        kept = sum(s.rows[0] for _, s in spans if s.fn == "filter_overlap_fraction" and s.rows)
        out["overlap.kept_frac"] = kept / pairs if pairs else 0.0
        out["merge.ledger_rows"] = sum(
            s.rows[1] for _, s in spans if s.name == "merge" and len(s.rows) > 1
        )
        t0, t1 = self.run_windows[run_id]
        top = [(s.start, s.end) for _, s in spans if s.parent is None]
        out["trace.coverage_frac"] = _union_len(top, t0, t1) / (t1 - t0)
        return out

    def dump(self, path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


def traced(bench, seconds: float, spans_path) -> dict:
    """Alternate untraced and traced runs for ``seconds`` (at least two
    of each); per-layer metrics are medians over the traced runs. The
    spans are written to ``spans_path``."""
    walls, traced_walls, per_run, fails = [], [], [], 0
    tracer = Tracer(bench.spark.sparkContext)
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or (len(traced_walls) < 2 and fails < 2):
        wall = bench.one_run()
        if wall is not None:
            walls.append(wall)
        with tracer:
            wall, ok = tracer.traced_run(bench.one_run)
        if ok is None:
            fails += 1
            continue
        traced_walls.append(wall)
        per_run.append(tracer.layer_metrics(tracer.run_id))
    tracer.dump(spans_path)
    units = metric_names()
    metrics = {
        name: statistics.median(r[name] for r in per_run) if per_run else 0.0
        for name in units
        if name not in ("session.wall_s", "trace.overhead_s")
    }
    metrics["session.wall_s"] = statistics.median(bench.session_s)
    metrics["trace.overhead_s"] = (
        statistics.median(traced_walls) - statistics.median(walls) if walls and traced_walls else 0.0
    )
    bench.stage_metrics = tracer.reader.private
    return {name: {"value": metrics[name], "unit": units[name]} for name in units}
