"""Call timing, optional tracing, and the per-layer rollup.

``Recorder`` times every public engine call a workload makes. In a traced
run it also

- sets a Spark job group around each timed call, so the event log ties every
  job to the call that launched it;
- wraps the cross-layer calls ``Miniberg.commit`` / ``Miniberg.read`` and
  the three view syncs ``index_sync_hook`` makes, recording a span per call;
- reads the JVM's garbage-collector MXBeans over py4j.

``rollup`` turns the spans plus the Spark event log (uncompressed,
non-rolling) into the per-layer metrics named in ``LAYER_METRICS``.
"""

from __future__ import annotations

import contextlib
import gc
import glob
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

# the query leaves a traced bulk_load run measures: bench.py's 17 plus
# w2_followup_rate, each as (operator module, leaf)
LEAVES = [
    ("relational", "a1_pricing_summary"),
    ("relational", "j3_dim_join_revenue"),
    ("relational", "j1_merge_full_outer"),
    ("relational", "j4_date_spine"),
    ("relational", "w1_topk_per_group"),
    ("relational", "w2_sessionize"),
    ("relational", "a6_cube"),
    ("relational", "a5_lww_state"),
    ("relational", "u1_stitch_precedence"),
    ("relational", "f_json_extract"),
    ("textops", "t_token_count"),
    ("dedup", "d_minhash_lsh"),
    ("dedup", "d_simhash_banded"),
    ("similarity", "e_ann_topk"),
    ("relational", "st_tumbling_daily"),
    ("textops", "x_subword_bpe"),
    ("pipeline", "x_token_shard_packing"),
    ("relational", "w2_followup_rate"),
]

# the view syncs index_sync_hook makes: (function in operators.aggview, layer)
VIEW_SYNCS = [
    ("agg_view_sync", "operators.aggview.agg_sync"),
    ("distinct_view_sync", "operators.aggview.distinct_sync"),
    ("topk_view_sync", "operators.aggview.topk_sync"),
]


def leaf_layer(module: str, name: str) -> str:
    return f"operators.{module}.{name}"


# every per-layer metric a traced run prints; layers a workload does not
# exercise report 0 (their predicted value on that workload)
LAYER_METRICS = {
    "cdc.apply.executor_cpu_s": "s",
    "cdc.apply.shuffle_write_bytes": "bytes",
    "cdc.apply.spill_bytes": "bytes",
    "cdc.apply.dedup_task_skew": "ratio",
    "cdc.apply.driver_serial_s": "s",
    "cdc.apply.jobs": "count",
    "cdc.apply.wall_s": "s",
    "cdc.apply.applied_ratio": "ratio",
    "cdc.apply.mor_share": "ratio",
    "sources.changelog.read_batch_s": "s",
    "tables.miniberg.commit_s": "s",
    "tables.miniberg.read_s": "s",
    "tables.miniberg.read_keys_s": "s",
    "tables.miniberg.table_changes_s": "s",
    "tables.miniberg.scan_s": "s",
    "tables.maintenance.files_per_bucket": "count",
    "tables.maintenance.delta_depth": "count",
    "streaming.microbatch.hook_s": "s",
    **{f"{layer}_s": "s" for _, layer in VIEW_SYNCS},
    "operators.aggview.incremental_share": "ratio",
    **{f"{leaf_layer(m, n)}{suffix}": unit
       for m, n in LEAVES
       for suffix, unit in (("_s", "s"), ("_cpu_s", "s"), ("_shuffle_bytes", "bytes"))},
    "jvm.gc_s": "s",
    "trace.overhead": "ratio",
}


@dataclass
class Span:
    layer: str
    group: str | None
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float
    timed: bool  # inside the measured window (warm-up spans are not)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Recorder:
    """Times calls; in a traced run also tags their Spark jobs and records
    spans of the wrapped cross-layer calls."""

    spark: object
    traced: bool
    timed: bool = False  # set by the workload around its measured window
    spans: list[Span] = field(default_factory=list)
    gc_timed_s: float = 0.0  # JVM collector time inside timed calls (traced runs)
    quiesce_s: float = 0.0   # wall time spent in quiesce()
    _n: int = 0
    _depth: int = 0
    _groups: list[str] = field(default_factory=list)

    @contextlib.contextmanager
    def call(self, layer: str):
        """Time one public call; in a traced run its jobs join group
        ``<layer>#<n>``. Nested calls restore the outer group on exit."""
        group = None
        gc0 = None
        if self.traced:
            self._n += 1
            group = f"{layer}#{self._n}"
            self._set_group(group)
            self._groups.append(group)
            if self.timed and self._depth == 0:
                gc0 = self.gc_seconds()
        self._depth += 1
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._depth -= 1
            self.spans.append(Span(layer, group, t0, t1, self.timed))
            if self.traced:
                if gc0 is not None:
                    self.gc_timed_s += self.gc_seconds() - gc0
                self._groups.pop()
                self._set_group(self._groups[-1] if self._groups else None)

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    def durations(self, layer: str) -> list[float]:
        """Durations of the timed calls of one layer, in call order."""
        return [s.dur for s in self.spans if s.layer == layer and s.timed]

    def quiesce(self) -> None:
        """Untimed: collect Python garbage and ask the JVM for a full GC, so
        one timed call does not pay for the previous call's garbage."""
        t0 = time.perf_counter()
        gc.collect()
        self.spark._jvm.java.lang.System.gc()
        self.quiesce_s += time.perf_counter() - t0

    def gc_seconds(self) -> float:
        """Cumulative JVM collector time (all collectors), seconds."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    @contextlib.contextmanager
    def wrapped(self):
        """Traced runs only: record spans for the cross-layer calls the
        engine makes internally. Originals are restored on exit."""
        if not self.traced:
            yield
            return
        from recidiviz_data_spark.operators import aggview
        from recidiviz_data_spark.tables.miniberg import Miniberg

        targets = [
            (Miniberg, "commit", "tables.miniberg.commit"),
            (Miniberg, "read", "tables.miniberg.read"),
        ] + [(aggview, name, layer) for name, layer in VIEW_SYNCS]
        saved = [(owner, name, getattr(owner, name)) for owner, name, _ in targets]
        for owner, name, layer in targets:
            setattr(owner, name, self._spanned(getattr(owner, name), layer))
        try:
            yield
        finally:
            for owner, name, fn in saved:
                setattr(owner, name, fn)

    def _spanned(self, fn, layer: str):
        rec = self

        def inner(*a, **kw):
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                rec.spans.append(Span(layer, None, t0, time.time(), rec.timed))

        return inner


# ------------------------------------------------------------ event log
@dataclass
class _Job:
    group: str | None
    start: float = 0.0
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class _Task:
    cpu_s: float
    shuffle_read: int
    shuffle_write: int
    spill: int


def parse_event_log(log_dir: str) -> tuple[dict[int, _Job], dict[int, list[_Task]]]:
    """Jobs (group, run interval, stage ids) and per-stage task metrics."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict[int, _Job] = {}
    tasks: dict[int, list[_Task]] = defaultdict(list)
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = _Job(
                    props.get("spark.jobGroup.id"),
                    start=ev["Submission Time"] / 1000.0,
                    stages=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks[ev["Stage ID"]].append(_Task(
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    spill=m.get("Disk Bytes Spilled", 0),
                ))
    return jobs, tasks


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


@dataclass
class CallCost:
    """What the event log says one timed call cost."""

    jobs: int
    cpu_s: float
    shuffle_write: int
    spill: int
    serial_s: float
    skew: float


def call_costs(spans: list[Span], jobs: dict[int, _Job],
               tasks: dict[int, list[_Task]]) -> dict[str, CallCost]:
    """Per job group: job count, executor CPU, shuffle bytes, spill, the
    driver-serial time (wall minus the union of the group's job run
    intervals) and the task skew of the group's largest shuffle-read stage
    (max / median task CPU)."""
    by_group: dict[str, list[_Job]] = defaultdict(list)
    for j in jobs.values():
        if j.group is not None:
            by_group[j.group].append(j)
    out: dict[str, CallCost] = {}
    for s in spans:
        if s.group is None or not s.timed:
            continue
        js = by_group.get(s.group, [])
        stage_ids = {st for j in js for st in j.stages}
        ts = [t for st in stage_ids for t in tasks.get(st, [])]
        skew = 0.0
        reads = {st: sum(t.shuffle_read for t in tasks.get(st, [])) for st in stage_ids}
        if reads and max(reads.values()) > 0:
            top = max(reads, key=reads.get)
            cpus = [t.cpu_s for t in tasks[top]]
            med = statistics.median(cpus)
            skew = max(cpus) / med if med > 0 else 0.0
        busy = _union_len([(max(j.start, s.start), min(j.end, s.end)) for j in js if j.end >= j.start])
        out[s.group] = CallCost(
            jobs=len(js),
            cpu_s=sum(t.cpu_s for t in ts),
            shuffle_write=sum(t.shuffle_write for t in ts),
            spill=sum(t.spill for t in ts),
            serial_s=max(s.dur - busy, 0.0),
            skew=skew,
        )
    return out


def rollup(rec: Recorder, log_dir: str, shape: dict) -> dict[str, float]:
    """The per-layer table: span means, event-log costs per call, and the
    workload's shape counters. Layers the workload did not call read 0."""
    jobs, tasks = parse_event_log(log_dir)
    costs = call_costs(rec.spans, jobs, tasks)

    def layer_costs(layer: str) -> list[CallCost]:
        return [costs[s.group] for s in rec.spans if s.layer == layer and s.group in costs]

    def span_mean(layer: str) -> float:
        return _mean(rec.durations(layer))

    apply = layer_costs("cdc.apply")

    out: dict[str, float] = {
        "cdc.apply.executor_cpu_s": _mean([c.cpu_s for c in apply]),
        "cdc.apply.shuffle_write_bytes": _mean([c.shuffle_write for c in apply]),
        "cdc.apply.spill_bytes": _mean([c.spill for c in apply]),
        "cdc.apply.dedup_task_skew": _mean([c.skew for c in apply]),
        "cdc.apply.driver_serial_s": _mean([c.serial_s for c in apply]),
        "cdc.apply.jobs": _mean([c.jobs for c in apply]),
        "cdc.apply.wall_s": span_mean("cdc.apply"),
        "cdc.apply.applied_ratio": shape.get("applied_share", 0.0),
        "cdc.apply.mor_share": shape.get("mor_share", 0.0),
        "sources.changelog.read_batch_s": span_mean("sources.changelog.read_batch"),
        "tables.miniberg.commit_s": span_mean("tables.miniberg.commit"),
        "tables.miniberg.read_s": span_mean("tables.miniberg.read"),
        "tables.miniberg.read_keys_s": span_mean("tables.miniberg.read_keys"),
        "tables.miniberg.table_changes_s": span_mean("tables.miniberg.table_changes"),
        "tables.miniberg.scan_s": span_mean("tables.miniberg.scan"),
        "tables.maintenance.files_per_bucket": shape.get("files_per_bucket", 0.0),
        "tables.maintenance.delta_depth": shape.get("delta_depth", 0.0),
        "streaming.microbatch.hook_s": span_mean("streaming.microbatch.hook"),
        "operators.aggview.incremental_share": shape.get("incremental_share", 0.0),
    }
    for _, layer in VIEW_SYNCS:
        out[f"{layer}_s"] = span_mean(layer)
    for m, n in LEAVES:
        layer = leaf_layer(m, n)
        leaf = layer_costs(layer)
        out[f"{layer}_s"] = span_mean(layer)
        out[f"{layer}_cpu_s"] = _mean([c.cpu_s for c in leaf])
        out[f"{layer}_shuffle_bytes"] = _mean([c.shuffle_write for c in leaf])
    return out
