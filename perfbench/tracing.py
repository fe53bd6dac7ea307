"""Span tracing around the CDC engine's public boundaries, from outside it.

The tracer patches the names the engine's own modules call through, so spans
nest the way the calls do:

* ``valentine_spark.cdc.apply.apply_batch`` / ``replay`` (``replay`` calls
  ``apply_batch`` through its module global);
* ``valentine_spark.cdc.apply.resolve_drift`` (``apply.py`` binds it by name);
* ``valentine_spark.cdc.wal.decode_debezium``;
* the ``LakeTable`` methods ``merge``, ``metadata``, ``is_applied``,
  ``lookup``, ``state_checksum`` and ``files``;
* the matcher entries ``JaccardDistanceMatcher.get_matches``,
  ``Cupid.get_matches`` and ``DistributionBased.get_matches`` /
  ``get_pairwise_similarities`` (imported inside ``match_drifted_columns``,
  so only the class attributes can be patched).

Each span records name, layer, start, end, parent and batch id, and sets a
Spark job group while it is open, so the event log attributes every job and
its tasks (run time, shuffle bytes, spill, GC) to the innermost open span.
``metadata`` and ``is_applied`` only read snapshot JSON and start no job, so
they skip the job-group calls.  The event log is a listener added
only while tracing, so an untraced phase in the same session pays nothing
for it.  Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from contextlib import contextmanager
from typing import Callable, Dict, List, Optional

import valentine_spark.cdc.apply as cdc_apply
import valentine_spark.cdc.wal as cdc_wal
from valentine_spark.cdc.lake import LakeTable
from valentine_spark.matchers import Cupid, DistributionBased, JaccardDistanceMatcher

_NO_JOBS = {"metadata", "is_applied"}

# (owner, attribute, layer)
_TARGETS = [
    (cdc_apply, "apply_batch", "cdc.apply"),
    (cdc_apply, "replay", "cdc.apply"),
    (cdc_apply, "resolve_drift", "cdc.drift"),
    (cdc_wal, "decode_debezium", "cdc.wal"),
    (LakeTable, "merge", "cdc.lake"),
    (LakeTable, "metadata", "cdc.lake"),
    (LakeTable, "is_applied", "cdc.lake"),
    (LakeTable, "lookup", "cdc.lake"),
    (LakeTable, "state_checksum", "cdc.lake"),
    (LakeTable, "files", "cdc.lake"),
    (JaccardDistanceMatcher, "get_matches", "matchers.jaccard"),
    (Cupid, "get_matches", "matchers.cupid"),
    (DistributionBased, "get_matches", "matchers.distribution_based"),
    (DistributionBased, "get_pairwise_similarities", "matchers.distribution_based"),
]

LAYERS = ["cdc.wal", "cdc.drift", "matchers", "cdc.apply", "cdc.lake"]


def layer_of(span_layer: str) -> str:
    return "matchers" if span_layer.startswith("matchers.") else span_layer


class Tracer:
    """Collects spans for one traced phase.  ``install`` patches the engine
    boundaries and adds the event-log listener; ``uninstall`` undoes both
    and returns the parsed Spark event log."""

    def __init__(self, spark, log_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.log_dir = log_dir
        self.spans: List[dict] = []
        self.batch: Optional[str] = None
        self.instrument_s = 0.0  # time spent in the tracer's own bookkeeping
        self._stack: List[dict] = []
        self._saved: List[tuple] = []
        self._listener = None

    # -- spans ---------------------------------------------------------

    def _set_group(self, span: Optional[dict]) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    def _innermost_grouped(self) -> Optional[dict]:
        for s in reversed(self._stack):
            if s["group"] is not None:
                return s
        return None

    @contextmanager
    def span(self, name: str, layer: str, grouped: bool = True, **attrs):
        t_in = time.perf_counter()
        sid = len(self.spans)
        span = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "batch": self.batch,
            "group": f"perfbench-span-{sid}" if grouped else None,
            "attrs": dict(attrs),
        }
        self.spans.append(span)
        self._stack.append(span)
        if grouped:
            self._set_group(span)
        span["start"] = time.perf_counter()
        self.instrument_s += span["start"] - t_in
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            if grouped:
                self._set_group(self._innermost_grouped())
            self.instrument_s += time.perf_counter() - span["end"]

    def _wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        grouped = name not in _NO_JOBS
        is_matcher = layer.startswith("matchers.")

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer, grouped=grouped) as span:
                if is_matcher:
                    # args: (self, source, target, ...)
                    span["attrs"]["pairs"] = len(args[1].columns) * len(args[2].columns)
                return fn(*args, **kwargs)

        return traced

    # -- install / uninstall --------------------------------------------

    def install(self) -> None:
        for owner, attr, layer in _TARGETS:
            fn = owner.__dict__[attr]
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, attr, layer))
        self._start_event_log()

    def uninstall(self) -> Dict[str, dict]:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()
        return self._stop_event_log()

    def _start_event_log(self) -> None:
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        os.makedirs(self.log_dir, exist_ok=True)
        conf = (
            jsc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
            .set("spark.eventLog.includeTaskMetricsAccumulators", "false")
        )
        self._app = f"perfbench-{os.getpid()}-{len(os.listdir(self.log_dir))}"
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._app,
            jvm.scala.Option.empty(),
            jvm.java.io.File(self.log_dir).toURI(),
            conf,
            jsc.hadoopConfiguration(),
        )
        self._listener.start()
        jsc.addSparkListener(self._listener)

    def _stop_event_log(self) -> Dict[str, dict]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self._listener)
        self._listener.stop()
        return parse_event_log(os.path.join(self.log_dir, self._app))

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh)


# -- Spark event log ------------------------------------------------------


def parse_event_log(path: str) -> Dict[str, dict]:
    """Per job group: ``{"jobs": n, "stages": {stage_id: [task metrics]}}``.
    Each task is a dict with run_s, gc_s, spill_bytes, shuffle_write_bytes,
    shuffle_read_bytes, records_read."""
    stage_group: Dict[int, str] = {}
    groups: Dict[str, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                g = groups.setdefault(gid, {"jobs": 0, "stages": {}})
                g["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, gid)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                inp = m.get("Input Metrics") or {}
                gid = stage_group.get(ev["Stage ID"], "")
                g = groups.setdefault(gid, {"jobs": 0, "stages": {}})
                g["stages"].setdefault(ev["Stage ID"], []).append(
                    {
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read_bytes": sr.get("Local Bytes Read", 0)
                        + sr.get("Remote Bytes Read", 0),
                        "records_read": inp.get("Records Read", 0),
                    }
                )
    return groups


# -- per-layer report ----------------------------------------------------


def _self_time(span: dict, children: Dict[int, List[dict]]) -> float:
    covered = sum(c["end"] - c["start"] for c in children.get(span["id"], []))
    return max(span["end"] - span["start"] - covered, 0.0)


def _descendants(span: dict, children: Dict[int, List[dict]]) -> List[dict]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s["id"], []))
    return out


def _tasks(spans: List[dict], groups: Dict[str, dict]) -> List[dict]:
    return [
        t
        for s in spans
        if s["group"] in groups
        for tasks in groups[s["group"]]["stages"].values()
        for t in tasks
    ]


def _jobs(spans: List[dict], groups: Dict[str, dict]) -> int:
    return sum(groups[s["group"]]["jobs"] for s in spans if s["group"] in groups)


def _task_skew(spans: List[dict], groups: Dict[str, dict]) -> Optional[float]:
    """max / median task run time of the shuffle-reading stage that read the
    most shuffle bytes (the LWW reduce) among ``spans``' jobs."""
    best, best_read = None, 0
    for s in spans:
        for tasks in groups.get(s["group"], {"stages": {}})["stages"].values():
            read = sum(t["shuffle_read_bytes"] for t in tasks)
            if read > best_read:
                best, best_read = tasks, read
    if not best:
        return None
    med = statistics.median(t["run_s"] for t in best)
    return max(t["run_s"] for t in best) / med if med > 0 else 1.0


def layer_report(
    spans: List[dict],
    groups: Dict[str, dict],
    commits: List[dict],
    probes: Dict[str, List[float]],
) -> Dict[str, float]:
    """Per-layer metrics of one traced phase, as means per commit unless
    named otherwise.  ``commits`` are the commit dicts the phase returned;
    ``probes`` holds the traced-only probe readings per batch."""
    n = max(len(commits), 1)
    children: Dict[int, List[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    # traced-only probes (and the engine calls they make) are not ingest work
    probe_ids = {
        d["id"] for s in spans if s["layer"] == "probe" for d in _descendants(s, children)
    }
    spans = [s for s in spans if s["id"] not in probe_ids]

    def of(*names: str) -> List[dict]:
        return [s for s in spans if s["name"] in names]

    def per_layer(layer: str) -> List[dict]:
        return [s for s in spans if layer_of(s["layer"]) == layer]

    def self_sum(ss: List[dict]) -> float:
        return sum(_self_time(s, children) for s in ss)

    def mean(xs: List[float]) -> float:
        return sum(xs) / len(xs) if xs else 0.0

    applies = of("apply_batch")
    apply_tree = [d for s in applies for d in _descendants(s, children)]
    matcher_spans = per_layer("matchers")
    lake_spans = per_layer("cdc.lake")
    lake_tasks = _tasks(lake_spans, groups)
    lookups = of("lookup_read")
    lookup_tree = [d for s in lookups for d in _descendants(s, children)]
    lookup_read = sum(t["records_read"] for t in _tasks(lookup_tree, groups))
    skews = [
        k for k in (_task_skew(_descendants(s, children), groups) for s in applies)
        if k is not None
    ]

    # cdc.drift's only span is resolve_drift: its self time is resolve_self_s
    m = {f"{layer}.self_s": self_sum(per_layer(layer)) / n
         for layer in LAYERS if layer != "cdc.drift"}
    m.update({
        "cdc.wal.decode_s": statistics.median(probes["decode_s"]) if probes["decode_s"] else 0.0,
        "cdc.wal.decode_rows": mean(probes["decode_rows"]),
        "cdc.wal.dead_letters": mean(probes["dead_letters"]),
        "cdc.drift.resolve_self_s": self_sum(of("resolve_drift")) / n,
        "cdc.drift.pairs_compared": sum(s["attrs"].get("pairs", 0) for s in matcher_spans) / n,
        "matchers.jaccard.s": self_sum([s for s in matcher_spans if s["layer"] == "matchers.jaccard"]) / n,
        "matchers.cupid.s": self_sum([s for s in matcher_spans if s["layer"] == "matchers.cupid"]) / n,
        "matchers.distribution_based.s": self_sum(
            [s for s in matcher_spans if s["layer"] == "matchers.distribution_based"]) / n,
        "matchers.spark_jobs": _jobs(matcher_spans, groups) / n,
        "cdc.apply.lww_in_rows": mean(probes["lww_in_rows"]),
        "cdc.apply.lww_out_rows": mean(probes["lww_out_rows"]),
        "cdc.apply.jobs_per_batch": _jobs(apply_tree, groups) / max(len(applies), 1),
        "cdc.apply.slice_scan_s": self_sum(of("replay")) / n,
        "cdc.apply.shuffle_write_bytes": sum(
            t["shuffle_write_bytes"] for t in _tasks(apply_tree, groups)) / n,
        "cdc.apply.task_skew": statistics.median(skews) if skews else 1.0,
        "cdc.lake.merge_self_s": self_sum(of("merge")) / n,
        "cdc.lake.metadata_s": self_sum(of("metadata", "is_applied")) / n,
        "cdc.lake.bytes_written": mean([c.get("bytes_written", 0) for c in commits]),
        "cdc.lake.bytes_rewritten": mean([c.get("bytes_rewritten", 0) for c in commits]),
        "cdc.lake.files_written": mean([c.get("files_written", 0) for c in commits]),
        "cdc.lake.files_rewritten": mean([c.get("files_rewritten", 0) for c in commits]),
        "cdc.lake.snapshot_files": mean(probes["snapshot_files"]),
        "cdc.lake.dirty_buckets": mean(probes["dirty_buckets"]),
        "cdc.lake.lookup_rows_read_per_row_returned": lookup_read / max(sum(probes["lookup_rows"]), 1),
        "cdc.lake.spill_bytes": sum(t["spill_bytes"] for t in lake_tasks) / n,
        "cdc.lake.gc_s": sum(t["gc_s"] for t in lake_tasks) / n,
    })
    return m
