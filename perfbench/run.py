#!/usr/bin/env python3
"""CDC-ingest benchmark for valentine_spark.

    python3 perfbench/run.py --workload tail_mor --seed 1 --seconds 12 --trace 0

Runs one workload from one process on ``local[nproc]`` as a single
closed-loop client: commit a batch, read keys of it back, repeat for as many
batches as fill ``--seconds`` at the workload's typical pace.  Prints every
metric with its unit, an environment stamp and a report line, then, as the
last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run repeats the same
batches on a copy of the lake with spans and the Spark event log on, and the
metrics are the per-layer ones plus the tracing overhead.

Outputs are checked against ``oracle.py``; any wrong result makes the exit
code 1.  All files live under ``.perfbench/`` in the repository checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ["bulk_replay", "tail_mor", "schema_drift"]
# the final scan repeats: at least SCAN_MIN times and SCAN_MIN_S seconds in
# all (a sub-second scan alone is mostly noise), at most SCAN_MAX times
SCAN_MIN, SCAN_MIN_S, SCAN_MAX = 2, 3.0, 15

END_TO_END_UNITS = {
    "setup_s": "s",
    "ingest_events_per_s": "ev/s",
    "commit_p50_s": "s",
    "commit_tail_s": "s",
    "lookup_p50_s": "s",
    "lookup_tail_s": "s",
    "scan_s": "s",
    "storage_bytes_per_live_row": "B",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input sizes; 'tiny' is for the self-test")
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="self-test only: perturb the expected checksum")
    return ap.parse_args(argv)


def benchmark_units(kind: str) -> dict:
    """``{name: unit}`` of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json lists: the result line carries exactly those."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def configure_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    make ``valentine_spark`` importable in Spark's Python workers, which
    start from their own interpreter and do not see this process's
    ``sys.path`` (the pandas-UDF matchers fail with ModuleNotFoundError
    otherwise when the working directory is not the repository root)."""
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM started (the spark-submit launcher too): temp files inside
    # ``work``, and no hsperfdata directory in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def build_session(cores: int, work: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # C1-only JIT: a run lives about a minute, most of it in cold code,
        # where C2's compile time costs more than its faster code returns
        .config("spark.driver.extraJavaOptions", "-XX:TieredStopAtLevel=1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def source_commit() -> str:
    """The git commit when run from a clone; else "unknown"."""
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def environment_stamp(spark, cores: int, seed: int) -> dict:
    return {
        "nproc": os.cpu_count(),
        "master": f"local[{cores}]",
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
        "git_commit": source_commit(),
    }


# -- the closed loop ------------------------------------------------------


class LoopResult:
    def __init__(self):
        self.commit_s = []
        self.lookup_s = []
        self.commits = []
        self.events = 0
        self.wall_s = 0.0
        self.attempted = 0
        self.failures = []
        self.drift_total = 0
        self.drift_ok = 0
        self.probes = defaultdict(list)

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def absorb(self, other: "LoopResult", label: str) -> None:
        """Count another loop's checks in this result."""
        self.attempted += other.attempted
        self.failures += [f"{label} {f}" for f in other.failures]
        self.drift_total += other.drift_total
        self.drift_ok += other.drift_ok


def run_loop(wl, lake, first: int, n: int, tracer=None) -> LoopResult:
    """Batches ``first .. first+n-1``: commit batch i, then look up each key
    chosen for batch i.  Traced-only probes run between iterations and are
    left out of the wall time."""
    res = LoopResult()
    span = tracer.span if tracer else (lambda *a, **k: nullcontext())
    probe_s = 0.0
    t_start = time.perf_counter()
    for i in range(first, first + n):
        if tracer:
            tracer.batch = str(i)
        res.attempted += 1
        t0 = time.perf_counter()
        try:
            with span("commit", "bench"):
                commit = wl.commit(lake, i)
        except Exception as exc:  # recorded as a failed op; the state is now unknown
            res.fail(f"commit {i}: {type(exc).__name__}: {exc}")
            break
        res.commit_s.append(time.perf_counter() - t0)
        res.commits.append(commit)
        res.events += wl.p["batch_events"]

        rows_returned = 0
        for expected_row in wl.expected[i]:
            res.attempted += 1
            t0 = time.perf_counter()
            with span("lookup_read", "cdc.lake"):
                rows = lake.lookup([expected_row[:3]]).collect()
            res.lookup_s.append(time.perf_counter() - t0)
            rows_returned += len(rows)
            got = [tuple(r[c] for c in ("repo", "path", "commit", "lang", "content")) for r in rows]
            if got != [expected_row]:
                res.fail(f"lookup {i}: key {expected_row[:3]}: expected its batch winner, "
                         f"got {len(got)} rows {[g[3:4] for g in got]}")

        with span("check", "probe"):  # the check's snapshot read is not ingest work
            check_drift(wl, lake, i, commit, res)

        if tracer:
            t0 = time.perf_counter()
            with span("probe", "probe"):
                probe(wl, lake, i, res.probes, rows_returned)
            probe_s += time.perf_counter() - t0
    res.wall_s = time.perf_counter() - t_start - probe_s
    return res


def check_drift(wl, lake, i: int, commit: dict, res: LoopResult) -> None:
    """Each drifted column of batch ``i`` must map to the column the
    generator renamed, or be evolved into the schema when it is new."""
    from workloads import EVOLVED

    expected = wl.expected_drift(i)
    if not expected:
        return
    mapping = commit.get("drift_mapping") or {}
    schema = set(lake.schema.names)
    for src, target in expected.items():
        res.attempted += 1
        res.drift_total += 1
        if target == EVOLVED:
            ok = src not in mapping and src in schema
        else:
            ok = mapping.get(src) == target
        if ok:
            res.drift_ok += 1
        else:
            res.fail(f"drift {i}: {src} -> {mapping.get(src)!r}, expected {target!r}")


def probe(wl, lake, i: int, out, rows_returned: int) -> None:
    """Traced-only readings for batch ``i``: the decode alone materialized
    to ``noop`` (tail_mor), LWW input/output rows, and the layout at the
    lookup."""
    import valentine_spark.cdc.apply as cdc_apply

    if hasattr(wl, "decoded"):  # the workloads that read envelopes
        dec = wl.decoded(i)
        t0 = time.perf_counter()
        dec.stream.write.format("noop").mode("overwrite").save()
        out["decode_s"].append(time.perf_counter() - t0)
        out["decode_rows"].append(dec.stream.count())
        out["dead_letters"].append(dec.dead_letters.count())
    events = wl.events(i)
    out["lww_in_rows"].append(events.count())
    out["lww_out_rows"].append(cdc_apply.lww_dedup(events).count())
    meta = lake.metadata()
    out["snapshot_files"].append(lake.files().count())
    out["dirty_buckets"].append(len(meta.get("dirty") or {}))
    out["lookup_rows"].append(rows_returned)


# -- end of run ------------------------------------------------------------


def check_and_scan(lake, expected_state, res: LoopResult, corrupt: bool):
    """Oracle check of the final state; its ``state_checksum`` is the timed
    full scan.  Returns (median scan seconds, stored bytes per live row)."""
    from oracle import check_state

    scans = []
    while len(scans) < SCAN_MAX and (len(scans) < SCAN_MIN or sum(scans) < SCAN_MIN_S):
        t0 = time.perf_counter()
        state = lake.state_checksum()
        scans.append(time.perf_counter() - t0)
    expected = dict(expected_state)
    if corrupt:
        expected["checksum"] += 1
    res.attempted += 1
    err = check_state(state, expected)
    if err:
        res.fail(err)
    stored = lake.files().agg({"bytes": "sum"}).collect()[0][0] or 0
    return statistics.median(scans), stored / max(state["rows"], 1)


def prepare_lake(wl, root: str):
    """A lake ready for the timed loop: pre-populated, and its timed path
    run once untimed (by default batch 0 committed and read back), so JIT,
    codegen, class loading and Python workers are warm before the first
    timed call.  Returns the lake, the warm-up's checks and the first batch
    the timed loop commits."""
    lake = wl.prepare(root)
    if wl.warm_up(lake):
        return lake, LoopResult(), 0
    return lake, run_loop(wl, lake, 0, 1), 1


def main(argv=None) -> int:
    args = parse_args(argv)
    # the engine is built from this checkout's sources, never from elsewhere
    sys.path[:0] = [ROOT, HERE]
    try:
        import pyspark  # noqa: F401
        import valentine_spark.cdc  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(valentine_spark.cdc.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: valentine_spark is not in {ROOT}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its files (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    results_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results_dir, exist_ok=True)
    configure_environment(work)
    load_before = os.getloadavg()[0]
    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = build_session(cores, work)
        session_s = time.perf_counter() - t_setup
        from oracle import expected_state, tail
        from workloads import WORKLOADS

        workload = WORKLOADS[args.workload]
        # every run commits the same batches: as many as fill --seconds at
        # the workload's typical pace, whatever the host's speed today
        n_timed = math.ceil(args.seconds / workload.iteration_s)
        wl = workload(spark, args.seed, args.size, n_batches=1 + n_timed)
        t0 = time.perf_counter()
        wl.make_inputs(os.path.join(work, "inputs"))
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        lake, warm, first = prepare_lake(wl, os.path.join(work, "lake0"))
        prepare_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_setup
        if args.trace:
            # the traced phase repeats the timed batches on this same state
            twin_root = os.path.join(work, "lake1")
            shutil.copytree(lake.root, twin_root)

        stamp = environment_stamp(spark, cores, args.seed)
        res = run_loop(wl, lake, first, n_timed)
        res.absorb(warm, "warm-up")
        n = len(res.commits)
        want = expected_state(spark, wl.oracle_events(first + n))
        scan_s, storage = check_and_scan(lake, want, res, args.corrupt_oracle)

        layer = None
        if args.trace:
            from tracing import Tracer, layer_report
            from valentine_spark.cdc.lake import LakeTable

            twin = LakeTable(twin_root, spark)
            tracer = Tracer(spark, os.path.join(work, "eventlog"))
            tracer.install()
            try:
                traced = run_loop(wl, twin, first, n, tracer=tracer)
            finally:
                groups = tracer.uninstall()
            check_and_scan(twin, want, traced, args.corrupt_oracle)
            res.absorb(traced, "traced")
            layer = layer_report(tracer.spans, groups, traced.commits, traced.probes)
            layer["trace.overhead_ratio"] = traced.wall_s / res.wall_s if res.wall_s else 0.0
            layer["trace.instrument_s"] = tracer.instrument_s / max(len(traced.commits), 1)
            tracer.write(
                os.path.join(results_dir, f"spans-{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "environment": stamp},
            )

        commit_tail, commit_pct = tail(res.commit_s) if res.commit_s else (0.0, 100)
        lookup_tail, lookup_pct = tail(res.lookup_s) if res.lookup_s else (0.0, 100)
        e2e = {
            "setup_s": setup_s,
            "ingest_events_per_s": res.events / res.wall_s if res.wall_s else 0.0,
            "commit_p50_s": statistics.median(res.commit_s) if res.commit_s else 0.0,
            "commit_tail_s": commit_tail,
            "lookup_p50_s": statistics.median(res.lookup_s) if res.lookup_s else 0.0,
            "lookup_tail_s": lookup_tail,
            "scan_s": scan_s,
            "storage_bytes_per_live_row": storage,
        }
        stamp["loadavg_before"] = load_before
        stamp["loadavg_after"] = os.getloadavg()[0]
        report = {
            "workload": args.workload,
            "environment": stamp,
            "end_to_end": e2e,
            "commits": n,
            "commit_tail_percentile": commit_pct,
            "lookup_tail_percentile": lookup_pct,
            "failed_ops_ratio": len(res.failures) / max(res.attempted, 1),
            "drift_mapping_accuracy": res.drift_ok / res.drift_total if res.drift_total else 1.0,
            "drifted_columns": res.drift_total,
            "failures": res.failures,
            "setup_parts_s": {"session": session_s, "inputs": inputs_s,
                              "prepare_and_warm_up": prepare_s},
            "per_layer": layer,
        }
        for name, value in e2e.items():
            note = ""
            if name == "commit_tail_s":
                note = f"  (p{commit_pct}, n={len(res.commit_s)})"
            elif name == "lookup_tail_s":
                note = f"  (p{lookup_pct}, n={len(res.lookup_s)})"
            print(f"{args.workload:13s} {name:28s} {value:14.6f} {END_TO_END_UNITS[name]}{note}")
        print(f"{args.workload:13s} {'failed_ops_ratio':28s} {report['failed_ops_ratio']:14.6f} ratio"
              f"  ({len(res.failures)}/{res.attempted})")
        print(f"{args.workload:13s} {'drift_mapping_accuracy':28s} "
              f"{report['drift_mapping_accuracy']:14.6f} ratio  ({res.drift_ok}/{res.drift_total})")
        if layer is not None:
            units = benchmark_units("per_layer")
            for name, value in layer.items():
                print(f"{args.workload:13s} {name:40s} {value:16.6f} {units.get(name, '')}")
        print(json.dumps({"report": report}))
        with open(os.path.join(results_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                  "w") as fh:
            json.dump(report, fh, indent=1)

        listed = benchmark_units("per_layer" if args.trace else "end_to_end")
        values = layer if args.trace else e2e
        metrics = {k: {"value": values[k], "unit": unit} for k, unit in listed.items()}
        correct = not res.failures
        print(json.dumps({"correct": correct, "attempted": res.attempted,
                          "failed": len(res.failures), "metrics": metrics}))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
