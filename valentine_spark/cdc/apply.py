"""Micro-batch apply pipeline: LWW dedup -> schema-drift resolution -> MERGE.

Last-writer-wins (north_star): the canonical formulation is
``row_number() OVER (PARTITION BY repo,path,commit ORDER BY op_ts DESC, lsn
DESC) = 1`` (SURVEY.md §2.5 W-new).  The engine implements it as a **max_by
hash aggregation** instead — algebraically identical (the (op_ts, lsn) order
is total; lsn is unique), but O(n) with map-side partial combine and no
per-key sort.  Skew defense, explicitly:

  * the agg formulation structurally bounds per-key reducer fan-in to
    <= #map-tasks (each map task pre-combines to one row per key) — a hot
    repo/key cannot overload one reducer the way it overloads the sort-based
    window's single partition;
  * for the extreme regime (one key × 10^10 updates across tens of
    thousands of map tasks) ``n_salts > 1`` switches to the classic salted
    two-phase reduction: per (key, salt) partial argmax, then per key final
    argmax;
  * AQE skew-join splitting remains on as a backstop, not the answer.

``lww_dedup_window`` keeps the window formulation for oracle comparison; all
three paths are asserted bit-identical in tests.
"""

from __future__ import annotations

import json
from typing import Dict, Optional

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .drift import resolve_drift
from .generator import KEY_COLS, STREAM_COLS
from .lake import BucketLayoutChangedError, LakeTable, bucket_expr

META_COLS = ["lsn", "op_ts", "op"]


def lww_dedup(events: DataFrame, n_salts: int = 1) -> DataFrame:
    """Argmax LWW: one surviving event per key (the latest by (op_ts, lsn)).

    n_salts=1 (default): single hash aggregation.  Spark's map-side partial
    combine already bounds the per-key reducer fan-in to <= #map-tasks, so a
    hot key cannot overload one reducer — the classic "explicit salting"
    defense is structurally built into the agg formulation (unlike the
    sort-based window, where one hot key = one sorting reducer).

    n_salts>1: explicit two-phase salted variant — useful when a single key
    receives so many map outputs that even #map-tasks rows per key are too
    many (10^10-scale replay with tens of thousands of map tasks), and as
    the documented skew-defense for engines without partial max_by.
    Measured at 2M events/local[32]: salts=1 is ~35% faster; results are
    bit-identical (asserted in tests)."""
    cols = events.columns
    payload = F.struct(*[F.col(c) for c in cols])
    order = F.struct(F.col("op_ts"), F.col("lsn"))
    if n_salts <= 1:
        return (
            events.groupBy(*KEY_COLS)
            .agg(F.max_by(payload, order).alias("_w"))
            .select("_w.*")
        )
    phase1 = (
        events.withColumn("_salt", F.pmod(F.xxhash64(F.col("lsn")), F.lit(n_salts)))
        .groupBy(*KEY_COLS, "_salt")
        .agg(F.max_by(payload, order).alias("_w"))
    )
    phase2 = phase1.groupBy(*KEY_COLS).agg(
        F.max_by(F.col("_w"), F.struct(F.col("_w.op_ts"), F.col("_w.lsn"))).alias("_w")
    )
    return phase2.select("_w.*")


def lww_dedup_window(events: DataFrame) -> DataFrame:
    """Window formulation (the SQL-oracle shape); used for equivalence tests
    and as the fallback where max_by is unavailable.

    DELIBERATELY kept alongside the max_by agg form above: this is the
    oracle shape, and Catalyst's WindowGroupLimit rewrite makes the two
    measured-equivalent (BENCH/BASELINE.md §2).  Its query-shaped sibling is
    ``operators.window_ops.latest_event_per_user`` — change the tie-break or
    ordering semantics of one and you must change BOTH (and the SQL
    oracles)."""
    w = Window.partitionBy(*KEY_COLS).orderBy(F.col("op_ts").desc(), F.col("lsn").desc())
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def batch_watermarks(events: DataFrame, n_buckets: int) -> Dict[int, int]:
    """Per-bucket max lsn of the batch (the high-watermark checkpoint).

    Public helper for custom callers driving ``LakeTable.merge`` directly.
    ``apply_batch`` deliberately does NOT call it: its ``_bucket_hints``
    fuses this aggregation with the changed-bucket list into ONE job over
    the already-shuffled winner set — change watermark semantics (e.g. the
    rebucket remapping rules) in BOTH places."""
    rows = (
        events.withColumn("_b", bucket_expr(n_buckets))
        .groupBy("_b")
        .agg(F.max("lsn").alias("wm"))
        .collect()
    )
    return {int(r["_b"]): int(r["wm"]) for r in rows}


def _slice_key(batch_lsns: int) -> Column:
    """LSN slice key ``floor(lsn / batch_lsns)``: slice ``k`` holds exactly
    the events with ``k * batch_lsns <= lsn < (k + 1) * batch_lsns``, the
    range ``replay`` and ``replay_routed`` filter each slice by.  Plain
    ``lsn DIV batch_lsns`` truncates toward zero and would key a negative
    lsn one slice too high, where that slice's filter drops it.
    Subtracting the (non-negative) ``pmod`` first makes the division exact,
    so it stays exact for 2**40-packed LSNs as well."""
    b = int(batch_lsns)
    return F.expr(f"(lsn - pmod(lsn, {b})) DIV {b}")


def apply_batch(
    lake: LakeTable,
    events: DataFrame,
    batch_id: str,
    matcher=None,
    n_salts: int = 1,
    drift_threshold: float = 0.5,
    watermark_lsn: Optional[int] = None,
    collect_metrics: bool = False,
    mode: Optional[str] = None,
) -> dict:
    """Apply one micro-batch exactly-once.  Steps:
      1. skip if batch_id already committed (idempotent re-run);
      2. resolve schema drift (rename via Valentine matcher / evolve);
      3. salted LWW dedup to one op per key;
      4. MERGE (upserts + deletes) with per-bucket watermarks.

    ``mode``: merge write mode — "cow", "mor", or None for the table default
    (see ``LakeTable.merge``).

    ``watermark_lsn``: when the batch is a complete LSN range (bulk replay),
    every event with lsn <= watermark_lsn is fully reflected after the
    commit, for EVERY bucket — pass the range top to skip the per-bucket
    stats job and merge all buckets (one fewer Spark job per batch; correct
    because an lsn-range batch contains all events of all buckets in range).
    Leave None for streams whose partitions progress independently (Kafka-
    style) — then true per-bucket watermarks are computed.
    """
    if lake.is_applied(batch_id):
        return {"batch_id": batch_id, "skipped": True}

    events, drift_map, drift_stages = resolve_drift(events, lake, matcher=matcher, threshold=drift_threshold)

    winners = lww_dedup(events, n_salts=n_salts)

    def _bucket_hints(n_buckets: int):
        if watermark_lsn is not None:
            # lsn-range batch: all buckets advance to the range top;
            # merge treats every bucket as changed (no stats job).
            changed = list(range(n_buckets))
            return changed, {b: int(watermark_lsn) for b in changed}
        # ONE small job over the (already-shuffled) winner set yields
        # both the changed-bucket list and the per-bucket watermarks.
        # Watermarks from winners can under-report vs the raw batch max
        # (a losing event's lsn may exceed its key's winner) —
        # under-reporting is SAFE: resume re-applies those events and
        # LWW+MERGE are idempotent on them.
        bucket_stats = (
            winners.withColumn("_b", bucket_expr(n_buckets))
            .groupBy("_b")
            .agg(F.max("lsn").alias("wm"))
            .collect()
        )
        return (
            sorted(int(r["_b"]) for r in bucket_stats),
            {int(r["_b"]): int(r["wm"]) for r in bucket_stats},
        )

    # ONE snapshot read for the bucket count, the column list, the
    # types AND the defaults: per-column dict_of_types(lake) calls
    # would re-parse the snapshot JSON N times AND could observe a
    # different snapshot than the column list (a concurrent rename
    # landing between reads -> KeyError; a racing rebucket is caught by
    # merge's own BucketLayoutChangedError path)
    snap = lake.metadata()
    n_buckets = snap["n_buckets"]
    changed, wms = _bucket_hints(n_buckets)

    target_fields = T.StructType.fromJson(json.loads(snap["schema"])).fields
    types = {f.name: f.dataType for f in target_fields}
    # write defaults: a batch that omits an evolved column fills with
    # the column's default (evolve_schema(defaults=...)), NULL otherwise
    dflts = lake.column_defaults(snap)
    upsert_cols = [
        F.col(c)
        if c in winners.columns
        else F.lit(dflts.get(c)).cast(types[c]).alias(c)
        for c in (f.name for f in target_fields)
    ]
    upserts = winners.where(F.col("op") != "delete").select(*upsert_cols)
    deletes = winners.where(F.col("op") == "delete").select(*KEY_COLS)

    lineage: dict = {}
    if drift_map:
        lineage["drift_mapping"] = drift_map
        lineage["drift_stages"] = drift_stages  # which matcher stage decided each rename
    if collect_metrics:
        # one small agg over the (shuffle-reused) winner set; opt-in so
        # the bulk-replay hot path stays at one job per batch
        m = winners.agg(
            F.sum(F.when(F.col("op") != "delete", 1).otherwise(0)).alias("upserts"),
            F.sum(F.when(F.col("op") == "delete", 1).otherwise(0)).alias("deletes"),
            F.count(F.lit(1)).alias("keys_touched"),
        ).collect()[0]
        lineage["metrics"] = {
            "upserts": int(m["upserts"] or 0),
            "deletes": int(m["deletes"] or 0),
            "keys_touched": int(m["keys_touched"] or 0),
        }
    while True:
        try:
            return lake.merge(
                upserts,
                deletes,
                batch_id,
                batch_watermarks=wms,
                lineage=lineage,
                changed_buckets=changed,
                mode=mode,
                # raw batch keys = the winners' key set, recomputable by
                # a column-pruned source scan instead of an LWW
                # reduction — the pruning and anti-join jobs use this
                # (see LakeTable.merge)
                touched_hint=events,
                # bucket ids above are relative to THIS layout; merge
                # raises BucketLayoutChangedError instead of silently
                # honoring them if a rebucket() replaced it in between
                hint_n_buckets=n_buckets,
            )
        except BucketLayoutChangedError:
            # recompute the layout-relative hints against the new
            # layout and retry; bounded in practice by how often a
            # maintenance rebucket can land mid-batch
            n_buckets = lake.metadata()["n_buckets"]
            changed, wms = _bucket_hints(n_buckets)


def replay(
    lake: LakeTable,
    stream: DataFrame,
    batch_lsns: int = 1_000_000,
    batch_id_prefix: str = "batch",
    matcher=None,
    n_salts: int = 1,
    max_lsn: Optional[int] = None,
    collect_metrics: bool = False,
    mode: Optional[str] = None,
) -> list:
    """Deterministic micro-batch replay over LSN slices — the batch-mode
    equivalent of tailing the stream (resumable, exactly-once).  The slice
    filter pushes down to the stream source scan.  Each slice is a complete
    LSN range, so its commit advances every bucket's watermark to the slice
    top and skips the per-bucket stats job (see apply_batch).

    Only OCCUPIED slices are applied: one small aggregation
    (:func:`_slice_key` -> per-slice max) yields the slice keys, and
    the loop walks exactly those.  Dense LSN spaces (the synthetic
    generator) see every slice as before; file-packed LSN spaces
    (:func:`~valentine_spark.cdc.wal.maxwell_position_lsn` packs
    ``fileno * 2**40 + offset``) no longer walk the ~2**40/batch_lsns
    empty ranges between binlog files — or the millions below file 1 —
    per rollover.  Batch ids stay ``{prefix}-{lo}-{hi}`` per occupied
    slice, so resumability is unchanged (re-runs derive the same keys).

    ``max_lsn``: optional cap — slices above ``max_lsn // batch_lsns``
    are ignored (callers pre-filter the stream to ``lsn <= max_lsn``; the
    cap keeps the contract explicit).  The occupied-slice aggregation runs
    either way; it is also what bounds each slice's watermark."""
    if batch_lsns <= 0:
        raise ValueError(f"replay: batch_lsns must be positive, got {batch_lsns}")
    # ONE pass: occupied slice keys + per-slice max lsn (driver-sized —
    # one row per occupied slice, not per event)
    occ = (
        stream.groupBy(_slice_key(batch_lsns).alias("_k"))
        .agg(F.max("lsn").alias("_mx"))
        .collect()
    )
    slices = {int(r["_k"]): int(r["_mx"]) for r in occ if r["_k"] is not None}
    if max_lsn is not None:
        slices = {k: mx for k, mx in slices.items() if k <= max_lsn // batch_lsns}
    if not slices:
        return []
    data_max = max(slices.values())
    commits = []
    for k in sorted(slices):
        lo, hi = k * batch_lsns, (k + 1) * batch_lsns
        batch = stream.where((F.col("lsn") >= lo) & (F.col("lsn") < hi))
        commits.append(
            apply_batch(
                lake,
                batch,
                f"{batch_id_prefix}-{lo}-{hi}",
                matcher=matcher,
                n_salts=n_salts,
                watermark_lsn=min(hi - 1, data_max),
                collect_metrics=collect_metrics,
                mode=mode,
            )
        )
    return commits


def resume_replay(
    lake: LakeTable,
    stream: DataFrame,
    batch_lsns: int = 1_000_000,
    batch_id_prefix: str = "batch",
    **kw,
) -> list:
    """Resume from the per-bucket high watermarks: events at or below their
    bucket's watermark are already reflected in table state and are filtered
    out before re-apply; batch ids repeat so already-committed slices are
    skipped by the manifest check as well (two independent guards)."""
    wms = lake.watermarks()
    meta = lake.metadata()
    if wms:
        spark = stream.sparkSession
        wm_df = F.broadcast(
            spark.createDataFrame(
                [(b, lsn) for b, lsn in wms.items()], "_b int, _wm long"
            )
        )
        filtered = (
            stream.withColumn("_b", bucket_expr(meta["n_buckets"]).cast("int"))
            .join(wm_df, "_b", "left")
            .where(F.col("_wm").isNull() | (F.col("lsn") > F.col("_wm")))
            .drop("_b", "_wm")
        )
    else:
        filtered = stream
    return replay(lake, filtered, batch_lsns=batch_lsns, batch_id_prefix=batch_id_prefix, **kw)


def bootstrap_snapshot(
    lake: LakeTable,
    snapshot: DataFrame,
    snapshot_lsn: int,
    batch_id: str = "snapshot",
    op_ts_epoch: int = 0,
    **apply_kw,
) -> dict:
    """Debezium-style initial load: install a consistent source snapshot
    taken at LSN ``snapshot_lsn``, fencing the table so a subsequently
    tailed stream can OVERLAP the snapshot arbitrarily and still converge.

    ``snapshot`` carries payload rows only (key + payload columns, one row
    per live key — the source state as of ``snapshot_lsn``); this helper
    stamps them as ``upsert`` events at ``snapshot_lsn`` and applies them
    as one exactly-once batch whose commit advances EVERY bucket's high
    watermark to ``snapshot_lsn``.  From then on ``resume_replay`` drops
    all events at or below the watermark before applying — so the tail may
    start anywhere at or before ``snapshot_lsn`` (Debezium's snapshot-then-
    stream handoff, Maxwell's bootstrap rows): pre-snapshot events are
    already reflected in the snapshot, including deletes (a key removed
    before the snapshot is simply absent, and its fenced-out earlier
    upserts can never resurrect it).

    The stamped ``op_ts`` is ``op_ts_epoch`` (default 0): the lake stores
    payload only and cross-batch precedence is application order, so the
    stamp never competes with tail events — it exists to satisfy the
    stream schema deterministically.

    Crash-safe: re-running the bootstrap skips on ``batch_id``; a crash
    between bootstrap and the first tail poll re-enters cleanly (the
    watermarks are already fenced).  Rows in ``snapshot`` must be unique
    per key (a consistent snapshot is); LWW dedup runs regardless, so a
    duplicated key would resolve deterministically rather than corrupt.
    """
    reserved = [c for c in META_COLS if c in snapshot.columns]
    if reserved:
        raise ValueError(
            f"bootstrap_snapshot: snapshot must carry payload columns only, "
            f"found stream metadata column(s) {reserved} — a snapshot has no "
            "per-row LSN; pass the consistent point as snapshot_lsn"
        )
    # seeding from another lake's read() is the natural cross-lake idiom,
    # and read() keeps the internal bucket column — shed engine-internal
    # names so MERGE can re-derive them against THIS table's layout
    from .lake import BUCKET_COL, KHASH_COL

    internal = [c for c in (BUCKET_COL, KHASH_COL) if c in snapshot.columns]
    if internal:
        snapshot = snapshot.drop(*internal)
    events = snapshot.select(
        F.lit(int(snapshot_lsn)).cast("long").alias("lsn"),
        F.timestamp_seconds(F.lit(op_ts_epoch)).alias("op_ts"),
        F.lit("upsert").alias("op"),
        *snapshot.columns,
    )
    return apply_batch(
        lake, events, batch_id, watermark_lsn=int(snapshot_lsn), **apply_kw
    )


def snapshot_then_stream(
    lake: LakeTable,
    snapshot: DataFrame,
    snapshot_lsn: int,
    stream: DataFrame,
    batch_lsns: int = 1_000_000,
    batch_id_prefix: str = "tail",
    snapshot_batch_id: str = "snapshot",
    **replay_kw,
) -> tuple:
    """The full initial-load handoff: :func:`bootstrap_snapshot`, then
    :func:`resume_replay` of the (possibly overlapping) tail.  Returns
    ``(bootstrap_commit, tail_commits)``.  Idempotent end-to-end — crash
    anywhere and re-run with the same arguments.

    The apply-relevant keywords (``mode``, ``matcher``, ``n_salts``) are
    forwarded to BOTH legs, so e.g. ``mode="mor"`` applies the bootstrap
    batch and the tail the same way; replay-only keywords
    (``collect_metrics``, ``max_lsn``, ...) go to the tail alone."""
    boot_kw = {k: replay_kw[k] for k in ("mode", "matcher", "n_salts") if k in replay_kw}
    boot = bootstrap_snapshot(
        lake, snapshot, snapshot_lsn, batch_id=snapshot_batch_id, **boot_kw
    )
    commits = resume_replay(
        lake, stream, batch_lsns=batch_lsns, batch_id_prefix=batch_id_prefix,
        **replay_kw,
    )
    return boot, commits


def oracle_replay(events_rows, base_rows=None) -> dict:
    """Single-threaded reference replay (tests): returns {key: row_dict} after
    applying events in (op_ts, lsn) order."""
    state = {}
    for row in base_rows or []:
        d = row.asDict() if hasattr(row, "asDict") else dict(row)
        state[(d["repo"], d["path"], d["commit"])] = d
    ordered = sorted(
        (r.asDict() if hasattr(r, "asDict") else dict(r) for r in events_rows),
        key=lambda d: (d["op_ts"], d["lsn"]),
    )
    for d in ordered:
        key = (d["repo"], d["path"], d["commit"])
        if d["op"] == "delete":
            state.pop(key, None)
        else:
            state[key] = {k: d[k] for k in d if k not in ("lsn", "op_ts", "op")}
    return state
