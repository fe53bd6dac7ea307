"""LakeTable — an Iceberg-style copy-on-write table on bucket-partitioned
parquet with FILE-GRAIN merge pruning, atomic snapshot metadata, MERGE
upsert, exactly-once commit manifests and per-bucket high watermarks.

Why not the Iceberg runtime itself: the sandbox ships no Iceberg jars; this
implements the same table-format mechanics at the API level so the engine's
semantics (snapshot isolation, idempotent commits, file-pruned MERGE, schema
evolution, time travel, snapshot expiry, changelog scans) are real and
tested.  On a cluster
with the Iceberg catalog the ``merge()`` body maps 1:1 onto ``MERGE INTO
target USING updates ON t.repo=u.repo AND t.path=u.path AND t.commit=u.commit
WHEN MATCHED [AND op='delete' THEN DELETE | THEN UPDATE SET *] WHEN NOT
MATCHED AND op!='delete' THEN INSERT *`` plus a snapshot-property stamp for
the batch id (SURVEY.md §2.3 note on MERGE).

Layout::

    root/
      metadata/v{N}.json        # snapshot, published put-if-absent (os.link)
      metadata/CURRENT          # latest-version HINT (os.replace; readers
                                #   walk forward past it — see _latest_version)
      metadata/m-{N}-{uid}.json # per-commit manifest: file lists + key-hash
                                #   ranges for the buckets commit N changed
      metadata/applied-*.json   # rolled segment of old applied batch ids
      metadata/lineage-*.json   # rolled segment of old lineage entries
      data/c-{uid}/_bucket=.../ # files STAGED by one commit attempt; their
                                #   MoR resolution order is the manifest
                                #   entry's install-time ``seq``, not the path

Snapshot (format 2) is O(n_buckets + tail limits) — INDEPENDENT of commit
count::

    {format, version, n_buckets, target_file_rows, schema,
     buckets:   {bucket -> manifest rel path holding its live file list},
     watermarks:{bucket -> max applied lsn},
     applied:   {count, tail:[recent ids], segments:[paths],
                 bloom:{m,k,bits}},          # all-history bloom, fixed size
     lineage:   [recent commit entries],     # tail only
     lineage_segments: [paths]}

Unbounded histories (applied batch ids, lineage) roll into immutable
SEGMENT files every ``_TAIL_*`` commits, so per-commit metadata IO is O(1)
amortized in commit count (one snapshot + one manifest + the pointer;
segment rolls write one bounded file each).  Exactly-once membership stays
O(1): the inline tail answers recent re-deliveries (the only kind a
checkpoint restart produces); the fixed-size bloom filter rejects the rest
without IO; a bloom hit (rare; false positives only degrade to a lookup,
never to a wrong skip) binary-searches the sorted segments.

File-grain MERGE (the round-2 "bucket-grain COW" fix): every data file
carries a ``_khash = xxhash64(repo,path,commit)`` column, files are
key-hash-clustered, and the manifest records each file's (min,max) khash
from its parquet footer.  A MERGE broadcast-joins the batch's touched keys
against the file ranges and rewrites ONLY intersecting files — rewrite
bytes scale with touched keys, not bucket count × bucket size (measured:
BENCH/merge_prune_bench.py).
Inserts append new files (ranges may overlap older files; pruning uses
interval intersection, so overlap costs read amplification only —
``compact()`` re-sorts a bucket back to disjoint files).

MERGE-ON-READ (``mode="mor"`` / ``create(write_mode="mor")``): the Iceberg
v2 equality-delete analogue for hot-random-key ingest, where even file-grain
COW rewrites many files per batch.  A MoR commit appends the batch's upsert
rows as new data files plus its delete keys as TOMBSTONE files
(``data/c-{uid}/_tombs/``, key cols + khash only, ``kind:"tomb"`` in the
manifest) and rewrites NOTHING — write cost is O(batch) regardless of key
scatter.  Buckets now holding multiple versions of a key are flagged in
``meta["dirty"]``; ``read()`` resolves them with one per-key
max-by-(commit-version, liveness) aggregation (older upserts lose, later
tombstones kill, clean buckets stay scan-only), and ``compact()`` folds a
dirty bucket back to single-version clean files.  Modes mix safely: a COW
merge touching a dirty bucket resolves it first (see ``merge``).  The
COW/MoR crossover is measured in BENCH/merge_prune_bench.py.

ONE REWRITE PATH: every operation that rewrites table state — COW
``merge``, ``compact``, ``delete_where`` / ``update_where``,
``merge_into`` and ``rebucket`` — reads, stages and installs through the
same three helpers.  ``_read_plan`` reads the bucket -> entries map the
operation pruned, and enforces the GHOST-TOMBSTONE rule: a clean bucket
reads its data files only, because a tombstone there names a key that was
never present and reading it as data would resurrect that key as a
null-payload row; a dirty bucket reads data and tombstones and resolves
them per key.  ``_stage`` writes the result under a commit-unique
``data/c-{uid}/`` dir, bucket-partitioned, khash-sorted, rolled at
``target_file_rows``, and collects the footer stats the manifest records.
``_install_rewrite`` validates the read set on rebase, stamps the new
entries with the install-time ``seq``, carries the untouched entries,
clears ``dirty`` and drops emptied buckets.  ``_retry_body`` re-runs the
whole operation when a concurrent commit invalidated what it read.  MoR
appends stage through ``_stage`` too and install through
``_install_mor_entries``, which the Spark-less streaming sink shares.

Correctness argument for exactly-once: all commit state (which batches are
applied, watermarks, live files) lives in ONE metadata file published with
an atomic put-if-absent link; segment/manifest files are immutable and
written BEFORE the snapshot that references them.  A crash before the
publish leaves orphan files but an unchanged table (``expire_snapshots``
garbage-collects them); re-running the batch is a no-op once its batch_id
is recorded applied.

MULTI-WRITER (optimistic concurrency, the Delta log-store / Iceberg
catalog-CAS analogue): exactly one writer can publish ``v{N}.json`` (the
``os.link`` put-if-absent races atomically; on an object store the same
protocol is a conditional PUT).  A loser re-reads the winner's snapshot and
REBASES: MoR merges read no table state, so their already-staged files
simply re-stamp to a later manifest ``seq`` — no Spark work re-runs;
rewrites validate that no interleaved commit touched the buckets they
read, and re-run their body otherwise (``CommitConflictError`` after
``_BODY_ATTEMPTS``).  Exactly-once survives the race: a rebase
re-checks the batch id against the winner's applied set.  ``CURRENT`` is a
hint, not truth — a committer can die between publishing the snapshot and
advancing the pointer, so readers walk forward from the hint while the next
contiguous snapshot file exists.  This makes a background compactor, a
schema-evolving writer, and the ingest replayer safe to run concurrently;
see tests/test_concurrency.py.

Scale: MERGE touches only files intersecting the batch's keys (hash-pruned
scan on both sides); each rewrite is a shuffle-free co-partitioned anti-join
+ union; bucket count is the unit of write parallelism (default 64, sized
for ~1 GB/bucket at target scale), target_file_rows the unit of rewrite
granularity within a bucket.
"""

from __future__ import annotations

import base64
import hashlib
import glob as _glob
import json
import os
import time
import uuid
from typing import Dict, Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .generator import KEY_COLS

# Bench hook (see BENCH/scaling_run.py): when set to a list, merge() appends
# ("<label>", seconds) for its phases — "merge_prune" (touched-file
# discovery), "merge_write" (the distributed read+anti-join+write job) and
# "commit_io" (driver-side manifest/snapshot JSON) — so the scaling harness
# can decompose wall time into the parallel part and the per-batch serial
# driver part for the Amdahl analysis.
MERGE_TIMINGS: Optional[list] = None

# Concurrency observability hook (same pattern as MERGE_TIMINGS): when set
# to a dict, commit machinery increments "install_retries" (lost
# put-if-absent races that REBASED — cheap, no Spark re-work for MoR) and
# "body_retries" (conflicts that re-ran an operation's Spark body).  The
# concurrent-writer bench reads these to report protocol overhead.
CONFLICT_STATS: Optional[dict] = None


def _bump(key: str) -> None:
    if CONFLICT_STATS is not None:
        CONFLICT_STATS[key] = CONFLICT_STATS.get(key, 0) + 1

BUCKET_COL = "_bucket"
KHASH_COL = "_khash"

# tail limits: when an inline tail exceeds 2*limit, the oldest `limit`
# entries roll into one immutable segment file (O(1) amortized commit IO)
_APPLIED_TAIL = 256
_LINEAGE_TAIL = 128

# fixed-size all-history bloom over applied batch ids: 2^17 bits = 16 KiB
# inline (~22 KiB base64).  At 10^4 ids FP≈0.2% (k=7); saturation at ≫10^5
# ids only degrades negatives to segment lookups — never wrong skips.
_BLOOM_M = 1 << 17
_BLOOM_K = 7

_FULL_RANGE = (-(1 << 63), (1 << 63) - 1)  # pruning fallback: never pruned

_SCAN_OPS = {"=", "<", "<=", ">", ">="}

_PRED_EXPRS = {
    "=": lambda c, v: c == v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
}


def _file_may_match(col_bounds: Optional[dict], preds: List[tuple]) -> bool:
    """Can a file whose manifest bounds are ``col_bounds`` contain a row
    satisfying ALL predicates?  Unbounded columns never prune.  Bounds are
    inclusive and conservative ([lo, hi] ⊇ true value range), so a False
    here is a proof of emptiness; a True only costs a residual-filtered
    read."""
    for col, op, val in preds:
        b = (col_bounds or {}).get(col)
        if b is None:
            continue
        lo, hi = b
        v = val if isinstance(val, str) else _encode_stat_value(val)
        if v is None:
            continue  # unencodable predicate constant: cannot prune on it
        if type(v) is not type(lo) and not (
            isinstance(v, (int, float)) and isinstance(lo, (int, float))
        ):
            continue  # incomparable encodings: never prune
        if op == "=" and not (lo <= v <= hi):
            return False
        if op == "<" and not (lo < v):
            return False
        if op == "<=" and not (lo <= v):
            return False
        if op == ">" and not (v < hi):
            return False
        if op == ">=" and not (v <= hi):
            return False
    return True

# optimistic-concurrency retry bounds: install attempts rebase cheap
# bookkeeping against the new base (no Spark jobs); body attempts re-run
# the whole operation when a concurrent commit invalidated its read set
_INSTALL_ATTEMPTS = 16
_BODY_ATTEMPTS = 4


class CommitConflictError(RuntimeError):
    """A concurrent commit invalidated this operation's read set (or the
    install race was lost more than ``_INSTALL_ATTEMPTS`` times).  Writers
    with retryable work (MERGE, compact, rebucket) catch this internally
    and re-run their body against the fresh snapshot up to
    ``_BODY_ATTEMPTS`` times; seeing it propagate means the table is under
    sustained conflicting write pressure on the same buckets."""


def _retry_body(body):
    """Run ``body()`` — one whole operation against a freshly read
    snapshot — again whenever a concurrent commit invalidated its read set
    (``CommitConflictError``), up to ``_BODY_ATTEMPTS`` times; the last
    conflict propagates."""
    last: Optional[CommitConflictError] = None
    for _ in range(_BODY_ATTEMPTS):
        try:
            return body()
        except CommitConflictError as e:
            _bump("body_retries")
            last = e
    raise last


class BucketLayoutChangedError(RuntimeError):
    """The caller's ``changed_buckets`` / ``batch_watermarks`` hint was
    computed against a bucket layout (``n_buckets``) that a concurrent
    ``rebucket()`` has since replaced.  Bucket ids are layout-relative, so
    silently honoring the hint would prune the WRONG file set (old rows
    surviving beside new ones in clean buckets) and advance watermarks on
    the wrong buckets (resume skipping unapplied events).  Callers
    recompute their hints against the fresh snapshot (``apply_batch`` does
    this automatically) or retry without hints."""


class _SkipCommit(Exception):
    """Raised by a commit builder when rebasing discovers the work is
    already done (the batch id landed via a concurrent writer)."""

    def __init__(self, result: dict):
        self.result = result


def _uid() -> str:
    return uuid.uuid4().hex[:12]


def _field_meta(meta: dict) -> Tuple[Dict[str, int], List[list]]:
    """Field-id metadata for rename/drop schema evolution (the Iceberg
    field-id analogue): ``(field_ids, schema_log)``.

    ``field_ids``: CURRENT column name -> stable integer id (assigned at
    create / evolve time, never reused).  ``schema_log``: ordered list of
    ``[version, {id_str: physical_name}]`` eras — the names each live field
    id was WRITTEN UNDER for files committed at seq >= that version (until
    the next era).  Tables predating the feature synthesize the trivial
    one-era log positionally; additive-only histories keep positional ids
    consistent because adds append."""
    schema = json.loads(meta["schema"])
    names = [f["name"] for f in schema["fields"]]
    fids = meta.get("field_ids") or {n: i for i, n in enumerate(names)}
    log = meta.get("schema_log") or [[0, {str(fids[n]): n for n in names}]]
    return fids, log


def _next_field_id(meta: dict, fids: Dict[str, int], log: List[list]) -> int:
    """Smallest field id never used anywhere in the table's history: above
    every current id, every id recorded in any schema-log era, and the
    persisted ``last_field_id`` high-water mark (the Iceberg last-column-id
    analogue — it survives restore(), whose target snapshot's log may
    predate later eras that consumed higher ids)."""
    used = [int(meta.get("last_field_id", -1))]
    used.extend(fids.values())
    for _v, names in log:
        used.extend(int(i) for i in names)
    return max(used, default=-1) + 1


def _era_names(log: List[list], seq: int) -> Dict[str, str]:
    """id_str -> physical column name for a file committed at ``seq``."""
    cur = log[0][1]
    for v, names in log:
        if v <= seq:
            cur = names
        else:
            break
    return cur


def _era_colmap(
    fids: Dict[str, int], log: List[list], seq: int
) -> Optional[Dict[str, Optional[str]]]:
    """CURRENT name -> physical name in the file's era (None when the field
    id did not exist yet — e.g. a column added, or dropped-then-readded
    under a fresh id, after the file was written; reading the same-named
    stale physical data would resurrect it).  Returns None for the identity
    mapping (fast path)."""
    era = _era_names(log, seq)
    m = {cur: era.get(str(i)) for cur, i in fids.items()}
    if all(phys == cur for cur, phys in m.items()):
        return None
    return m


def _era_index(log: List[list], seq: int) -> int:
    """Index of the era a file committed at ``seq`` falls in."""
    idx = 0
    for i, (v, _) in enumerate(log):
        if v <= seq:
            idx = i
    return idx


def _parse_dt(type_json: str) -> T.DataType:
    """Inverse of ``DataType.json()`` via the public StructType parser
    (handles primitive strings, decimal(p,s), and nested json objects)."""
    return T.StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "x",
                    "type": json.loads(type_json),
                    "nullable": True,
                    "metadata": {},
                }
            ],
        }
    ).fields[0].dataType


def _era_typemap(
    fids: Dict[str, int],
    tlog: Optional[List[list]],
    seq: int,
    schema: T.StructType,
) -> Optional[Dict[str, T.DataType]]:
    """CURRENT name -> the PHYSICAL type files committed at ``seq`` were
    written under, for fields whose physical type differs from the current
    schema type (i.e. the column was later ``widen_column``-ed).  None =
    identity (no widen history, or the file postdates every widen).  A
    field id absent from the era's map did not exist then — those files
    serve NULL for it via the schema-log colmap, so the type is moot."""
    if not tlog or len(tlog) <= 1:
        return None
    era = tlog[_era_index(tlog, seq)][1]
    out: Dict[str, T.DataType] = {}
    for f in schema.fields:
        tj = era.get(str(fids.get(f.name, -1)))
        if tj is None:
            continue
        dt = _parse_dt(tj)
        if dt != f.dataType:
            out[f.name] = dt
    return out or None


def _int_rank(dt: T.DataType) -> Optional[int]:
    for cls, r in (
        (T.ByteType, 0),
        (T.ShortType, 1),
        (T.IntegerType, 2),
        (T.LongType, 3),
    ):
        if isinstance(dt, cls):
            return r
    return None


def _nn(dt: T.DataType) -> T.DataType:
    """Normalize nullability flags recursively: expression-built nested
    values (F.struct / F.array / F.create_map) carry nullable=False /
    containsNull=False where the table schema says True — same physical
    type, different flags.  Type comparisons for alignment must ignore
    them (parquet stores the data identically either way)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nn(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nn(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nn(dt.keyType), _nn(dt.valueType), True)
    return dt


def _is_widening(old: T.DataType, new: T.DataType) -> bool:
    """Lossless type promotions (the Iceberg/Delta type-widening set):
    the integral ladder byte->short->int->long; float->double; integrals
    up to int -> double (an IEEE-754 double holds every int32 exactly;
    long->double is LOSSY above 2^53 and rejected); decimal growth that
    cannot truncate (integer digits and scale both non-decreasing)."""
    if old == new:
        return False
    if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
        return (
            new.scale >= old.scale
            and new.precision - new.scale >= old.precision - old.scale
        )
    ro, rn = _int_rank(old), _int_rank(new)
    if ro is not None and rn is not None:
        return rn > ro
    if isinstance(new, T.DoubleType):
        return isinstance(old, T.FloatType) or (ro is not None and ro <= 2)
    return False


def _bloom_opts(meta: dict) -> Dict[str, str]:
    """Parquet bloom-filter write options for the table's ``bloom_cols``
    (set at ``create``): every data write emits a per-row-group bloom for
    those columns, and Spark's parquet reader then skips row groups on
    equality predicates the min/max bounds can't discriminate — the
    high-cardinality point-predicate complement to ``stats_cols`` (which
    prune at FILE grain from the manifest, before listing).  Grain note
    for 100 TB: blooms act post-listing at row-group grain; manifest-level
    pruning (khash ranges for keys, stats bounds for clustered columns)
    remains the listing-cost defense.  Expected NDV is sized to the
    table's ``target_file_rows`` (a file cannot hold more distinct values
    than rows) — parquet's default assumes 10^6 NDV and would spend
    ~1.2 MB of bloom per row group regardless of actual file size."""
    opts: Dict[str, str] = {}
    ndv = str(int(meta.get("target_file_rows", 1_000_000)))
    for c in meta.get("bloom_cols") or []:
        opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
        opts[f"parquet.bloom.filter.expected.ndv#{c}"] = ndv
    return opts


def _validate_ref_name(name: str) -> None:
    import re as _re

    if name == "main":
        raise ValueError("'main' is the default ref, not a branch name")
    if not _re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]{0,63}", name):
        raise ValueError(
            f"invalid branch name {name!r} (alnum plus . _ -, max 64 chars)"
        )


def _entry_seq(e: dict) -> int:
    """Commit sequence number of a manifest entry — the MoR resolution
    order.  Stamped at commit install time (``seq``); legacy entries fall
    back to the version encoded in their ``data/v{N}/`` path."""
    s = e.get("seq")
    if s is not None:
        return int(s)
    import re

    m = re.search(r"/data/v(\d+)/", "/" + e["path"])
    return int(m.group(1)) if m else 0
# commit footer-stat collection goes distributed above this many new files
# (below it a Spark job's fixed overhead exceeds the driver loop)
_STATS_DISTRIBUTE_OVER = 96
# density gate for MERGE's match-confirm scan (see _touched_file_ids): a
# file whose range-hit count reaches this fraction of its rows is treated
# as matched without a confirm scan — near-certain rewrite, and the scan
# would cost more than it could save.
_CONFIRM_DENSITY = 0.5


def bucket_expr(n_buckets: int) -> F.Column:
    """Bucket on (repo, path): spreads hot repos across buckets by path while
    keeping every (repo,path,commit) key in exactly one bucket."""
    return F.pmod(F.xxhash64(F.col("repo"), F.col("path")), F.lit(n_buckets))


def khash_expr() -> F.Column:
    """File-grain clustering hash over the full MERGE key."""
    return F.xxhash64(*[F.col(c) for c in KEY_COLS])


# ---------------------------------------------------------------------------
# bloom over applied batch ids
# ---------------------------------------------------------------------------

def _bloom_hashes(batch_id: str) -> Iterator[int]:
    d = hashlib.md5(batch_id.encode()).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1
    for i in range(_BLOOM_K):
        yield (h1 + i * h2) % _BLOOM_M


def _bloom_new() -> dict:
    return {"m": _BLOOM_M, "k": _BLOOM_K,
            "bits": base64.b64encode(bytes(_BLOOM_M // 8)).decode()}


def _bloom_add(bloom: dict, batch_id: str) -> dict:
    bits = bytearray(base64.b64decode(bloom["bits"]))
    for h in _bloom_hashes(batch_id):
        bits[h >> 3] |= 1 << (h & 7)
    return {**bloom, "bits": base64.b64encode(bytes(bits)).decode()}


def _bloom_maybe(bloom: dict, batch_id: str) -> bool:
    bits = base64.b64decode(bloom["bits"])
    return all(bits[h >> 3] & (1 << (h & 7)) for h in _bloom_hashes(batch_id))


class LakeTable:
    def __init__(self, root: str, spark: SparkSession, ref: str = "main"):
        self.root = root
        self.spark = spark
        self.ref = ref  # snapshot chain this handle reads/commits ("main" or a branch)
        self._manifest_cache: Dict[str, dict] = {}  # immutable files -> parsed

    # -- creation / metadata -------------------------------------------

    @classmethod
    def create(
        cls,
        root: str,
        spark: SparkSession,
        schema: Optional[T.StructType] = None,
        n_buckets: int = 64,
        target_file_rows: int = 1_000_000,
        write_mode: str = "cow",
        stats_cols: Optional[List[str]] = None,
        bloom_cols: Optional[List[str]] = None,
    ) -> "LakeTable":
        if schema is not None and not isinstance(schema, T.StructType):
            raise TypeError(
                f"schema must be a StructType, got {type(schema).__name__} "
                "(did you mean n_buckets=...?)"
            )
        if write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
        known = {f.name for f in (schema or _default_schema()).fields}
        for c in stats_cols or []:
            if c not in known:
                raise KeyError(f"stats column {c!r} not in table schema {sorted(known)}")
        for c in bloom_cols or []:
            if c not in known:
                raise KeyError(f"bloom column {c!r} not in table schema {sorted(known)}")
        os.makedirs(os.path.join(root, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        table = cls(root, spark)
        meta = {
            "format": 2,
            "version": 0,
            "n_buckets": n_buckets,
            "target_file_rows": int(target_file_rows),
            "write_mode": write_mode,  # default merge mode; per-merge override
            "schema": (schema or _default_schema()).json(),
            "buckets": {},  # bucket id (str) -> manifest rel path
            "watermarks": {},  # bucket id (str) -> max applied lsn
            "applied": {"count": 0, "tail": [], "segments": [], "bloom": _bloom_new()},
            "lineage": [],  # tail of per-commit audit entries
            "lineage_segments": [],
            "dirty": {},  # bucket id (str) -> true when holding multi-version (MoR) state
            # secondary columns whose per-file [lo, hi] bounds commits
            # collect into manifests; scan() prunes on them
            "stats_cols": list(stats_cols or []),
            # columns every data write emits parquet bloom filters for
            # (row-group-grain equality skipping; see _bloom_opts)
            "bloom_cols": list(bloom_cols or []),
        }
        if not table._try_install_snapshot(meta):
            raise FileExistsError(f"lake table already exists at {root!r}")
        return table

    @classmethod
    def open_or_create(
        cls, root: str, spark: SparkSession, **create_kw
    ) -> "LakeTable":
        """Open the table at ``root`` if one exists, else ``create`` it with
        ``create_kw``.  Existence = ANY snapshot json in the metadata dir,
        not the CURRENT pointer: a create() that crashed between publishing
        v0.json and writing CURRENT left a valid, recoverable table
        (``_latest_version`` rebuilds the pointer), and re-creating over it
        would be wrong.  This is the one existence probe spark-submit jobs
        should use instead of peeking at the on-disk layout."""
        meta_dir = os.path.join(root, "metadata")
        try:
            exists = any(
                f.startswith("v") and f.endswith(".json")
                for f in os.listdir(meta_dir)
            )
        except FileNotFoundError:
            exists = False
        return cls(root, spark) if exists else cls.create(root, spark, **create_kw)

    def _meta_dir(self) -> str:
        if self.ref == "main":
            return os.path.join(self.root, "metadata")
        return os.path.join(self.root, "metadata", "refs", self.ref)

    def _meta_path(self, version: int) -> str:
        return os.path.join(self._meta_dir(), f"v{version}.json")

    def _current_path(self) -> str:
        return os.path.join(self._meta_dir(), "CURRENT")

    def metadata(self, version: Optional[int] = None) -> dict:
        if version is None:
            version = self._latest_version()
        with open(self._meta_path(version)) as fh:
            return json.load(fh)

    def _latest_version(self) -> int:
        """Resolve the current snapshot: the CURRENT pointer is a HINT (a
        committer can crash between installing ``v{N}.json`` and advancing
        the pointer, and two racing advances can land out of order), so walk
        forward while the next snapshot file exists.  Snapshot files are
        published atomically and versions are contiguous, which makes the
        walk exact; the hint keeps it O(1) in steady state."""
        try:
            with open(self._current_path()) as fh:
                v = int(fh.read().strip())
        except FileNotFoundError:
            # bootstrap crash window: create() died after publishing
            # v0.json but before the first CURRENT write (for v1+ the old
            # CURRENT exists and the walk recovers, but v0 has no older
            # pointer to start from).  v0.json itself is complete —
            # snapshot files are published atomically — so start the walk
            # at 0; a missing v0 really is a missing table.
            if not os.path.exists(self._meta_path(0)):
                raise
            v = 0
        while os.path.exists(self._meta_path(v + 1)):
            v += 1
        return v

    def _write_json_atomic(self, rel: str, obj: dict) -> None:
        path = os.path.join(self.root, rel)
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(obj, fh)
        os.replace(tmp, path)

    def _try_install_snapshot(self, meta: dict) -> bool:
        """Put-if-absent snapshot install — the commit protocol's only
        synchronization point (the Delta log-store / Iceberg catalog-CAS
        analogue, expressed with ``os.link`` which fails atomically when the
        target exists).  Exactly one writer can publish a given version;
        losers rebase and retry at the next version.  The CURRENT pointer is
        advanced AFTER the install as a best-effort hint (see
        ``_latest_version``); a crash between the two leaves a fully
        committed, discoverable snapshot."""
        path = self._meta_path(meta["version"])
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        cur_tmp = self._current_path() + f".tmp.{uuid.uuid4().hex}"
        with open(cur_tmp, "w") as fh:
            fh.write(str(meta["version"]))
        os.replace(cur_tmp, self._current_path())
        return True

    def _commit_loop(self, base_meta: dict, build) -> dict:
        """Optimistic-concurrency install loop.  ``build(meta) ->
        (new_meta, segments, result)`` derives the commit against a base
        snapshot; on a lost install race the loop re-reads the latest
        snapshot and rebuilds — ``build`` must therefore VALIDATE that its
        (already-executed) work is still correct against the new base and
        raise ``CommitConflictError`` when it is not (the caller then
        re-runs the whole operation), or ``_SkipCommit`` when a concurrent
        writer already did it (duplicate batch id).  Segment/manifest files
        are written before the snapshot referencing them; a loser's files
        are unreferenced garbage that ``expire_snapshots`` collects."""
        meta = base_meta
        for _ in range(_INSTALL_ATTEMPTS):
            try:
                new_meta, segments, result = build(meta)
            except _SkipCommit as s:
                return s.result
            for rel, payload in segments:
                self._write_json_atomic(rel, payload)
            if self._try_install_snapshot(new_meta):
                return result
            _bump("install_retries")
            meta = self.metadata()
        raise CommitConflictError(
            f"lost the snapshot install race {_INSTALL_ATTEMPTS} times at "
            f"{self.root!r} — sustained concurrent write pressure"
        )

    def _read_manifest(self, rel: str) -> dict:
        cached = self._manifest_cache.get(rel)
        if cached is not None:
            return cached
        with open(os.path.join(self.root, rel)) as fh:
            m = json.load(fh)
        if len(self._manifest_cache) > 1024:
            self._manifest_cache.clear()
        self._manifest_cache[rel] = m
        return m

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.metadata()["schema"]))

    @property
    def version(self) -> int:
        return self.metadata()["version"]

    # -- applied batches / lineage (bounded-metadata accessors) ----------

    def is_applied(self, batch_id: str, meta: Optional[dict] = None) -> bool:
        """Exactly-once membership, O(1) in commit count: inline tail first
        (covers checkpoint-restart re-deliveries), then the fixed-size bloom
        (negative -> definitely new, no IO), then exact binary search of the
        sorted segments (bloom false positives only)."""
        meta = meta or self.metadata()
        ap = meta["applied"]
        if batch_id in ap["tail"]:
            return True
        if not _bloom_maybe(ap["bloom"], batch_id):
            return False
        import bisect

        for seg_rel in ap["segments"]:
            ids = self._read_manifest(seg_rel)["ids"]  # sorted at roll time
            i = bisect.bisect_left(ids, batch_id)
            if i < len(ids) and ids[i] == batch_id:
                return True
        return False

    def applied_batches(self) -> List[str]:
        """Full applied-batch history in commit order (audit accessor —
        reads every segment; the hot path is ``is_applied``)."""
        meta = self.metadata()
        out: List[str] = []
        for seg_rel in meta["applied"]["segments"]:
            out.extend(self._read_manifest(seg_rel)["ordered"])
        out.extend(meta["applied"]["tail"])
        return out

    def lineage(self) -> List[dict]:
        """Full commit lineage in order (audit accessor; snapshot holds only
        the tail inline)."""
        meta = self.metadata()
        out: List[dict] = []
        for seg_rel in meta["lineage_segments"]:
            out.extend(self._read_manifest(seg_rel)["entries"])
        out.extend(meta["lineage"])
        return out

    def watermarks(self) -> Dict[int, int]:
        return {int(k): v for k, v in self.metadata()["watermarks"].items()}

    def history(self) -> DataFrame:
        """Commit history as a DataFrame (the ``DESCRIBE HISTORY``
        analogue): one row per lineage entry — MERGE commits, compactions,
        schema evolutions — with the common columns normalized and the full
        entry preserved as a JSON ``details`` string.  Audit accessor
        (reads every lineage segment, driver-sized by the segment-roll
        bound); newest first."""
        rows = []
        for e in self.lineage():
            if "schema_evolution" in e:
                kind = "schema_evolution"
            elif "rename_column" in e:
                kind = "rename_column"
            elif "drop_column" in e:
                kind = "drop_column"
            elif "compaction" in e:
                kind = "compaction"
            elif "restore" in e:
                kind = "restore"
            elif "rebucket" in e:
                kind = "rebucket"
            elif "mutation" in e:
                kind = e["mutation"]  # "delete" / "update"
            else:
                kind = "merge"
            rows.append(
                (
                    int(e.get("version", -1)),
                    kind,
                    e.get("batch_id"),
                    float(e["ts"]) if e.get("ts") is not None else None,
                    # 0 is meaningful (a fully-deduplicated merge); NULL
                    # means the field doesn't apply to this entry kind
                    len(e["changed_buckets"]) if "changed_buckets" in e else None,
                    e.get("files_written"),
                    e.get("bytes_written"),
                    json.dumps(e, sort_keys=True),
                )
            )
        schema = (
            "version int, kind string, batch_id string, ts double, "
            "n_changed_buckets int, files_written long, bytes_written long, "
            "details string"
        )
        return self.spark.createDataFrame(rows, schema).orderBy(F.desc("version"))

    def _roll_applied(self, ap: dict, new_segments: List[Tuple[str, dict]]) -> dict:
        if len(ap["tail"]) <= 2 * _APPLIED_TAIL:
            return ap
        rolled, tail = ap["tail"][:_APPLIED_TAIL], ap["tail"][_APPLIED_TAIL:]
        # uid suffix: segment names must be collision-free across racing
        # writers (a loser's segment is garbage; a NAME reuse would let one
        # writer's content replace another's already-referenced file)
        rel = f"metadata/applied-{len(ap['segments']):06d}-{_uid()}.json"
        new_segments.append((rel, {"ids": sorted(rolled), "ordered": rolled}))
        return {**ap, "tail": tail, "segments": ap["segments"] + [rel]}

    def _roll_lineage(self, meta_lineage: List[dict], segments: List[str],
                      new_segments: List[Tuple[str, dict]]) -> Tuple[List[dict], List[str]]:
        if len(meta_lineage) <= 2 * _LINEAGE_TAIL:
            return meta_lineage, segments
        rolled, tail = meta_lineage[:_LINEAGE_TAIL], meta_lineage[_LINEAGE_TAIL:]
        rel = f"metadata/lineage-{len(segments):06d}-{_uid()}.json"
        new_segments.append((rel, {"entries": rolled}))
        return tail, segments + [rel]

    # -- file listings ----------------------------------------------------

    def _bucket_files(self, meta: dict, buckets: Optional[List[int]] = None) -> Dict[int, List[dict]]:
        """bucket -> live file entries [{path,min_h,max_h,rows,bytes}]."""
        bucket_map = meta["buckets"]
        wanted = (
            list(bucket_map)
            if buckets is None
            else [str(b) for b in buckets if str(b) in bucket_map]
        )
        out: Dict[int, List[dict]] = {}
        for b in wanted:
            manifest = self._read_manifest(bucket_map[b])
            out[int(b)] = manifest["buckets"][b]
        return out

    # -- reads -----------------------------------------------------------

    def _read_files(
        self,
        paths: List,
        schema: T.StructType,
        n_buckets: int,
        meta: Optional[dict] = None,
    ) -> DataFrame:
        # Explicit read schema (never inferred): files written before a
        # schema evolution lack the evolved columns and must serve nulls for
        # them — parquet inference samples ONE file's footer and could pick a
        # pre-evolution file, silently dropping newer columns.  Explicit
        # schema also skips footer sampling entirely (matters at 10^5 files).
        # recursiveFileLookup disables partition discovery (the data/v{N}/
        # level above the _bucket= dirs is not key=value and trips it);
        # _bucket is recomputed instead — it is a pure function of the key.
        #
        # ``paths`` elements are plain path strings or ``(path, seq)``
        # pairs.  When ``meta`` carries a multi-era ``schema_log`` (a
        # rename/drop happened), files group by the era their seq falls in
        # and each group reads under its PHYSICAL column names, projected
        # to the current names by field id — rename/drop never rewrites
        # data (the Iceberg field-id read mapping).  Single-era tables take
        # the one-scan fast path below, byte-identical to the pre-feature
        # behavior.
        pairs = [(p, None) if isinstance(p, str) else (p[0], p[1]) for p in paths]
        log = (meta or {}).get("schema_log")
        tlog = (meta or {}).get("type_log")
        if (log and len(log) > 1) or (tlog and len(tlog) > 1):
            fids, log = _field_meta(meta)
            defaults = self.column_defaults(meta)
            groups: Dict[tuple, list] = {}
            for p, s in pairs:
                seq = int(s) if s is not None else meta["version"]
                ni = _era_index(log, seq)
                ti = _era_index(tlog, seq) if tlog else 0
                g = groups.get((ni, ti))
                if g is None:
                    g = groups[(ni, ti)] = [
                        _era_colmap(fids, log, log[ni][0]),
                        _era_typemap(fids, tlog, seq, schema),
                        [],
                    ]
                g[2].append(p)
            parts = [
                self._read_files_era(
                    ps, schema, n_buckets, colmap, typemap, defaults
                )
                for _, (colmap, typemap, ps) in sorted(groups.items())
            ]
            from functools import reduce

            return reduce(lambda a, b: a.unionByName(b), parts)
        return self._read_files_era([p for p, _ in pairs], schema, n_buckets, None)

    def _read_files_era(
        self,
        paths: List[str],
        schema: T.StructType,
        n_buckets: int,
        colmap: Optional[Dict[str, Optional[str]]],
        typemap: Optional[Dict[str, T.DataType]] = None,
        defaults: Optional[Dict[str, object]] = None,
    ) -> DataFrame:
        """One-era scan: read under the era's physical names AND physical
        types, project to the current schema (``colmap``: current ->
        physical name | None-for-NULL, None colmap = identity; ``typemap``:
        current name -> physical type for columns later widened by
        ``widen_column`` — the projection casts them up, losslessly by the
        promotion rules; ``defaults``: current name -> initial default
        served INSTEAD of NULL when the field id predates the file's era —
        files written after the add keep their physical values)."""
        if colmap is None and typemap is None:
            read_fields = list(schema.fields)
            proj = [F.col(f.name) for f in schema.fields]
        else:
            phys = {
                f.name: (colmap[f.name] if colmap is not None else f.name)
                for f in schema.fields
            }
            ptype = {
                f.name: (typemap or {}).get(f.name, f.dataType)
                for f in schema.fields
            }
            read_fields = [
                T.StructField(phys[f.name], ptype[f.name])
                for f in schema.fields
                if phys[f.name] is not None
            ]
            proj = []
            for f in schema.fields:
                pn = phys[f.name]
                if pn is None:
                    dflt = (defaults or {}).get(f.name)
                    proj.append(F.lit(dflt).cast(f.dataType).alias(f.name))
                elif ptype[f.name] != f.dataType:
                    proj.append(F.col(pn).cast(f.dataType).alias(f.name))
                else:
                    proj.append(F.col(pn).alias(f.name))
        read_schema = T.StructType(read_fields + [T.StructField(KHASH_COL, T.LongType())])
        df = self.spark.read.schema(read_schema).option(
            "recursiveFileLookup", "true"
        ).parquet(*[os.path.join(self.root, p) for p in paths])
        return df.select(
            *proj,
            bucket_expr(n_buckets).alias(BUCKET_COL),
            F.col(KHASH_COL),
        )

    def read(self, version: Optional[int] = None, buckets: Optional[List[int]] = None) -> DataFrame:
        """Snapshot read; ``buckets`` prunes to the named buckets.  Returns an
        empty frame of the table schema when nothing has been written yet.

        Buckets holding multi-version (merge-on-read) state are resolved
        in-flight — one per-key max-by-version aggregation over ONLY the
        dirty buckets; clean buckets stream through scan-only as before.
        ``compact()`` restores a bucket to the scan-only path."""
        meta = self.metadata(version)
        df = self._read_plan(meta, self._bucket_files(meta, buckets))
        if df is None:
            schema = T.StructType.fromJson(json.loads(meta["schema"]))
            with_bucket = T.StructType(list(schema.fields) + [T.StructField(BUCKET_COL, T.LongType())])
            return self.spark.createDataFrame([], with_bucket)
        return df.drop(KHASH_COL)

    def _scan_predicates(self, schema: T.StructType, where) -> List[tuple]:
        names = {f.name for f in schema.fields}
        preds = []
        for col, op, val in where:
            op = "=" if op == "==" else op
            if op not in _SCAN_OPS:
                raise ValueError(f"unsupported scan op {op!r} (use {sorted(_SCAN_OPS)})")
            if col not in names:
                raise KeyError(f"scan column {col!r} not in table schema {sorted(names)}")
            preds.append((col, op, val))
        return preds

    def _era_preds(self, meta: dict, preds: List[tuple]):
        """Per-era predicate translation for bounds pruning: returns
        ``fn(seq) -> preds`` with each column name rewritten to the name
        the column's FIELD ID was stored under in the file's era.  Bounds
        in manifests are keyed by physical (write-time) names, so after a
        rename a current-name lookup could hit a STALE same-named entry
        from a different field and mis-prune (the rename-into-reused-name
        hazard); translating by id always finds the right entry.  A
        predicate on a field id the era lacks is dropped for that era
        (unbounded — never prunes; the residual filter keeps exactness)."""
        log = meta.get("schema_log")
        if not log or len(log) <= 1:
            return lambda seq: preds
        fids, log = _field_meta(meta)
        cache: Dict[int, List[tuple]] = {}

        def fn(seq: int) -> List[tuple]:
            idx = 0
            for i, (v, _) in enumerate(log):
                if v <= seq:
                    idx = i
            if idx not in cache:
                era = log[idx][1]
                out = []
                for col, op, val in preds:
                    phys = era.get(str(fids[col]))
                    if phys is not None:
                        out.append((phys, op, val))
                cache[idx] = out
            return cache[idx]

        return fn

    def _prune_for_scan(
        self, meta: dict, preds: List[tuple], buckets: Optional[List[int]]
    ) -> Tuple[Dict[int, List[dict]], int, int]:
        """The snapshot's live entries that can hold a row satisfying the
        predicates, as a bucket -> entries map for ``_read_plan``, plus the
        (kept, total) data-file counts for observability.  Clean buckets
        keep the data files whose manifest bounds can match.  Dirty
        (merge-on-read) buckets are NEVER stats-pruned: a key's winner is
        decided across file versions, so dropping a file because its values
        don't match could resurrect an older matching version of a key
        whose CURRENT version doesn't match — those buckets resolve fully
        and filter after."""
        files = self._bucket_files(meta, buckets)
        dirty = meta.get("dirty", {})
        era_preds = self._era_preds(meta, preds)
        plan: Dict[int, List[dict]] = {}
        kept = total = 0
        for b, entries in files.items():
            data = [e for e in entries if e.get("kind") != "tomb"]
            total += len(data)
            if str(b) in dirty:
                plan[b] = entries
                kept += len(data)
                continue
            hit = [e for e in data if _file_may_match(e.get("cols"), era_preds(_entry_seq(e)))]
            if hit:
                plan[b] = hit
                kept += len(hit)
        return plan, kept, total

    def scan(
        self,
        where,
        version: Optional[int] = None,
        buckets: Optional[List[int]] = None,
    ) -> DataFrame:
        """Predicate data-skipping scan (the Iceberg metadata-pruned scan /
        Delta data-skipping analogue): ``where`` is a conjunctive list of
        ``(column, op, constant)`` with op in =, <, <=, >, >= — files whose
        manifest-recorded [lo, hi] bounds for the table's ``stats_cols``
        cannot satisfy every predicate are skipped WITHOUT being opened or
        even listed into the Spark read, and the surviving files still get
        the residual filter (exactness never depends on the stats).

        Why this matters at 10^5 files: Spark's own parquet pushdown prunes
        row groups, but only AFTER the file is listed, a task planned, and
        its footer fetched — manifest pruning removes those files from the
        plan entirely, so a selective predicate over a wide table costs
        O(matching files), not O(all files).  Columns without recorded
        bounds (not in ``stats_cols``, written pre-evolution, stats
        unusable) are simply never pruned on — unbounded is always sound.
        String bounds use Iceberg-style 16-char truncation (prefix lower
        bound, incremented upper bound); see ``_STR_BOUND_LEN``.

        Dirty (merge-on-read) buckets resolve fully before filtering —
        see ``_prune_for_scan`` for why stats cannot prune multi-version
        state; ``compact()`` returns a bucket to the prunable path."""
        meta = self.metadata(version)
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        preds = self._scan_predicates(schema, where)
        plan, _, _ = self._prune_for_scan(meta, preds, buckets)
        df = self._read_plan(meta, plan)
        if df is None:
            return self.spark.createDataFrame([], schema)
        resid = None
        for col, op, val in preds:
            c = _PRED_EXPRS[op](F.col(col), F.lit(val))
            resid = c if resid is None else (resid & c)
        if resid is not None:
            df = df.where(resid)
        return df.select(*[f.name for f in schema.fields])

    def prune_preview(self, where, version: Optional[int] = None) -> dict:
        """Observability: how many live data files ``scan(where)`` would
        keep vs the snapshot total, without reading anything."""
        meta = self.metadata(version)
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        preds = self._scan_predicates(schema, where)
        _, kept, total = self._prune_for_scan(meta, preds, None)
        return {"kept_files": kept, "total_files": total}

    def _read_plan(
        self,
        meta: dict,
        files: Dict[int, List[dict]],
        n_buckets: Optional[int] = None,
        khash_in: Optional[List[int]] = None,
    ) -> Optional[DataFrame]:
        """The one read plan every reader and rewrite shares.  ``files`` is
        a bucket -> live entries map the caller has already pruned (by
        stats bounds, khash ranges, touched files, ...).  A CLEAN bucket
        reads its data files only: a tombstone there can only name a key
        that was never present (a merge-on-read delete into an empty
        bucket), and reading it through the data schema would resurrect
        that key as a null-payload row — the ghost-tombstone rule.  A DIRTY
        bucket reads data AND tombstones and resolves them per key
        (``_resolved_files``).  Returns the clean part unioned with the
        resolved part (clean first; table columns + ``_bucket`` +
        ``_khash``), or None when the map holds nothing readable.

        ``n_buckets`` labels rows in another bucket layout (``rebucket``);
        ``khash_in`` keeps only those key hashes, cut on both parts before
        resolution (``lookup``)."""
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        n_buckets = meta["n_buckets"] if n_buckets is None else n_buckets
        dirty = meta.get("dirty", {})
        clean: List[Tuple[str, int]] = []
        mor_data: List[Tuple[str, int]] = []
        mor_tombs: List[Tuple[str, int]] = []
        for b, entries in files.items():
            for e in entries:
                is_tomb = e.get("kind") == "tomb"
                if str(b) in dirty:
                    (mor_tombs if is_tomb else mor_data).append((e["path"], _entry_seq(e)))
                elif not is_tomb:
                    clean.append((e["path"], _entry_seq(e)))
        parts: List[DataFrame] = []
        if clean:
            df = self._read_files(clean, schema, n_buckets, meta=meta)
            if khash_in is not None:
                # files are khash-sorted, so this pushes down to parquet
                # row-group stats and skips pages inside the kept files too
                df = df.where(F.col(KHASH_COL).isin(khash_in))
            parts.append(df)
        if mor_data or mor_tombs:
            parts.append(
                self._resolved_files(
                    mor_data, mor_tombs, schema, n_buckets, khash_in=khash_in, meta=meta
                )
            )
        if not parts:
            return None
        return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

    def _resolved_files(
        self,
        data_entries: List[Tuple[str, int]],
        tomb_entries: List[Tuple[str, int]],
        schema: T.StructType,
        n_buckets: int,
        khash_in: Optional[List[int]] = None,
        meta: Optional[dict] = None,
    ) -> DataFrame:
        """Merge-on-read resolution: the per-key winner across all live file
        versions.  Both inputs are ``(path, seq)`` pairs — ``seq`` is the
        manifest-recorded commit sequence number (the Iceberg data-sequence-
        number analogue, stamped at INSTALL time so it stays correct when an
        optimistic commit rebases to a later version than the one its files
        were staged under).  Files sharing a seq are read as one scan tagged
        with a literal ``_v``; the winner per key is the entry with the
        greatest ``(seq, liveness)`` — a later upsert supersedes older
        versions, a later tombstone kills them, and a data row beats a
        tombstone of its own commit (impossible by construction, but the
        order is total regardless).  Distinct seqs among a bucket's live
        files are bounded by the compaction policy, so the union stays
        narrow.  One hash aggregation, map-side partial, same skew posture
        as LWW dedup (``cdc/apply.py``)."""
        nonkey = [f for f in schema.fields if f.name not in KEY_COLS]
        parts: List[DataFrame] = []
        by_seq: Dict[int, List[str]] = {}
        for p, s in data_entries:
            by_seq.setdefault(s, []).append(p)
        for s, paths in sorted(by_seq.items()):
            parts.append(
                self._read_files([(p, s) for p in paths], schema, n_buckets, meta=meta)
                .withColumn("_v", F.lit(s).cast("long"))
                .withColumn("_live", F.lit(1))
            )
        tombs_by_seq: Dict[int, List[str]] = {}
        for p, s in tomb_entries:
            tombs_by_seq.setdefault(s, []).append(p)
        if tombs_by_seq:
            tomb_schema = T.StructType(
                [T.StructField(c, T.StringType()) for c in KEY_COLS]
                + [T.StructField(KHASH_COL, T.LongType())]
            )
            for s, paths in sorted(tombs_by_seq.items()):
                tombs = (
                    self.spark.read.schema(tomb_schema)
                    .option("recursiveFileLookup", "true")
                    .parquet(*[os.path.join(self.root, p) for p in paths])
                    .select(
                        *KEY_COLS,
                        *[F.lit(None).cast(f.dataType).alias(f.name) for f in nonkey],
                        bucket_expr(n_buckets).alias(BUCKET_COL),
                        F.col(KHASH_COL),
                    )
                    .withColumn("_v", F.lit(s).cast("long"))
                    .withColumn("_live", F.lit(0))
                )
                parts.append(tombs)
        from functools import reduce

        u = reduce(lambda a, b: a.unionByName(b), parts)
        if khash_in is not None:
            # pre-aggregation cut (pushes to the parquet scans): khash is a
            # pure function of the key, so dropping other khashes keeps
            # every version + tombstone of the requested keys
            u = u.where(F.col(KHASH_COL).isin(khash_in))
        payload = F.struct(
            *[F.col(f.name) for f in nonkey],
            F.col(BUCKET_COL), F.col(KHASH_COL), F.col("_live"),
        )
        winners = (
            u.groupBy(*KEY_COLS)
            .agg(F.max_by(payload, F.struct(F.col("_v"), F.col("_live"))).alias("_w"))
            .select(*KEY_COLS, "_w.*")
        )
        return winners.where(F.col("_live") == 1).select(
            *[f.name for f in schema.fields], BUCKET_COL, KHASH_COL
        )

    # -- MERGE -----------------------------------------------------------

    def _touched_file_ids(
        self,
        entries: List[Tuple[int, dict]],
        touched_keys: DataFrame,
    ) -> List[int]:
        """Two-phase find-touched-files (the job Iceberg's copy-on-write
        ``MERGE INTO`` runs before rewriting):

        1. RANGE CUT — broadcast the (small, driver-resident) file range
           table against the batch's touched keys; a file is a candidate iff
           some touched key's khash falls inside its footer (min,max).  Safe
           by construction: every live row's khash is within its file's
           range, so a non-candidate cannot contain a matched key.
        2. MATCH CONFIRM — column-pruned scan of the SPARSE candidates'
           key columns, joined against the touched keys; a file is rewritten
           iff it contains an actually-matched row.  This is what makes
           insert-heavy batches cheap: sorted-chunk ranges collectively
           cover ~(1 - n_files/n_keys) of the hash space, so brand-new keys
           range-hit covering files constantly — but they match no row, and
           those files are kept byte-identical (the new keys just append).

        DENSITY GATE between the phases: phase 1 counts range-hits per file
        (same pass, no extra job), and a file whose hit count reaches
        ``_CONFIRM_DENSITY`` x its row count skips confirmation — at that
        density the file is near-certain to hold a real match, and a
        confirm scan would cost more than the rewrite it might avoid.  In
        the bulk-replay regime (batch keys ~ table keys) EVERY file is
        dense, phase 2 never runs, and the merge stays at two jobs per
        batch; in the scattered-update regime hits are sparse and the
        confirm scan does its file-grain pruning (BENCH 2c).  The gate can
        only over-rewrite, never corrupt: a dense file that held no real
        match is rewritten byte-identical through the anti-join.  Worst
        case (pure-insert flood of brand-new keys, all files dense-hit but
        nothing matched) rewrite amplification is bounded by
        table_rows/batch_rows + 1 of the mandatory new-file write.
        """
        ranges = self.spark.createDataFrame(
            [
                (i, b, e.get("min_h", _FULL_RANGE[0]), e.get("max_h", _FULL_RANGE[1]))
                for i, (b, e) in enumerate(entries)
            ],
            "file_id int, b long, min_h long, max_h long",
        )
        hits = (
            touched_keys.join(
                F.broadcast(ranges),
                (F.col(BUCKET_COL) == F.col("b"))
                & (F.col(KHASH_COL) >= F.col("min_h"))
                & (F.col(KHASH_COL) <= F.col("max_h")),
            )
            .groupBy("file_id")
            # DISTINCT touched keys per file (HLL sketch, map-side partial,
            # ±2% — plenty for a density heuristic): raw hit counts would
            # let a hot key's duplicate events masquerade as density
            .agg(F.approx_count_distinct(KHASH_COL, 0.02).alias("hits"))
            .collect()
        )
        if not hits:
            return []
        dense, sparse = [], []
        for r in hits:
            i = r["file_id"]
            rows = max(int(entries[i][1].get("rows", 0)), 1)
            (dense if r["hits"] >= _CONFIRM_DENSITY * rows else sparse).append(i)
        if not sparse:
            return sorted(dense)

        # phase 2: read keys only (parquet column pruning; data pages of
        # lang/content never load) and confirm an actual key match per file
        key_schema = T.StructType([T.StructField(c, T.StringType()) for c in KEY_COLS])
        abs_by_uri = {}
        for i in sparse:
            p = os.path.abspath(os.path.join(self.root, entries[i][1]["path"]))
            abs_by_uri[p] = i
        cand_df = (
            self.spark.read.schema(key_schema)
            .option("recursiveFileLookup", "true")
            .parquet(*abs_by_uri)
            .withColumn("_file", F.input_file_name())
        )
        matched = (
            cand_df.join(touched_keys.select(*KEY_COLS).distinct(), KEY_COLS)
            .select("_file")
            .distinct()
            .collect()
        )
        from urllib.parse import unquote, urlparse

        out = set(dense)
        for r in matched:
            path = os.path.abspath(unquote(urlparse(r["_file"]).path))
            out.add(abs_by_uri[path])
        return sorted(out)

    def _new_file_stats(
        self,
        out_dir: str,
        rel_dir: str,
        kind: str = "data",
        stats_cols: Optional[List[str]] = None,
    ) -> Dict[int, List[dict]]:
        """Footer scan of freshly written files: per-file khash (min,max),
        rows, bytes — the same stats an Iceberg commit collects — plus
        encoded [lo, hi] bounds for the table's ``stats_cols`` (the
        secondary-column data-skipping metadata ``scan`` prunes on).
        Footer reads only (no data pages).  Below ``_STATS_DISTRIBUTE_OVER``
        files the driver reads them in a loop (a Spark job costs more than
        ~all the footers); above it, one ``parallelize``+``mapPartitions``
        job fans the footer reads across executors — commits writing
        10^3..10^5 files stop paying a driver-serial footer walk (round-3
        VERDICT ask #1).  ``kind="tomb"`` stamps the entries as tombstone
        (equality-delete) files."""
        paths = sorted(_glob.glob(os.path.join(out_dir, f"{BUCKET_COL}=*", "*.parquet")))
        scols = list(stats_cols) if kind == "data" and stats_cols else None
        if len(paths) >= _STATS_DISTRIBUTE_OVER:
            sc = self.spark.sparkContext
            n_slices = min(len(paths), 64)
            stats = (
                sc.parallelize(paths, n_slices)
                .mapPartitions(lambda it: (_footer_stat(p, scols) for p in it))
                .collect()
            )
        else:
            stats = [_footer_stat(p, scols) for p in paths]
        out: Dict[int, List[dict]] = {}
        for path, mn, mx, rows, nbytes, col_bounds in sorted(stats):
            bucket = int(os.path.basename(os.path.dirname(path)).split("=", 1)[1])
            entry = {
                "path": os.path.join(rel_dir, os.path.relpath(path, out_dir)),
                "min_h": int(mn) if mn is not None else _FULL_RANGE[0],
                "max_h": int(mx) if mx is not None else _FULL_RANGE[1],
                "rows": rows,
                "bytes": nbytes,
            }
            if col_bounds:
                entry["cols"] = col_bounds
            if kind != "data":
                entry["kind"] = kind
            out.setdefault(bucket, []).append(entry)
        return out

    def _stage(
        self,
        df: DataFrame,
        meta: dict,
        n_parts: int,
        order: Optional[list] = None,
        kind: str = "data",
        rel_dir: Optional[str] = None,
    ) -> Dict[int, List[dict]]:
        """Write ``df`` (table columns + ``_bucket`` + ``_khash``) as staged
        files and return their manifest entries by bucket.  One task per
        bucket group, rows sorted by ``order`` (default bucket, khash — the
        clustering MERGE's range pruning relies on), ``_bucket=`` partition
        dirs.  Data files roll at the table's ``target_file_rows`` and carry
        its parquet blooms; tombstone files (``kind="tomb"``, key columns +
        khash) take neither.

        Files land under a commit-unique ``data/c-{uid}/`` dir (or
        ``rel_dir``): racing writers never share a path, and the files are
        version-agnostic — their MoR resolution order is the manifest
        ``seq`` stamped at install — so a lost install race rebases WITHOUT
        re-running this write."""
        rel_dir = rel_dir or os.path.join("data", f"c-{_uid()}")
        out_dir = os.path.join(self.root, rel_dir)
        w = (
            df.repartition(max(n_parts, 1), F.col(BUCKET_COL))
            .sortWithinPartitions(*(order or [BUCKET_COL, KHASH_COL]))
            .write.mode("overwrite")
        )
        if kind == "data":
            w = w.option(
                "maxRecordsPerFile", meta.get("target_file_rows", 1_000_000)
            ).options(**_bloom_opts(meta))
        w.partitionBy(BUCKET_COL).parquet(out_dir)
        return self._new_file_stats(
            out_dir, rel_dir, kind=kind, stats_cols=meta.get("stats_cols")
        )

    def merge(
        self,
        upserts: DataFrame,
        deletes: DataFrame,
        batch_id: str,
        batch_watermarks: Optional[Dict[int, int]] = None,
        lineage: Optional[dict] = None,
        changed_buckets: Optional[List[int]] = None,
        mode: Optional[str] = None,
        touched_hint: Optional[DataFrame] = None,
        hint_n_buckets: Optional[int] = None,
    ) -> dict:
        """Key-partitioned MERGE: ``upserts`` (full rows, one per key) replace
        or insert; ``deletes`` (key rows) remove.  Exactly one row per key per
        call (callers run LWW dedup first).  Idempotent under ``batch_id``.

        ``mode``: ``"cow"`` (copy-on-write, the default) rewrites the files a
        touched key lives in; ``"mor"`` (merge-on-read) appends the batch as
        new data files plus key tombstones and defers conflict resolution to
        read time — O(batch) write cost regardless of how scattered the
        touched keys are (the Iceberg v2 position/equality-delete analogue).
        ``None`` uses the table's ``write_mode`` (set at ``create``).  Modes
        may be mixed: a COW merge into a bucket holding multi-version (MoR)
        state transparently resolves that bucket first (see below).

        ``touched_hint``: an optional DataFrame whose KEY_COLS cover the
        SAME key set as upserts+deletes but are cheaper to recompute — e.g.
        the raw pre-dedup batch (its key set equals the winners' key set;
        LWW picks a winner per key, it never drops keys).  The file-pruning
        jobs then scan that key projection (a column-pruned source scan, no
        shuffle) instead of re-running the LWW reduction per pruning job.
        Duplicate keys are harmless: the density gate counts distinct keys
        (HLL), and the confirm/anti-join semantics only depend on the key
        SET.

        Returns the commit summary dict (also appended to lineage).

        Concurrency (multi-writer safety): commits install with an
        optimistic put-if-absent protocol (``_try_install_snapshot``).  A
        MoR merge reads no table state, so losing the install race only
        re-derives bookkeeping against the winner's snapshot (no Spark work
        re-runs) — concurrent MoR writers serialize in install order, and
        read-time LWW resolves by that order.  A COW merge's rewrite is
        valid only against the file sets it read; if a concurrent commit
        touched any of its buckets the merge re-runs its body against the
        fresh snapshot (up to ``_BODY_ATTEMPTS`` times).  Exactly-once
        holds across writers: a duplicate ``batch_id`` racing in from two
        committers lands exactly once (the loser's rebase re-checks the
        applied set against the winner's snapshot)."""
        return _retry_body(
            lambda: self._merge_once(
                upserts, deletes, batch_id, batch_watermarks, lineage,
                changed_buckets, mode, touched_hint, hint_n_buckets,
            )
        )

    def _merge_once(
        self,
        upserts: DataFrame,
        deletes: DataFrame,
        batch_id: str,
        batch_watermarks: Optional[Dict[int, int]],
        lineage: Optional[dict],
        changed_buckets: Optional[List[int]],
        mode: Optional[str],
        touched_hint: Optional[DataFrame],
        hint_n_buckets: Optional[int],
    ) -> dict:
        """One MERGE body against the current snapshot; raises
        ``CommitConflictError`` when a concurrent commit invalidates it."""
        meta = self.metadata()
        if self.is_applied(batch_id, meta):
            return {"batch_id": batch_id, "skipped": True, "version": meta["version"]}
        # bucket ids in caller-supplied hints are layout-relative: if a
        # concurrent rebucket() replaced the layout the caller computed
        # them under, honoring them would prune the wrong files and
        # advance the wrong watermarks — fail to the caller, which
        # recomputes against the fresh snapshot
        if hint_n_buckets is not None and hint_n_buckets != meta["n_buckets"]:
            raise BucketLayoutChangedError(
                f"hints computed for n_buckets={hint_n_buckets} but the "
                f"table now has n_buckets={meta['n_buckets']} "
                "(concurrent rebucket); recompute changed_buckets / "
                "batch_watermarks against the current snapshot"
            )
        mode = mode or meta.get("write_mode", "cow")
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown merge mode {mode!r} (use 'cow' or 'mor')")

        n_buckets = meta["n_buckets"]
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        schema_cols = [f.name for f in schema.fields]
        # narrower-typed source columns upcast to the table schema here,
        # BEFORE bucketing, so both COW and MoR write paths land physical
        # data matching the schema; cross-typed sources raise
        upserts = self._align_source(upserts, schema)

        # upserts/deletes are re-read by the pruning join, the touched-key
        # anti-join and the final write; no explicit persist — the upstream
        # LWW aggregation's shuffle files are reused across those jobs
        # (Spark exchange reuse), and measured end-to-end an explicit
        # MEMORY_AND_DISK persist here was ~35% slower.
        upserts = upserts.withColumn(BUCKET_COL, bucket_expr(n_buckets)).withColumn(
            KHASH_COL, khash_expr()
        )
        deletes = deletes.withColumn(BUCKET_COL, bucket_expr(n_buckets)).withColumn(
            KHASH_COL, khash_expr()
        )
        if changed_buckets is not None:
            changed = sorted(int(b) for b in changed_buckets)
        else:
            changed = sorted(
                r[BUCKET_COL]
                for r in upserts.select(BUCKET_COL)
                .union(deletes.select(BUCKET_COL))
                .distinct()
                .collect()
            )
        if mode == "mor":
            return self._merge_mor(
                meta, upserts, deletes, batch_id, changed,
                batch_watermarks, lineage, touched_hint=touched_hint,
            )
        # COW over buckets holding multi-version (MoR) state would be wrong:
        # its per-file anti-join assumes one live version per key, and a
        # rewrite would re-stamp an OLD version of an untouched key at the
        # new commit version, flipping the read-time winner.  Resolve those
        # buckets first (a semantics-preserving compaction commit), then run
        # the normal COW body against single-version state.
        # loop, not a single pass: a concurrent MoR commit can land in
        # ANOTHER changed bucket while the compact's Spark job runs, so the
        # re-read snapshot may be dirty again in buckets the first pass saw
        # clean — running the COW body over one would rewrite multi-version
        # state flat (both versions of an untouched key would survive the
        # anti-join and re-stamp at the new version, making the read-time
        # winner arbitrary).  Exit only on a snapshot where NO changed
        # bucket is dirty; any MoR commit that dirties one AFTER that
        # snapshot conflicts at install via _validate_base.
        for _ in range(_BODY_ATTEMPTS):
            dirty_changed = [b for b in changed if str(b) in meta.get("dirty", {})]
            if not dirty_changed:
                break
            self.compact(buckets=dirty_changed, min_files=1)
            meta = self.metadata()
            if meta["n_buckets"] != n_buckets:
                # a rebucket() landed while the compact ran: the batch's
                # stamped bucket/khash columns and `changed` are from the
                # old layout — re-run the whole body on the fresh snapshot
                raise CommitConflictError(
                    "bucket layout changed (concurrent rebucket) during "
                    "dirty-bucket resolution"
                )
        else:
            raise CommitConflictError(
                f"changed buckets still dirty after {_BODY_ATTEMPTS} "
                "compaction passes (sustained concurrent MoR writes): "
                f"{[b for b in changed if str(b) in meta.get('dirty', {})]}"
            )
        commit = {
            "batch_id": batch_id,
            "changed_buckets": changed,
            "ts": time.time(),
        }
        if lineage:
            commit.update(lineage)

        _t0 = time.time()
        current_files = self._bucket_files(meta, changed)
        # tombstone entries in a CLEAN bucket name never-present keys only
        # (a MoR delete into an empty bucket; dirty buckets were compacted
        # above).  They are skipped at read and MUST be excluded here too:
        # rewriting one through the data-schema read path would resurrect
        # its keys as live null-payload rows (the ghost-tombstone hazard
        # compact()/read() already guard).  Excluding them from the rewrite
        # candidate set also drops them from rewritten buckets' manifests —
        # semantics-free (nothing to suppress) — and GC reclaims the files.
        flat_entries = [
            (b, e)
            for b, entries in current_files.items()
            for e in entries
            if e.get("kind") != "tomb"
        ]
        if touched_hint is not None:
            # both the pruning jobs AND the write job's anti-join run off
            # the hint: a duplicate-inflated build side is cheaper than
            # re-running the LWW reduction once per consumer (measured
            # ~1.4x on the 4M-event replay)
            touched_keys = touched_hint.select(*KEY_COLS).select(
                *KEY_COLS, bucket_expr(n_buckets).alias(BUCKET_COL),
                khash_expr().alias(KHASH_COL),
            )
        else:
            touched_keys = (
                upserts.select(*KEY_COLS, BUCKET_COL, KHASH_COL)
                .union(deletes.select(*KEY_COLS, BUCKET_COL, KHASH_COL))
            )
        if flat_entries:
            touched_ids = set(self._touched_file_ids(flat_entries, touched_keys))
        else:
            touched_ids = set()
        if MERGE_TIMINGS is not None:
            MERGE_TIMINGS.append(("merge_prune", time.time() - _t0))

        _t_write0 = time.time()
        rewrite: Dict[int, List[dict]] = {}
        kept: Dict[int, List[dict]] = {b: [] for b in current_files}
        for i, (b, e) in enumerate(flat_entries):  # one pass, O(n_files)
            (rewrite.setdefault(b, []) if i in touched_ids else kept[b]).append(e)
        commit["files_rewritten"] = sum(len(es) for es in rewrite.values())
        commit["bytes_rewritten"] = sum(e["bytes"] for es in rewrite.values() for e in es)

        new_files: Dict[int, List[dict]] = {}
        if changed:
            upsert_part = upserts.select(*schema_cols, BUCKET_COL, KHASH_COL)
            merged = upsert_part
            current = self._read_plan(meta, rewrite)
            if current is not None:
                # co-partitioned anti-join: survivors = rows of rewritten
                # files whose key is NOT touched by this batch
                survivors = current.join(
                    touched_keys.drop(KHASH_COL), [*KEY_COLS, BUCKET_COL], "left_anti"
                )
                merged = survivors.select(*schema_cols, BUCKET_COL, KHASH_COL).unionByName(
                    upsert_part
                )
            new_files = self._stage(merged, meta, len(changed))
            commit["files_written"] = sum(len(es) for es in new_files.values())
            commit["bytes_written"] = sum(
                e["bytes"] for es in new_files.values() for e in es
            )
        if MERGE_TIMINGS is not None:
            MERGE_TIMINGS.append(("merge_write", time.time() - _t_write0))

        # a bucket's live list changed iff one of its files was rewritten
        # or a new file landed in it; every other bucket keeps pointing at
        # its existing manifest (so a changed=ALL-buckets replay does NOT
        # rewrite O(total files) of manifest entries).  The survivors are
        # only valid against the file sets this merge READ (changed).
        _t_io0 = time.time()
        result = self._install_rewrite(
            meta, changed, set(rewrite) | set(new_files), kept, new_files, commit,
            batch_id=batch_id, watermarks=batch_watermarks,
        )
        if MERGE_TIMINGS is not None:
            MERGE_TIMINGS.append(("commit_io", time.time() - _t_io0))
        return result

    def _validate_base(
        self,
        read_meta: dict,
        base: dict,
        read_buckets: List[int],
        batch_id: Optional[str],
    ) -> None:
        """Rebase validation for commits whose Spark work READ table state:
        the interleaved commits must not have touched any bucket in the
        read set, changed the bucket layout, or evolved the schema — else
        the already-executed rewrite is stale and the body must re-run."""
        if base["n_buckets"] != read_meta["n_buckets"]:
            raise CommitConflictError("bucket layout changed concurrently")
        if base["schema"] != read_meta["schema"]:
            raise CommitConflictError("schema evolved concurrently")
        if batch_id is not None and self.is_applied(batch_id, base):
            raise _SkipCommit(
                {"batch_id": batch_id, "skipped": True, "version": base["version"]}
            )
        rd, bd = read_meta.get("dirty", {}), base.get("dirty", {})
        for b in read_buckets:
            if base["buckets"].get(str(b)) != read_meta["buckets"].get(str(b)) or bool(
                bd.get(str(b))
            ) != bool(rd.get(str(b))):
                raise CommitConflictError(f"bucket {b} was changed by a concurrent commit")

    def _install_rewrite(
        self,
        read_meta: dict,
        read_set,
        touched,
        carried: Dict[int, List[dict]],
        new_files: Dict[int, List[dict]],
        entry: dict,
        batch_id: Optional[str] = None,
        watermarks: Optional[Dict[int, int]] = None,
        relayout: Optional[dict] = None,
    ) -> dict:
        """Install a commit whose Spark work READ table state (every
        rewrite: merge, compact, delete/update_where, MERGE INTO, rebucket)
        through the optimistic commit loop.  Each ``touched`` bucket's live
        list becomes its ``carried`` entries plus its ``new_files`` stamped
        with ``seq`` = the new version, and it leaves ``dirty`` (its state
        was read resolved, or never was multi-version); a bucket left with
        no entries drops out of the map.  Every other bucket keeps pointing
        at its existing manifest.

        On a rebase the buckets in ``read_set`` (a list, or a zero-arg
        callable evaluated only then) must be untouched by the interleaved
        commits (``_validate_base``); ``read_set=None`` means the whole
        table was read, so any interleaved commit conflicts.  ``batch_id``
        joins the applied set, ``watermarks`` merge into the snapshot's, and
        ``relayout`` overrides snapshot keys after the advance (``rebucket``
        swaps the layout and its remapped watermarks)."""
        touched = sorted(set(touched))

        def build(base: dict):
            if base is not read_meta:
                if read_set is None:
                    raise CommitConflictError(
                        "a concurrent commit changed the table this rewrite read in full"
                    )
                buckets = read_set() if callable(read_set) else read_set
                self._validate_base(read_meta, base, sorted(buckets), batch_id)
            new_version = base["version"] + 1
            c = {**entry, "version": new_version}
            if batch_id is not None:
                c["batch_id"] = batch_id
            manifest_rel = f"metadata/m-{new_version}-{_uid()}.json"
            bucket_map = dict(base["buckets"])
            dirty = dict(base.get("dirty", {}))
            manifest_buckets: Dict[str, List[dict]] = {}
            for b in touched:
                dirty.pop(str(b), None)
                entries = list(carried.get(b, [])) + [
                    {**e, "seq": new_version} for e in new_files.get(b, [])
                ]
                if entries:
                    manifest_buckets[str(b)] = entries
                    bucket_map[str(b)] = manifest_rel
                else:  # every row of the bucket was deleted
                    bucket_map.pop(str(b), None)
            segments: List[Tuple[str, dict]] = []
            if manifest_buckets:
                segments.append((manifest_rel, {"buckets": manifest_buckets}))
            new_meta = self._advance_meta(
                base, new_version, c, bucket_map, segments,
                watermarks, batch_id, dirty=dirty,
            )
            new_meta.update(relayout or {})
            return new_meta, segments, c

        return self._commit_loop(read_meta, build)

    def _advance_meta(
        self,
        meta: dict,
        new_version: int,
        commit: dict,
        bucket_map: Dict[str, str],
        new_segments: List[Tuple[str, dict]],
        batch_watermarks: Optional[Dict[int, int]],
        batch_id: Optional[str],
        dirty: Dict[str, bool],
    ) -> dict:
        """Pure bookkeeping advance against a base snapshot: watermark
        merge, exactly-once applied set (tail/bloom/segment rolls), lineage
        append.  Called once per install attempt — it must derive everything
        from ``meta`` (the CURRENT base) so a rebase is just a re-call.
        Rolled segments are appended to ``new_segments`` for the caller to
        write."""
        watermarks = dict(meta["watermarks"])
        for b, lsn in (batch_watermarks or {}).items():
            # no floor: LSNs may be negative, and a -1 default would claim
            # events up to -1 applied
            cur = watermarks.get(str(b))
            watermarks[str(b)] = int(lsn) if cur is None else max(cur, int(lsn))

        if batch_id is not None:
            applied = {
                **meta["applied"],
                "count": meta["applied"]["count"] + 1,
                "tail": meta["applied"]["tail"] + [batch_id],
                "bloom": _bloom_add(meta["applied"]["bloom"], batch_id),
            }
            applied = self._roll_applied(applied, new_segments)
        else:
            applied = meta["applied"]
        lineage_tail, lineage_segs = self._roll_lineage(
            meta["lineage"] + [commit], meta["lineage_segments"], new_segments
        )

        return {
            **meta,
            "version": new_version,
            "buckets": bucket_map,
            "watermarks": watermarks,
            "applied": applied,
            "lineage": lineage_tail,
            "lineage_segments": lineage_segs,
            "dirty": dirty,
        }

    def _merge_mor(
        self,
        meta: dict,
        upserts: DataFrame,
        deletes: DataFrame,
        batch_id: str,
        changed: List[int],
        batch_watermarks: Optional[Dict[int, int]],
        lineage: Optional[dict],
        touched_hint: Optional[DataFrame] = None,
    ) -> dict:
        """Merge-on-read commit: append the batch, resolve at read.

        Writes (both O(batch), no existing file is read or rewritten):
          * the upsert rows as new khash-sorted data files — an old version
            of an upserted key simply LOSES at read time to the newer commit
            version (no tombstone needed for upserts);
          * the delete keys as TOMBSTONE files (key cols + khash only — the
            equality-delete analogue of Iceberg v2 delete files).

        A bucket that now holds more than one version of some key (it had
        live files and received new data, or received tombstones) is marked
        ``dirty``; ``read()`` resolves dirty buckets with a per-key
        max-by-version aggregation and ``compact()`` folds them back to
        single-version clean state.  Write cost is O(batch) always — the
        hot-random-key regime where COW rewrite amplification explodes
        (BENCH/merge_prune_bench.py measures the crossover).

        A MoR commit reads NO table state, so it rebases freely across
        concurrent commits (its files simply land with a later ``seq``);
        only a concurrent bucket-layout or schema change forces a body
        re-run."""
        n_buckets = meta["n_buckets"]
        schema_cols = [
            f.name for f in T.StructType.fromJson(json.loads(meta["schema"])).fields
        ]
        commit = {
            "batch_id": batch_id,
            "changed_buckets": changed,
            "mode": "mor",
            "files_rewritten": 0,
            "bytes_rewritten": 0,
            "ts": time.time(),
        }
        if lineage:
            commit.update(lineage)

        rel_dir = os.path.join("data", f"c-{_uid()}")

        _t0 = time.time()
        new_files = self._stage(
            upserts.select(*schema_cols, BUCKET_COL, KHASH_COL), meta, len(changed),
            rel_dir=rel_dir,
        )
        # Tombstones need only the batch's delete KEYS, and the raw
        # pre-dedup batch supplies them without re-running the LWW
        # reduction (the second full shuffle this job used to cost).
        # A raw tombstone can name a key whose in-batch winner was an
        # UPSERT — harmless: both land at the same commit version, and
        # read-time resolution orders by (version, liveness), so the data
        # row beats its same-version tombstone.  Duplicate delete events
        # add identical-weight tombstone rows, also harmless.
        if touched_hint is not None and "op" in touched_hint.columns:
            tomb_keys = touched_hint.where(F.col("op") == "delete").select(*KEY_COLS)
            tomb_keys = tomb_keys.select(
                *KEY_COLS, bucket_expr(n_buckets).alias(BUCKET_COL),
                khash_expr().alias(KHASH_COL),
            )
        else:
            tomb_keys = deletes.select(*KEY_COLS, BUCKET_COL, KHASH_COL)
        tomb_files = self._stage(
            tomb_keys, meta, len(changed), kind="tomb",
            rel_dir=os.path.join(rel_dir, "_tombs"),
        )
        commit["tomb_files"] = sum(len(es) for es in tomb_files.values())
        commit["files_written"] = sum(len(es) for es in new_files.values()) + commit["tomb_files"]
        commit["bytes_written"] = sum(
            e["bytes"] for fs in (new_files, tomb_files) for es in fs.values() for e in es
        )
        if MERGE_TIMINGS is not None:
            MERGE_TIMINGS.append(("merge_write", time.time() - _t0))

        _t_io0 = time.time()
        result = self._install_mor_entries(
            meta, new_files, tomb_files, batch_id, commit, batch_watermarks
        )
        if MERGE_TIMINGS is not None:
            MERGE_TIMINGS.append(("commit_io", time.time() - _t_io0))
        return result

    def _install_mor_entries(
        self,
        read_meta: dict,
        new_files: Dict[int, List[dict]],
        tomb_files: Dict[int, List[dict]],
        batch_id: str,
        commit: dict,
        batch_watermarks: Optional[Dict[int, int]] = None,
    ) -> dict:
        """Metadata-only install of an append-style (merge-on-read) commit:
        the already-written data/tombstone entries land in the touched
        buckets' manifests with ``seq = new version`` and the buckets are
        marked dirty when they had prior files.  Pure file/JSON I/O — no
        SparkSession — shared by ``_merge_mor`` and the streaming sink's
        driver-side ``commit`` (which runs in a Python worker without
        Spark).  ``commit['changed_buckets']`` names the touched buckets
        whose existing entries are carried forward."""
        changed = commit["changed_buckets"]

        def build(base: dict):
            if base is not read_meta:
                # no file state was read; only layout/schema changes (which
                # invalidate the staged files' bucket/khash columns) or a
                # concurrently-landed duplicate batch id block the rebase
                if base["n_buckets"] != read_meta["n_buckets"]:
                    raise CommitConflictError("bucket layout changed concurrently")
                if base["schema"] != read_meta["schema"]:
                    raise CommitConflictError("schema evolved concurrently")
                if self.is_applied(batch_id, base):
                    raise _SkipCommit(
                        {"batch_id": batch_id, "skipped": True, "version": base["version"]}
                    )
            new_version = base["version"] + 1
            c = {**commit, "version": new_version}
            manifest_rel = f"metadata/m-{new_version}-{_uid()}.json"
            current_files = self._bucket_files(base, changed)
            dirty = dict(base.get("dirty", {}))
            bucket_map = dict(base["buckets"])
            segments: List[Tuple[str, dict]] = []
            manifest_buckets: Dict[str, List[dict]] = {}
            for b in sorted(set(new_files) | set(tomb_files)):
                existing = current_files.get(b, [])
                entries = (
                    existing
                    + [{**e, "seq": new_version} for e in new_files.get(b, [])]
                    + [{**e, "seq": new_version} for e in tomb_files.get(b, [])]
                )
                manifest_buckets[str(b)] = entries
                bucket_map[str(b)] = manifest_rel
                # multi-version state iff the bucket had prior files (every
                # b in this loop received new data or tombstones, so older
                # files could hold a now-superseded or now-deleted version
                # of a key this commit wrote)
                if existing:
                    dirty[str(b)] = True
            if manifest_buckets:
                segments.append((manifest_rel, {"buckets": manifest_buckets}))
            new_meta = self._advance_meta(
                base, new_version, c, bucket_map, segments,
                batch_watermarks, batch_id, dirty=dirty,
            )
            return new_meta, segments, c

        return self._commit_loop(read_meta, build)

    def evolve_schema(
        self,
        new_fields: List[T.StructField],
        note: str,
        defaults: Optional[Dict[str, object]] = None,
    ) -> None:
        """Additive schema evolution: append columns; existing data serves
        nulls for them (projection handled at read).  Commutes with every
        data commit, so a lost install race just recomputes the column
        union against the winner's snapshot.

        ``defaults``: optional {added_name: value} (the Iceberg v3
        initial-default / write-default analogue, one value serving both
        roles).  Files written BEFORE the add read the default instead of
        NULL (metadata-only — nothing is rewritten or backfilled), and
        ingest paths fill a batch that omits the column with it; files
        written after the add keep their physical values, including
        explicit NULLs.  Stored against the column's FIELD ID, so it
        follows renames and dies with a drop.  Values must be plain
        JSON-encodable literals castable to the column type."""
        defaults = dict(defaults or {})
        unknown = [c for c in defaults if c not in {f.name for f in new_fields}]
        if unknown:
            raise KeyError(
                f"defaults name columns not being added: {unknown} "
                "(initial defaults attach at add time)"
            )
        for f in new_fields:
            if f.name not in defaults:
                continue
            v = defaults[f.name]
            # scalar literals only: a dict/list would json-roundtrip fine
            # but poison every later read (F.lit rejects dicts; the
            # streaming fill broadcasts lists row-wise) — reject BEFORE the
            # metadata commits, not on the first read after it
            if v is None or not isinstance(v, (bool, int, float, str)):
                raise TypeError(
                    f"default for {f.name!r} must be a scalar literal "
                    f"(bool/int/float/str), got {type(v).__name__}"
                )
            # castability probe (ANSI: a wrong-typed scalar raises here,
            # at evolve time, instead of on every subsequent read)
            self.spark.range(1).select(
                F.lit(v).cast(f.dataType)
            ).collect()

        def build(base: dict):
            schema = T.StructType.fromJson(json.loads(base["schema"]))
            existing = {f.name for f in schema.fields}
            added = [f for f in new_fields if f.name not in existing]
            # a default for a column that already exists must FAIL unless
            # it already carries the SAME default (idempotent crash-replay
            # of this very evolution) — silently dropping it would leave
            # the caller believing old files serve the default while they
            # serve NULL forever (caller error, or a concurrent add won
            # the race without one)
            cur_dflts = {}
            if base.get("column_defaults"):
                b_fids, _ = _field_meta(base)
                cur_dflts = {
                    n: base["column_defaults"][str(i)]
                    for n, i in b_fids.items()
                    if str(i) in base["column_defaults"]
                }
            conflicted = [
                c for c in defaults
                if c in existing and cur_dflts.get(c) != defaults[c]
            ]
            if conflicted:
                raise ValueError(
                    f"columns {conflicted} already exist; a default "
                    "attaches only at add time (initial-default semantics) "
                    "— it cannot be added or changed retroactively"
                )
            if not added:
                raise _SkipCommit(None)
            new_version = base["version"] + 1
            entry = {
                "schema_evolution": [f.name for f in added],
                "note": note,
                "version": new_version,
            }
            if defaults:
                entry["defaults"] = {
                    f.name: defaults[f.name] for f in added if f.name in defaults
                }
            segments: List[Tuple[str, dict]] = []
            new_meta = self._advance_meta(
                base, new_version, entry, dict(base["buckets"]), segments,
                None, None, dirty=base.get("dirty", {}),
            )
            new_meta["schema"] = T.StructType(list(schema.fields) + added).json()
            # field-id bookkeeping: added columns get FRESH never-reused ids
            # (a re-add after drop_column must NOT resurrect the old files'
            # same-named physical data — see _era_colmap); only materialized
            # when a rename/drop already happened (legacy additive tables
            # keep the synthesized positional ids, which stay consistent
            # because adds append).  A default REQUIRES materialization:
            # the pre-add files must take the era-grouped read path, whose
            # colmap knows the field id did not exist yet — the single-era
            # fast path would serve NULL for the missing physical column.
            if base.get("field_ids") is not None or any(
                f.name in defaults for f in added
            ):
                fids, log = _field_meta(base)
                # never-reused means never-reused across the table's WHOLE
                # history, not just the current schema: after drop_column
                # retires the max id, max(fids) would hand it back to the
                # next add and _era_colmap would serve the dropped column's
                # stale bytes under the new name.  The high-water mark
                # spans the current ids, every schema-log era, and the
                # persisted last_field_id (which restore() carries across
                # rollbacks).
                next_id = _next_field_id(base, fids, log)
                for f in added:
                    fids[f.name] = next_id
                    next_id += 1
                new_meta["field_ids"] = fids
                new_meta["schema_log"] = log + [
                    [new_version, {str(i): n for n, i in fids.items()}]
                ]
                new_meta["last_field_id"] = next_id - 1
                # a table with widen history records every era's physical
                # types: the added columns join the type log NOW so a
                # LATER widen of one of them still reads the files written
                # between this add and that widen under the narrow type
                if base.get("type_log"):
                    tmap = {
                        str(fids[f.name]): f.dataType.json()
                        for f in list(schema.fields) + added
                    }
                    new_meta["type_log"] = base["type_log"] + [[new_version, tmap]]
                if defaults:
                    dmap = dict(base.get("column_defaults") or {})
                    for f in added:
                        if f.name in defaults:
                            dmap[str(fids[f.name])] = defaults[f.name]
                    new_meta["column_defaults"] = dmap
            return new_meta, segments, entry

        self._commit_loop(self.metadata(), build)

    def rename_column(self, old: str, new: str, note: Optional[str] = None) -> dict:
        """Rename a column WITHOUT rewriting any data file (the Iceberg
        field-id rename analogue): a metadata-only commit records the new
        name against the column's stable field id and appends a schema-log
        era; reads map each file's physical column names to the current
        schema by the era its commit seq falls in (``_read_files``).  Key
        columns are not renamable — the key contract (``KEY_COLS``) is the
        engine-wide join/bucket/khash vocabulary.  ``stats_cols`` follow the
        rename (older manifests' bounds stay keyed by the old name and
        simply stop pruning — unbounded is always sound; ``compact()``
        refreshes them).  Concurrent writers rebase-fail on the schema
        change and re-run their bodies against the new names."""
        if old in KEY_COLS or new in KEY_COLS:
            raise ValueError(f"key columns {KEY_COLS} cannot be renamed")
        if new in (BUCKET_COL, KHASH_COL):
            raise ValueError(f"{new!r} is a reserved internal column name")

        def build(base: dict):
            schema = T.StructType.fromJson(json.loads(base["schema"]))
            names = [f.name for f in schema.fields]
            if old not in names:
                raise KeyError(f"column {old!r} not in table schema {names}")
            if new in names:
                raise ValueError(f"column {new!r} already exists in {names}")
            fids, log = _field_meta(base)
            new_version = base["version"] + 1
            fids = {(new if n == old else n): i for n, i in fids.items()}
            new_schema = T.StructType(
                [
                    T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                    for f in schema.fields
                ]
            )
            entry = {
                "rename_column": [old, new],
                "note": note,
                "version": new_version,
            }
            segments: List[Tuple[str, dict]] = []
            new_meta = self._advance_meta(
                base, new_version, entry, dict(base["buckets"]), segments,
                None, None, dirty=base.get("dirty", {}),
            )
            new_meta["schema"] = new_schema.json()
            new_meta["field_ids"] = fids
            new_meta["schema_log"] = log + [
                [new_version, {str(i): n for n, i in fids.items()}]
            ]
            if base.get("stats_cols"):
                new_meta["stats_cols"] = [
                    new if c == old else c for c in base["stats_cols"]
                ]
            if base.get("bloom_cols"):
                new_meta["bloom_cols"] = [
                    new if c == old else c for c in base["bloom_cols"]
                ]
            return new_meta, segments, entry

        return self._commit_loop(self.metadata(), build)

    def drop_column(self, name: str, note: Optional[str] = None) -> dict:
        """Drop a column WITHOUT rewriting any data file: metadata-only —
        the field id leaves the current schema and the new schema-log era,
        so era-mapped reads stop projecting it (old files keep the physical
        bytes until rewritten by compaction/merge; ``expire_snapshots``
        never sees them as waste because the files are still live).  A
        LATER ``evolve_schema`` re-adding the same name gets a FRESH field
        id, so the dropped files' stale same-named data can never
        resurrect.  Key columns cannot be dropped."""
        if name in KEY_COLS:
            raise ValueError(f"key columns {KEY_COLS} cannot be dropped")

        def build(base: dict):
            schema = T.StructType.fromJson(json.loads(base["schema"]))
            names = [f.name for f in schema.fields]
            if name not in names:
                raise KeyError(f"column {name!r} not in table schema {names}")
            if len(names) <= len(KEY_COLS) + 1:
                raise ValueError("cannot drop the last non-key column")
            fids, log = _field_meta(base)
            new_version = base["version"] + 1
            fids = {n: i for n, i in fids.items() if n != name}
            new_schema = T.StructType([f for f in schema.fields if f.name != name])
            entry = {"drop_column": name, "note": note, "version": new_version}
            segments: List[Tuple[str, dict]] = []
            new_meta = self._advance_meta(
                base, new_version, entry, dict(base["buckets"]), segments,
                None, None, dirty=base.get("dirty", {}),
            )
            new_meta["schema"] = new_schema.json()
            new_meta["field_ids"] = fids
            new_meta["schema_log"] = log + [
                [new_version, {str(i): n for n, i in fids.items()}]
            ]
            if base.get("stats_cols"):
                new_meta["stats_cols"] = [c for c in base["stats_cols"] if c != name]
            if base.get("bloom_cols"):
                new_meta["bloom_cols"] = [c for c in base["bloom_cols"] if c != name]
            if base.get("column_defaults"):
                # the default dies with the column (a later same-named
                # re-add gets a fresh id and starts clean)
                dropped_id = str(_field_meta(base)[0][name])
                new_meta["column_defaults"] = {
                    i: v
                    for i, v in base["column_defaults"].items()
                    if i != dropped_id
                }
            return new_meta, segments, entry

        return self._commit_loop(self.metadata(), build)

    def alter_properties(
        self,
        stats_cols: Optional[List[str]] = None,
        bloom_cols: Optional[List[str]] = None,
        target_file_rows: Optional[int] = None,
        write_mode: Optional[str] = None,
        note: Optional[str] = None,
        set: Optional[Dict[str, str]] = None,
        unset: Optional[List[str]] = None,
    ) -> dict:
        """Change table write properties after create (the ALTER TABLE SET
        TBLPROPERTIES analogue) as one metadata commit.  Only the passed
        properties change; None leaves a property as-is.

        ``stats_cols`` / ``bloom_cols``: apply to FUTURE writes — files
        already on disk carry whatever stats/blooms they were written with
        (a file without bounds for a new stats column is simply never
        pruned — sound; a sorted ``compact()`` rewrites everything under
        the new lists and makes pruning effective retroactively).
        ``target_file_rows`` / ``write_mode``: future commits only.
        Commutes with data commits; a lost install race recomputes against
        the winner's snapshot.

        ``set`` / ``unset``: free-form USER properties (string -> string,
        read back via :meth:`properties`) — the engine never interprets
        them; they version with the metadata like Iceberg TBLPROPERTIES and
        survive restore at their HEAD values (properties are table state,
        not snapshot state).  Layered modules pin their configuration here
        (e.g. ``cdc/incremental_dedup`` records its minhash parameters so
        an index can refuse mismatched probes)."""
        if write_mode is not None and write_mode not in ("cow", "mor"):
            raise ValueError(f"write_mode must be 'cow' or 'mor', got {write_mode!r}")
        if target_file_rows is not None and int(target_file_rows) <= 0:
            raise ValueError("target_file_rows must be positive")
        for k, v in (set or {}).items():
            if not isinstance(k, str) or not isinstance(v, str):
                raise TypeError(
                    f"user properties are string->string, got {k!r}: {v!r}"
                )

        def build(base: dict):
            schema = T.StructType.fromJson(json.loads(base["schema"]))
            known = {f.name for f in schema.fields}
            changed: Dict[str, object] = {}
            for key, val in (("stats_cols", stats_cols), ("bloom_cols", bloom_cols)):
                if val is None:
                    continue
                for c in val:
                    if c not in known:
                        raise KeyError(
                            f"{key} column {c!r} not in table schema {sorted(known)}"
                        )
                if list(val) != list(base.get(key) or []):
                    changed[key] = list(val)
            if (
                target_file_rows is not None
                and int(target_file_rows) != int(base.get("target_file_rows", 0))
            ):
                changed["target_file_rows"] = int(target_file_rows)
            if write_mode is not None and write_mode != base.get("write_mode"):
                changed["write_mode"] = write_mode
            if set or unset:
                props = dict(base.get("properties") or {})
                for k, v in (set or {}).items():
                    props[k] = v
                for k in unset or []:
                    props.pop(k, None)
                if props != (base.get("properties") or {}):
                    changed["properties"] = props
            if not changed:
                raise _SkipCommit(None)
            new_version = base["version"] + 1
            entry = {
                "alter_properties": changed,
                "note": note,
                "version": new_version,
            }
            segments: List[Tuple[str, dict]] = []
            new_meta = self._advance_meta(
                base, new_version, entry, dict(base["buckets"]), segments,
                None, None, dirty=base.get("dirty", {}),
            )
            new_meta.update(changed)
            return new_meta, segments, entry

        return self._commit_loop(self.metadata(), build)

    def properties(self, meta: Optional[dict] = None) -> Dict[str, str]:
        """Free-form user properties (``alter_properties(set=..., unset=...)``)
        at the current (or given) snapshot."""
        return dict((meta or self.metadata()).get("properties") or {})

    def column_defaults(self, meta: Optional[dict] = None) -> Dict[str, object]:
        """Current-name-keyed column defaults (see ``evolve_schema``):
        {column_name: literal} for every live column that has one."""
        meta = meta or self.metadata()
        dmap = meta.get("column_defaults") or {}
        if not dmap:
            return {}
        fids, _ = _field_meta(meta)
        return {n: dmap[str(i)] for n, i in fids.items() if str(i) in dmap}

    def widen_column(
        self, name: str, new_type: T.DataType, note: Optional[str] = None
    ) -> dict:
        """Widen a column's type WITHOUT rewriting any data file (the
        Iceberg type-promotion / Delta type-widening analogue): a
        metadata-only commit updates the schema and appends a TYPE-LOG era
        recording the physical type every live field was written under up
        to this version; era-mapped reads (``_read_files``) scan each file
        under its era's physical type and cast up to the current type —
        lossless by the promotion rules (``_is_widening``: integral ladder,
        float->double, <=int->double, non-truncating decimal growth).

        Manifest min/max bounds recorded under the old width keep pruning
        (numeric comparison is width-agnostic), and ``merge`` upcasts
        narrower-typed source batches automatically — the upstream can
        start shipping the wider type before or after the table widens.
        Key columns are part of the engine-wide khash/bucket vocabulary
        and cannot change type."""
        if name in KEY_COLS:
            raise ValueError(f"key columns {KEY_COLS} cannot be widened")

        def build(base: dict):
            schema = T.StructType.fromJson(json.loads(base["schema"]))
            by_name = {f.name: f for f in schema.fields}
            if name not in by_name:
                raise KeyError(
                    f"column {name!r} not in table schema "
                    f"{[f.name for f in schema.fields]}"
                )
            old = by_name[name].dataType
            if old == new_type:
                raise _SkipCommit(None)
            if not _is_widening(old, new_type):
                raise ValueError(
                    f"{old.simpleString()} -> {new_type.simpleString()} is "
                    "not a lossless widening (allowed: byte<short<int<long, "
                    "float->double, byte/short/int->double, decimal growth "
                    "with non-decreasing scale and integer digits)"
                )
            fids, log = _field_meta(base)
            new_version = base["version"] + 1
            new_schema = T.StructType(
                [
                    T.StructField(
                        f.name,
                        new_type if f.name == name else f.dataType,
                        f.nullable,
                    )
                    for f in schema.fields
                ]
            )
            entry = {
                "widen_column": [name, old.simpleString(), new_type.simpleString()],
                "note": note,
                "version": new_version,
            }
            segments: List[Tuple[str, dict]] = []
            new_meta = self._advance_meta(
                base, new_version, entry, dict(base["buckets"]), segments,
                None, None, dirty=base.get("dirty", {}),
            )
            new_meta["schema"] = new_schema.json()
            # era 0 of a fresh type log = the PRE-widen current schema (the
            # physical types of every file written so far, including columns
            # added after create — a column's physical type never changes
            # except through this method)
            tlog = base.get("type_log") or [
                [0, {str(fids[f.name]): f.dataType.json() for f in schema.fields}]
            ]
            new_meta["type_log"] = tlog + [
                [
                    new_version,
                    {str(fids[f.name]): f.dataType.json() for f in new_schema.fields},
                ]
            ]
            # materialize field ids so later rename/drop/add eras key the
            # SAME ids the type log uses (idempotent for already-evolved
            # tables; positional for legacy ones — consistent either way)
            new_meta["field_ids"] = fids
            new_meta["schema_log"] = log
            new_meta["last_field_id"] = max(
                int(base.get("last_field_id", -1)), *fids.values()
            )
            return new_meta, segments, entry

        return self._commit_loop(self.metadata(), build)

    def _align_source(self, df: DataFrame, schema: T.StructType) -> DataFrame:
        """Cast source payload columns whose types differ from the table
        schema: a NARROWER source type upcasts losslessly (an int batch
        into a ``widen_column``-ed bigint column); anything else is a loud
        error at ingest — the merge write path writes payload columns
        uncast, so a wider- or cross-typed source would land physical data
        contradicting the schema and break every later explicit-schema
        scan at read time instead."""
        by_name = {f.name: f.dataType for f in df.schema.fields}
        casts = []
        for f in schema.fields:
            src = by_name.get(f.name)
            # nullability-insensitive: a nested column built from
            # expressions differs from the schema only in its
            # nullable/containsNull flags — identical on disk, no cast
            if src is None or _nn(src) == _nn(f.dataType):
                continue
            if not _is_widening(src, f.dataType):
                raise TypeError(
                    f"source column {f.name!r} is {src.simpleString()} but "
                    f"the table schema says {f.dataType.simpleString()}; if "
                    "the upstream type widened, run widen_column() first "
                    "(lossless promotions only)"
                )
            casts.append(f)
        for f in casts:
            df = df.withColumn(f.name, F.col(f.name).cast(f.dataType))
        return df

    # -- maintenance ------------------------------------------------------

    def compact(
        self,
        buckets: Optional[List[int]] = None,
        min_files: int = 2,
        sort_cols: Optional[List[str]] = None,
        zorder: bool = False,
    ) -> dict:
        """Rewrite each bucket holding >= ``min_files`` files — plus every
        DIRTY (merge-on-read) bucket regardless of count — into a fresh
        khash-sorted, non-overlapping file sequence (undoing insert-order
        range overlap).  Dirty buckets are resolved (per-key winner, exactly
        the ``read()`` semantics), tombstones are dropped, and the bucket
        returns to the scan-only read path.  Metadata-only semantics: table
        state (and ``state_checksum``) is unchanged; old files age out via
        ``expire_snapshots``.

        ``sort_cols``: re-cluster each bucket by these columns FIRST (khash
        last) — the Delta ``OPTIMIZE ZORDER BY`` / Iceberg sort-order
        rewrite analogue.  Files then carry tight ``stats_cols`` bounds, so
        ``scan`` predicates on those columns prune to O(matching files)
        even when ingest scattered the values.  The documented trade: the
        bucket's files stop being khash-disjoint, so the NEXT merge into it
        prunes worse (read amplification, never wrongness — MERGE pruning
        is interval-intersection).  Use for read-mostly / analytical
        tables, after bulk loads, or on a schedule — the same guidance as
        Delta's OPTIMIZE.

        ``zorder=True`` (with 2-4 ``sort_cols``): cluster by the columns'
        interleaved-bit Morton code instead of lexicographically — file
        bounds then stay tight for EVERY listed column independently, so
        ``scan`` prunes on any of them (a lexicographic sort only tightens
        the leading column).  Pure Catalyst expressions; one extra (min,
        max) aggregation per numeric column to calibrate the scaling.  See
        ``cdc/clustering.py``.

        Concurrency: the rewrite is valid only against the file sets it
        read, so a concurrent commit into a compacted bucket forces a body
        re-run (``_BODY_ATTEMPTS``); commits into other buckets rebase for
        free.  This is what makes a background compactor safe to run beside
        a live ingest writer."""
        return _retry_body(
            lambda: self._compact_once(buckets, min_files, sort_cols, zorder)
        )

    def _compact_once(
        self,
        buckets: Optional[List[int]],
        min_files: int,
        sort_cols: Optional[List[str]] = None,
        zorder: bool = False,
    ) -> dict:
        meta = self.metadata()
        files = self._bucket_files(meta, buckets)
        dirty = meta.get("dirty", {})
        todo = {
            b: es
            for b, es in files.items()
            if len(es) >= min_files or str(b) in dirty
        }
        if not todo:
            return {"compacted_buckets": 0, "files_before": 0, "files_after": 0}
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        known = {f.name for f in schema.fields}
        for c in sort_cols or []:
            if c not in known:
                raise KeyError(f"sort column {c!r} not in table schema {sorted(known)}")
        df = self._read_plan(meta, todo)
        new_files: Dict[int, List[dict]] = {}
        if df is not None:
            if zorder:
                from .clustering import zorder_column

                order = [
                    F.col(BUCKET_COL),
                    zorder_column(df, list(sort_cols or []), schema),
                    F.col(KHASH_COL),
                ]
            else:
                order = [BUCKET_COL, *(sort_cols or []), KHASH_COL]
            new_files = self._stage(df, meta, len(todo), order=order)
        # else every qualifying bucket holds only clean-bucket tombstones
        # (deletes of never-present keys): nothing to read or rewrite — the
        # commit simply drops those entries (semantics-free, they suppress
        # nothing) and GC reclaims the files
        entry = {
            "compaction": sorted(todo),
            "files_before": sum(len(es) for es in todo.values()),
            "files_after": sum(len(es) for es in new_files.values()),
        }
        return self._install_rewrite(meta, sorted(todo), todo, {}, new_files, entry)

    def delete_where(self, where, batch_id: Optional[str] = None) -> dict:
        """Row-level predicate delete (``DELETE FROM t WHERE …`` — the
        GDPR-erasure / retention op).  Cost is O(files that can match):
        candidate files come from the same manifest stats pruning as
        ``scan``, each candidate is rewritten without its matching rows,
        and every bounds-excluded file is untouched.  NULL predicate
        values never delete (SQL semantics: only rows where the predicate
        is TRUE go).  ``batch_id`` makes the op exactly-once across
        retries/writers (recorded in the applied set; a duplicate skips).

        Dirty (merge-on-read) buckets resolve fully on the way through and
        come out clean (same as ``compact``) — a predicate cannot be
        evaluated against unresolved multi-version state."""
        return _retry_body(lambda: self._mutate_once(where, None, batch_id))

    def update_where(
        self, where, set_values: Dict[str, object], batch_id: Optional[str] = None
    ) -> dict:
        """Row-level predicate update (``UPDATE t SET … WHERE …``).
        ``set_values`` maps non-key columns to literals or Column
        expressions (evaluated against the row, so ``{"lang":
        F.upper("lang")}`` works).  Key columns are rejected — changing a
        key is a delete+insert (it moves the row's bucket and khash), use
        ``merge`` for that.  Pruning, NULL semantics, exactly-once and
        dirty-bucket handling as in ``delete_where``."""
        if not set_values:
            raise ValueError("update_where requires at least one SET column")
        set_values = dict(set_values)
        return _retry_body(lambda: self._mutate_once(where, set_values, batch_id))

    def _mutate_once(
        self, where, set_values: Optional[Dict[str, object]], batch_id: Optional[str]
    ) -> dict:
        meta = self.metadata()
        if batch_id is not None and self.is_applied(batch_id, meta):
            return {"batch_id": batch_id, "skipped": True, "version": meta["version"]}
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        preds = self._scan_predicates(schema, where)
        if not preds:
            raise ValueError("a predicate mutation requires at least one predicate")
        names = {f.name for f in schema.fields}
        for c in set_values or {}:
            if c in KEY_COLS:
                raise ValueError(
                    f"cannot SET key column {c!r}: a key change is a delete+insert (use merge)"
                )
            if c not in names:
                raise KeyError(f"SET column {c!r} not in table schema {sorted(names)}")
        files = self._bucket_files(meta)
        dirty = meta.get("dirty", {})
        era_preds = self._era_preds(meta, preds)
        # plan: dirty buckets resolve fully; clean buckets rewrite only the
        # files whose stats bounds can match, carrying the rest untouched
        # (bounds looked up under each file's ERA-physical column names —
        # see _era_preds for the rename-into-reused-name hazard)
        plan: Dict[int, List[dict]] = {}
        carry: Dict[int, List[dict]] = {}
        for b, entries in files.items():
            if str(b) in dirty:
                plan[b] = entries
                continue
            cand = [
                e for e in entries
                if e.get("kind") != "tomb"
                and _file_may_match(e.get("cols"), era_preds(_entry_seq(e)))
            ]
            if cand:
                plan[b] = cand
                carry[b] = [e for e in entries if e not in cand]
        op_name = "update" if set_values else "delete"
        if not plan and batch_id is None:
            return {"mutation": op_name, "rows_matched": 0, "files_rewritten": 0,
                    "skipped": False, "version": meta["version"]}

        df = self._read_plan(meta, plan)
        new_files: Dict[int, List[dict]] = {}
        matched = 0
        if df is not None:
            from pyspark.sql import Observation

            resid = None
            for col, op, val in preds:
                c = _PRED_EXPRS[op](F.col(col), F.lit(val))
                resid = c if resid is None else (resid & c)
            hit = F.coalesce(resid, F.lit(False))  # NULL predicate = not matched
            # rows_matched rides the write job as an observed metric — a
            # separate count() action would scan every candidate file
            # (and re-run the dirty-bucket resolution shuffle) twice
            obs = Observation()
            df = df.observe(obs, F.count(F.when(hit, True)).alias("matched"))
            if set_values:
                # ONE projection so every SET expression and the predicate
                # see the ORIGINAL row (SQL UPDATE semantics) — sequential
                # withColumn would let an earlier SET rewrite the predicate
                # column out from under the later ones
                proj = []
                for name in df.columns:
                    if name in set_values:
                        v = set_values[name]
                        newv = v if hasattr(v, "cast") else F.lit(v)
                        proj.append(
                            F.when(hit, newv.cast(schema[name].dataType))
                            .otherwise(F.col(name))
                            .alias(name)
                        )
                    else:
                        proj.append(F.col(name))
                out = df.select(*proj)
            else:
                out = df.where(~hit)
            new_files = self._stage(out, meta, len(plan))
            try:
                matched = int(obs.get["matched"])  # write action already ran
            except Exception:
                # zero-output writes (e.g. a delete matching every row) never
                # deliver the observed-metrics row (Spark 4.1: toPyRow
                # asserts on the empty sink's missing metrics); this rare
                # path pays the second scan the observation exists to avoid
                matched = df.where(hit).count()
        entry = {
            "mutation": op_name,
            "predicates": [[c, o, repr(v)] for c, o, v in preds],
            "rows_matched": matched,
            "files_rewritten": sum(
                e.get("kind") != "tomb" for es in plan.values() for e in es
            ),
        }
        if set_values:
            entry["set_columns"] = sorted(set_values)
        return self._install_rewrite(
            meta, list(plan), plan, carry, new_files, entry, batch_id=batch_id
        )

    def merge_into(self, source: DataFrame) -> "MergeIntoBuilder":
        """General conditional MERGE (the Delta/Iceberg ``MERGE INTO``
        analogue): returns a fluent builder —

            (lake.merge_into(source)
                 .when_matched_update({"lang": F.col("s.lang")})
                 .when_matched_delete(condition=F.col("s.op") == "erase")
                 .when_not_matched_insert()
                 .execute(batch_id="b42"))

        Conditions and SET/INSERT values are Column expressions over the
        aliases ``t`` (target row) and ``s`` (source row).  Without
        by-source clauses the target side is pruned to the files that can
        contain a source key (same two-phase machinery as ``merge``);
        ``when_not_matched_by_source_*`` forces the documented full-table
        scan.  See ``cdc/merge_into.py`` for the full semantics contract."""
        from .merge_into import MergeIntoBuilder

        return MergeIntoBuilder(self, source)

    def rebucket(self, new_n_buckets: int, note: Optional[str] = None) -> dict:
        """Bucket-layout evolution (the Iceberg partition-evolution analogue
        for hash buckets): rewrite the table's CURRENT state into
        ``new_n_buckets`` hash buckets and install it as one commit.  A
        bucket count chosen at bootstrap scale does not hold at 100 TB —
        growth keeps per-bucket file sets ~1 GB-class as the table grows;
        shrink consolidates an over-partitioned small table.

        Constraints and semantics:

        * the factor must be an INTEGER (``new % old == 0`` or
          ``old % new == 0``).  That invariant is what keeps every consumer
          correct across the boundary with no key re-hashing: for g =
          gcd(old, new), ``key_bucket mod g`` is layout-independent, so the
          streaming source pairs old/new buckets by their id mod g and the
          follower simply drops its changed-bucket pruning hint for a
          window that crosses the boundary (``changes()`` itself never
          pairs buckets — its full-outer key diff is layout-agnostic);
        * table STATE is unchanged (``state_checksum`` identical); dirty
          (merge-on-read) buckets are resolved on the way through, exactly
          like ``compact``;
        * time travel still works: each snapshot carries its own
          ``n_buckets``, so reads at pre-rebucket versions use the old
          layout untouched (old files age out via ``expire_snapshots``);
        * per-bucket watermarks remap with the keys: on growth every new
          bucket inherits its source bucket's watermark (exact — all its
          keys came from ``b mod old_n``); on shrink a merged bucket takes
          the MIN over its sources when all of them carry one (the
          conservative resume point; with the default range-watermark
          replay all buckets share one value, so min is exact), else none.

        * concurrency: the rewrite reads the whole table, so ANY commit
          landing before its install re-runs the body against the fresh
          snapshot (up to ``_BODY_ATTEMPTS`` times, like ``compact``).

        Returns the lineage entry.  Cost: one full-table read + write —
        the explicit one-time price of a layout change, never paid by
        normal commits."""
        return _retry_body(lambda: self._rebucket_once(new_n_buckets, note))

    def _rebucket_once(self, new_n_buckets: int, note: Optional[str]) -> dict:
        meta = self.metadata()
        old_n = meta["n_buckets"]
        if new_n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {new_n_buckets}")
        if new_n_buckets == old_n:
            raise ValueError(f"table already has {old_n} buckets")
        if new_n_buckets % old_n and old_n % new_n_buckets:
            raise ValueError(
                f"bucket count must grow or shrink by an integer factor "
                f"(got {old_n} -> {new_n_buckets}); chain factors for "
                f"other targets"
            )
        files = self._bucket_files(meta, None)
        # note new_n_buckets: rows are labeled in the NEW layout
        df = self._read_plan(meta, files, n_buckets=new_n_buckets)
        new_files = {} if df is None else self._stage(df, meta, new_n_buckets)

        old_wms = meta.get("watermarks", {})
        new_wms: Dict[str, int] = {}
        if old_wms:
            if new_n_buckets % old_n == 0:
                for b in range(new_n_buckets):
                    src = str(b % old_n)
                    if src in old_wms:
                        new_wms[str(b)] = old_wms[src]
            else:
                k = old_n // new_n_buckets
                for b in range(new_n_buckets):
                    srcs = [str(b + i * new_n_buckets) for i in range(k)]
                    if all(s in old_wms for s in srcs):
                        new_wms[str(b)] = min(old_wms[s] for s in srcs)

        entry = {
            "rebucket": [old_n, new_n_buckets],
            "files_after": sum(len(es) for es in new_files.values()),
        }
        if note:
            entry["note"] = note
        # rebucket reads the WHOLE table (read_set=None): any interleaved
        # commit invalidates the rewrite and re-runs the body; every old
        # bucket leaves the map, the new layout holds only the new files
        return self._install_rewrite(
            meta, None, set(files) | set(new_files), {}, new_files, entry,
            relayout={"n_buckets": new_n_buckets, "watermarks": new_wms, "dirty": {}},
        )

    def compact_if_needed(self, max_files_per_bucket: int = 16) -> dict:
        """Bounded read-amplification policy for a merge-on-read tail: a
        dirty bucket accumulates one data file (+ tombstone file) per MoR
        merge forever; compact exactly the buckets whose live file count
        reached ``max_files_per_bucket``, leaving the rest untouched (no
        write amplification for quiet buckets).  Call between micro-batches
        or from a maintenance loop; state is unchanged (compaction
        semantics), and the next read of the compacted buckets is scan-only
        again.  Returns ``compact()``'s summary, or a zero summary when no
        bucket crossed the threshold.

        Conflict posture: this is the BACKGROUND-maintenance entry point, so
        losing its commit race to a live writer is normal operation, not an
        error — compaction is semantically a no-op, nothing is owed to
        anyone.  A ``CommitConflictError`` (the ingest writer kept touching
        the buckets mid-compact) is reported as ``{"conflict": True}`` and
        the caller's next cycle simply tries again.  ``compact()`` itself
        stays strict: when called directly (e.g. by COW MERGE's dirty-bucket
        resolution) the caller needs the result."""
        meta = self.metadata()
        dirty = meta.get("dirty", {})
        if not dirty:
            return {"compacted_buckets": 0, "files_before": 0, "files_after": 0}
        files = self._bucket_files(meta, [int(b) for b in dirty])
        over = [b for b, es in files.items() if len(es) >= max_files_per_bucket]
        if not over:
            return {"compacted_buckets": 0, "files_before": 0, "files_after": 0}
        try:
            out = self.compact(buckets=over, min_files=1)
        except CommitConflictError:
            return {
                "compacted_buckets": 0, "files_before": 0, "files_after": 0,
                "conflict": True,
            }
        out["compacted_buckets"] = len(over)
        return out

    def restore(self, version: int, note: Optional[str] = None) -> dict:
        """Roll the table back to snapshot ``version`` as a NEW commit (the
        Delta ``RESTORE TABLE ... TO VERSION`` / Iceberg rollback analogue) —
        the bad-batch undo a CDC operator actually runs.  Metadata-only and
        O(1): manifests and data files are immutable, so restoring is
        re-pointing the bucket map, schema, layout and dirty flags at the
        old snapshot's values under a fresh version — nothing is rewritten,
        history is preserved (the restore itself is a lineage entry, and
        time travel ABOVE the restored version still works until expiry).

        Exactly-once bookkeeping is intentionally NOT rolled back: the
        applied-batch set and watermarks keep their current values, so a
        replayer pointed at the restored table will not silently re-apply
        batches the operator wanted undone — re-ingesting them is an
        explicit choice (new batch ids), not an accident.  Goes through the
        optimistic commit loop; restoring concurrently with live writers
        rebases like any other commit."""
        target = self.metadata(version)  # raises if expired

        def build(base: dict):
            new_version = base["version"] + 1
            entry = {
                "restore": version,
                "version": new_version,
                "ts": time.time(),
            }
            if note:
                entry["note"] = note
            segments: List[Tuple[str, dict]] = []
            new_meta = self._advance_meta(
                base, new_version, entry, dict(target["buckets"]), segments,
                None, None, dirty=dict(target.get("dirty", {})),
            )
            new_meta["schema"] = target["schema"]
            new_meta["n_buckets"] = target["n_buckets"]
            # the schema-evolution metadata must travel WITH the schema: a
            # rename/drop between target and head leaves the current
            # field_ids keyed by names the restored schema doesn't have
            # (every read would KeyError), and the current schema_log's
            # later eras describe files the restored bucket map no longer
            # references.  The restored snapshot therefore takes the
            # target's field_ids / schema_log / stats_cols / bloom_cols
            # verbatim — files visible after the restore were all committed
            # at seq <= target version, so the target's log resolves every
            # one of them exactly as it did then, and post-restore writes
            # resolve through its last era (whose names ARE the restored
            # schema).  last_field_id keeps the MAX of both lineages so a
            # post-restore evolve_schema can never re-issue an id consumed
            # by an abandoned later era (stale same-named bytes would
            # otherwise resurrect through _era_colmap).
            # type_log rides along for the same reason: keeping the HEAD's
            # log would stamp post-restore writes (seq above an abandoned
            # widen era) with the WIDE physical type while the restored
            # schema writes them narrow — reads would depend on the parquet
            # reader's promotion support instead of the era map being right
            for k in ("field_ids", "schema_log", "type_log", "column_defaults",
                      "stats_cols", "bloom_cols"):
                if target.get(k) is not None:
                    new_meta[k] = target[k]
                else:
                    new_meta.pop(k, None)
            hw = max(int(base.get("last_field_id", -1)),
                     int(target.get("last_field_id", -1)))
            t_fids, t_log = _field_meta(target)
            if base.get("field_ids") is not None:
                b_fids, b_log = _field_meta(base)
                hw = max(hw, _next_field_id(base, b_fids, b_log) - 1)
            if target.get("field_ids") is not None or hw >= 0:
                hw = max(hw, _next_field_id(target, t_fids, t_log) - 1)
                new_meta["last_field_id"] = hw
            return new_meta, segments, entry

        return self._commit_loop(self.metadata(), build)

    # -- metadata tables (Iceberg files/snapshots/partitions analogue) ----

    def files(self, version: Optional[int] = None) -> DataFrame:
        """Metadata table of the snapshot's live files (the Iceberg
        ``table.files`` analogue): one row per manifest entry — bucket,
        path, kind (data/tomb), commit seq, rows, bytes, khash range, and
        the recorded ``stats_cols`` bounds as a ``{col: [lo, hi]}`` map
        (string-encoded, the manifest representation).  Driver-built from
        manifests only; no data file is opened."""
        meta = self.metadata(version)
        dirty = meta.get("dirty", {})
        rows = []
        for b, entries in self._bucket_files(meta).items():
            for e in entries:
                bounds = {
                    c: [str(lo), str(hi)] for c, (lo, hi) in (e.get("cols") or {}).items()
                }
                rows.append(
                    (
                        b,
                        e["path"],
                        e.get("kind", "data"),
                        _entry_seq(e),
                        int(e.get("rows", 0)),
                        int(e.get("bytes", 0)),
                        int(e.get("min_h", _FULL_RANGE[0])),
                        int(e.get("max_h", _FULL_RANGE[1])),
                        str(b) in dirty,
                        bounds,
                    )
                )
        schema = (
            "bucket long, path string, kind string, seq long, rows long, "
            "bytes long, min_khash long, max_khash long, dirty boolean, "
            "bounds map<string, array<string>>"
        )
        return self.spark.createDataFrame(rows, schema)

    def snapshots(self) -> DataFrame:
        """Metadata table of the RETAINED snapshots on this ref (the
        Iceberg ``table.snapshots`` analogue): version, commit kind +
        batch id (from the lineage entry where retained), bucket/layout
        facts, and whether each snapshot is the current head.  Versions
        expired by ``expire_snapshots`` no longer appear."""
        import re as _re

        metas = []
        for p in _glob.glob(os.path.join(self._meta_dir(), "v*.json")):
            m = _re.fullmatch(r"v(\d+)\.json", os.path.basename(p))
            if m:
                metas.append(int(m.group(1)))
        cur = self.version
        by_version = {}
        for e in self.lineage():
            if "version" in e:
                by_version[int(e["version"])] = e
        rows = []
        for v in sorted(metas):
            meta = self.metadata(v)
            e = by_version.get(v, {})
            if "schema_evolution" in e:
                kind = "schema_evolution"
            elif "rename_column" in e:
                kind = "rename_column"
            elif "drop_column" in e:
                kind = "drop_column"
            elif "compaction" in e:
                kind = "compaction"
            elif "restore" in e:
                kind = "restore"
            elif "rebucket" in e:
                kind = "rebucket"
            elif "mutation" in e:
                kind = e["mutation"]
            elif v == 0:
                kind = "create"
            else:
                kind = "merge"
            rows.append(
                (
                    v,
                    kind,
                    e.get("batch_id"),
                    float(e["ts"]) if "ts" in e else None,
                    meta["n_buckets"],
                    len(meta["buckets"]),
                    len(meta.get("dirty", {})),
                    v == cur,
                )
            )
        schema = (
            "version long, kind string, batch_id string, committed_at double, "
            "n_buckets long, live_buckets long, dirty_buckets long, "
            "is_current boolean"
        )
        return self.spark.createDataFrame(rows, schema)

    def partitions(self, version: Optional[int] = None) -> DataFrame:
        """Metadata table of per-bucket aggregates (the Iceberg
        ``table.partitions`` analogue): file/row/byte totals and MoR state
        per hash bucket — the skew/health view a compaction scheduler or
        operator dashboard reads."""
        return (
            self.files(version)
            .groupBy("bucket", "dirty")
            .agg(
                F.count("*").alias("files"),
                F.sum(F.when(F.col("kind") == "data", F.col("rows")).otherwise(0)).alias("rows"),
                F.sum("bytes").alias("bytes"),
                F.sum(F.when(F.col("kind") == "tomb", 1).otherwise(0)).alias("tomb_files"),
                F.countDistinct("seq").alias("distinct_seqs"),
            )
            .orderBy("bucket")
        )

    # -- tags (immutable named snapshots) ----------------------------------

    def _tags_dir(self) -> str:
        return os.path.join(self.root, "metadata", "tags")

    def create_tag(self, name: str, version: Optional[int] = None) -> dict:
        """Pin a snapshot under an immutable name (the Iceberg tag
        analogue — audit marks, release cuts, ML-training data versions).
        A tagged snapshot and every file it references survive
        ``expire_snapshots`` until the tag is deleted.  Tags are
        put-if-absent: re-tagging an existing name raises."""
        _validate_ref_name(name)
        v = self.version if version is None else int(version)
        if not os.path.exists(self._meta_path(v)):
            raise FileNotFoundError(f"no snapshot v{v} on ref {self.ref!r}")
        os.makedirs(self._tags_dir(), exist_ok=True)
        tag = {"name": name, "ref": self.ref, "version": v, "created_at": time.time()}
        path = os.path.join(self._tags_dir(), f"{name}.json")
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(tag, fh)
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise FileExistsError(f"tag {name!r} already exists")
        finally:
            os.unlink(tmp)
        return tag

    def tag_version(self, name: str) -> int:
        """Snapshot version a tag pins (read it via ``read(version=...)``).

        Version numbers are per-ref (each ref has its own snapshot chain),
        so a tag is only resolvable from a handle on the ref it was created
        on — resolving a branch tag through a main handle would silently
        read main's same-numbered snapshot, a completely different table
        state.  A ref mismatch therefore raises; open
        ``LakeTable(root, spark, ref=<tag ref>)`` to read it."""
        path = os.path.join(self._tags_dir(), f"{name}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(f"no tag {name!r} at {self.root!r}")
        with open(path) as fh:
            tag = json.load(fh)
        tref = tag.get("ref", "main")
        if tref != self.ref:
            raise ValueError(
                f"tag {name!r} pins v{tag['version']} on ref {tref!r}, not "
                f"{self.ref!r}; open LakeTable(root, spark, ref={tref!r}) to read it"
            )
        return int(tag["version"])

    def list_tags(self) -> List[dict]:
        out = []
        for p in sorted(_glob.glob(os.path.join(self._tags_dir(), "*.json"))):
            with open(p) as fh:
                out.append(json.load(fh))
        return out

    def delete_tag(self, name: str) -> None:
        path = os.path.join(self._tags_dir(), f"{name}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(f"no tag {name!r} at {self.root!r}")
        os.remove(path)

    # -- branches / write-audit-publish -----------------------------------

    def create_branch(self, name: str) -> "LakeTable":
        """Fork a branch at the current snapshot (the Iceberg branch-ref /
        write-audit-publish analogue): a new snapshot CHAIN under
        ``metadata/refs/<name>/`` starting from a copy of this ref's head.
        Data and manifest files are SHARED by relative path (commit-unique
        names, so writers on different refs never collide); a branch fork
        is therefore O(1) metadata, zero data copied.

        The WAP flow: ``b = lake.create_branch("wap-42")`` -> ingest +
        validate against ``b`` (every LakeTable op works on a branch handle)
        -> ``lake.fast_forward("wap-42")`` to publish, or
        ``lake.delete_branch("wap-42")`` to abandon.  Until publish, main
        readers never observe the branch's commits."""
        _validate_ref_name(name)
        meta = self.metadata()
        branch = LakeTable(self.root, self.spark, ref=name)
        try:
            os.makedirs(branch._meta_dir())
        except FileExistsError:
            raise FileExistsError(f"branch {name!r} already exists at {self.root!r}")
        bmeta = {**meta, "branch": name, "forked_from": self.ref, "forked_at": meta["version"]}
        if not branch._try_install_snapshot(bmeta):
            raise FileExistsError(f"branch {name!r} already exists at {self.root!r}")
        return branch

    def branch(self, name: str) -> "LakeTable":
        """Handle to an EXISTING branch (same root, different snapshot chain)."""
        _validate_ref_name(name)
        b = LakeTable(self.root, self.spark, ref=name)
        if not os.path.exists(b._current_path()):
            raise FileNotFoundError(f"no branch {name!r} at {self.root!r}")
        return b

    def list_branches(self) -> List[dict]:
        refs_dir = os.path.join(self.root, "metadata", "refs")
        out = []
        for name in sorted(os.listdir(refs_dir)) if os.path.isdir(refs_dir) else []:
            try:
                m = LakeTable(self.root, self.spark, ref=name).metadata()
            except FileNotFoundError:
                continue
            out.append(
                {
                    "name": name,
                    "version": m["version"],
                    "forked_from": m.get("forked_from", "main"),
                    "forked_at": m.get("forked_at"),
                }
            )
        return out

    def delete_branch(self, name: str) -> None:
        """Drop a branch's snapshot chain (abandon its unpublished commits).
        Data files only the branch referenced become unreferenced and age
        out via ``expire_snapshots``."""
        _validate_ref_name(name)
        import shutil

        d = LakeTable(self.root, self.spark, ref=name)._meta_dir()
        if not os.path.isdir(d):
            raise FileNotFoundError(f"no branch {name!r} at {self.root!r}")
        shutil.rmtree(d)

    def fast_forward(self, name: str) -> dict:
        """Publish a branch: install its commits ``forked_at+1 .. head``
        onto THIS ref, one put-if-absent snapshot at a time.  True
        fast-forward only — requires (a) the branch was forked from this
        ref, and (b) this ref has not advanced past the fork point;
        otherwise raises ``CommitConflictError`` (the branch's commit seqs
        would interleave wrongly with the diverged history — re-fork and
        replay instead, exactly Iceberg's fast-forward contract).  Losing
        an install race mid-publish leaves this ref on a consistent PREFIX
        of the branch (every installed snapshot is a real branch snapshot);
        the error says where it stopped.  The branch chain itself is
        untouched — delete it after a successful publish."""
        b = self.branch(name)
        bmeta = b.metadata()
        if bmeta.get("forked_from") != self.ref:
            raise CommitConflictError(
                f"branch {name!r} was forked from {bmeta.get('forked_from')!r}, "
                f"not {self.ref!r}"
            )
        fork = int(bmeta["forked_at"])
        cur = self.version
        if cur != fork:
            raise CommitConflictError(
                f"{self.ref!r} advanced to v{cur} past the fork point v{fork}; "
                f"fast-forward must be conflict-free — re-fork and replay"
            )
        published = 0
        for v in range(fork + 1, bmeta["version"] + 1):
            m = b.metadata(v)
            m = {k: x for k, x in m.items() if k not in ("branch", "forked_from", "forked_at")}
            if not self._try_install_snapshot(m):
                raise CommitConflictError(
                    f"lost the install race at v{v} while publishing {name!r}; "
                    f"{published} of {bmeta['version'] - fork} commits landed "
                    f"(a consistent branch prefix)"
                )
            published += 1
        return {"branch": name, "published_commits": published, "version": self.version}

    def expire_snapshots(
        self,
        keep_last: int = 1,
        min_age_seconds: float = 0.0,
        _all_ref_history: bool = False,
    ) -> dict:
        """Retain the last ``keep_last`` snapshots; delete older snapshot
        JSONs and every data/manifest file no retained snapshot references —
        including crash orphans (files written by a commit whose snapshot
        never installed).  Time travel remains available within the retained
        window.

        ``min_age_seconds`` (the Delta ``deletedFileRetentionDuration`` /
        Iceberg ``expire_snapshots`` retention analogue): unreferenced files
        younger than this are KEPT.  With concurrent writers this must
        exceed the longest commit duration — an in-flight commit's staged
        data files are unreferenced until its snapshot installs, and a
        racing expiry at 0 would delete them out from under it.  The default
        0 is for the single-writer maintenance flow (and tests) where an
        unreferenced file is definitionally garbage."""
        current = self.version
        cutoff = time.time() - float(min_age_seconds)
        retained = [v for v in range(max(0, current - keep_last + 1), current + 1)
                    if os.path.exists(self._meta_path(v))]
        # tag-pinned snapshots are retained regardless of age (delete_tag
        # releases them to the next expiry).  Tags on THIS ref pin their
        # snapshot json + files; tags on OTHER refs pin their FILES too —
        # data/manifest files are shared across refs, so an expiry from any
        # handle must honor every ref's tags (their snapshot jsons live in
        # their own ref dir, which this handle never deletes).
        cross_ref_tags = []
        for t in self.list_tags():
            if t.get("ref", "main") == self.ref:
                if t["version"] not in retained and os.path.exists(
                    self._meta_path(t["version"])
                ):
                    retained.append(t["version"])
            else:
                cross_ref_tags.append(t)
        retained.sort()
        keep_files: set = set()
        keep_meta: set = {f"v{v}.json" for v in retained} | {"CURRENT"}

        def _retain(meta: dict) -> None:
            for rel in set(meta["buckets"].values()):
                keep_meta.add(os.path.basename(rel))
                for entries in self._read_manifest(rel)["buckets"].values():
                    keep_files.update(e["path"] for e in entries)
            for rel in meta["applied"]["segments"] + meta["lineage_segments"]:
                keep_meta.add(os.path.basename(rel))

        for v in retained:
            _retain(self.metadata(v))
        # every OTHER live ref keeps its head referenced: data/manifest files
        # are shared across refs, so expiry from any handle must never
        # delete a file another ref's head still points at.  (Only heads:
        # a branch's intermediate snapshots lose time travel after a main
        # expiry — its current state is always intact.  Per-ref retention
        # policies, as in Iceberg, are the extension point.)
        other_refs = [r["name"] for r in self.list_branches() if r["name"] != self.ref]
        if self.ref != "main":
            other_refs.append("main")
        for r in other_refs:
            handle = LakeTable(self.root, self.spark, ref=r)
            if _all_ref_history:
                # orphan-removal mode: EVERY retained snapshot of every
                # ref pins its files — another ref's intermediate history
                # must stay time-travelable (the head-only policy below is
                # expiry's documented trade, wrong for a pure-GC sweep)
                for p in _glob.glob(os.path.join(handle._meta_dir(), "v*.json")):
                    try:
                        with open(p) as fh:
                            _retain(json.load(fh))
                    except (FileNotFoundError, json.JSONDecodeError):
                        continue
                continue
            try:
                _retain(handle.metadata())
            except FileNotFoundError:
                continue
        for t in cross_ref_tags:
            try:
                _retain(
                    LakeTable(self.root, self.spark, ref=t.get("ref", "main"))
                    .metadata(t["version"])
                )
            except FileNotFoundError:
                continue
        removed_files = removed_bytes = removed_snapshots = 0
        data_root = os.path.join(self.root, "data")
        for path in _glob.glob(os.path.join(data_root, "**", "*.parquet"), recursive=True):
            rel = os.path.relpath(path, self.root)
            if rel not in keep_files and os.path.getmtime(path) <= cutoff:
                removed_bytes += os.path.getsize(path)
                os.remove(path)
                removed_files += 1
        for d in sorted(_glob.glob(os.path.join(data_root, "*", "*", "*")) +
                        _glob.glob(os.path.join(data_root, "*", "*")) +
                        _glob.glob(os.path.join(data_root, "*")), reverse=True):
            if not os.path.isdir(d):
                continue
            # Spark's committer leaves _SUCCESS (and sometimes .crc)
            # markers beside the parquet files; once every data file in a
            # commit dir is expired, those markers are the only thing
            # keeping the dir alive — without this sweep a long-running
            # table accumulates one orphan dir tree per historical commit.
            # Directories (bucket=N subdirs) never match the marker test,
            # so a dir with any live content is untouched.
            leftover = os.listdir(d)
            if leftover and all(n.startswith(("_", ".")) for n in leftover):
                for n in leftover:
                    p = os.path.join(d, n)
                    if os.path.isfile(p):
                        os.remove(p)
            if not os.listdir(d):
                os.rmdir(d)
        # snapshot JSONs (v{N}.json) are PER-REF: only this handle's chain is
        # eligible; shared manifests/segments live flat under metadata/ and
        # are cleaned from any handle (keep_meta spans every live ref's head)
        meta_root = os.path.join(self.root, "metadata")
        shared = _glob.glob(os.path.join(meta_root, "*.json"))
        own = (
            _glob.glob(os.path.join(self._meta_dir(), "*.json"))
            if self.ref != "main"
            else []
        )
        for path in shared + own:
            base = os.path.basename(path)
            if base in keep_meta or os.path.getmtime(path) > cutoff:
                continue
            if base.startswith("v"):
                if self.ref != "main" and os.path.dirname(path) == meta_root:
                    continue  # another ref's snapshot chain is not ours to expire
                # never delete a snapshot NEWER than the version this expiry
                # resolved — a concurrent writer may have just installed it
                try:
                    if int(base[1:-5]) > current:
                        continue
                except ValueError:
                    pass
                removed_snapshots += 1
            os.remove(path)
        self._manifest_cache.clear()
        return {
            "retained_snapshots": retained,
            "removed_snapshots": removed_snapshots,
            "removed_files": removed_files,
            "removed_bytes": removed_bytes,
        }

    def remove_orphan_files(self, min_age_seconds: float = 3600.0) -> dict:
        """Delete crash debris — data/manifest files NO snapshot of ANY ref
        references (a write whose commit lost the install race or died
        before installing, leftover committer markers) — WITHOUT expiring
        any snapshot: the Iceberg ``remove_orphan_files`` analogue, for
        tables whose time-travel history must stay whole.

        Implemented as ``expire_snapshots`` with every snapshot retained
        and — unlike expiry's documented heads-only trade — EVERY ref's
        FULL snapshot chain pinned, so another branch's intermediate
        history stays time-travelable; the only deletions left are true
        orphans.  ``min_age_seconds`` (default 1 h) is the concurrency
        guard — an IN-FLIGHT commit's staged files are unreferenced until
        its snapshot installs, so the threshold must exceed the longest
        commit duration (same contract as Iceberg's ``older_than``)."""
        return self.expire_snapshots(
            keep_last=self.version + 1,
            min_age_seconds=min_age_seconds,
            _all_ref_history=True,
        )

    def changed_buckets_between(
        self, from_version: int, to_version: Optional[int] = None
    ) -> List[int]:
        """Buckets whose manifest pointer differs between two snapshots — a
        driver-side dict diff over two already-small metadata files, NO Spark
        job.  This is a guaranteed superset of the buckets holding any key
        that changed in the window (every commit that touches a bucket
        repoints it at a fresh ``m-{version}.json``; compaction/expiry churn
        adds extra buckets, which downstream pruning treats as read-only
        cost).  Consumers (``ChangelogFollower.poll``) ship this to the
        mirror's MERGE as ``changed_buckets`` so the sink never runs a
        distributed distinct-buckets job over the delivery — the round-3
        per-poll serial floor's largest component."""
        meta_to = self.metadata(to_version)
        meta_from = self.metadata(from_version)
        return sorted(
            int(b)
            for b in set(meta_to["buckets"]) | set(meta_from["buckets"])
            if meta_from["buckets"].get(b) != meta_to["buckets"].get(b)
        )

    def changes(
        self,
        from_version: int,
        to_version: Optional[int] = None,
        include_before: bool = False,
    ) -> DataFrame:
        """Row-level changelog between two snapshots — the downstream-consumer
        half of an incremental-ingest engine (Iceberg's changelog scan /
        ``incremental read`` analogue): every key whose row was inserted,
        updated, or deleted between ``from_version`` (exclusive base state)
        and ``to_version`` (inclusive, default current).

        Returns the TO-version schema plus a leading ``change_op`` column
        (``insert`` / ``update`` / ``delete``); deletes carry the key columns
        with null payload.  Columns added by schema evolution inside the
        window read as the column's initial default on the FROM side (NULL
        when the add attached none), so the metadata-only add itself emits
        zero rows and a row whose only change is a newly-POPULATED evolved
        column classifies as ``update``.

        ``include_before=True`` additionally emits the FROM-side payload as
        ``_before_<col>`` for every non-key column (null on inserts) — the
        before-image that delta consumers (incremental view maintenance,
        audit diffs) need to retract a row's old contribution.  Costs the
        extra payload width through the diff shuffle; leave off for
        apply-only consumers.

        Scale shape: both snapshots are read ONLY for buckets whose manifest
        pointer differs between the versions (a superset of the buckets any
        interior commit changed), then diffed with one key-partitioned full
        outer join — cost scales with the churned buckets of the window, not
        table size.  Compaction/expiry between the versions changes pointers
        but not state; those buckets join to an empty diff (read cost only,
        never false rows)."""
        meta_to = self.metadata(to_version)
        meta_from = self.metadata(from_version)
        if meta_from["version"] > meta_to["version"]:
            raise ValueError(
                f"from_version {meta_from['version']} is newer than to_version {meta_to['version']}"
            )
        schema = T.StructType.fromJson(json.loads(meta_to["schema"]))
        buckets = self.changed_buckets_between(
            meta_from["version"], meta_to["version"]
        )
        nonkey = [f.name for f in schema.fields if f.name not in KEY_COLS]

        fids_to, _ = _field_meta(meta_to)
        to_defaults = self.column_defaults(meta_to)

        def _aligned(meta_v: dict) -> DataFrame:
            # field-id alignment: a column RENAMED inside the window maps
            # from-side values to the to-side name (no spurious updates);
            # columns added inside the window read NULL on the from side;
            # columns dropped inside the window leave the diff entirely
            fids_v, _ = _field_meta(meta_v)
            by_id = {i: n for n, i in fids_v.items()}
            df = self.read(version=meta_v["version"], buckets=buckets).drop(BUCKET_COL)
            sel = []
            for f in schema.fields:
                src = by_id.get(fids_to[f.name])
                if src is not None and src in df.columns:
                    c = F.col(src)
                    # a widen_column inside the window leaves the from-side
                    # narrower-typed; cast up so change rows (and _before_
                    # images) carry one consistent schema
                    if df.schema[src].dataType != f.dataType:
                        c = c.cast(f.dataType)
                else:
                    # a column ADDED inside the window: the from-side
                    # serves its initial default (matching what the
                    # to-side reads for pre-add files) so the metadata-only
                    # add produces ZERO spurious update rows
                    c = F.lit(to_defaults.get(f.name)).cast(f.dataType)
                sel.append(c.alias(f.name))
            return df.select(*sel)

        old = _aligned(meta_from)
        new = _aligned(meta_to)
        # null-collision-free fingerprint: hash each value alongside an
        # explicit is-null flag — a literal "\x00" string value and NULL
        # must NOT collide (a NULL<->sentinel update would silently vanish
        # from the changelog and corrupt IVM retractions)
        fp = lambda df: F.xxhash64(
            *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in nonkey],
            *[F.col(c).isNull().cast("string") for c in nonkey],
        )
        before = [F.col(c).alias(f"_before_{c}") for c in nonkey] if include_before else []
        old = old.select(*KEY_COLS, fp(old).alias("_old_fp"), *before)
        joined = new.withColumn("_new_fp", fp(new)).join(old, KEY_COLS, "full_outer")
        op = (
            F.when(F.col("_old_fp").isNull(), F.lit("insert"))
            .when(F.col("_new_fp").isNull(), F.lit("delete"))
            .when(F.col("_new_fp") != F.col("_old_fp"), F.lit("update"))
        )
        return (
            joined.withColumn("change_op", op)
            .where(F.col("change_op").isNotNull())
            .select(
                "change_op",
                *[f.name for f in schema.fields],
                *([f"_before_{c}" for c in nonkey] if include_before else []),
            )
        )

    def lookup(self, keys: List[tuple], version: Optional[int] = None) -> DataFrame:
        """Point-lookup read: current rows for a driver-scale set of
        ``(repo, path, commit)`` keys, touching only the files whose khash
        footer range can contain them — the read-side mirror of MERGE's
        file pruning, and the O(files-covering-key) row fetch a serving /
        debugging layer needs (Iceberg metadata-pruned point scan).

        Never-present and deleted keys simply produce no row.  Dirty
        (merge-on-read) buckets resolve correctly on the pruned subset:
        every live version of a key carries the same khash, so the range
        cut keeps ALL of its versions and tombstones, and the per-key
        max-by-(version, liveness) winner over the subset equals the
        full-bucket winner.

        ``keys`` is a driver-resident list by contract (a point-lookup API,
        not a join); for batch-scale key sets use ``read`` + a join."""
        meta = self.metadata(version)
        n_buckets = meta["n_buckets"]
        schema = T.StructType.fromJson(json.loads(meta["schema"]))
        key_schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in KEY_COLS]
        )
        kdf = self.spark.createDataFrame(list(keys), key_schema).select(
            *KEY_COLS, bucket_expr(n_buckets).alias(BUCKET_COL),
            khash_expr().alias(KHASH_COL),
        )
        krows = kdf.collect()  # driver-scale by contract (one tiny job)
        by_bucket: Dict[int, List[int]] = {}
        for r in krows:
            by_bucket.setdefault(int(r[BUCKET_COL]), []).append(int(r[KHASH_COL]))
        plan: Dict[int, List[dict]] = {}
        for b, entries in self._bucket_files(meta, sorted(by_bucket)).items():
            hs = by_bucket.get(int(b), [])
            # keep files whose khash range can contain a requested key
            kept = [
                e for e in entries
                if any(
                    e.get("min_h", _FULL_RANGE[0]) <= h <= e.get("max_h", _FULL_RANGE[1])
                    for h in hs
                )
            ]
            if kept:
                plan[b] = kept
        all_hs = sorted({h for hs in by_bucket.values() for h in hs})
        df = self._read_plan(meta, plan, khash_in=all_hs)
        if df is None:
            return self.spark.createDataFrame([], schema)
        hit = df.join(F.broadcast(kdf.select(*KEY_COLS)), KEY_COLS, "left_semi")
        return hit.select(*[f.name for f in schema.fields])

    # -- integrity --------------------------------------------------------

    def state_checksum(self) -> dict:
        """Order-insensitive table-state checksum: row count + sum of the
        first 15 hex digits of sha256(repo|path|commit|content) per row —
        computed entirely JVM-side; identical across any partitioning.

        Hashed columns are the key columns plus ``content`` (the
        reference's per-row sha256 invariant) — NOT every column, so the
        value is stable under additive evolution of other columns.  When
        ``content`` itself was renamed or dropped, the remaining non-key
        columns are hashed instead, in schema order, cast to string
        (rename/drop are metadata-only everywhere else; the checksum must
        not crash on an evolved schema, though its value naturally changes
        with what it measures)."""
        df = self.read()
        payload = (
            [F.coalesce(F.col("content"), F.lit(""))]
            if "content" in df.columns
            else [
                F.coalesce(F.col(c).cast("string"), F.lit(""))
                for c in df.columns
                if c not in KEY_COLS
            ]
        )
        row_hash = F.sha2(
            F.concat_ws("\x1f", F.col("repo"), F.col("path"), F.col("commit"),
                        *payload),
            256,
        )
        agg = df.select(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.conv(F.substring(row_hash, 1, 15), 16, 10).cast("decimal(38,0)")).alias("checksum"),
        ).collect()[0]
        return {"rows": agg["rows"], "checksum": int(agg["checksum"] or 0)}


#: String column bounds in manifests are truncated to this many characters
#: (Iceberg's ``write.metadata.metrics.truncate`` analogue): the lower bound
#: is a plain prefix (a prefix sorts <= the full value), the upper bound is
#: the prefix with its last incrementable character bumped (sorts >= every
#: value sharing the prefix) — sound, and it keeps manifest entries O(16)
#: bytes per column instead of O(content length).
_STR_BOUND_LEN = 16


def _string_lower_bound(s: str) -> str:
    return s[:_STR_BOUND_LEN]


def _string_upper_bound(s: str) -> Optional[str]:
    if len(s) <= _STR_BOUND_LEN:
        return s  # exact
    t = s[:_STR_BOUND_LEN]
    # bump the rightmost character that can be incremented without creating
    # a surrogate (unencodable in JSON); chars after it are dropped — the
    # result sorts strictly above every string sharing the original prefix
    for i in range(len(t) - 1, -1, -1):
        c = ord(t[i])
        if c < 0xD7FF:
            return t[:i] + chr(c + 1)
    return None  # no representable upper bound: column goes unbounded above


def _encode_stat_value(v):
    """Manifest encoding for a column-stat bound / predicate constant:
    numbers pass through, datetimes/dates become epoch micros / ordinal
    days (JSON-safe, order-preserving).  Strings are handled by the
    caller (they need asymmetric lower/upper truncation).  None = this
    value cannot be encoded (unknown type) — the column goes unbounded."""
    import datetime as _dt

    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, _dt.datetime):
        epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
        return int((v - epoch).total_seconds() * 1_000_000)
    if isinstance(v, _dt.date):
        return v.toordinal()
    return None


def _col_bounds(st) -> Optional[Tuple[object, object]]:
    """Encoded [lo, hi] from one row group's column statistics, or None
    when the stats are absent/unusable (→ unbounded, never wrong)."""
    if st is None or not st.has_min_max:
        return None
    mn, mx = st.min, st.max
    if isinstance(mn, bytes) or isinstance(mx, bytes):
        return None  # binary payloads: not meaningfully orderable here
    if isinstance(mn, str):
        hi = _string_upper_bound(mx)
        if hi is None:
            return None
        return (_string_lower_bound(mn), hi)
    lo, hi = _encode_stat_value(mn), _encode_stat_value(mx)
    if lo is None or hi is None:
        return None
    return (lo, hi)


def _footer_stat(
    path: str, stats_cols: Optional[List[str]] = None
) -> Tuple[str, Optional[int], Optional[int], int, int, dict]:
    """(path, khash_min, khash_max, rows, bytes, col_bounds) from one
    parquet footer — module-level so the distributed path of
    ``_new_file_stats`` ships it to executors without capturing the
    LakeTable (SparkSession is unpicklable).  ``col_bounds`` maps each
    requested stats column present in the file to its encoded [lo, hi];
    a column missing from the map is unbounded (prune-safe): absent from
    the file (pre-evolution), null-only, or stats unusable."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    mn, mx = None, None
    if KHASH_COL in names:
        ki = names.index(KHASH_COL)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ki).statistics
            if st is None or not st.has_min_max:
                mn, mx = None, None
                break
            mn = st.min if mn is None else min(mn, st.min)
            mx = st.max if mx is None else max(mx, st.max)
    col_bounds: dict = {}
    for c in stats_cols or []:
        if c not in names:
            continue
        ci = names.index(c)
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            b = _col_bounds(md.row_group(rg).column(ci).statistics)
            if b is None:
                ok = False
                break
            lo = b[0] if lo is None else min(lo, b[0])
            hi = b[1] if hi is None else max(hi, b[1])
        if ok and lo is not None:
            col_bounds[c] = [lo, hi]
    return (path, mn, mx, md.num_rows, os.path.getsize(path), col_bounds)


def _default_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("repo", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("commit", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("content", T.StringType()),
        ]
    )
