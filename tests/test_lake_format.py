"""Lake format-2 mechanics (VERDICT r2 asks #2 and #3): bounded commit
metadata under a many-commit soak, O(1) exactly-once membership through the
tail/bloom/segment ladder, file-grain MERGE pruning (rewrite bytes scale
with touched keys, not bucket size), compaction invariance, and snapshot
expiry incl. crash-orphan GC."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from valentine_spark.cdc import LakeTable, apply_batch, replay, synth_change_stream
from valentine_spark.cdc.lake import _APPLIED_TAIL, _LINEAGE_TAIL


def _empty_pair(spark, lake):
    schema = lake.schema
    up = spark.createDataFrame([], schema)
    de = spark.createDataFrame([], "repo string, path string, commit string")
    return up, de


def _snapshot_size(lake):
    return os.path.getsize(
        os.path.join(lake.root, "metadata", f"v{lake.version}.json")
    )


def test_commit_metadata_bounded_soak(spark, tmp_path):
    """10^4-commit-class soak (scaled to 1.3k): the snapshot stays O(tail)
    bytes — NOT O(commit count) — histories roll into immutable segments,
    and every applied id remains exactly-once visible."""
    lake = LakeTable.create(str(tmp_path / "soak"), spark, n_buckets=4)
    up, de = _empty_pair(spark, lake)

    n = 1_300  # > 2 applied rolls (tail rolls at >2*256) and > 4 lineage rolls
    sizes = []
    for i in range(n):
        lake.merge(up, de, f"soak-{i:05d}", changed_buckets=[])
        if i % 100 == 99:
            sizes.append(_snapshot_size(lake))

    meta = lake.metadata()
    ap = meta["applied"]
    assert ap["count"] == n
    # inline state is bounded by the roll thresholds, independent of n
    assert len(ap["tail"]) <= 2 * _APPLIED_TAIL
    assert len(meta["lineage"]) <= 2 * _LINEAGE_TAIL
    assert ap["segments"], "expected rolled applied segments"
    assert meta["lineage_segments"], "expected rolled lineage segments"
    # snapshot size is bounded: a fixed budget (bloom 22KB + <=512-id tail +
    # <=256 lineage entries), and no growth trend — late samples stay inside
    # the sawtooth band the early post-roll samples establish (without
    # rolling, size would grow linearly and double over the soak)
    assert max(sizes) < 120_000, sizes
    assert max(sizes[-4:]) <= max(sizes[:7]) * 1.15, sizes

    # exactly-once membership across the whole history (tail + bloom/segments)
    for i in (0, 1, 255, 256, 511, 512, n - 2, n - 1):
        assert lake.is_applied(f"soak-{i:05d}")
    assert not lake.is_applied("soak-99999")
    assert not lake.is_applied("never-seen")
    # audit accessor returns the full ordered history
    assert lake.applied_batches() == [f"soak-{i:05d}" for i in range(n)]
    assert len(lake.lineage()) == n
    # re-delivery of an ancient (segment-resident) batch is still a no-op
    assert lake.merge(up, de, "soak-00000", changed_buckets=[])["skipped"]


def test_merge_rewrites_only_touched_files(spark, tmp_path):
    """File-grain COW: a batch touching few keys rewrites only the files
    whose khash range those keys intersect — not the whole bucket."""
    lake = LakeTable.create(
        str(tmp_path / "prune"), spark, n_buckets=2, target_file_rows=150
    )
    stream = synth_change_stream(spark, 4_000, 2_000, seed=7).cache()
    replay(lake, stream, batch_lsns=4_000)  # bulk load -> ~10 files/bucket
    total_files = sum(
        len(es) for es in lake._bucket_files(lake.metadata()).values()
    )
    total_bytes = sum(
        e["bytes"]
        for es in lake._bucket_files(lake.metadata()).values()
        for e in es
    )
    assert total_files >= 10, "fixture should produce many small files"

    # a 3-key update batch
    touch = synth_change_stream(spark, 3, 2_000, seed=7, start_lsn=4_000)
    commit = apply_batch(lake, touch, "tiny-batch", watermark_lsn=4_002)
    assert 0 < commit["files_rewritten"] <= 3  # <= one file per touched key
    assert commit["bytes_rewritten"] < total_bytes * 0.35
    # state equals the one-shot replay of the full stream
    clean = LakeTable.create(str(tmp_path / "clean"), spark, n_buckets=2)
    full = stream.unionByName(touch)
    replay(clean, full, batch_lsns=5_000, max_lsn=4_002)
    assert lake.state_checksum() == clean.state_checksum()
    stream.unpersist()


def test_merge_prunes_all_files_when_no_overlap(spark, tmp_path):
    """Pure inserts of brand-new keys rewrite ZERO existing files — they
    append new files only (the match-confirm phase: range-covering files
    with no actually-matched row are kept byte-identical)."""
    lake = LakeTable.create(
        str(tmp_path / "insert_only"), spark, n_buckets=2, target_file_rows=500
    )
    s1 = synth_change_stream(spark, 2_000, 1_000, seed=7)
    replay(lake, s1, batch_lsns=2_000)
    # disjoint key space: different seed -> different repo/path/commit values
    s2 = synth_change_stream(spark, 500, 250, seed=4242, start_lsn=2_000).where(
        F.col("op") != "delete"
    )
    before_files = {
        e["path"]
        for es in lake._bucket_files(lake.metadata()).values()
        for e in es
    }
    commit = apply_batch(lake, s2, "new-keys", watermark_lsn=2_499)
    assert commit["files_rewritten"] == 0
    assert commit["bytes_rewritten"] == 0
    after_files = {
        e["path"]
        for es in lake._bucket_files(lake.metadata()).values()
        for e in es
    }
    assert before_files <= after_files, "untouched files must survive as-is"
    assert after_files - before_files, "inserts append new files"
    # and the inserted rows are all readable
    assert lake.read().count() > len(before_files) and lake.is_applied("new-keys")


def test_compact_preserves_state_and_reduces_files(spark, tmp_path, monkeypatch):
    lake = LakeTable.create(
        str(tmp_path / "compact"), spark, n_buckets=2, target_file_rows=500
    )
    # three disjoint insert-only batches: each appends new files whose khash
    # ranges overlap the earlier ones (insert-order fragmentation).  The
    # confirm-density gate would treat these same-size insert floods as
    # dense and fold files during MERGE (its documented bounded worst
    # case); force confirm-always so the fixture actually fragments —
    # this test is about compact(), not merge pruning.
    import valentine_spark.cdc.lake as lake_mod

    monkeypatch.setattr(lake_mod, "_CONFIRM_DENSITY", float("inf"))
    for i, seed in enumerate((11, 22, 33)):
        s = synth_change_stream(spark, 600, 300, seed=seed, start_lsn=600 * i).where(
            F.col("op") != "delete"
        )
        apply_batch(lake, s, f"ins-{i}", watermark_lsn=600 * (i + 1) - 1)
    before = lake.state_checksum()
    n_before = sum(len(es) for es in lake._bucket_files(lake.metadata()).values())
    out = lake.compact()
    assert out["files_before"] == n_before
    assert out["files_after"] < n_before
    assert lake.state_checksum() == before
    # files are now khash-disjoint within each bucket
    for b, entries in lake._bucket_files(lake.metadata()).items():
        spans = sorted((e["min_h"], e["max_h"]) for e in entries)
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 < lo2, f"bucket {b} files overlap after compact"


def test_expire_snapshots_gc_and_crash_orphans(spark, tmp_path):
    lake = LakeTable.create(str(tmp_path / "expire"), spark, n_buckets=2)
    stream = synth_change_stream(spark, 2_000, 600, seed=13)
    replay(lake, stream, batch_lsns=500)  # 4 commits
    before = lake.state_checksum()
    v = lake.version

    # fake crash orphan: a data dir from a commit whose snapshot never landed
    orphan_dir = os.path.join(lake.root, "data", f"v{v + 7}", "_bucket=0")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-00000-dead.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")

    out = lake.expire_snapshots(keep_last=1)
    assert out["retained_snapshots"] == [v]
    assert out["removed_snapshots"] == v  # v0..v{n-1} snapshots dropped
    assert not os.path.exists(orphan)
    # current state fully intact, incl. time-travel of the retained snapshot
    assert lake.state_checksum() == before
    # expired versions are no longer readable
    with pytest.raises(Exception):
        lake.metadata(0)
    # exactly-once memory survives expiry (applied ids live in the snapshot)
    assert lake.is_applied("batch-0-500")
    # only referenced data files remain on disk
    live = {
        os.path.join(lake.root, e["path"])
        for es in lake._bucket_files(lake.metadata()).values()
        for e in es
    }
    on_disk = set(
        glob.glob(os.path.join(lake.root, "data", "**", "*.parquet"), recursive=True)
    )
    assert on_disk == live


def test_read_after_evolution_spans_old_and_new_files(spark, tmp_path):
    """Files written before an additive evolution serve nulls for the new
    column; files written after serve real values — one read covers both
    (explicit read schema, no parquet inference)."""
    from pyspark.sql import types as T

    lake = LakeTable.create(str(tmp_path / "evolve"), spark, n_buckets=2)
    s1 = synth_change_stream(spark, 800, 300, seed=17).where(F.col("op") != "delete")
    replay(lake, s1, batch_lsns=800)
    lake.evolve_schema([T.StructField("stars", T.LongType())], "added stars")
    s2 = (
        synth_change_stream(spark, 200, 80, seed=99, start_lsn=800)
        .where(F.col("op") != "delete")
        .withColumn("stars", F.lit(7).cast("long"))
    )
    apply_batch(lake, s2, "with-stars", watermark_lsn=999)
    df = lake.read()
    assert "stars" in df.columns
    counts = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("stars").alias("with_stars"),
    ).collect()[0]
    assert counts["n"] > counts["with_stars"] > 0
    assert df.where(F.col("stars").isNotNull()).select("stars").distinct().collect()[0][0] == 7


# ---------------------------------------------------------------------------
# merge-on-read (tombstone / equality-delete) mode
# ---------------------------------------------------------------------------

def _entry_kinds(lake):
    """(n_data_entries, n_tomb_entries) across all buckets."""
    data = tombs = 0
    for es in lake._bucket_files(lake.metadata()).values():
        for e in es:
            if e.get("kind") == "tomb":
                tombs += 1
            else:
                data += 1
    return data, tombs


def test_mor_replay_matches_cow_and_rewrites_nothing(spark, tmp_path):
    """MoR replay: O(batch) appends (zero rewrites, tombstones for deletes),
    dirty buckets resolved at read — final state equals the COW replay of
    the identical stream, bit for bit."""
    stream = synth_change_stream(spark, 8_000, 1_200, seed=23).cache()
    cow = LakeTable.create(str(tmp_path / "cow"), spark, n_buckets=4)
    replay(cow, stream, batch_lsns=2_000)

    mor = LakeTable.create(
        str(tmp_path / "mor"), spark, n_buckets=4, write_mode="mor"
    )
    commits = replay(mor, stream, batch_lsns=2_000)
    assert all(c["mode"] == "mor" for c in commits)
    assert all(c["files_rewritten"] == 0 and c["bytes_rewritten"] == 0 for c in commits)
    assert sum(c["tomb_files"] for c in commits) > 0, "stream has deletes"
    assert mor.metadata()["dirty"], "later batches touch populated buckets"
    assert mor.state_checksum() == cow.state_checksum()
    _, tombs = _entry_kinds(mor)
    assert tombs > 0
    stream.unpersist()


def test_mor_compact_resolves_then_reads_scan_only(spark, tmp_path):
    """compact() folds dirty buckets to single-version files: checksum
    unchanged, tombstones gone, dirty flags cleared — and the post-compact
    read plan has no aggregation (scan-only again)."""
    stream = synth_change_stream(spark, 6_000, 900, seed=29)
    mor = LakeTable.create(
        str(tmp_path / "morc"), spark, n_buckets=4, write_mode="mor"
    )
    replay(mor, stream, batch_lsns=1_500)
    before = mor.state_checksum()
    assert "max_by" in mor.read()._jdf.queryExecution().optimizedPlan().toString(), \
        "dirty read must resolve via the max_by aggregation"

    out = mor.compact()
    assert out["files_after"] < out["files_before"]
    assert mor.state_checksum() == before
    assert not mor.metadata()["dirty"]
    assert _entry_kinds(mor)[1] == 0, "tombstones dropped by compaction"
    plan = mor.read()._jdf.queryExecution().optimizedPlan().toString()
    assert "max_by" not in plan and "Aggregate" not in plan


def test_cow_after_mor_resolves_bucket_first(spark, tmp_path):
    """The mixed-mode trap: COW's per-file anti-join over multi-version
    state would re-stamp an OLD version of an untouched key at the new
    commit version, flipping the read-time winner.  merge(mode='cow') must
    resolve dirty buckets first.  Adversarial fixture: key A upserted twice
    via MoR (v1 then v2), then a COW batch touches a DIFFERENT key in the
    same bucket — A's winner must remain the v2 value."""
    lake = LakeTable.create(str(tmp_path / "mix"), spark, n_buckets=1)
    schema = lake.schema

    def ev(lsn, path, content, op="upsert"):
        return (lsn, float(lsn), op, "r", path, "c", "py", content)

    cols = "lsn long, op_ts double, op string, repo string, path string, `commit` string, lang string, content string"
    b1 = spark.createDataFrame([ev(1, "A", "old"), ev(2, "B", "b0")], cols)
    b2 = spark.createDataFrame([ev(3, "A", "NEW")], cols)
    b3 = spark.createDataFrame([ev(4, "B", "b1")], cols)
    apply_batch(lake, b1, "m1", watermark_lsn=2, mode="mor")
    apply_batch(lake, b2, "m2", watermark_lsn=3, mode="mor")
    assert lake.metadata()["dirty"], "A now has two live versions"
    commit = apply_batch(lake, b3, "c1", watermark_lsn=4, mode="cow")
    assert not lake.metadata()["dirty"]
    rows = {r["path"]: r["content"] for r in lake.read().collect()}
    assert rows == {"A": "NEW", "B": "b1"}
    # lineage records the interposed resolution compaction
    kinds = [("compaction" in e, e.get("mode")) for e in lake.lineage()]
    assert (True, None) in kinds, "expected a compaction entry before the COW commit"


def test_mor_delete_semantics_and_emptied_bucket(spark, tmp_path):
    """Later tombstone kills earlier versions; still-later upsert revives;
    tombstoning every key empties the bucket (compact drops it); a delete of
    a never-present key in a clean bucket is a no-op."""
    lake = LakeTable.create(
        str(tmp_path / "tomb"), spark, n_buckets=1, write_mode="mor"
    )
    cols = "lsn long, op_ts double, op string, repo string, path string, `commit` string, lang string, content string"

    def ev(lsn, path, content, op="upsert"):
        return (lsn, float(lsn), op, "r", path, "c", "py", content)

    apply_batch(lake, spark.createDataFrame([ev(1, "A", "a0"), ev(2, "B", "b0")], cols), "b1", watermark_lsn=2)
    apply_batch(lake, spark.createDataFrame([ev(3, "A", None, "delete")], cols), "b2", watermark_lsn=3)
    assert {r["path"] for r in lake.read().collect()} == {"B"}
    apply_batch(lake, spark.createDataFrame([ev(4, "A", "a2")], cols), "b3", watermark_lsn=4)
    assert {r["path"]: r["content"] for r in lake.read().collect()} == {"A": "a2", "B": "b0"}
    # delete of a key that never existed: tombstone lands in a clean bucket
    lake2 = LakeTable.create(
        str(tmp_path / "noop"), spark, n_buckets=1, write_mode="mor"
    )
    apply_batch(lake2, spark.createDataFrame([ev(1, "X", "x0")], cols), "n1", watermark_lsn=1)
    apply_batch(lake2, spark.createDataFrame([ev(2, "GHOST", None, "delete")], cols), "n2", watermark_lsn=2)
    assert {r["path"] for r in lake2.read().collect()} == {"X"}
    # tombstone everything -> empty table; compact drops the bucket mapping
    apply_batch(lake2, spark.createDataFrame([ev(3, "X", None, "delete")], cols), "n3", watermark_lsn=3)
    assert lake2.read().count() == 0
    lake2.compact()
    assert lake2.metadata()["buckets"] == {}
    assert lake2.read().count() == 0


def test_mor_resume_and_expire(spark, tmp_path):
    """Exactly-once + resume + snapshot expiry all hold in MoR mode: a
    re-delivered batch is skipped, resume_replay picks up after a partial
    replay, and expire_snapshots GCs superseded files while keeping every
    live data AND tombstone file."""
    import glob as g
    from valentine_spark.cdc import resume_replay

    stream = synth_change_stream(spark, 6_000, 900, seed=31).cache()
    lake = LakeTable.create(
        str(tmp_path / "resume"), spark, n_buckets=4, write_mode="mor"
    )
    replay(lake, stream.where(F.col("lsn") < 3_000), batch_lsns=1_500, max_lsn=2_999)
    assert lake.merge(
        spark.createDataFrame([], lake.schema),
        spark.createDataFrame([], "repo string, path string, `commit` string"),
        "batch-0-1500",
    )["skipped"]
    resume_replay(lake, stream, batch_lsns=1_500)

    clean = LakeTable.create(str(tmp_path / "clean"), spark, n_buckets=4)
    replay(clean, stream, batch_lsns=6_000)
    assert lake.state_checksum() == clean.state_checksum()

    before = lake.state_checksum()
    lake.compact()  # supersedes the MoR files
    out = lake.expire_snapshots(keep_last=1)
    assert out["removed_files"] > 0
    assert lake.state_checksum() == before
    live = {
        os.path.join(lake.root, e["path"])
        for es in lake._bucket_files(lake.metadata()).values()
        for e in es
    }
    on_disk = set(
        g.glob(os.path.join(lake.root, "data", "**", "*.parquet"), recursive=True)
    )
    assert on_disk == live
    stream.unpersist()


# -- changelog read (incremental consumers) --------------------------------


_COLS = (
    "lsn long, op_ts double, op string, repo string, path string, "
    "`commit` string, lang string, content string"
)


def _ev(lsn, path, content, op="upsert"):
    return (lsn, float(lsn), op, "r", path, "c", "py", content)


def test_changes_classifies_insert_update_delete(spark, tmp_path):
    """changes(v1, v2) yields exactly the keys whose row differs between the
    snapshots, classified insert/update/delete; untouched and
    write-then-write-back keys are absent; deletes carry null payload."""
    lake = LakeTable.create(str(tmp_path / "chg"), spark, n_buckets=2)
    b1 = spark.createDataFrame(
        [_ev(1, "A", "a0"), _ev(2, "B", "b0"), _ev(3, "D", "d0")], _COLS
    )
    apply_batch(lake, b1, "c1", watermark_lsn=3)
    v1 = lake.version
    b2 = spark.createDataFrame(
        [
            _ev(4, "A", "a1"),                 # update
            _ev(5, "B", None, "delete"),       # delete
            _ev(6, "C", "c0"),                 # insert
            _ev(7, "D", "d0"),                 # rewrite with SAME value -> no change
        ],
        _COLS,
    )
    apply_batch(lake, b2, "c2", watermark_lsn=7)

    got = {
        r["path"]: (r["change_op"], r["content"])
        for r in lake.changes(v1).collect()
    }
    assert got == {"A": ("update", "a1"), "B": ("delete", None), "C": ("insert", "c0")}

    # full-history window: every live row is an insert relative to v0
    full = lake.changes(0)
    assert {r["change_op"] for r in full.collect()} == {"insert"}
    assert full.count() == lake.read().count()

    # empty window and inverted window
    assert lake.changes(lake.version).count() == 0
    with pytest.raises(ValueError):
        lake.changes(lake.version, v1)


def test_changes_reads_only_churned_buckets(spark, tmp_path):
    """The diff scans ONLY buckets whose manifest pointer moved inside the
    window — a second commit touching one key must not re-read the whole
    table at either endpoint."""
    lake = LakeTable.create(str(tmp_path / "prune"), spark, n_buckets=16)
    wide = spark.createDataFrame(
        [_ev(i, f"p{i}", f"v{i}") for i in range(1, 201)], _COLS
    )
    apply_batch(lake, wide, "c1", watermark_lsn=200)
    v1 = lake.version
    one = spark.createDataFrame([_ev(201, "p7", "CHANGED")], _COLS)
    apply_batch(lake, one, "c2", watermark_lsn=201)

    diff = lake.changes(v1)
    assert [(r["path"], r["change_op"], r["content"]) for r in diff.collect()] == [
        ("p7", "update", "CHANGED")
    ]
    meta = lake.metadata()
    from valentine_spark.cdc.lake import bucket_expr

    touched = (
        spark.createDataFrame([("r", "p7", "c")], "repo string, path string, `commit` string")
        .select(bucket_expr(meta["n_buckets"]).alias("b"))
        .head()["b"]
    )
    allowed = {
        os.path.realpath(os.path.join(lake.root, e["path"]))
        for m in (lake.metadata(v1), meta)
        for e in lake._bucket_files(m, [touched]).values().__iter__().__next__()
    }
    scanned = {os.path.realpath(p.removeprefix("file:")) for p in diff.inputFiles()}
    assert scanned, "expected a non-empty scan set"
    assert scanned <= allowed, f"scanned outside the churned bucket: {scanned - allowed}"


def test_changes_across_evolution_and_compaction(spark, tmp_path):
    """Columns added by schema evolution inside the window read as null on
    the FROM side (newly-populated evolved column => update); compaction
    inside the window moves pointers but yields no false change rows."""
    import pyspark.sql.types as T

    lake = LakeTable.create(str(tmp_path / "evo"), spark, n_buckets=2, write_mode="mor")
    apply_batch(
        lake, spark.createDataFrame([_ev(1, "A", "a0"), _ev(2, "B", "b0")], _COLS),
        "c1", watermark_lsn=2,
    )
    v1 = lake.version
    lake.evolve_schema([T.StructField("stars", T.LongType())], "add stars")
    b2 = spark.createDataFrame(
        [(3, 3.0, "upsert", "r", "A", "c", "py", "a0", 5)],
        _COLS + ", stars long",
    )
    apply_batch(lake, b2, "c2", watermark_lsn=3)
    got = {r["path"]: (r["change_op"], r["stars"]) for r in lake.changes(v1).collect()}
    # A's lang/content are unchanged; only the evolved column got a value
    assert got == {"A": ("update", 5)}

    # compaction-only window: pointers move, state doesn't -> empty diff
    v2 = lake.version
    lake.compact()
    assert lake.changes(v2).count() == 0
    # and a window spanning the compaction still reports the real change only
    got2 = {r["path"]: r["change_op"] for r in lake.changes(v1).collect()}
    assert got2 == {"A": "update"}


# -- incremental view maintenance over the changelog -----------------------


def test_changes_include_before_images(spark, tmp_path):
    """include_before=True carries the FROM-side payload per row: null on
    inserts, the retracted values on updates/deletes."""
    lake = LakeTable.create(str(tmp_path / "bi"), spark, n_buckets=2)
    apply_batch(
        lake, spark.createDataFrame([_ev(1, "A", "a0"), _ev(2, "B", "b0")], _COLS),
        "c1", watermark_lsn=2,
    )
    v1 = lake.version
    apply_batch(
        lake,
        spark.createDataFrame(
            [_ev(3, "A", "a1"), _ev(4, "B", None, "delete"), _ev(5, "C", "c0")], _COLS
        ),
        "c2", watermark_lsn=5,
    )
    got = {
        r["path"]: (r["change_op"], r["content"], r["_before_content"])
        for r in lake.changes(v1, include_before=True).collect()
    }
    assert got == {
        "A": ("update", "a1", "a0"),
        "B": ("delete", None, "b0"),
        "C": ("insert", "c0", None),
    }


def test_ivm_group_moving_update(spark, tmp_path):
    """An update that changes the GROUP-BY column must retract from the old
    group and add to the new one — the case apply-only consumers get wrong."""
    from valentine_spark.cdc import init_aggregate, maintain_aggregate

    lake = LakeTable.create(str(tmp_path / "ivm"), spark, n_buckets=2)
    apply_batch(
        lake,
        spark.createDataFrame(
            [(1, 1.0, "upsert", "r", "A", "c", "py", "xxxx"),
             (2, 2.0, "upsert", "r", "B", "c", "py", "yy"),
             (3, 3.0, "upsert", "r", "C", "c", "go", "zzz")],
            _COLS,
        ),
        "c1", watermark_lsn=3,
    )
    v1 = lake.version
    measures = {"files": ("count", None), "bytes": ("sum", "content")}
    # sum over length: use a derived column via a view of state/changelog
    def with_len(df, cols=("content",)):
        out = df
        for c in cols:
            if c in df.columns:
                out = out.withColumn(c + "_len", F.length(F.coalesce(F.col(c), F.lit(""))))
            b = f"_before_{c}"
            if b in df.columns:
                out = out.withColumn(
                    f"_before_{c}_len", F.length(F.coalesce(F.col(b), F.lit("")))
                )
        return out

    measures = {"files": ("count", None), "bytes": ("sum", "content_len")}
    agg = init_aggregate(with_len(lake.read()), ["lang"], measures)
    # A moves py -> go AND changes size; B deleted; D inserted in py
    apply_batch(
        lake,
        spark.createDataFrame(
            [(4, 4.0, "upsert", "r", "A", "c", "go", "x"),
             (5, 5.0, "delete", "r", "B", "c", None, None),
             (6, 6.0, "upsert", "r", "D", "c", "py", "dddddd")],
            _COLS,
        ),
        "c2", watermark_lsn=6,
    )
    chg = with_len(lake.changes(v1, include_before=True))
    agg = maintain_aggregate(agg, chg, ["lang"], measures)
    got = {r["lang"]: (r["files"], r["bytes"]) for r in agg.collect()}
    # py: A moved out (-4), B deleted (-2), D inserted (+6); go: A moved in
    assert got == {"py": (1, 6.0), "go": (2, 4.0)}
    # equivalence with a from-scratch recompute
    fresh = init_aggregate(with_len(lake.read()), ["lang"], measures)
    assert got == {r["lang"]: (r["files"], r["bytes"]) for r in fresh.collect()}


def test_ivm_multi_window_equals_recompute(spark, tmp_path):
    """Property over a synthetic stream: maintain the view across several
    changelog windows (each applied exactly once, in version order) and the
    result equals the from-scratch aggregate of the final table — including
    groups that empty out entirely along the way."""
    from valentine_spark.cdc import init_aggregate, maintain_aggregate

    stream = synth_change_stream(spark, 4_000, 600, seed=47).cache()
    lake = LakeTable.create(str(tmp_path / "ivmw"), spark, n_buckets=4)
    measures = {"rows": ("count", None), "bytes": ("sum", "clen")}
    prep = lambda df: df.withColumn(
        "clen", F.length(F.coalesce(F.col("content"), F.lit("")))
    ).withColumn(
        "_before_clen",
        F.length(F.coalesce(F.col("_before_content"), F.lit(""))),
    ) if "_before_content" in df.columns else df.withColumn(
        "clen", F.length(F.coalesce(F.col("content"), F.lit("")))
    )

    replay(lake, stream.where(F.col("lsn") < 1_000), batch_lsns=1_000, max_lsn=999)
    agg = init_aggregate(prep(lake.read()), ["lang"], measures).cache()
    agg.count()
    for lo in (1_000, 2_000, 3_000):
        v_prev = lake.version
        batch = stream.where((F.col("lsn") >= lo) & (F.col("lsn") < lo + 1_000))
        apply_batch(lake, batch, f"w-{lo}", watermark_lsn=lo + 999)
        chg = prep(lake.changes(v_prev, include_before=True))
        agg = maintain_aggregate(agg, chg, ["lang"], measures).cache()
        agg.count()
    got = {r["lang"]: (r["rows"], r["bytes"]) for r in agg.collect()}
    fresh = init_aggregate(prep(lake.read()), ["lang"], measures)
    want = {r["lang"]: (r["rows"], r["bytes"]) for r in fresh.collect()}
    assert got == want
    stream.unpersist()


def test_compact_clean_bucket_ghost_tombstone_not_resurrected(spark, tmp_path):
    """A tombstone in a CLEAN bucket (delete of a never-present key landing
    in a bucket with no data) must not resurrect the key as a null-payload
    row when compact() rewrites that bucket."""
    lake = LakeTable.create(
        str(tmp_path / "ghost"), spark, n_buckets=8, write_mode="mor"
    )
    # find two keys in different buckets
    from valentine_spark.cdc.lake import bucket_expr

    probe = spark.createDataFrame(
        [("r", f"p{i}", "c") for i in range(20)],
        "repo string, path string, `commit` string",
    ).select("path", bucket_expr(8).alias("b")).collect()
    by_bucket = {}
    for r in probe:
        by_bucket.setdefault(r["b"], r["path"])
    (b1, real), (b2, ghost) = list(by_bucket.items())[:2]

    apply_batch(
        lake,
        spark.createDataFrame([(1, 1.0, "upsert", "r", real, "c", "py", "x")], _COLS),
        "g1", watermark_lsn=1,
    )
    apply_batch(
        lake,
        spark.createDataFrame([(2, 2.0, "delete", "r", ghost, "c", None, None)], _COLS),
        "g2", watermark_lsn=2,
    )
    assert str(b2) not in lake.metadata()["dirty"], "ghost bucket must be clean"
    before = {r["path"] for r in lake.read().collect()}
    assert before == {real}
    lake.compact(min_files=1)
    after = {r["path"] for r in lake.read().collect()}
    assert after == {real}, f"ghost key resurrected: {after - before}"


def test_lookup_point_reads_with_pruning(spark, tmp_path):
    """lookup(): exact rows for present keys, nothing for deleted/ghost
    keys, correct winners over dirty MoR state — scanning only files whose
    khash range covers a requested key."""
    lake = LakeTable.create(
        str(tmp_path / "lk"), spark, n_buckets=4, target_file_rows=50,
        write_mode="mor",
    )
    rows1 = [_ev(i, f"p{i}", f"v{i}") for i in range(1, 201)]
    apply_batch(lake, spark.createDataFrame(rows1, _COLS), "l1", watermark_lsn=200)
    # churn: update p7, delete p9, insert p777 (multi-version buckets)
    apply_batch(
        lake,
        spark.createDataFrame(
            [_ev(201, "p7", "NEW"), _ev(202, "p9", None, "delete"),
             _ev(203, "p777", "fresh")],
            _COLS,
        ),
        "l2", watermark_lsn=203,
    )
    assert lake.metadata()["dirty"], "fixture must exercise MoR resolution"

    keys = [("r", p, "c") for p in ("p7", "p9", "p777", "p42", "GHOST")]
    got = {r["path"]: r["content"] for r in lake.lookup(keys).collect()}
    assert got == {"p7": "NEW", "p777": "fresh", "p42": "v42"}

    # pruning proof: the lookup plan reads a strict subset of the table's
    # live files (the 200-row load at 50 rows/file spans many files)
    live = {
        os.path.realpath(os.path.join(lake.root, e["path"]))
        for es in lake._bucket_files(lake.metadata()).values()
        for e in es
    }
    scanned = {
        os.path.realpath(p.removeprefix("file:"))
        for p in lake.lookup(keys).inputFiles()
    }
    assert scanned and scanned < live, (len(scanned), len(live))

    # after compact the same lookups hold on the clean path
    lake.compact()
    got2 = {r["path"]: r["content"] for r in lake.lookup(keys).collect()}
    assert got2 == got
    # time travel: at version 1 the original p7/p9 values are visible
    got_v1 = {r["path"]: r["content"] for r in lake.lookup(keys, version=1).collect()}
    assert got_v1 == {"p7": "v7", "p9": "v9", "p42": "v42"}


def test_history_dataframe(spark, tmp_path):
    """DESCRIBE HISTORY analogue: merge / compaction / schema-evolution
    entries normalized into one DataFrame, newest first."""
    import pyspark.sql.types as T

    lake = LakeTable.create(str(tmp_path / "hist"), spark, n_buckets=2,
                            write_mode="mor")
    stream = synth_change_stream(spark, 1_200, 300, seed=137)
    replay(lake, stream, batch_lsns=400, max_lsn=1_199)
    lake.evolve_schema([T.StructField("stars", T.LongType())], note="t")
    lake.compact(min_files=1)
    h = lake.history()
    rows = h.collect()
    assert [r["version"] for r in rows] == sorted(
        (r["version"] for r in rows), reverse=True
    )
    kinds = {r["kind"] for r in rows}
    assert kinds == {"merge", "compaction", "schema_evolution"}
    merges = [r for r in rows if r["kind"] == "merge"]
    assert all(r["batch_id"] and r["ts"] for r in merges)
    import json as _json

    assert all(_json.loads(r["details"]) for r in rows)


def test_compact_if_needed_policy(spark, tmp_path):
    """Only dirty buckets at/over the file threshold are compacted; state
    is unchanged; quiet buckets keep their files."""
    lake = LakeTable.create(str(tmp_path / "pol"), spark, n_buckets=2,
                            write_mode="mor")
    # bucket-targeted churn: many merges -> dirty buckets accumulate files
    stream = synth_change_stream(spark, 2_400, 200, seed=139).cache()
    replay(lake, stream, batch_lsns=300, max_lsn=2_399)  # 8 MoR merges
    before = lake.state_checksum()
    files = lake._bucket_files(lake.metadata())
    max_files = max(len(es) for es in files.values())
    assert max_files >= 8, "fixture must fragment"
    none = lake.compact_if_needed(max_files_per_bucket=max_files + 1)
    assert none["compacted_buckets"] == 0  # threshold not reached anywhere
    out = lake.compact_if_needed(max_files_per_bucket=4)
    assert out["compacted_buckets"] >= 1
    assert lake.state_checksum() == before
    after = lake.metadata().get("dirty", {})
    for b, es in lake._bucket_files(lake.metadata()).items():
        if str(b) not in after:
            assert len(es) <= 2  # compacted buckets are tight again


def _ghost_rewrite(spark, lake, op):
    """Run rewrite operation ``op`` over the ghost-tombstone fixture and
    return the {(repo, path): content} state it must leave."""
    g1 = spark.createDataFrame([(3, 3.0, "upsert", "r", "G1", "c", "py", "hello")], _COLS)
    if op == "cow_apply_batch":
        apply_batch(lake, g1, "cow-upsert", mode="cow")
        return {("r", "G1"): "hello"}
    if op == "compact":
        lake.compact(min_files=1)
    elif op == "delete_where":
        # a resurrected ghost row has lang NULL, which never matches
        lake.delete_where([("lang", "=", "py")])
    elif op == "update_where":
        lake.update_where([("lang", "=", "py")], {"content": "x"})
    elif op == "merge_into":
        (lake.merge_into(g1.select("repo", "path", "commit", "lang", "content"))
             .when_matched_update({"content": F.col("s.content")})
             .when_not_matched_insert()
             .execute())
        return {("r", "G1"): "hello"}
    elif op == "rebucket":
        lake.rebucket(2)
    return {}


@pytest.mark.parametrize(
    "op",
    ["cow_apply_batch", "compact", "delete_where", "update_where", "merge_into", "rebucket"],
)
def test_cow_merge_does_not_resurrect_clean_bucket_tombstones(spark, tmp_path, op):
    """Ghost-tombstone hazard on every rewrite path: a MoR delete of
    never-present keys into an EMPTY bucket leaves a tombstone file in a
    CLEAN bucket; a later rewrite (COW merge, compaction, predicate
    delete/update, MERGE INTO, rebucket) must not read it through the
    data schema, which would resurrect the tombstoned keys as null-payload
    rows."""
    lake = LakeTable.create(str(tmp_path / "ghost"), spark, n_buckets=1)
    apply_batch(
        lake,
        spark.createDataFrame(
            [(1, 1.0, "delete", "r", "G1", "c", None, None),
             (2, 2.0, "delete", "r", "G2", "c", None, None)],
            _COLS,
        ),
        "del-never-present", mode="mor",
    )
    assert not lake.metadata().get("dirty"), "empty-bucket tombstone stays clean"
    want = _ghost_rewrite(spark, lake, op)
    rows = {(r["repo"], r["path"]): r["content"] for r in lake.read().collect()}
    assert rows == want, f"G2 must NOT resurrect after {op}: {rows}"
    assert lake.lookup([("r", "G2", "c")]).count() == 0


def test_changes_distinguishes_null_from_sentinel_value(spark, tmp_path):
    """A NULL <-> literal-sentinel content flip is a REAL update and must
    appear in the changelog (the fingerprint hashes an is-null flag, not a
    sentinel that a genuine value could collide with)."""
    lake = LakeTable.create(str(tmp_path / "nullfp"), spark, n_buckets=1)
    apply_batch(
        lake,
        spark.createDataFrame([(1, 1.0, "upsert", "r", "P", "c", "py", "\x00")], _COLS),
        "b1",
    )
    v1 = lake.version
    apply_batch(
        lake,
        spark.createDataFrame([(2, 2.0, "upsert", "r", "P", "c", "py", None)], _COLS),
        "b2",
    )
    chg = lake.changes(v1).collect()
    assert len(chg) == 1 and chg[0]["change_op"] == "update"
    assert chg[0]["content"] is None
    # and the reverse direction
    apply_batch(
        lake,
        spark.createDataFrame([(3, 3.0, "upsert", "r", "P", "c", "py", "\x00")], _COLS),
        "b3",
    )
    chg2 = lake.changes(v1 + 1).collect()
    assert len(chg2) == 1 and chg2[0]["content"] == "\x00"


def test_ivm_null_group_key_merges_as_one_group(spark, tmp_path):
    """NULL group keys: groupBy treats NULL as one group, so the maintain
    join must be null-safe — a NULL-lang group must roll forward as ONE row
    equal to the from-scratch recompute."""
    from valentine_spark.cdc import init_aggregate, maintain_aggregate

    lake = LakeTable.create(str(tmp_path / "nullg"), spark, n_buckets=2)
    apply_batch(
        lake,
        spark.createDataFrame(
            [(1, 1.0, "upsert", "r", "A", "c", None, "xx"),
             (2, 2.0, "upsert", "r", "B", "c", None, "yyy"),
             (3, 3.0, "upsert", "r", "C", "c", "go", "z")],
            _COLS,
        ),
        "c1",
    )
    v1 = lake.version
    measures = {"files": ("count", None), "bytes": ("sum", "clen")}

    def prep(df):
        out = df.withColumn("clen", F.length(F.coalesce(F.col("content"), F.lit(""))))
        if "_before_content" in df.columns:
            out = out.withColumn(
                "_before_clen", F.length(F.coalesce(F.col("_before_content"), F.lit("")))
            )
        return out

    agg = init_aggregate(prep(lake.read()), ["lang"], measures)
    apply_batch(
        lake,
        spark.createDataFrame(
            [(4, 4.0, "upsert", "r", "D", "c", None, "wwww"),
             (5, 5.0, "delete", "r", "A", "c", None, None)],
            _COLS,
        ),
        "c2",
    )
    chg = prep(lake.changes(v1, include_before=True))
    rolled = maintain_aggregate(agg, chg, ["lang"], measures)
    fresh = init_aggregate(prep(lake.read()), ["lang"], measures)
    key = lambda df: sorted(
        ((r["lang"], r["files"], r["bytes"]) for r in df.collect()),
        key=lambda t: (t[0] is None, t[0]),
    )
    got, want = key(rolled), key(fresh)
    assert got == want, (got, want)
    assert sum(1 for t in got if t[0] is None) == 1  # ONE null-keyed row


def test_restore_rolls_back_state_metadata_only(spark, tmp_path):
    """restore(v) (the Delta RESTORE analogue) must reproduce snapshot v's
    state under a NEW version without rewriting any data, keep exactly-once
    bookkeeping un-rolled-back, and survive expiry of everything older."""
    stream = synth_change_stream(spark, 4000, 500, seed=3)
    lake = LakeTable.create(str(tmp_path / "restore"), spark, n_buckets=4)
    apply_batch(lake, stream.where(F.col("lsn") < 2000), "good")
    v_good = lake.version
    good_state = lake.state_checksum()
    apply_batch(lake, stream.where(F.col("lsn") >= 2000), "bad")
    assert lake.state_checksum() != good_state

    n_parquet_before = len(
        glob.glob(str(tmp_path / "restore" / "data" / "**" / "*.parquet"), recursive=True)
    )
    entry = lake.restore(v_good, note="undo bad batch")
    assert lake.version == v_good + 2  # a NEW commit, history preserved
    assert lake.state_checksum() == good_state
    # metadata-only: not a single data file written
    n_parquet_after = len(
        glob.glob(str(tmp_path / "restore" / "data" / "**" / "*.parquet"), recursive=True)
    )
    assert n_parquet_after == n_parquet_before
    # exactly-once NOT rolled back: the bad batch id stays applied, so a
    # replayer cannot silently re-introduce the undone data
    assert lake.is_applied("bad")
    assert apply_batch(lake, stream.where(F.col("lsn") >= 2000), "bad")["skipped"]
    # lineage records the restore
    kinds = [r["kind"] for r in lake.history().collect()]
    assert kinds[0] == "restore"
    # the restored state survives expiry of all older snapshots
    lake.expire_snapshots(keep_last=1)
    assert lake.state_checksum() == good_state


def test_restore_raises_on_expired_version(spark, tmp_path):
    stream = synth_change_stream(spark, 3000, 300, seed=4)
    lake = LakeTable.create(str(tmp_path / "restore_exp"), spark, n_buckets=4)
    apply_batch(lake, stream.where(F.col("lsn") < 1500), "b1")
    v1 = lake.version
    apply_batch(lake, stream.where(F.col("lsn") >= 1500), "b2")
    lake.expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        lake.restore(v1)


def test_ivm_minmax_multi_window_equals_recompute(spark, tmp_path):
    """min/max maintenance (selective group rescan): roll the view across
    windows with inserts, updates, and deletes — including retractions of
    the stored extremes — and the result equals a from-scratch recompute
    over the final table."""
    from valentine_spark.cdc import init_aggregate, maintain_aggregate

    stream = synth_change_stream(spark, 4_000, 600, seed=53).cache()
    lake = LakeTable.create(str(tmp_path / "ivmm"), spark, n_buckets=4)
    measures = {
        "rows": ("count", None),
        "min_len": ("min", "clen"),
        "max_len": ("max", "clen"),
    }

    def prep(df):
        out = df.withColumn("clen", F.length(F.coalesce(F.col("content"), F.lit(""))))
        if "_before_content" in df.columns:
            out = out.withColumn(
                "_before_clen",
                F.length(F.coalesce(F.col("_before_content"), F.lit(""))),
            )
        return out

    replay(lake, stream.where(F.col("lsn") < 1_000), batch_lsns=1_000, max_lsn=999)
    agg = init_aggregate(prep(lake.read()), ["lang"], measures).cache()
    agg.count()
    for lo in (1_000, 2_000, 3_000):
        v_prev = lake.version
        batch = stream.where((F.col("lsn") >= lo) & (F.col("lsn") < lo + 1_000))
        apply_batch(lake, batch, f"w-{lo}", watermark_lsn=lo + 999)
        chg = prep(lake.changes(v_prev, include_before=True))
        agg = maintain_aggregate(
            agg, chg, ["lang"], measures, base=prep(lake.read())
        ).cache()
        agg.count()
    got = {r["lang"]: (r["rows"], r["min_len"], r["max_len"]) for r in agg.collect()}
    fresh = init_aggregate(prep(lake.read()), ["lang"], measures)
    want = {r["lang"]: (r["rows"], r["min_len"], r["max_len"]) for r in fresh.collect()}
    assert got == want
    stream.unpersist()


def test_ivm_minmax_contract_errors(spark, tmp_path):
    """min/max measures demand base= (rescan source) in maintain_aggregate
    and are rejected by the pure-delta aggregate_delta."""
    import pytest

    from valentine_spark.cdc import apply_batch, init_aggregate, maintain_aggregate
    from valentine_spark.cdc.ivm import aggregate_delta

    stream = synth_change_stream(spark, 400, 80, seed=54).cache()
    lake = LakeTable.create(str(tmp_path / "ivme"), spark, n_buckets=2)
    apply_batch(lake, stream.where(F.col("lsn") < 200), "b0")
    measures = {"mx": ("max", "lang")}
    agg = init_aggregate(lake.read(), ["repo"], measures)
    v = lake.version
    apply_batch(lake, stream.where(F.col("lsn") >= 200), "b1")
    chg = lake.changes(v, include_before=True)
    with pytest.raises(ValueError, match="base="):
        maintain_aggregate(agg, chg, ["repo"], measures)
    with pytest.raises(ValueError, match="min/max"):
        aggregate_delta(chg, ["repo"], measures)
    # and the full call with base succeeds + matches recompute
    rolled = maintain_aggregate(agg, chg, ["repo"], measures, base=lake.read())
    fresh = init_aggregate(lake.read(), ["repo"], measures)
    assert {tuple(r) for r in rolled.collect()} == {tuple(r) for r in fresh.collect()}
    stream.unpersist()
