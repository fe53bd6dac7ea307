"""General conditional MERGE INTO (cdc/merge_into.py) — the Delta/Iceberg
``MERGE INTO`` analogue.

Invariants:
  * result equality with from-scratch SQL MERGE semantics (matched
    update/delete cascades, not-matched insert, by-source clauses);
  * clause cascades fire FIRST-true-wins, in declaration order;
  * NULL conditions never fire (SQL three-valued logic);
  * cost: without by-source clauses, only files that can hold a source
    key are rewritten (bounds-excluded files carried byte-identical);
  * cardinality violation (duplicate source keys) raises;
  * exactly-once under batch_id; dirty MoR buckets resolve in-flight.
"""

import pytest
from pyspark.sql import functions as F

from valentine_spark.cdc import (
    LakeTable,
    MergeCardinalityError,
    apply_batch,
    synth_change_stream,
)


def _mk(spark, path, **kw):
    lake = LakeTable.create(str(path), spark, n_buckets=4, target_file_rows=200, **kw)
    stream = synth_change_stream(spark, 3000, 2000, seed=7)
    apply_batch(lake, stream, "b1")
    return lake


def _state(lake):
    return {tuple(r[:3]): (r["lang"], r["content"]) for r in lake.read().collect()}


def _src(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )


def test_update_delete_insert_equals_relational(spark, tmp_path):
    lake = _mk(spark, tmp_path / "m1")
    before = _state(lake)
    picked = sorted(before)[:400]
    rows = [(k[0], k[1], k[2], "zig", "NEW") for k in picked] + [
        ("rX", f"pN{i}", "head", "zig", "fresh") for i in range(50)
    ]
    res = (
        lake.merge_into(_src(spark, rows))
        .when_matched_update(
            {"content": F.col("s.content")}, condition=F.col("t.lang") != F.lit("rust")
        )
        .when_matched_delete(condition=F.col("t.lang") == F.lit("rust"))
        .when_not_matched_insert()
        .execute(batch_id="m1")
    )
    after = _state(lake)
    srcmap = {(r[0], r[1], r[2]): (r[3], r[4]) for r in rows}
    want = {}
    for k, v in before.items():
        if k in srcmap:
            if v[0] == "rust":
                continue  # deleted
            want[k] = (v[0], "NEW")
        else:
            want[k] = v
    for k, v in srcmap.items():
        if k not in before:
            want[k] = v
    assert after == want
    assert res["rows_updated"] + res["rows_deleted"] == len(
        [k for k in picked]
    )
    assert res["rows_inserted"] == 50
    # exactly-once: the duplicate op skips
    assert (
        lake.merge_into(_src(spark, rows))
        .when_not_matched_insert()
        .execute(batch_id="m1")["skipped"]
    )


def test_clause_order_first_true_wins(spark, tmp_path):
    lake = _mk(spark, tmp_path / "m2")
    before = _state(lake)
    k = sorted(before)[0]
    src = _src(spark, [(k[0], k[1], k[2], "x", "y")])
    # both clauses' conditions are true; the FIRST declared must fire
    (
        lake.merge_into(src)
        .when_matched_update({"content": F.lit("first")})
        .when_matched_update({"content": F.lit("second")})
        .execute()
    )
    assert _state(lake)[k][1] == "first"
    # reversed declaration order flips the winner
    (
        lake.merge_into(src)
        .when_matched_update({"content": F.lit("second")})
        .when_matched_update({"content": F.lit("first")})
        .execute()
    )
    assert _state(lake)[k][1] == "second"


def test_null_condition_never_fires(spark, tmp_path):
    lake = _mk(spark, tmp_path / "m3")
    before = _state(lake)
    k = sorted(before)[0]
    src = _src(spark, [(k[0], k[1], k[2], None, "z")])
    # s.lang is NULL -> condition NULL -> clause must NOT fire (SQL 3VL)
    res = (
        lake.merge_into(src)
        .when_matched_update(
            {"content": F.lit("fired")}, condition=F.col("s.lang") == F.col("t.lang")
        )
        .execute()
    )
    assert res["rows_updated"] == 0
    assert _state(lake) == before


def test_by_source_delete_syncs_to_source(spark, tmp_path):
    """MERGE with not-matched-by-source DELETE == replace table content
    with the source (the classic full-sync shape)."""
    lake = _mk(spark, tmp_path / "m4")
    before = _state(lake)
    keep = sorted(before)[:300]
    rows = [(k[0], k[1], k[2], "keep", "K") for k in keep]
    res = (
        lake.merge_into(_src(spark, rows))
        .when_matched_update({"lang": F.lit("keep"), "content": F.lit("K")})
        .when_not_matched_insert()
        .when_not_matched_by_source_delete()
        .execute()
    )
    after = _state(lake)
    assert after == {k: ("keep", "K") for k in keep}
    assert res["rows_deleted"] == len(before) - len(keep)


def test_by_source_update_conditional(spark, tmp_path):
    lake = _mk(spark, tmp_path / "m5")
    before = _state(lake)
    keep = sorted(before)[:10]
    rows = [(k[0], k[1], k[2], "x", "y") for k in keep]
    (
        lake.merge_into(_src(spark, rows))
        .when_not_matched_by_source_update(
            {"content": F.lit("stale")}, condition=F.col("t.lang") == F.lit("go")
        )
        .execute()
    )
    after = _state(lake)
    for k, v in before.items():
        if k in dict.fromkeys(keep):
            assert after[k] == v  # matched, no matched clause -> kept
        elif v[0] == "go":
            assert after[k] == ("go", "stale")
        else:
            assert after[k] == v


def test_insert_values_and_missing_source_columns(spark, tmp_path):
    lake = _mk(spark, tmp_path / "m6")
    # source lacks `content` entirely; values provides lang, content -> NULL
    src = spark.createDataFrame(
        [("rI", "pI", "head")], "repo string, path string, commit string"
    )
    (
        lake.merge_into(src)
        .when_not_matched_insert(values={"lang": F.lit("inserted")})
        .execute()
    )
    assert _state(lake)[("rI", "pI", "head")] == ("inserted", None)


def test_cardinality_violation_raises(spark, tmp_path):
    lake = _mk(spark, tmp_path / "m7")
    k = sorted(_state(lake))[0]
    dup = _src(spark, [(k[0], k[1], k[2], "a", "1"), (k[0], k[1], k[2], "b", "2")])
    with pytest.raises(MergeCardinalityError):
        lake.merge_into(dup).when_matched_update({"content": F.lit("x")}).execute()


def test_untouched_files_carried_byte_identical(spark, tmp_path):
    lake = _mk(spark, tmp_path / "m8")
    before_files = {
        e["path"]
        for es in lake._bucket_files(lake.metadata()).values()
        for e in es
    }
    k = sorted(_state(lake))[0]
    res = (
        lake.merge_into(_src(spark, [(k[0], k[1], k[2], "x", "y")]))
        .when_matched_update({"content": F.lit("y")})
        .execute()
    )
    after_files = {
        e["path"]
        for es in lake._bucket_files(lake.metadata()).values()
        for e in es
    }
    carried = before_files & after_files
    # one key -> at most a handful of files rewritten; the rest carried
    assert res["files_rewritten"] <= 2
    assert len(carried) >= len(before_files) - res["files_rewritten"]


def test_merge_into_mor_dirty_bucket_resolves(spark, tmp_path):
    lake = LakeTable.create(
        str(tmp_path / "m9"), spark, n_buckets=4, target_file_rows=200, write_mode="mor"
    )
    stream = synth_change_stream(spark, 3000, 2000, seed=7)
    apply_batch(lake, stream.where(F.col("lsn") < 1500), "b1")
    apply_batch(lake, stream.where(F.col("lsn") >= 1500), "b2")
    assert lake.metadata().get("dirty"), "fixture must hold multi-version state"
    before = _state(lake)
    picked = sorted(before)[:100]
    rows = [(k[0], k[1], k[2], "zig", "M") for k in picked]
    (
        lake.merge_into(_src(spark, rows))
        .when_matched_update({"content": F.col("s.content")})
        .when_not_matched_insert()
        .execute()
    )
    after = _state(lake)
    want = dict(before)
    for k in picked:
        want[k] = (before[k][0], "M")
    assert after == want


def test_set_key_column_and_unknown_column_rejected(spark, tmp_path):
    lake = _mk(spark, tmp_path / "m10")
    src = _src(spark, [("a", "b", "c", "x", "y")])
    with pytest.raises(ValueError):
        lake.merge_into(src).when_matched_update({"repo": F.lit("x")}).execute()
    with pytest.raises(KeyError):
        lake.merge_into(src).when_matched_update({"nope": F.lit("x")}).execute()
    with pytest.raises(ValueError):
        lake.merge_into(src).execute()  # no clauses


def test_rebase_validates_probed_buckets(spark, tmp_path, monkeypatch):
    """A source key that matches nothing and writes nothing still PROBES
    its bucket: a concurrent commit inserting that key before the MERGE
    installs must force a body re-run, so the MERGE serializes after the
    insert and its matched-update lands (no lost update)."""
    lake = LakeTable.create(str(tmp_path / "probe"), spark, n_buckets=4)
    other = LakeTable(lake.root, spark)
    orig = LakeTable._try_install_snapshot
    raced = []

    def racing_install(self, meta):
        if not raced and meta["lineage"][-1].get("mutation") == "merge_into":
            raced.append(meta["version"])
            other.merge_into(_src(spark, [("r", "K", "c", "py", "concurrent")])) \
                .when_not_matched_insert().execute(batch_id="concurrent")
        return orig(self, meta)

    monkeypatch.setattr(LakeTable, "_try_install_snapshot", racing_install)
    res = (
        lake.merge_into(_src(spark, [("r", "K", "c", "py", "ignored")]))
        .when_matched_update({"content": F.lit("updated")})
        .execute(batch_id="probe")
    )
    monkeypatch.setattr(LakeTable, "_try_install_snapshot", orig)

    assert raced, "the concurrent insert must land before the MERGE's first install"
    assert res["rows_updated"] == 1
    assert _state(lake) == {("r", "K", "c"): ("py", "updated")}


def test_delete_every_rewritten_row(spark, tmp_path):
    """A MERGE whose write produces no rows at all (it deletes every row of
    the files it rewrites) still commits and reports its counts."""
    lake = LakeTable.create(str(tmp_path / "empty"), spark, n_buckets=1)
    row = [("r", "K", "c", "py", "x")]
    lake.merge_into(_src(spark, row)).when_not_matched_insert().execute()
    res = lake.merge_into(_src(spark, row)).when_matched_delete().execute()
    assert (res["rows_deleted"], res["files_rewritten"]) == (1, 1)
    assert _state(lake) == {}
