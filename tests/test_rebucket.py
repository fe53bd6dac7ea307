"""Bucket-layout evolution (LakeTable.rebucket): state invariance, time
travel, changelog + streaming-source correctness ACROSS the layout
boundary, watermark remapping, follower hint behavior, and the twin-lake
equivalence oracle (same merges, no rebucket)."""

import os

import pandas as pd
import pytest

from valentine_spark.cdc import LakeTable, replay, resume_replay, synth_change_stream
from valentine_spark.cdc.follow import ChangelogFollower, mirror_changes


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].astype(str)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def _build(spark, tmp_path, name, n_buckets=8, n=3000, keys=400, seed=11):
    lake = LakeTable.create(str(tmp_path / name), spark, n_buckets=n_buckets)
    stream = synth_change_stream(spark, n, keys, seed=seed).cache()
    half = n // 2
    replay(lake, stream.where(f"lsn < {half}"), batch_lsns=n // 4, max_lsn=half - 1)
    return lake, stream, half


@pytest.mark.parametrize("new_n", [16, 4])  # growth x2 and shrink /2
def test_rebucket_preserves_state_and_time_travel(spark, tmp_path, new_n):
    lake, stream, half = _build(spark, tmp_path, f"lk{new_n}")
    pre_version = lake.version
    pre_checksum = lake.state_checksum()
    pre_rows = _canon(lake.read().drop("_bucket").toPandas())

    entry = lake.rebucket(new_n, note="scale test")
    assert entry["rebucket"] == [8, new_n]
    assert lake.metadata()["n_buckets"] == new_n
    assert lake.metadata()["dirty"] == {}
    assert lake.state_checksum() == pre_checksum
    assert _canon(lake.read().drop("_bucket").toPandas()).equals(pre_rows)
    # time travel to the pre-rebucket snapshot uses the OLD layout
    assert lake.metadata(pre_version)["n_buckets"] == 8
    assert _canon(
        lake.read(version=pre_version).drop("_bucket").toPandas()
    ).equals(pre_rows)
    # data actually landed in the new layout
    assert all(int(b) < new_n for b in lake.metadata()["buckets"])


def test_rebucket_rejects_non_integer_factor(spark, tmp_path):
    lake, _, _ = _build(spark, tmp_path, "bad")
    with pytest.raises(ValueError, match="integer factor"):
        lake.rebucket(12)  # 8 -> 12 is x1.5
    with pytest.raises(ValueError, match="already"):
        lake.rebucket(8)


def test_changes_and_merges_across_boundary_match_twin(spark, tmp_path):
    """Oracle: a twin lake replays the identical stream WITHOUT the
    rebucket; the changelog across the boundary window and the final
    state must be identical."""
    n, keys = 3000, 400
    lake, stream, half = _build(spark, tmp_path, "evolved", n=n, keys=keys)
    twin, _, _ = _build(spark, tmp_path, "twin", n=n, keys=keys)
    v_mid, t_mid = lake.version, twin.version

    lake.rebucket(16)
    tail = stream.where(f"lsn >= {half}")
    replay(lake, tail, batch_lsns=n // 4, batch_id_prefix="t", max_lsn=n - 1)
    replay(twin, tail, batch_lsns=n // 4, batch_id_prefix="t", max_lsn=n - 1)

    assert lake.state_checksum() == twin.state_checksum()
    got = _canon(lake.changes(v_mid, lake.version).toPandas())
    want = _canon(twin.changes(t_mid, twin.version).toPandas())
    assert got.equals(want), (len(got), len(want))


def test_streaming_source_window_across_boundary(spark, tmp_path):
    from tests.test_lake_source import _assert_matches_changes, _reader_window_df

    n = 3000
    lake, stream, half = _build(spark, tmp_path, "src", n=n)
    v_mid = lake.version
    lake.rebucket(16)
    replay(lake, stream.where(f"lsn >= {half}"), batch_lsns=n // 4,
           batch_id_prefix="t", max_lsn=n - 1)
    v_end = lake.version
    # window crossing the rebucket (old layout base, new layout head)
    _assert_matches_changes(
        spark, lake, _reader_window_df(spark, lake, v_mid, v_end), v_mid, v_end
    )
    # and one crossing from the very beginning
    _assert_matches_changes(
        spark, lake, _reader_window_df(spark, lake, 0, v_end), 0, v_end
    )


def test_streaming_source_across_shrink_with_mor_dirty(spark, tmp_path):
    from tests.test_lake_source import _assert_matches_changes, _reader_window_df

    n = 3000
    lake = LakeTable.create(str(tmp_path / "mor"), spark, n_buckets=8,
                            write_mode="mor")
    stream = synth_change_stream(spark, n, 300, seed=23).cache()
    replay(lake, stream.where(f"lsn < {n // 2}"), batch_lsns=n // 4,
           max_lsn=n // 2 - 1)
    v_mid = lake.version
    lake.rebucket(4)
    replay(lake, stream.where(f"lsn >= {n // 2}"), batch_lsns=n // 4,
           batch_id_prefix="t", max_lsn=n - 1)  # head is dirty again (MoR)
    assert lake.metadata()["dirty"]
    _assert_matches_changes(
        spark, lake,
        _reader_window_df(spark, lake, v_mid, lake.version), v_mid, lake.version,
    )


def test_follower_mirror_across_boundary_drops_hint(spark, tmp_path):
    n = 3000
    lake, stream, half = _build(spark, tmp_path, "fsrc", n=n)
    v_mid = lake.version
    lake.rebucket(16)
    replay(lake, stream.where(f"lsn >= {half}"), batch_lsns=n // 4,
           batch_id_prefix="t", max_lsn=n - 1)

    fol = ChangelogFollower(lake, str(tmp_path / "ckpt"), start=v_mid)
    d = fol.poll()
    assert d.changed_buckets is None  # crossing window: hint must drop
    assert d.source_n_buckets == 16

    sink = LakeTable.create(str(tmp_path / "sink"), spark, n_buckets=16)
    mirror_changes(lake, sink, str(tmp_path / "mckpt"))
    assert sink.state_checksum() == lake.state_checksum()


def test_resume_replay_after_rebucket_growth_and_shrink(spark, tmp_path):
    n = 3000
    for name, new_n in (("g", 16), ("s", 4)):
        lake, stream, half = _build(spark, tmp_path, f"res{name}", n=n)
        lake.rebucket(new_n)
        # resume with the FULL stream: watermarks must filter the applied
        # half; the manifest guard dedupes re-sliced batches
        resume_replay(lake, stream, batch_lsns=n // 4, max_lsn=n - 1)
        twin = LakeTable.create(str(tmp_path / f"tw{name}"), spark, n_buckets=8)
        replay(twin, stream, batch_lsns=n // 4, max_lsn=n - 1)
        assert lake.state_checksum() == twin.state_checksum(), name


def test_rebucket_chain_gcd_pairing(spark, tmp_path):
    """Two rebuckets inside one window: 8 -> 16 -> 4; the source pairs by
    gcd(8, 4) = 4 and must still equal changes()."""
    from tests.test_lake_source import _assert_matches_changes, _reader_window_df

    n = 3000
    lake, stream, half = _build(spark, tmp_path, "chain", n=n)
    v_mid = lake.version
    lake.rebucket(16)
    replay(lake, stream.where(f"lsn >= {half} and lsn < {3 * n // 4}"),
           batch_lsns=n // 4, batch_id_prefix="a", max_lsn=3 * n // 4 - 1)
    lake.rebucket(4)
    replay(lake, stream.where(f"lsn >= {3 * n // 4}"), batch_lsns=n // 4,
           batch_id_prefix="b", max_lsn=n - 1)
    _assert_matches_changes(
        spark, lake,
        _reader_window_df(spark, lake, v_mid, lake.version), v_mid, lake.version,
    )


def test_expire_after_rebucket_reclaims_old_layout(spark, tmp_path):
    lake, stream, half = _build(spark, tmp_path, "gc", n=2000, keys=200)
    pre_version = lake.version
    lake.rebucket(16)
    checksum = lake.state_checksum()
    gc = lake.expire_snapshots(keep_last=1)
    assert gc["removed_files"] > 0          # the whole old layout is gone
    assert lake.state_checksum() == checksum
    assert not os.path.exists(lake._meta_path(pre_version))


def test_rebucket_retries_after_concurrent_commit(spark, tmp_path, monkeypatch):
    """A merge-on-read commit from a second handle lands between rebucket's
    full-table rewrite and its install.  The rewrite no longer reflects the
    table, so the install must conflict and rebucket must re-run its body
    against the fresh snapshot — returning normally, in the new layout,
    with the concurrent batches' rows included."""
    n = 3000
    stream = synth_change_stream(spark, n, 400, seed=11).cache()
    half = n // 2
    lake = LakeTable.create(str(tmp_path / "rb"), spark, n_buckets=8, write_mode="mor")
    replay(lake, stream.where(f"lsn < {half}"), batch_lsns=n // 4, max_lsn=half - 1)
    other = LakeTable(lake.root, spark)

    orig = LakeTable._try_install_snapshot
    raced = []

    def racing_install(self, meta):
        if not raced and "rebucket" in meta["lineage"][-1]:
            raced.append(meta["version"])
            replay(other, stream.where(f"lsn >= {half}"), batch_lsns=n // 4,
                   batch_id_prefix="t", max_lsn=n - 1)
        return orig(self, meta)

    monkeypatch.setattr(LakeTable, "_try_install_snapshot", racing_install)
    entry = lake.rebucket(16)
    monkeypatch.setattr(LakeTable, "_try_install_snapshot", orig)

    assert raced, "the concurrent commit must land before rebucket's first install"
    assert entry["rebucket"] == [8, 16]
    assert entry["version"] > raced[0]
    assert lake.metadata()["n_buckets"] == 16
    ref = LakeTable.create(str(tmp_path / "ref"), spark, n_buckets=8, write_mode="mor")
    replay(ref, stream.where(f"lsn < {half}"), batch_lsns=n // 4, max_lsn=half - 1)
    replay(ref, stream.where(f"lsn >= {half}"), batch_lsns=n // 4,
           batch_id_prefix="t", max_lsn=n - 1)
    assert lake.state_checksum() == ref.state_checksum()
