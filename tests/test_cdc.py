"""CDC engine tests (SURVEY.md §5 test plan item 3): full-vs-incremental
replay equivalence, exactly-once under duplicate batches, resume from
checkpoint, salted-vs-window LWW equivalence, schema drift auto-mapping, and
per-row sha256 parity against a single-threaded oracle replay."""

import hashlib

import pytest
from pyspark.sql import functions as F

from valentine_spark.cdc import (
    KEY_COLS,
    LakeTable,
    apply_batch,
    lww_dedup,
    lww_dedup_window,
    oracle_replay,
    replay,
    resume_replay,
    synth_change_stream,
)

N_EVENTS = 6_000
N_KEYS = 700


@pytest.fixture(scope="module")
def stream(spark):
    return synth_change_stream(spark, N_EVENTS, N_KEYS, seed=42).cache()


def make_lake(spark, tmp_path, name, **kw):
    return LakeTable.create(str(tmp_path / name), spark, n_buckets=kw.pop("n_buckets", 8))


def test_lww_salted_equals_window(stream):
    a = lww_dedup(stream, n_salts=16).orderBy(*KEY_COLS).collect()
    b = lww_dedup_window(stream).orderBy(*KEY_COLS).collect()
    c = lww_dedup(stream, n_salts=1).orderBy(*KEY_COLS).collect()
    assert a == b
    assert c == b
    # exactly one row per key
    keys = {tuple(r[k] for k in KEY_COLS) for r in a}
    assert len(keys) == len(a)


def test_replay_matches_oracle(spark, tmp_path, stream):
    lake = make_lake(spark, tmp_path, "oracle_lake")
    replay(lake, stream, batch_lsns=1500)

    state = {tuple(r[k] for k in KEY_COLS): r.asDict() for r in lake.read().collect()}
    expected = oracle_replay(stream.collect())

    assert set(state) == set(expected)
    for key, row in expected.items():
        got = state[key]
        # per-row content sha256 invariant (BASELINE.json input_hint)
        exp_sha = hashlib.sha256((row["content"] or "").encode()).hexdigest()
        got_sha = hashlib.sha256((got["content"] or "").encode()).hexdigest()
        assert exp_sha == got_sha, key
        assert got["lang"] == row["lang"]


def test_single_batch_equals_many_batches(spark, tmp_path, stream):
    one = make_lake(spark, tmp_path, "one_batch")
    replay(one, stream, batch_lsns=N_EVENTS + 1)
    many = make_lake(spark, tmp_path, "many_batches")
    replay(many, stream, batch_lsns=500)
    assert one.state_checksum() == many.state_checksum()


def test_exactly_once_duplicate_batch(spark, tmp_path, stream):
    lake = make_lake(spark, tmp_path, "dup_lake")
    batch = stream.where(F.col("lsn") < 3000)
    first = apply_batch(lake, batch, "b0")
    before = lake.state_checksum()
    second = apply_batch(lake, batch, "b0")  # duplicate delivery
    assert second.get("skipped") is True
    assert lake.state_checksum() == before
    assert first["version"] == lake.version


def test_resume_from_checkpoint(spark, tmp_path, stream):
    # full replay vs kill-and-resume must converge to identical state
    full = make_lake(spark, tmp_path, "full_lake")
    replay(full, stream, batch_lsns=1000)

    partial = make_lake(spark, tmp_path, "partial_lake")
    replay(partial, stream.where(F.col("lsn") < 2500), batch_lsns=1000,
           batch_id_prefix="pre")
    assert partial.watermarks()  # checkpoints recorded
    resume_replay(partial, stream, batch_lsns=1000, batch_id_prefix="resume")
    assert partial.state_checksum() == full.state_checksum()


def test_deletes_remove_rows(spark, tmp_path, stream):
    lake = make_lake(spark, tmp_path, "del_lake")
    replay(lake, stream, batch_lsns=2000)
    deleted_keys = {
        tuple(r[k] for k in KEY_COLS)
        for r in lww_dedup(stream).where(F.col("op") == "delete").collect()
    }
    live_keys = {tuple(r[k] for k in KEY_COLS) for r in lake.read().collect()}
    assert deleted_keys and not (deleted_keys & live_keys)


def test_schema_drift_rename(spark, tmp_path, stream):
    lake = make_lake(spark, tmp_path, "drift_lake")
    apply_batch(lake, stream.where(F.col("lsn") < 3000), "seed")
    before = {f.name for f in lake.schema.fields}

    drifted = (
        stream.where((F.col("lsn") >= 3000) & (F.col("lsn") < 4500))
        .withColumnRenamed("content", "source_text")
        .withColumnRenamed("lang", "language")
    )
    commit = apply_batch(lake, drifted, "drifted")
    assert commit.get("drift_mapping") == {"source_text": "content", "language": "lang"}
    # lineage also records WHICH matcher stage decided each rename
    assert set(commit.get("drift_stages", {})) == {"source_text", "language"}
    assert all(
        s in {"jaccard_exact", "cupid_name", "distribution_emd"}
        for s in commit["drift_stages"].values()
    )
    assert {f.name for f in lake.schema.fields} == before  # renamed, not evolved

    # final state identical to applying the un-drifted batch
    clean = make_lake(spark, tmp_path, "clean_lake")
    apply_batch(clean, stream.where(F.col("lsn") < 3000), "seed")
    apply_batch(clean, stream.where((F.col("lsn") >= 3000) & (F.col("lsn") < 4500)), "b1")
    assert lake.state_checksum() == clean.state_checksum()


def test_schema_drift_new_column_evolves(spark, tmp_path, stream):
    lake = make_lake(spark, tmp_path, "evolve_lake")
    apply_batch(lake, stream.where(F.col("lsn") < 2000), "seed")
    with_new = stream.where((F.col("lsn") >= 2000) & (F.col("lsn") < 3000)).withColumn(
        "n_lines", F.length("content") - F.length(F.regexp_replace("content", "\n", ""))
    )
    apply_batch(lake, with_new, "b-new")
    assert "n_lines" in {f.name for f in lake.schema.fields}
    df = lake.read()
    assert df.where(F.col("n_lines").isNotNull()).count() > 0
    # rows from the pre-evolution snapshot serve nulls
    assert df.where(F.col("n_lines").isNull()).count() > 0


def test_time_travel_versions(spark, tmp_path, stream):
    lake = make_lake(spark, tmp_path, "tt_lake")
    apply_batch(lake, stream.where(F.col("lsn") < 2000), "b0")
    v1 = lake.version
    count_v1 = lake.read().count()
    apply_batch(lake, stream.where((F.col("lsn") >= 2000) & (F.col("lsn") < 4000)), "b1")
    assert lake.version > v1
    assert lake.read(version=v1).count() == count_v1


def test_generator_determinism(spark):
    a = synth_change_stream(spark, 500, 100, seed=7).collect()
    b = synth_change_stream(spark, 500, 100, seed=7).collect()
    assert sorted(a, key=lambda r: r["lsn"]) == sorted(b, key=lambda r: r["lsn"])
    c = synth_change_stream(spark, 500, 100, seed=8).collect()
    assert sorted(a, key=lambda r: r["lsn"]) != sorted(c, key=lambda r: r["lsn"])


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_lww_property_random_streams(spark, seed):
    """Property check on adversarial random streams (duplicate op_ts values,
    shuffled arrival order): all three LWW formulations agree with a
    brute-force python reduction."""
    import random

    rng = random.Random(seed)
    rows = []
    for lsn in range(400):
        key = rng.randrange(25)
        rows.append(
            (
                lsn,
                # coarse timestamps -> many (key, op_ts) ties, lsn breaks them
                f"2026-01-01 00:00:{rng.randrange(30):02d}",
                rng.choice(["insert", "update", "delete"]),
                f"r{key % 5}",
                f"p{key}",
                "c0",
                "py",
                f"content-{lsn}",
            )
        )
    rng.shuffle(rows)  # arrival order != lsn order
    df = spark.createDataFrame(
        rows, "lsn long, op_ts string, op string, repo string, path string, commit string, lang string, content string"
    ).withColumn("op_ts", F.to_timestamp("op_ts"))

    got_agg = {(r["repo"], r["path"], r["commit"]): r["lsn"] for r in lww_dedup(df).collect()}
    got_salt = {(r["repo"], r["path"], r["commit"]): r["lsn"] for r in lww_dedup(df, n_salts=7).collect()}
    got_win = {(r["repo"], r["path"], r["commit"]): r["lsn"] for r in lww_dedup_window(df).collect()}

    best = {}
    for r in df.collect():
        key = (r["repo"], r["path"], r["commit"])
        cand = (r["op_ts"], r["lsn"])
        if key not in best or cand > best[key]:
            best[key] = cand
    expected = {k: v[1] for k, v in best.items()}
    assert got_agg == expected
    assert got_salt == expected
    assert got_win == expected


def test_crash_between_data_write_and_metadata_install(spark, tmp_path, stream):
    """Crash-window safety: a failure AFTER data files are written but
    BEFORE the snapshot metadata is installed must leave the table state
    unchanged (orphan files only), and the re-applied batch must commit
    cleanly with the same final state as an uninterrupted replay."""
    lake = make_lake(spark, tmp_path, "crash")
    replay(lake, stream, batch_lsns=3_000, max_lsn=2_999)  # batch 1 committed
    before = lake.state_checksum()
    v_before = lake.version

    orig = LakeTable._try_install_snapshot
    calls = {"n": 0}

    def exploding(self, meta):
        # the crash: data for batch 2 is on disk by the time merge() calls
        # this; no snapshot file is ever linked in
        calls["n"] += 1
        raise OSError("simulated crash before metadata install")

    LakeTable._try_install_snapshot = exploding
    try:
        batch2 = stream.where((F.col("lsn") >= 3_000) & (F.col("lsn") < 6_000))
        with pytest.raises(OSError):
            apply_batch(lake, batch2, "batch-3000-6000", watermark_lsn=5_999)
    finally:
        LakeTable._try_install_snapshot = orig
    assert calls["n"] == 1

    # table unchanged: same version, same checksum, batch not recorded
    assert lake.version == v_before
    assert lake.state_checksum() == before
    assert "batch-3000-6000" not in lake.applied_batches()

    # re-apply succeeds and matches an uninterrupted replay
    apply_batch(lake, batch2, "batch-3000-6000", watermark_lsn=5_999)
    clean = make_lake(spark, tmp_path, "clean")
    replay(clean, stream, batch_lsns=3_000, max_lsn=5_999)
    assert lake.state_checksum() == clean.state_checksum()


def test_commit_metrics_in_lineage(spark, tmp_path, stream):
    lake = make_lake(spark, tmp_path, "metrics_lake")
    commit = apply_batch(
        lake, stream.where(F.col("lsn") < 3000), "b0", collect_metrics=True
    )
    m = commit["metrics"]
    assert m["keys_touched"] == m["upserts"] + m["deletes"] > 0
    # metrics persist in the on-disk lineage of the snapshot
    recorded = [e for e in lake.metadata()["lineage"] if e.get("batch_id") == "b0"]
    assert recorded and recorded[0]["metrics"] == m
    # and agree with a direct LWW count
    winners = lww_dedup(stream.where(F.col("lsn") < 3000))
    assert m["keys_touched"] == winners.count()


def test_replay_negative_lsns_matches_oracle(spark, tmp_path):
    """LSNs -25..5 with batch_lsns=10: slice keys must floor, not truncate
    toward zero — a truncated key puts lsn -25 in slice -2, whose filter
    [-20, -10) then drops it.  A partial replay up to lsn -11 must leave
    watermarks at -11 (not clamped up to -1), so the resume re-applies
    every later event."""
    rows = [(lsn, float(lsn), "upsert", "r", f"e{lsn}", "c", "py", f"v{lsn}")
            for lsn in range(-25, -20)]  # keys only these events touch
    for lsn in range(-20, 6):
        op = "delete" if lsn % 6 == 0 else "upsert"
        rows.append((lsn, float(lsn), op, "r", f"p{lsn % 4}", "c", "py", f"v{lsn}"))
    events = spark.createDataFrame(
        rows,
        "lsn long, op_ts double, op string, repo string, path string, "
        "`commit` string, lang string, content string",
    )
    lake = make_lake(spark, tmp_path, "neg")
    replay(lake, events, batch_lsns=10, max_lsn=-11)
    assert set(lake.watermarks().values()) == {-11}
    resume_replay(lake, events, batch_lsns=10)

    got = {tuple(r[k] for k in KEY_COLS): r["content"] for r in lake.read().collect()}
    want = {k: row["content"] for k, row in oracle_replay(events.collect()).items()}
    assert got == want


def test_replay_file_packed_lsns_walks_only_occupied_slices(spark, tmp_path, stream):
    """Single-table replay over a file-packed LSN space (a `mysql-bin.000007`
    stream decoded by cdc/wal.py packs lsn ~ 7 * 2^40): the dense walk from
    LSN 0 would iterate ~7.7M empty ranges before the first event.  The
    occupied-slice derivation must produce the same final state as the
    unshifted replay, in exactly the shifted stream's occupied slice count."""
    base = 7 << 40
    shifted = stream.withColumn("lsn", F.col("lsn") + F.lit(base))

    plain = make_lake(spark, tmp_path, "plain")
    replay(plain, stream, batch_lsns=1500)
    far = make_lake(spark, tmp_path, "far")
    commits = replay(far, shifted, batch_lsns=1500)

    # occupied slices only: the shifted stream spans lsn [base, base+N);
    # base is not a multiple of batch_lsns, so the span straddles
    # (last_key - first_key + 1) slice boundaries
    expect_slices = (base + N_EVENTS - 1) // 1500 - base // 1500 + 1
    assert len(commits) == expect_slices
    assert not any(c.get("skipped") for c in commits)
    assert plain.state_checksum() == far.state_checksum()

    # resumable: identical re-run skips every occupied slice, adds none
    commits2 = replay(far, shifted, batch_lsns=1500)
    assert len(commits2) == len(commits)
    assert all(c["skipped"] for c in commits2)


def test_replay_rejects_nonpositive_batch_lsns(spark, tmp_path, stream):
    lake = make_lake(spark, tmp_path, "bad_batch_lsns")
    with pytest.raises(ValueError, match="batch_lsns"):
        replay(lake, stream, batch_lsns=0)
    with pytest.raises(ValueError, match="batch_lsns"):
        replay(lake, stream, batch_lsns=-5)
