"""The CDC-ingest workloads: inputs made from the seed, the call each timed
commit makes, and the events the oracle replays.

Every engine call goes through a module attribute (``cdc_apply.apply_batch``,
``cdc_wal.decode_debezium``, ...) so a tracer that patches those names sees it.

* ``bulk_replay``: catch-up into a fresh copy-on-write (COW) lake.  Events are
  generated JVM-side by ``synth_change_stream`` (about 10 touches per key, 5%
  deletes, half of all events on 3 hot repos) and each timed commit is one
  ``replay`` of one large LSN slice.  Work is the LWW shuffle and the COW
  rewrite; no decode, no drift.
* ``tail_mor``: a steady tail into a pre-populated merge-on-read (MoR) lake.
  Debezium JSON envelopes are written to parquet during set-up; each small
  batch is ``decode_debezium`` then ``apply_batch(mode="mor")``, so reads run
  against dirty buckets.
* ``schema_drift``: every batch renames ``content`` and ``lang`` to rotating
  aliases, and every even-numbered batch adds a genuinely new column; batches
  go into a populated COW lake through ``apply_batch`` and the default
  Valentine cascade.
"""

from __future__ import annotations

import os
from typing import Dict, List

from pyspark.sql import DataFrame, SparkSession, functions as F

import valentine_spark.cdc.apply as cdc_apply
import valentine_spark.cdc.wal as cdc_wal
from valentine_spark.cdc.generator import synth_change_stream
from valentine_spark.cdc.lake import LakeTable, _default_schema

from oracle import expected_lookups

PAYLOAD_SCHEMA = _default_schema()

# Sizes per workload.  "tiny" is the self-test's size.
SIZES = {
    "bulk_replay": {
        "full": dict(batch_events=100_000, n_keys=40_000, n_buckets=16),
        "tiny": dict(batch_events=4_000, n_keys=1_600, n_buckets=4),
    },
    "tail_mor": {
        "full": dict(prepop_events=20_000, batch_events=2_000, n_keys=10_000, n_buckets=4),
        "tiny": dict(prepop_events=2_000, batch_events=500, n_keys=1_000, n_buckets=4),
    },
    "schema_drift": {
        "full": dict(prepop_events=20_000, batch_events=2_000, n_keys=5_000, n_buckets=4),
        "tiny": dict(prepop_events=2_000, batch_events=500, n_keys=1_000, n_buckets=4),
    },
}

# Rotating drift aliases: renamed ``lang`` values recur across batches (the
# Jaccard stage's case); renamed ``content`` shares neither values nor a name
# stem with its target, so it falls through to the distribution stage.
LANG_ALIASES = ["language", "lang_code", "programming_language", "lng"]
CONTENT_ALIASES = ["source_text", "body", "code", "text"]
# Genuinely new columns (one per even batch): integer-typed, so the cascade's
# lattice-type gate keeps them off the string targets.
NEW_COLUMNS = ["stars", "forks", "watchers", "open_issues"]

EVOLVED = "<evolved>"


class Workload:
    name = ""
    write_mode = "cow"
    # typical seconds of one commit and its lookups on a 4-vCPU host: sizes
    # the timed loop so that a run does fixed work
    iteration_s = 4.5
    # point lookups after each commit, each of another key of that batch
    lookups_per_commit = 1

    def __init__(self, spark: SparkSession, seed: int, size: str, n_batches: int):
        self.spark = spark
        self.seed = seed
        self.p = SIZES[self.name][size]
        self.n_batches = n_batches  # batches generated
        # batch -> [(repo, path, commit, lang, content)] its lookups must return
        self.expected: Dict[int, List[tuple]] = {}

    @property
    def first_lsn(self) -> int:
        return self.p.get("prepop_events", 0)

    def canonical(self, first: int, n: int = 1) -> DataFrame:
        """Batches ``first .. first+n-1`` in the canonical stream shape, with
        their batch number in column ``b``.  The generator makes every event
        from (seed, lsn) alone, so batches are consecutive LSN ranges of one
        stream that starts after the pre-population."""
        size = self.p["batch_events"]
        return synth_change_stream(
            self.spark, n * size, self.p["n_keys"], seed=self.seed,
            start_lsn=self.first_lsn + first * size,
        ).withColumn("b", F.expr(f"(lsn - {self.first_lsn}) DIV {size}"))

    def make_inputs(self, root: str) -> None:
        """Input generation: the keys each batch's lookups read back, and
        the rows they must return."""
        self.expected = expected_lookups(
            self.spark, self.canonical(0, self.n_batches), self.seed, self.lookups_per_commit)

    def prepare(self, root: str) -> LakeTable:
        """A fresh lake, pre-populated by one replay where the workload has a
        pre-population."""
        lake = LakeTable.create(os.path.join(root, "lake"), self.spark,
                                n_buckets=self.p["n_buckets"], write_mode=self.write_mode)
        if self.first_lsn:
            cdc_apply.replay(
                lake,
                synth_change_stream(self.spark, self.first_lsn, self.p["n_keys"], seed=self.seed),
                batch_lsns=self.first_lsn,
                batch_id_prefix="prepop",
                mode="cow",
            )
        return lake

    def events(self, i: int) -> DataFrame:
        """The change events commit ``i`` hands the engine."""
        return self.canonical(i).drop("b")

    def commit(self, lake: LakeTable, i: int) -> dict:
        return cdc_apply.apply_batch(lake, self.events(i), f"{self.name}-{i}",
                                     mode=self.write_mode)

    def oracle_events(self, n_applied: int) -> DataFrame:
        """Every event committed: the pre-population and batches 0..n-1."""
        return synth_change_stream(
            self.spark, self.first_lsn + n_applied * self.p["batch_events"],
            self.p["n_keys"], seed=self.seed)

    def expected_drift(self, i: int) -> Dict[str, str]:
        """``{batch column: target column or EVOLVED}`` for batch ``i``."""
        return {}

    def warm_up(self, lake: LakeTable) -> bool:
        """Warm the timed path on ``lake`` without committing, or return
        False: the run then commits batch 0 untimed as the warm-up."""
        return False


class BulkReplay(Workload):
    name = "bulk_replay"
    iteration_s = 10.0

    def commit(self, lake: LakeTable, i: int) -> dict:
        # one occupied LSN slice per call
        (commit,) = cdc_apply.replay(lake, self.events(i),
                                     batch_lsns=self.p["batch_events"],
                                     batch_id_prefix="bulk")
        return commit


class TailMor(Workload):
    name = "tail_mor"
    write_mode = "mor"

    def make_inputs(self, root: str) -> None:
        """Also writes every batch's Debezium envelopes to parquet, so the
        timed loop reads, decodes and applies them."""
        super().make_inputs(root)
        self.envelopes = os.path.join(root, "envelopes")
        debezium_envelopes(self.canonical(0, self.n_batches)) \
            .write.partitionBy("b").parquet(self.envelopes)

    def decoded(self, i: int) -> cdc_wal.DecodedStream:
        raw = self.spark.read.parquet(os.path.join(self.envelopes, f"b={i}"))
        return cdc_wal.decode_debezium(raw, PAYLOAD_SCHEMA)

    def events(self, i: int) -> DataFrame:
        return self.decoded(i).stream


class SchemaDrift(Workload):
    name = "schema_drift"
    iteration_s = 16.0
    lookups_per_commit = 2  # a run holds one drifted commit

    def renamed(self, i: int) -> DataFrame:
        """Batch ``i`` with ``lang`` and ``content`` under this batch's aliases."""
        lang = LANG_ALIASES[i % len(LANG_ALIASES)]
        content = CONTENT_ALIASES[i % len(CONTENT_ALIASES)]
        return super().events(i).withColumnRenamed("lang", lang).withColumnRenamed("content", content)

    def events(self, i: int) -> DataFrame:
        df = self.renamed(i)
        if i % 2 == 0:
            new = NEW_COLUMNS[(i // 2) % len(NEW_COLUMNS)]
            df = df.withColumn(new, F.pmod(F.xxhash64(F.lit(i), "lsn"), F.lit(10_000)))
        return df

    def warm_up(self, lake: LakeTable) -> bool:
        # The pre-population replay already ran the LWW and COW-merge path;
        # one drift resolution warms the matchers and Spark's Python workers.
        # It resolves batch 0's renames without its new column, so the lake
        # is not evolved before the timed commit of batch 0.
        cdc_apply.resolve_drift(self.renamed(0), lake)
        lake.lookup([self.expected[0][0][:3]]).collect()
        return True

    def expected_drift(self, i: int) -> Dict[str, str]:
        out = {LANG_ALIASES[i % len(LANG_ALIASES)]: "lang",
               CONTENT_ALIASES[i % len(CONTENT_ALIASES)]: "content"}
        if i % 2 == 0:
            out[NEW_COLUMNS[(i // 2) % len(NEW_COLUMNS)]] = EVOLVED
        return out


def debezium_envelopes(canon: DataFrame) -> DataFrame:
    """Debezium JSON envelopes (``value`` column) for canonical change events,
    keeping any ``b`` column: inserts are op ``c`` and updates ``u`` with the
    row in ``after``; deletes are op ``d`` with the key image in ``before``."""
    image = F.struct(*[F.col(f.name) for f in PAYLOAD_SCHEMA.fields])
    is_delete = F.col("op") == "delete"
    envelope = F.struct(
        F.when(is_delete, image).alias("before"),
        F.when(~is_delete, image).alias("after"),
        F.when(is_delete, "d").when(F.col("op") == "insert", "c").otherwise("u").alias("op"),
        F.unix_millis(F.col("op_ts")).alias("ts_ms"),
        F.struct(F.col("lsn")).alias("source"),
    )
    keep = ["b"] if "b" in canon.columns else []
    return canon.select(*keep, F.to_json(envelope).alias("value"))


WORKLOADS = {w.name: w for w in (BulkReplay, TailMor, SchemaDrift)}
