"""Independent correctness oracle and latency summaries for the CDC benchmark.

Nothing here calls the engine's dedup or replay code: the expected final
state is a plain Spark SQL ``row_number()`` window over every event the run
fed to the engine, hashed with the formula documented on
``LakeTable.state_checksum`` (row count, and the sum of the first 15 hex
digits of ``sha2(repo \\x1f path \\x1f commit \\x1f coalesce(content, ''))``
over the live rows).
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

_ORACLE_VIEW = "perfbench_oracle_events"

_ORACLE_SQL = f"""
SELECT count(1) AS rows,
       sum(CAST(conv(substring(sha2(concat_ws(chr(31), repo, path, commit,
                                              coalesce(content, '')), 256),
                               1, 15), 16, 10) AS DECIMAL(38, 0))) AS checksum
FROM (
  SELECT repo, path, commit, content, op,
         row_number() OVER (PARTITION BY repo, path, commit
                            ORDER BY op_ts DESC, lsn DESC) AS rn
  FROM {_ORACLE_VIEW}
)
WHERE rn = 1 AND op <> 'delete'
"""

# The winning events of a few keys inside one batch: the lookups made right
# after that batch commits must return exactly these rows.
_LOOKUP_SQL = f"""
SELECT b, repo, path, commit, lang, content FROM (
  SELECT *, row_number() OVER (PARTITION BY b ORDER BY xxhash64(%(seed)d, lsn)) AS pick
  FROM (
    SELECT *, row_number() OVER (PARTITION BY b, repo, path, commit
                                 ORDER BY op_ts DESC, lsn DESC) AS rn
    FROM {_ORACLE_VIEW}
  )
  WHERE rn = 1 AND op <> 'delete'
)
WHERE pick <= %(per_batch)d
ORDER BY b, pick
"""


def expected_state(spark: SparkSession, events: DataFrame) -> Dict[str, int]:
    """``{"rows", "checksum"}`` of the table state the events must leave.

    ``events`` carries the canonical columns (lsn, op_ts, op, repo, path,
    commit, content) of every event applied, in any order."""
    events.select("lsn", "op_ts", "op", "repo", "path", "commit", "content") \
        .createOrReplaceTempView(_ORACLE_VIEW)
    row = spark.sql(_ORACLE_SQL).collect()[0]
    return {"rows": int(row["rows"]), "checksum": int(row["checksum"] or 0)}


def expected_lookups(
    spark: SparkSession, events: DataFrame, seed: int, per_batch: int
) -> Dict[int, List[Tuple[str, ...]]]:
    """For each batch ``b`` (a column of ``events``), ``per_batch`` live keys
    chosen by ``seed`` and the rows they must read back after that batch
    commits: ``{b: [(repo, path, commit, lang, content), ...]}``."""
    events.select("b", "lsn", "op_ts", "op", "repo", "path", "commit", "lang", "content") \
        .createOrReplaceTempView(_ORACLE_VIEW)
    rows = spark.sql(_LOOKUP_SQL % {"seed": int(seed), "per_batch": int(per_batch)}).collect()
    out: Dict[int, List[Tuple[str, ...]]] = {}
    for r in rows:
        out.setdefault(int(r["b"]), []).append(
            tuple(r[c] for c in ("repo", "path", "commit", "lang", "content")))
    return out


def check_state(actual: Dict[str, int], expected: Dict[str, int]) -> Optional[str]:
    """None when the engine's ``state_checksum`` equals the oracle's, else
    a one-line description of the mismatch."""
    if actual["rows"] == expected["rows"] and actual["checksum"] == expected["checksum"]:
        return None
    return f"state mismatch: engine {actual} != oracle {expected}"


def tail(samples: List[float]) -> Tuple[float, int]:
    """``(value, percentile)``: the highest of p99/p95/p90/p75/p50 with at
    least ten samples above it.  Below twenty samples no percentile has ten
    beyond it, and the tail reads the maximum (percentile 100)."""
    xs = sorted(samples)
    n = len(xs)
    for p in (99, 95, 90, 75, 50):
        if n - math.ceil(p / 100 * n) >= 10:
            return xs[math.ceil(p / 100 * n) - 1], p
    return xs[-1], 100
