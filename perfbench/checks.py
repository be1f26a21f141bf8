"""Output checks run after every job, outside its timed region.

Checksums are order-independent: ``(rows, Σ pmod(h, PRIME), XOR h)`` over
a per-row hash ``h``.  Sums and XORs compose, so the expected value for
any subset of conversations is the combination of per-conversation
checksums computed once from the oracle.
"""

from __future__ import annotations

import os

PRIME = 1_000_000_007
# columns whose values the extraction checksum covers
ROW_COLUMNS = ("conv_id", "turn_idx", "payload_class", "extracted_text",
               "spans")


class CheckFailed(Exception):
    """A job's output disagrees with the oracle or with itself."""


def row_hash():
    from pyspark.sql import functions as F
    return F.xxhash64(*ROW_COLUMNS)


def check_extraction(spark, out_dir: str, run_id: str, stats: dict,
                     expected: tuple[int, int, int]) -> None:
    """Raise :class:`CheckFailed` unless the run ``run_id`` under
    ``out_dir`` is exactly the oracle's rows.

    - rows out equal the expected new turns (sidecar and ``observe()``);
    - the observe() counters equal the sidecar totals (checked here: the
      pipeline's own check is an ``assert``, stripped under ``-O``);
    - no duplicate ``(conv_id, turn_idx)`` across the whole table;
    - the run's checksum equals the oracle's.
    """
    from pyspark.sql import functions as F

    rows, s, x = expected
    obs = stats.get("observed") or {}
    if stats["rows_out"] != rows:
        raise CheckFailed(f"sidecar rows_out {stats['rows_out']} != {rows}")
    if obs.get("rows_out") != stats["rows_out"]:
        raise CheckFailed(f"observe() rows_out {obs.get('rows_out')} != "
                          f"sidecar {stats['rows_out']}")
    if (obs.get("parse_failures") or 0) != stats["parse_failures"]:
        raise CheckFailed(f"observe() parse_failures "
                          f"{obs.get('parse_failures')} != sidecar "
                          f"{stats['parse_failures']}")
    # one scan of the whole table: run_id is its partition column
    h = row_hash()
    mine = F.col("run_id") == run_id
    r = spark.read.parquet(os.path.join(out_dir, "extractions", "data")).agg(
        F.count(F.lit(1)),
        F.count_distinct("conv_id", "turn_idx"),
        F.count(F.when(mine, 1)),
        F.sum(F.when(mine, F.pmod(h, F.lit(PRIME)))),
        F.bit_xor(F.when(mine, h))).collect()[0]
    if r[0] != r[1]:
        raise CheckFailed(f"{r[0] - r[1]} duplicate (conv_id, turn_idx) rows")
    got = (int(r[2]), int(r[3] or 0), int(r[4] or 0))
    if got != (rows, s, x):
        raise CheckFailed(f"checksum {got} != oracle {(rows, s, x)}")


# pair checksum: identical integer arithmetic in Spark and DuckDB, kept
# below 2^53 so neither engine overflows (both raise on BIGINT overflow)
_PAIR_HASH = ("((((id_a % {p}) * 1000003 + id_b) % {p}) * 1000033 "
              "+ {e6}) % {p}")


def spark_pair_checksum(pairs) -> tuple[int, int, int]:
    from pyspark.sql import functions as F
    e6 = "CAST(round(est_jaccard * 1000000) AS BIGINT)"
    h = F.expr(_PAIR_HASH.format(p=PRIME, e6=e6))
    r = pairs.agg(F.count(F.lit(1)), F.sum(h), F.bit_xor(h)).collect()[0]
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def duckdb_pair_checksum(con, oracle_sql: str) -> tuple[int, int, int]:
    e6 = "CAST(round(est_jaccard * 1000000) AS BIGINT)"
    h = _PAIR_HASH.format(p=PRIME, e6=e6)
    r = con.execute(f"SELECT count(*), sum({h}), bit_xor({h}) "
                    f"FROM ({oracle_sql})").fetchone()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def check_pairs(got: tuple[int, int, int],
                expected: tuple[int, int, int]) -> None:
    if tuple(got) != tuple(expected):
        raise CheckFailed(f"pair checksum {got} != DuckDB {expected}")
