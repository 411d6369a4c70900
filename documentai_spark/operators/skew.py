"""Skew handling: salted repartition + stable order restoration.

``north_rule`` mandates explicit skew handling for long-transcript
conversations (~1% of conv_ids carry 10^3-10^5 turns; FIXTURES.md). The
reference's analog is fixed-size page batching
(documentClassifier.py:1375-1384); at cluster scale that becomes:

- **salted repartition** for the embarrassingly-parallel per-turn stages:
  ``repartition(P, conv_id, pmod(hash(turn_idx), S))`` spreads one mega
  conversation over S salt buckets so no single task owns a whole
  transcript (SURVEY §4 X8 — AQE skew handling does not apply to
  groupBy-free UDF stages, so this is explicit).
- **order restoration** for output and per-conversation logic:
  ``restore_order``'s range exchange + per-task sort on
  ``(conv_id, turn_idx)`` (W1 — the reference's in-submission-order
  collect, universal_analyzer.py:57-64).

At 100 TB the per-turn UDF stages dominate; they need no co-location, so
salting costs one shuffle and buys uniform task sizing. Ordering is only
re-established where per-conversation semantics require it (final write /
sessionization), not after every stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_repartition(df: DataFrame, num_partitions: int | None = None,
                       conv_col: str = "conv_id",
                       order_col: str = "turn_idx",
                       salt_buckets: int = 16) -> DataFrame:
    """Spread each conversation over ``salt_buckets`` partitions.

    Salt is a pure function of the order column (pmod(hash, S)), so the
    layout is deterministic — re-runs produce identical partition contents
    (resume idempotency depends on this).
    """
    if "_salt" in df.columns:
        # withColumn would silently overwrite the caller's data and the
        # trailing drop would remove the column entirely (r7 review) —
        # refuse loudly like every other operator's reserved-name guard
        raise ValueError("input column '_salt' collides with "
                         "salted_repartition internals")
    salt = F.pmod(F.hash(F.col(order_col)), F.lit(salt_buckets))
    df = df.withColumn("_salt", salt)
    if num_partitions:
        out = df.repartition(num_partitions, F.col(conv_col), F.col("_salt"))
    else:
        out = df.repartition(F.col(conv_col), F.col("_salt"))
    return out.drop("_salt")


def restore_order(df: DataFrame, conv_col: str = "conv_id",
                  order_col: str = "turn_idx",
                  num_partitions: int | None = None) -> DataFrame:
    """Cluster rows back into (conv_id, turn_idx) order for output.

    ``repartitionByRange`` + ``sortWithinPartitions`` gives a total order
    across output files without a single-partition bottleneck (range
    exchange samples boundaries; each task sorts locally — the scalable
    form of ``orderBy``).

    The partition count is ALWAYS passed explicitly (r7 review): an
    unconstrained range exchange is exactly the one AQE coalesces to
    ~default.parallelism giant straggler tasks (the measured failure
    plans/pipeline.py documents — CLAUDE.md invariant). Defaults to
    ``spark.sql.shuffle.partitions``.
    """
    n = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (df.repartitionByRange(n, F.col(conv_col), F.col(order_col))
              .sortWithinPartitions(conv_col, order_col))
