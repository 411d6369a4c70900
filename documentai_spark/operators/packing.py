"""Sequence packing: greedy document->training-sequence bin assignment.

LLM pretraining consumes fixed-length token sequences; packing many
short documents into each sequence (instead of padding) is the standard
throughput move. This operator assigns every document to a (shard, bin)
pair under a token budget:

- **shard** = ``doc_id % n_shards`` — the unit of parallelism. Packing
  is inherently a sequential scan (each bin decision depends on the
  running fill), so global single-stream packing cannot scale; the
  standard at-scale shape is per-shard independent packing, which this
  implements: shards pack concurrently, each as one ordered group.
- **bin** — within a shard, documents are visited in ``id`` order and
  greedily appended to the current bin while ``fill + n_tokens <=
  budget``; otherwise a new bin opens. A document alone larger than the
  budget still gets its own bin and is flagged ``oversize`` (the caller
  truncates or splits it downstream — this operator never silently
  drops data).

Scale shape: token counts are computed JVM-side (the pinned whitespace
formulation) and only narrow (id, shard, n_tokens) rows enter the
``applyInPandas`` stage — one shuffle by shard, then a per-shard
sequential pass (the irreducible part), emitting one assignment row per
document. Determinism: assignment depends only on (doc_id, n_tokens,
budget, n_shards) — never on partitioning or arrival order.

The greedy reset-at-boundary scan has no closed-form window expression
(a running sum that RESETS is not a prefix sum), so the DuckDB gate
oracle replays it with a recursive CTE stepping row-by-row per shard —
an exact, independent re-derivation of the same recurrence.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from documentai_spark.operators.curation import token_count_col

PACK_SCHEMA = ("doc_id bigint, shard int, bin bigint, n_tokens int, "
               "oversize boolean")

# the sizing-rule cap: one shard == one applyInPandas pandas frame
# (~100 MB of narrow rows at this cap); callers size
# n_shards >= ceil(corpus_rows / MAX_ROWS_PER_SHARD)
MAX_ROWS_PER_SHARD = 5_000_000


def auto_shards(requested: int, corpus_rows: int) -> int:
    """Self-sizing packing parallelism (VERDICT r6 #5): when the corpus
    row count is known (the --prepare job observes it before packing),
    the shard count is ``max(requested, ceil(rows /
    MAX_ROWS_PER_SHARD))`` — the sizing rule made self-enforcing
    instead of relying on the ResourceWarning."""
    import math

    if corpus_rows <= 0:
        return requested
    return max(requested, math.ceil(corpus_rows / MAX_ROWS_PER_SHARD))


def pack_sequences(docs: DataFrame, *, budget: int,
                   id_col: str = "doc_id", text_col: str = "text",
                   n_shards: int = 16,
                   max_rows_per_shard: int = MAX_ROWS_PER_SHARD,
                   est_rows: int | None = None,
                   group_cols: list[str] | None = None) -> DataFrame:
    """(doc_id, shard, bin, n_tokens, oversize) greedy packing
    assignment (see module docstring). ``budget`` is the per-bin token
    capacity; ``n_shards`` the packing parallelism.

    ``group_cols`` (r6) prepends extra PASSTHROUGH grouping columns —
    packing then runs independently per ``(*group_cols, shard)`` group
    in the SAME single shuffle, so e.g. train/val/test splits can be
    packed together without a bin ever mixing splits and without one
    pass over the corpus per split (the ``plans.prepare`` shape). Bin
    ids restart per group; the group columns are carried through to the
    output. The sizing rule is unchanged — each ``(*group_cols, shard)``
    group is still one pandas frame, so a dominant group value behaves
    like a smaller corpus of its own.

    **Sizing rule** (VERDICT r5 #3): each shard is ONE applyInPandas
    group — its (id, shard, n_tokens) rows materialize in a single
    python worker, so choose ``n_shards >= ceil(corpus_rows /
    max_rows_per_shard)`` (and >= cluster cores for parallelism). At
    the default 5M-row cap a shard's pandas frame is ~100 MB; a
    10^10-doc corpus therefore needs n_shards ~ 2000+, NOT the
    16 default. Two guards enforce this:

    - driver-side, when the caller knows the corpus size: pass
      ``est_rows`` and a ResourceWarning fires with the suggested
      ``n_shards`` (the predict_with_topk pattern) before any job runs;
    - executor-side, always: a shard whose actual rows exceed
      ``max_rows_per_shard`` raises with the same sizing rule —
      fail-fast with a named fix instead of an opaque worker OOM.
    """
    if budget < 1 or n_shards < 1:
        raise ValueError("budget and n_shards must be positive")
    if max_rows_per_shard < 1:
        raise ValueError("max_rows_per_shard must be positive")
    if est_rows is not None and est_rows / n_shards > max_rows_per_shard:
        import math
        import warnings
        warnings.warn(
            f"pack_sequences: ~{est_rows} rows over n_shards={n_shards} "
            f"puts ~{est_rows // n_shards} rows in one applyInPandas "
            f"group (> max_rows_per_shard={max_rows_per_shard}); raise "
            f"n_shards to >= {math.ceil(est_rows / max_rows_per_shard)} "
            "or the packing stage will OOM a python worker.",
            ResourceWarning, stacklevel=2)
    group_cols = list(group_cols or [])
    clash = {"doc_id", "shard", "bin", "n_tokens", "oversize"} \
        & set(group_cols)
    if clash:
        raise ValueError(
            f"group_cols collide with packing output columns: "
            f"{sorted(clash)}")
    # checked cast (VERDICT r6 #4): a NULL / malformed / truncating id
    # fails fast with a named error instead of an opaque ANSI cast
    # error (or a silently-truncated shard key on fractional ids)
    from documentai_spark.functions.ids import checked_long
    lid = checked_long(id_col, "pack_sequences",
                       docs.schema[id_col].dataType)
    # token_count_col is TOTAL (NULL text -> 0, r7), so n_tokens can
    # never reach the pandas stage as NaN — a NULL-text doc packs as a
    # zero-token row (this operator never silently drops data)
    narrow = docs.select(
        *group_cols,
        lid.alias("doc_id"),
        (lid % n_shards).cast("int").alias("shard"),
        token_count_col(F.col(text_col)).cast("int").alias("n_tokens"))
    schema = PACK_SCHEMA
    if group_cols:
        extra = ", ".join(
            f"{c} {narrow.schema[c].dataType.simpleString()}"
            for c in group_cols)
        schema = f"{extra}, {PACK_SCHEMA}"
    out_cols = group_cols + ["doc_id", "shard", "bin", "n_tokens",
                             "oversize"]

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > max_rows_per_shard:
            raise ValueError(
                f"pack_sequences shard {int(pdf['shard'].iloc[0])} holds "
                f"{len(pdf)} rows > max_rows_per_shard="
                f"{max_rows_per_shard}; raise n_shards to ~ceil(corpus_"
                "rows / max_rows_per_shard) (see pack_sequences "
                "docstring sizing rule)")
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins = []
        b = -1
        fill = 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if b < 0 or fill + n > budget:
                b += 1
                fill = n
            else:
                fill += n
            bins.append(b)
        pdf["bin"] = pd.Series(bins, dtype="int64")
        pdf["oversize"] = pdf["n_tokens"] > budget
        return pdf[out_cols]

    return (narrow.groupBy(*group_cols, "shard")
            .applyInPandas(pack, schema))


def pack_stats(assignment: DataFrame, budget: int,
               group_cols: list[str] | None = None) -> DataFrame:
    """Per-shard packing efficiency: bins used, mean fill ratio, count
    of oversize documents — the report a pipeline logs to judge whether
    the budget suits the corpus. Pass the same ``group_cols`` the
    assignment was packed with (bin ids restart per group)."""
    group_cols = list(group_cols or [])
    keys = group_cols + ["shard"]
    per_bin = (assignment.groupBy(*keys, "bin")
               .agg(F.sum("n_tokens").alias("fill"),
                    F.max(F.col("oversize").cast("int")).alias("ov")))
    return (per_bin.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n_bins"),
                 F.round(F.avg(F.least(F.col("fill"), F.lit(budget))
                               / F.lit(float(budget))), 6)
                  .alias("mean_fill_ratio"),
                 F.sum("ov").cast("bigint").alias("n_oversize"))
            .orderBy(*keys))
