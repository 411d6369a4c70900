"""Streaming extraction and curation: the batch operators under readStream.

Use case at scale: transcripts land continuously in the Iceberg table (or
a file/Kafka source); extraction + quality + verdict run per micro-batch
with exactly-once file sinks. The per-turn stages are stateless, so the
only streaming-specific pieces are:

- keyed state for the first-wins exact dedup (``streaming_first_wins_dedup``
  and ``streaming_curate``), with an optional event-time TTL over a
  watermark on ``ts``;
- checkpointLocation for exactly-once progress (the streaming analog of
  plans/checkpoint.py's per-partition manifests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from documentai_spark.functions.verdict import with_verdict
from documentai_spark.operators.extraction import with_extraction_and_quality

TRANSCRIPT_DDL = ("conv_id string, turn_idx int, role string, "
                  "text string, tool string, ts timestamp")

_INTERVAL_UNITS = {
    "millisecond": 1, "milliseconds": 1, "ms": 1,
    "second": 1000, "seconds": 1000, "sec": 1000, "secs": 1000,
    "minute": 60_000, "minutes": 60_000, "min": 60_000, "mins": 60_000,
    "hour": 3_600_000, "hours": 3_600_000,
    "day": 86_400_000, "days": 86_400_000,
}


def _interval_ms(interval: str) -> int:
    """'30 minutes' / '1 hour' -> milliseconds (the subset of Spark's
    interval syntax the streaming operators need)."""
    parts = interval.strip().split()
    if len(parts) != 2 or not parts[0].lstrip("-").isdigit() \
            or parts[1].lower() not in _INTERVAL_UNITS:
        raise ValueError(f"unsupported interval {interval!r} "
                         "(want e.g. '30 minutes')")
    ms = int(parts[0]) * _INTERVAL_UNITS[parts[1].lower()]
    if ms <= 0:
        raise ValueError(f"interval must be positive: {interval!r}")
    return ms


def _event_ms(series) -> int:
    """Max event time of a pandas timestamp series as epoch ms. Arrow
    hands the ts column over tz-naive in the session timezone (UTC in
    this engine's sessions); pandas' naive ``.timestamp()`` is
    epoch-UTC, matching GroupState's watermark clock.

    ``Series.max()`` skips NaT rows; a group whose ts values are ALL
    null yields NaT, which must not crash the stream — such rows carry
    no event-time information, so they contribute epoch 0 (callers fold
    with ``max(last, ...)``, so prior knowledge wins) (ADVICE r5)."""
    import pandas as pd

    m = series.max()
    if pd.isna(m):
        return 0
    return int(m.timestamp() * 1000)


def read_transcript_stream(spark: SparkSession, path: str,
                           max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over a transcripts directory (parquet)."""
    return (spark.readStream.schema(TRANSCRIPT_DDL)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def streaming_extraction(stream: DataFrame) -> DataFrame:
    """Stateless per-turn extraction + quality + verdict on a stream."""
    return with_verdict(with_extraction_and_quality(stream))


def streaming_classified(stream: DataFrame, cfg) -> DataFrame:
    """Stateless per-turn classification on a stream: extraction +
    quality + the 3-technique vote (row-local, so trivially streamable).
    Consecutive grouping is a batch concern — the reference groups per
    uploaded document; the streaming analog is the per-turn category."""
    from documentai_spark.operators.classify import classify_with_vote
    return classify_with_vote(streaming_extraction(stream), cfg)


def streaming_first_wins_dedup(stream: DataFrame,
                               text_col: str = "text",
                               id_cols: tuple[str, ...] = ("conv_id",
                                                           "turn_idx"),
                               ttl: str | None = None,
                               ts_col: str = "ts",
                               watermark: str = "10 minutes",
                               ) -> DataFrame:
    """Streaming exact dedup, first-wins: the streaming form of the
    batch U2 operator (dedup.exact_dedup) for continuously-landing
    training data. Keyed state on the normalized md5 fingerprint — the
    FIRST row of a fingerprint ever seen (across micro-batches) passes;
    every later exact duplicate is dropped.

    Scale shape: state is one small record per distinct fingerprint,
    sharded by the groupBy shuffle, so each fingerprint's state lives on
    exactly one executor; within a batch the earliest (id_cols)-ordered
    row wins deterministically.

    ``ttl=None`` keeps state forever (exact global dedup; unbounded
    state — at a 10^12-turn stream the store grows one record per
    distinct fingerprint). Passing ``ttl`` (e.g. ``'1 hour'``) bounds
    state with an EventTimeTimeout: a fingerprint's state is evicted
    once the watermark passes its first sighting's event time + ttl,
    after which a later duplicate RE-ADMITS and is emitted again — the
    standard windowed-dedup tradeoff (``dropDuplicates`` + watermark
    semantics, but on the pipeline's OWN fingerprint normalization
    instead of raw-column equality). The expiry is fixed at first
    sighting (not slid by duplicates), and re-admission is decided
    against the stored expiry — correct even when the duplicate lands in
    the same batch whose watermark advance would have fired the timeout.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    # the batch operator's own fingerprint, imported not re-spelled
    # (r7 review): an inline copy matched only by luck of md5's
    # implicit string->binary cast and would silently drift from the
    # batch dedup key on any future normalization change
    from documentai_spark.operators.dedup import fingerprint_col

    if "_fp" in stream.columns:
        # same guard as batch exact_dedup (r7 review): withColumn below
        # would silently overwrite the caller's column
        raise ValueError("input column '_fp' collides with "
                         "streaming_first_wins_dedup internals")
    fp = fingerprint_col(F.col(text_col))
    out_cols = list(dict.fromkeys([*id_cols, text_col]))
    # derive output field types from the input schema (a caller passing
    # e.g. id_cols=('doc_id',) with bigint ids must not get strings)
    from pyspark.sql.types import StructType
    out_type = StructType([stream.schema[c] for c in out_cols])
    ttl_ms = None if ttl is None else _interval_ms(ttl)
    state_type = "seen boolean, expiry bigint"

    def first_wins(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            _seen, expiry = state.get
            if ttl_ms is None or state.getCurrentWatermarkMs() < expiry:
                return  # still-covered duplicate: drop
            # expired but data raced the timeout in this batch: re-admit
        # winner selection via a pandas sort, never python tuple
        # comparison (r7 review): a NULL id in one chunk made
        # `tuple < tuple` compare None against str and the TypeError
        # killed the stream; sort_values handles nulls (na_position
        # last) and kind=mergesort keeps ties deterministic. Sorting by
        # ALL out_cols makes the winner total-order determined even for
        # duplicate id pairs with different payloads.
        heads = []
        max_ts = 0
        for pdf in pdfs:
            heads.append(pdf.sort_values(out_cols, kind="mergesort",
                                         na_position="last").head(1))
            if ttl_ms is not None:
                max_ts = max(max_ts, _event_ms(pdf[ts_col]))
        first = (pd.concat(heads, ignore_index=True)
                 .sort_values(out_cols, kind="mergesort",
                              na_position="last")
                 .head(1)[out_cols])
        if ttl_ms is None:
            expiry = 0
        else:
            # all-null event times anchor the ttl at the WATERMARK, not
            # epoch 0 (r7 review): a 0-anchored expiry is already in
            # the past, so every later duplicate re-admitted each batch
            anchor = max_ts if max_ts > 0 \
                else state.getCurrentWatermarkMs()
            expiry = anchor + ttl_ms
        state.update((True, expiry))
        if ttl_ms is not None:
            state.setTimeoutTimestamp(
                max(expiry, state.getCurrentWatermarkMs() + 1))
        yield first

    timeout = (GroupStateTimeout.NoTimeout if ttl_ms is None
               else GroupStateTimeout.EventTimeTimeout)
    keyed = stream if ttl_ms is None \
        else stream.withWatermark(ts_col, watermark)
    keyed = keyed.withColumn("_fp", fp)
    # "append" output: every emission is final (a key emits at most once
    # per admission window), which is what file sinks require
    return (keyed.groupBy("_fp")
            .applyInPandasWithState(first_wins, out_type, state_type,
                                    "append", timeout))


def streaming_curate(stream: DataFrame,
                     text_col: str = "text",
                     id_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
                     ttl: str | None = None,
                     ts_col: str = "ts",
                     watermark: str = "10 minutes",
                     lm_model: dict | None = None,
                     lm_threshold: float | None = None,
                     **flag_kw) -> DataFrame:
    """Streaming corpus curation: the continuously-landing training-data
    shape. Composes the stateful first-wins dedup (cross-batch exact
    duplicates never reach extraction — the cheap-first ordering that
    matters at 10^12 turns) with the stateless extraction + quality +
    verdict stack and the row-local curation flags
    (``curation.with_stateless_flags``).

    Emissions are per-fingerprint-final (append from the dedup state
    op; everything downstream is stateless), so
    :func:`start_to_parquet` gives an exactly-once curated sink.
    Survivors carry the same flag columns as the batch
    ``curate_documents`` output: ``is_dup`` is literally false here —
    duplicates were dropped by state, not flagged — plus
    bad_lang / bad_len / low_conf / keep byte-identical to the batch
    formulation on the same rows. ``flag_kw`` forwards thresholds
    (min_tokens / max_tokens / min_confidence / min_stopword_ratio).

    ``lm_model`` + ``lm_threshold`` (r8): also score survivors under
    the frozen bigram LM (``curation.with_lm_perplexity`` — stateless,
    pure map-side, so it streams as-is) and fold ``high_perplexity``
    into ``keep`` (``with_stateless_flags``' fold-if-present contract,
    same as the batch ``--curate --lm-threshold`` composition).
    """
    from documentai_spark.operators.curation import (
        with_lm_perplexity, with_stateless_flags,
    )

    survivors = streaming_first_wins_dedup(
        stream, text_col=text_col, id_cols=id_cols, ttl=ttl,
        ts_col=ts_col, watermark=watermark)
    # UnsafeRow barrier: FlatMapGroupsInPandasWithState emits
    # non-Unsafe rows, and EvalPythonExec's pass-through row queue casts
    # its child's rows to UnsafeRow — a directly-downstream Arrow UDF
    # dies with ClassCastException. A codegen'd FilterExec in between
    # materializes UnsafeRows with NO shuffle; the predicate is
    # nondeterministic (spark_partition_id) so the optimizer can neither
    # constant-fold it away nor push it below the state op, and
    # always-true so it drops nothing.
    survivors = survivors.filter(F.spark_partition_id() >= 0)
    extracted = with_verdict(
        with_extraction_and_quality(survivors, text_col=text_col))
    if lm_model is not None and lm_threshold is not None:
        extracted = with_lm_perplexity(extracted, lm_model,
                                       text_col=text_col,
                                       threshold=lm_threshold)
    return with_stateless_flags(extracted, text_col=text_col, **flag_kw)


def start_to_parquet(stream_df: DataFrame, out_path: str,
                     checkpoint: str, trigger_once: bool = True):
    """Exactly-once parquet sink; availableNow drains existing input."""
    w = (stream_df.writeStream.format("parquet")
         .option("path", out_path)
         .option("checkpointLocation", checkpoint))
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()
