"""Streaming pipeline test: availableNow drain over the synthetic
transcripts, output equals the batch pipeline's (unordered) result."""

from __future__ import annotations

from documentai_spark.plans.pipeline import extraction_pipeline
from documentai_spark.streaming.pipeline import (
    read_transcript_stream, start_to_parquet, streaming_extraction,
)


def test_stream_equals_batch(spark, transcripts_path, tmp_path):
    out_dir = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    stream = read_transcript_stream(spark, transcripts_path,
                                    max_files_per_trigger=4)
    q = start_to_parquet(streaming_extraction(stream), out_dir, ckpt)
    q.awaitTermination(300)

    got = spark.read.parquet(out_dir) \
        .select("conv_id", "turn_idx", "extracted_text", "verdict").collect()
    want = extraction_pipeline(spark.read.parquet(transcripts_path),
                               ordered_output=False) \
        .select("conv_id", "turn_idx", "extracted_text", "verdict").collect()
    key = lambda r: (r.conv_id, r.turn_idx)  # noqa: E731
    got_s, want_s = sorted(got, key=key), sorted(want, key=key)
    assert len(got_s) == len(want_s)
    assert got_s == want_s


def test_stream_restart_is_exactly_once(spark, transcripts_path, tmp_path):
    """Re-starting with the same checkpoint adds nothing (no duplicates)."""
    out_dir = str(tmp_path / "stream_out2")
    ckpt = str(tmp_path / "ckpt2")
    stream = read_transcript_stream(spark, transcripts_path)
    q = start_to_parquet(streaming_extraction(stream), out_dir, ckpt)
    q.awaitTermination(300)
    n1 = spark.read.parquet(out_dir).count()

    q2 = start_to_parquet(streaming_extraction(
        read_transcript_stream(spark, transcripts_path)), out_dir, ckpt)
    q2.awaitTermination(300)
    n2 = spark.read.parquet(out_dir).count()
    assert n1 == n2


def test_streaming_classified_equals_batch(spark, transcripts_path,
                                           tmp_path):
    """The classification vote is stateless, so the streamed per-turn
    categories must equal the batch chain's on the same input."""
    from documentai_spark.operators.classify import (
        ClassifierConfig, classify_with_vote,
    )
    from documentai_spark.plans.pipeline import extraction_pipeline
    from documentai_spark.streaming.pipeline import (
        read_transcript_stream, start_to_parquet, streaming_classified,
    )

    cfg = ClassifierConfig.compile({
        "billing": {"keywords": ["invoice", "amount", "total"]},
        "shipping": {"keywords": ["vessel", "port", "freight"]},
    })
    out_dir = str(tmp_path / "cstream_out")
    ckpt = str(tmp_path / "cstream_ckpt")
    stream = read_transcript_stream(spark, transcripts_path)
    q = start_to_parquet(
        streaming_classified(stream, cfg).select(
            "conv_id", "turn_idx", "category", "vote_confidence"),
        out_dir, ckpt)
    q.awaitTermination(300)
    got = {(r.conv_id, r.turn_idx): (r.category, r.vote_confidence)
           for r in spark.read.parquet(out_dir).collect()}

    batch = classify_with_vote(
        extraction_pipeline(spark.read.parquet(transcripts_path),
                            ordered_output=False), cfg)
    want = {(r.conv_id, r.turn_idx): (r.category, r.vote_confidence)
            for r in batch.select("conv_id", "turn_idx", "category",
                                  "vote_confidence").collect()}
    assert got == want


def test_streaming_first_wins_dedup(spark, transcripts_path, tmp_path):
    """Streaming exact dedup drops every later duplicate of a
    fingerprint across micro-batches; the surviving fingerprint set
    equals the batch operator's."""
    from pyspark.sql import functions as F

    from documentai_spark.streaming.pipeline import (
        read_transcript_stream, start_to_parquet,
        streaming_first_wins_dedup,
    )

    out_dir = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    # small trigger: several micro-batches, so cross-batch state matters
    stream = read_transcript_stream(spark, transcripts_path,
                                    max_files_per_trigger=2)
    q = start_to_parquet(streaming_first_wins_dedup(stream), out_dir,
                         ckpt)
    q.awaitTermination(300)

    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")),
                                       r"\s+", " ")))
    got = spark.read.parquet(out_dir).withColumn("_fp", fp)
    n_out = got.count()
    # exactly one survivor per distinct fingerprint
    assert got.select("_fp").distinct().count() == n_out
    batch_fps = {r._fp for r in
                 spark.read.parquet(transcripts_path)
                 .select(fp.alias("_fp")).distinct().collect()}
    assert {r._fp for r in got.select("_fp").collect()} == batch_fps
    # duplicates existed in the input, so the stream really dropped rows
    assert n_out < spark.read.parquet(transcripts_path).count()


# ---------------------------------------------------------------------------
# r5: TTL-bounded dedup state, emit-and-evict totals, streaming curation
# ---------------------------------------------------------------------------

import datetime as _dt

_DOCS_DDL = "doc_id bigint, text string, ts timestamp"
_CONV_DDL = "conv_id string, turn_idx int, text string, ts timestamp"
_T0 = _dt.datetime(2024, 1, 1, 0, 0, 0)


def _mins(m):
    return _T0 + _dt.timedelta(minutes=m)


def _append_file(spark, in_dir, rows, ddl):
    spark.createDataFrame(rows, ddl).coalesce(1) \
        .write.mode("append").parquet(in_dir)


def _drain(spark, in_dir, ddl, out_dir, ckpt, builder):
    from documentai_spark.streaming.pipeline import start_to_parquet
    stream = spark.readStream.schema(ddl).parquet(in_dir)
    q = start_to_parquet(builder(stream), out_dir, ckpt)
    q.awaitTermination(300)


def test_dedup_output_schema_derives_from_input(spark, tmp_path):
    """A non-default id column keeps its input type (bigint, not the old
    hardcoded string fallback) in the dedup output schema."""
    from documentai_spark.streaming.pipeline import (
        streaming_first_wins_dedup,
    )
    p = str(tmp_path / "docs_schema")
    _append_file(spark, p, [(1, "a", _T0)], _DOCS_DDL)
    stream = spark.readStream.schema(_DOCS_DDL).parquet(p)
    out = streaming_first_wins_dedup(stream, id_cols=("doc_id",))
    got = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert got == {"doc_id": "bigint", "text": "string"}


def test_ttl_dedup_evicts_and_readmits(spark, tmp_path):
    """Bounded-state dedup: a duplicate inside the TTL is dropped, one
    arriving after the watermark passes first-sighting + TTL re-admits,
    and a key evicted by the timeout (no racing data) re-admits too."""
    from pyspark.sql import functions as F

    from documentai_spark.streaming.pipeline import (
        streaming_first_wins_dedup,
    )

    in_dir = str(tmp_path / "ttl_in")
    out_dir = str(tmp_path / "ttl_out")
    ckpt = str(tmp_path / "ttl_ckpt")

    def build(stream):
        return streaming_first_wins_dedup(
            stream, id_cols=("doc_id",), ttl="1 hour",
            watermark="10 minutes")

    # drain 1: first sightings (expiry = t0 + 1h)
    _append_file(spark, in_dir, [(1, "dup text", _T0),
                                 (2, "unique one", _T0)], _DOCS_DDL)
    _drain(spark, in_dir, _DOCS_DDL, out_dir, ckpt, build)
    # drain 2: in-TTL duplicate (wm = t0-10m < expiry) dropped; the
    # advancer pushes the committed watermark to t0+170m
    _append_file(spark, in_dir, [(3, "dup text", _mins(5)),
                                 (4, "advancer xx", _mins(180))], _DOCS_DDL)
    _drain(spark, in_dir, _DOCS_DDL, out_dir, ckpt, build)
    # drain 3: wm(170m) > expiry(60m): duplicate re-admits even though it
    # races the timeout in the same batch; "unique one" times out with no
    # data (pure eviction)
    _append_file(spark, in_dir, [(5, "dup text", _mins(180))], _DOCS_DDL)
    _drain(spark, in_dir, _DOCS_DDL, out_dir, ckpt, build)
    # drain 4: the evicted key is fresh state -> re-admits
    _append_file(spark, in_dir, [(6, "unique one", _mins(181))], _DOCS_DDL)
    _drain(spark, in_dir, _DOCS_DDL, out_dir, ckpt, build)

    got = {(r.doc_id, r.text)
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {(1, "dup text"), (2, "unique one"),
                   (4, "advancer xx"), (5, "dup text"),
                   (6, "unique one")}  # 3 dropped; 5 and 6 re-admitted


def test_event_ms_all_null_series_is_safe():
    """A micro-batch group whose ts values are ALL null must not crash
    the stateful update fn: _event_ms yields 0 (no event-time info)
    instead of calling .timestamp() on NaT (ADVICE r5); mixed series
    skip the NaT rows (pandas max semantics)."""
    import pandas as pd

    from documentai_spark.streaming.pipeline import _event_ms

    assert _event_ms(pd.Series([pd.NaT, pd.NaT], dtype="datetime64[ns]")) == 0
    mixed = pd.Series([pd.NaT, pd.Timestamp("2024-01-01 00:00:01")])
    assert _event_ms(mixed) == 1704067201000


def test_ttl_dedup_null_ts_rows_flow(spark, tmp_path):
    """End-to-end: a batch whose key carries only null timestamps flows
    through the TTL-dedup path (first sighting emits; the stream does
    not crash on NaT)."""
    from documentai_spark.streaming.pipeline import (
        streaming_first_wins_dedup,
    )

    in_dir = str(tmp_path / "nts_in")
    out_dir = str(tmp_path / "nts_out")
    ckpt = str(tmp_path / "nts_ckpt")

    def build(stream):
        return streaming_first_wins_dedup(
            stream, id_cols=("doc_id",), ttl="1 hour",
            watermark="10 minutes")

    _append_file(spark, in_dir, [(1, "timed row", _T0),
                                 (2, "null ts row", None)], _DOCS_DDL)
    _drain(spark, in_dir, _DOCS_DDL, out_dir, ckpt, build)
    got = {(r.doc_id, r.text)
           for r in spark.read.parquet(out_dir).collect()}
    assert got == {(1, "timed row"), (2, "null ts row")}


def test_streaming_curate_crash_resume_exactly_once(spark, tmp_path):
    """Kill-and-restart evidence for the exactly-once claim (VERDICT r5
    #7): a CONTINUOUS streaming_curate query is stopped mid-stream after
    at least one committed micro-batch, new files (including a
    cross-run exact duplicate) land while it is down, and a restart from
    the SAME checkpoint drains the rest. The union of the two runs must
    be exactly-once: every unique doc emitted once, the duplicate
    dropped by state RESTORED from the checkpoint, nothing emitted
    twice by batch replay (the file-sink commit log)."""
    import time

    from documentai_spark.streaming.pipeline import (
        start_to_parquet, streaming_curate,
    )

    in_dir = str(tmp_path / "cr_in")
    out_dir = str(tmp_path / "cr_out")
    ckpt = str(tmp_path / "cr_ckpt")
    good = ("the quick brown fox jumps over the lazy dog and then "
            "it runs far away into the woods where it was happy to "
            "rest for a while before returning home to the den")

    _append_file(spark, in_dir, [(1, good, _T0)], _DOCS_DDL)
    _append_file(spark, in_dir, [(2, good + " and more", _T0)], _DOCS_DDL)

    def build(stream):
        return streaming_curate(stream, id_cols=("doc_id",))

    # run 1: continuous query, one file per micro-batch; kill after the
    # first commit (no availableNow — the stream believes more is coming)
    stream = (spark.readStream.schema(_DOCS_DDL)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = start_to_parquet(build(stream), out_dir, ckpt,
                         trigger_once=False)
    deadline = time.time() + 120
    while time.time() < deadline:
        if sum(int(p["numInputRows"]) for p in q.recentProgress) >= 1:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)

    # while the query is down: a cross-run duplicate of doc 1 (state
    # restore must drop it) and a fresh doc land
    _append_file(spark, in_dir, [(3, good, _mins(1))], _DOCS_DDL)
    _append_file(spark, in_dir, [(4, good + " tail", _mins(1))],
                 _DOCS_DDL)

    # run 2: restart from the same checkpoint, drain everything
    _drain(spark, in_dir, _DOCS_DDL, out_dir, ckpt, build)

    rows = spark.read.parquet(out_dir).collect()
    got = sorted(r.doc_id for r in rows)
    assert got == [1, 2, 4]  # no loss, no replay-dup, 3 deduped by state


def test_streaming_curate_matches_batch(spark, tmp_path):
    """streaming_curate drops cross-batch exact duplicates via state and
    its flag columns byte-match curate_documents on the surviving set."""
    from pyspark.sql import functions as F

    from documentai_spark.operators.curation import curate_documents
    from documentai_spark.streaming.pipeline import streaming_curate

    in_dir = str(tmp_path / "cur_in")
    out_dir = str(tmp_path / "cur_out")
    ckpt = str(tmp_path / "cur_ckpt")

    good = ("the quick brown fox jumps over the lazy dog and then "
            "it runs far away into the woods where it was happy to "
            "rest for a while before returning home to the den")
    nolang = " ".join(f"zxq{i} qwv{i}" for i in range(15))  # no stopwords
    short = "too short to keep"
    rows1 = [(1, good, _T0), (2, nolang, _T0), (3, short, _T0)]
    rows2 = [(5, good, _mins(1)),          # exact cross-batch duplicate
             (6, good + " again it went", _mins(1))]

    def build(stream):
        return streaming_curate(stream, id_cols=("doc_id",))

    _append_file(spark, in_dir, rows1, _DOCS_DDL)
    _drain(spark, in_dir, _DOCS_DDL, out_dir, ckpt, build)
    _append_file(spark, in_dir, rows2, _DOCS_DDL)
    _drain(spark, in_dir, _DOCS_DDL, out_dir, ckpt, build)

    out = spark.read.parquet(out_dir)
    flag_cols = ["is_dup", "bad_lang", "bad_len", "low_conf", "keep"]
    got = {r.doc_id: tuple(r[c] for c in flag_cols) + (r.confidence,)
           for r in out.select("doc_id", "confidence", *flag_cols)
                       .collect()}
    assert 5 not in got  # the cross-batch duplicate never surfaced
    assert set(got) == {1, 2, 3, 6}

    batch = curate_documents(spark.read.parquet(in_dir), id_col="doc_id")
    want = {r.doc_id: tuple(r[c] for c in flag_cols) + (r.confidence,)
            for r in batch.select("doc_id", "confidence", *flag_cols)
                          .collect() if r.doc_id in got}
    assert got == want  # byte-identical flags + confidence on survivors
    assert got[2][1] and got[3][2]  # bad_lang / bad_len really fire
    assert got[1][4]  # the good doc is kept


def test_null_turn_idx_and_null_ids_flow(spark, tmp_path):
    """r7 review crash class: a NULL id in the first-wins winner
    selection could raise TypeError on tuple comparison. It flows now:
    the dedup winner is the nulls-last deterministic sort, and a NULL
    turn_idx passes through untouched."""
    from documentai_spark.streaming.pipeline import (
        streaming_first_wins_dedup,
    )

    # first-wins with a NULL id among the duplicates: nulls sort LAST,
    # so the non-null-id copy wins deterministically, and nothing crashes
    in2 = str(tmp_path / "nid_in")
    _append_file(spark, in2,
                 [(None, 0, "dup text", _T0), ("c9", 1, "dup text", _T0),
                  ("c8", None, "other text", _T0)], _CONV_DDL)
    out2 = str(tmp_path / "nid_out")
    _drain(spark, in2, _CONV_DDL, out2, str(tmp_path / "nid_ck"),
           lambda s: streaming_first_wins_dedup(s))
    got2 = {(r.conv_id, r.turn_idx, r.text)
            for r in spark.read.parquet(out2).collect()}
    assert got2 == {("c8", None, "other text"), ("c9", 1, "dup text")}


def test_first_wins_fp_collision_guard(spark):
    """Batch exact_dedup's '_fp' collision guard, mirrored on the
    streaming twin (r7 review): a pre-existing _fp column was silently
    overwritten."""
    import pytest

    from documentai_spark.streaming.pipeline import (
        streaming_first_wins_dedup,
    )

    df = spark.createDataFrame([("a", 1, "t", None)],
                               "conv_id string, turn_idx int, "
                               "text string, _fp string")
    with pytest.raises(ValueError, match="_fp"):
        streaming_first_wins_dedup(df)


def test_streaming_curate_lm_threshold_matches_batch(spark, tmp_path):
    """streaming_curate(lm_model=, lm_threshold=) scores survivors under
    the frozen bigram LM across MICRO-BATCHES and its high_perplexity /
    keep columns byte-match the batch composition (curate_documents ->
    with_lm_perplexity -> fold) on the same rows. The threshold is
    derived from core scores inside the test (midpoint of the two
    docs' mean costs), so exactly one doc flags by construction —
    whichever the model scores costlier. (Direction is a MODEL fact,
    not an intuition: an all-OOV doc collapses to the cheap
    (<unk>, <unk>) LUT pair, while in-vocab words in unseen orders pay
    rare-unigram backoffs — the same reason CCNet thresholds are
    tuned per model, never assumed.)"""
    from pyspark.sql import functions as F

    from documentai_spark.core.lm import score_doc
    from documentai_spark.operators.curation import (
        curate_documents, load_lm_model, with_lm_perplexity,
    )
    from documentai_spark.streaming.pipeline import streaming_curate
    from tools.freeze_lm_model import OUT

    model = load_lm_model(OUT)
    soup = " ".join(["the fast scan sort merge join order window"] * 4)
    english = ("the quick brown fox jumps over the lazy dog and then "
               "it runs far away into the woods where it was happy to "
               "rest for a while before returning home to the den")

    def mean_cost(t):
        b, c = score_doc(t, model)
        return c / b / model["scale"]

    thr = (mean_cost(soup) + mean_cost(english)) / 2
    assert mean_cost(soup) != mean_cost(english)
    flags_hi = 1 if mean_cost(soup) > mean_cost(english) else 2

    in_dir = str(tmp_path / "lm_in")
    out_dir = str(tmp_path / "lm_out")
    ckpt = str(tmp_path / "lm_ck")

    def build(stream):
        return streaming_curate(stream, id_cols=("doc_id",),
                                lm_model=model, lm_threshold=thr,
                                min_stopword_ratio=0.0)

    _append_file(spark, in_dir, [(1, soup, _T0)], _DOCS_DDL)
    _drain(spark, in_dir, _DOCS_DDL, out_dir, ckpt, build)
    _append_file(spark, in_dir, [(2, english, _mins(1))], _DOCS_DDL)
    _drain(spark, in_dir, _DOCS_DDL, out_dir, ckpt, build)

    cols = ["lm_bigrams", "lm_cost", "high_perplexity", "keep"]
    got = {r.doc_id: tuple(r[c] for c in cols)
           for r in spark.read.parquet(out_dir)
                         .select("doc_id", *cols).collect()}
    assert set(got) == {1, 2}
    assert got[flags_hi][2] and not got[3 - flags_hi][2]

    flagged = curate_documents(spark.read.parquet(in_dir),
                               id_col="doc_id", min_stopword_ratio=0.0)
    batch = with_lm_perplexity(flagged, model, threshold=thr)
    batch = batch.withColumn("keep", F.col("keep")
                             & ~F.col("high_perplexity"))
    want = {r.doc_id: tuple(r[c] for c in cols)
            for r in batch.select("doc_id", *cols).collect()}
    assert got == want
