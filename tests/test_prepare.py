"""plans.prepare: the end-to-end training-data export composition.

Each stage is gate-checked in isolation (test_curation, test_packing);
these tests pin the COMPOSITION — stage order, single-shuffle per-split
packing, and the accounting identities the job mode reports.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from documentai_spark.operators.curation import (
    curate_documents, mixture_sample, with_split,
)
from documentai_spark.operators.packing import pack_sequences, pack_stats
from documentai_spark.plans.prepare import prepare_training_data

SF = "/root/testdata/sf0.001"
BUDGET = 120


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_prepare_matches_manual_composition(spark, docs):
    """prepare == curate -> filter(keep) -> with_split -> pack, stage
    for stage, on the sf0.001 documents table."""
    prep = prepare_training_data(docs, budget=BUDGET, n_shards=4)

    manual_kept = curate_documents(docs).filter("keep")
    manual_corpus = with_split(manual_kept)
    got_corpus = {(r.doc_id, r.split) for r in prep.corpus.collect()}
    want_corpus = {(r.doc_id, r.split) for r in manual_corpus.collect()}
    assert got_corpus == want_corpus and len(got_corpus) > 0

    # every surviving doc is packed exactly once; nothing else is
    assign = prep.assignment.collect()
    assert {(r.doc_id, r.split) for r in assign} == got_corpus

    # per-(split, shard, bin) budget respected unless the bin is one
    # oversize document
    fills = (prep.assignment.groupBy("split", "shard", "bin")
             .agg(F.sum("n_tokens").alias("fill"),
                  F.count(F.lit(1)).alias("n"),
                  F.max(F.col("oversize").cast("int")).alias("ov"))
             .collect())
    for r in fills:
        assert r.fill <= BUDGET or (r.n == 1 and r.ov == 1)


def test_prepare_determinism(spark, docs):
    """Re-running the identical plan reproduces the identical export
    (hash-deterministic splits and packing, no rand())."""
    a = prepare_training_data(docs, budget=BUDGET, n_shards=4)
    b = prepare_training_data(docs, budget=BUDGET, n_shards=4)
    rows = lambda df: sorted(  # noqa: E731
        (r.doc_id, r.split, r.shard, r.bin) for r in df.collect())
    assert rows(a.assignment) == rows(b.assignment)


def test_prepare_benchmark_and_mixture(spark, docs):
    """A planted benchmark disqualifies its source document; mixture
    thinning equals the standalone operator on the same survivors."""
    victim = (curate_documents(docs).filter("keep")
              .select("doc_id", "text").orderBy("doc_id").first())
    benchmark = docs.filter(F.col("doc_id") == victim.doc_id) \
                    .select("text")
    rates = {"src13": 0.0, "src8": 0.5}
    prep = prepare_training_data(
        docs, benchmark=benchmark, mixture_rates=rates,
        budget=BUDGET, n_shards=4)

    flagged = {r.doc_id: r for r in prep.flagged.collect()}
    assert flagged[victim.doc_id].contaminated
    contam = {i for i, r in flagged.items() if r.contaminated}
    corpus_ids = {r.doc_id for r in prep.corpus.collect()}
    assert victim.doc_id not in corpus_ids

    manual = mixture_sample(
        curate_documents(docs).filter("keep")
        .filter(~F.col("doc_id").isin(contam))
        .select("doc_id", "source"), rates=rates)
    assert corpus_ids == {r.doc_id for r in manual.collect()}
    # src13 is zeroed out entirely
    assert not {r.doc_id for r in prep.corpus
                .filter(F.col("source") == "src13").collect()}


def test_pack_group_cols_equals_per_group_packing(spark, docs):
    """ONE grouped shuffle == packing each split separately: bins never
    mix splits and bin ids restart per (split, shard) group."""
    corpus = with_split(curate_documents(docs).filter("keep"))
    grouped = pack_sequences(corpus, budget=BUDGET, n_shards=4,
                             group_cols=["split"])
    got = sorted((r.split, r.shard, r.bin, r.doc_id, r.n_tokens,
                  r.oversize) for r in grouped.collect())
    want = []
    for s in ("train", "val", "test"):
        part = pack_sequences(corpus.filter(F.col("split") == s),
                              budget=BUDGET, n_shards=4)
        want += [(s, r.shard, r.bin, r.doc_id, r.n_tokens, r.oversize)
                 for r in part.collect()]
    assert got == sorted(want) and len(got) > 0

    # pack_stats respects the grouping: one stats row per
    # (split, shard) pair that has documents
    stats = pack_stats(grouped, BUDGET, group_cols=["split"]).collect()
    assert {(r.split, r.shard) for r in stats} == \
        {(r.split, r.shard) for r in grouped.collect()}


def test_pack_group_cols_collision_guard(spark, docs):
    with pytest.raises(ValueError, match="group_cols collide"):
        pack_sequences(docs, budget=BUDGET, group_cols=["bin"])


def test_prepare_observer_hook_and_accounting(spark, docs):
    """The job mode's accounting identities: observer sees every input
    row with the full flag stack; surviving == corpus when no mixture
    is applied."""
    from pyspark.sql.observation import Observation

    obs = Observation("test_prepare_acc")
    prep = prepare_training_data(
        docs, budget=BUDGET, n_shards=4,
        observer=lambda df: df.observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("keep").cast("int")).alias("kept")))
    n_corpus = prep.corpus.count()
    acc = obs.get
    assert acc["rows"] == docs.count() == 500
    assert acc["kept"] == n_corpus > 0


def test_pack_corpus_is_the_job_stage_boundary(spark, docs, tmp_path):
    """r6 review: job.py --prepare's stage 2 packs via the SAME
    pack_corpus call as the in-plan assignment, so the two-stage form
    (write corpus, re-read, pack) reproduces the single-call export
    exactly — no drift point."""
    from documentai_spark.plans.prepare import pack_corpus

    prep = prepare_training_data(docs, budget=BUDGET, n_shards=4)
    corpus_path = str(tmp_path / "corpus")
    (prep.corpus.write.mode("overwrite").partitionBy("split")
         .parquet(corpus_path))
    staged = pack_corpus(spark.read.parquet(corpus_path),
                         budget=BUDGET, n_shards=4)
    rows = lambda df: sorted(  # noqa: E731
        (r.doc_id, r.split, r.shard, r.bin, r.n_tokens, r.oversize)
        for r in df.collect())
    assert rows(staged) == rows(prep.assignment) and staged.count() > 0


def test_job_accounting_survives_zero_rows(spark, tmp_path):
    """r6 review: SUM Observation metrics over a write that observes
    zero rows come back as SQL NULL (None); job.zero_nulls coalesces
    them so the end-of-job report arithmetic (rows - surviving) cannot
    TypeError after the writes already succeeded."""
    from pyspark.sql.observation import Observation

    import job

    empty = spark.createDataFrame([], "doc_id long, keep boolean")
    obs = Observation("acc_zero_rows")
    out = empty.observe(
        obs, F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("keep").cast("int")).alias("kept"))
    out.write.mode("overwrite").parquet(str(tmp_path / "o"))
    raw = obs.get
    assert raw["rows"] == 0 and raw["kept"] is None   # the hazard
    acc = job.zero_nulls(raw)
    assert acc["rows"] - acc["kept"] == 0


def test_prepare_job_flag_validation():
    """--benchmark/--mixture require --prepare; --prepare excludes the
    other modes (argparse errors fire before any Spark session is
    built). Since r7 --prepare --resume is LEGAL (the stage-manifest
    protocol), so only genuinely invalid combos error."""
    import sys

    import job

    for argv in (["job.py", "--input", "x", "--output", "y",
                  "--benchmark", "b"],
                 ["job.py", "--input", "x", "--output", "y",
                  "--mixture", "web:0.5"],
                 ["job.py", "--input", "x", "--output", "y",
                  "--classified", "--resume"],
                 ["job.py", "--input", "x", "--output", "y",
                  "--prepare", "--curate"]):
        old = sys.argv
        sys.argv = argv
        try:
            with pytest.raises(SystemExit):
                job.main()
        finally:
            sys.argv = old


def test_driver_heap_guard():
    """The spark-submit 1g-default trap (r6): --near-dedup/--prepare
    warn when the ACTUAL driver JVM heap is under 3 GiB (build_session's
    driver.memory claim no-ops after JVM start)."""
    import warnings

    from job import check_driver_heap

    with pytest.warns(ResourceWarning, match="driver-memory 8g"):
        check_driver_heap(1 << 30)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        check_driver_heap(8 << 30)  # no warning at 8 GiB


def test_split_default_warns_off_local_only():
    """The 16 MB input-split default is sized for local single-file
    inputs: a non-local master warns unless the split env is set, and
    local masters never warn."""
    from documentai_spark.sources.session import split_default_warning

    env = "SPARK_GRAFT_MAX_PARTITION_BYTES"
    for master in ("local", "local[4]", "local[*]"):
        assert split_default_warning(master, {}) is None
    for master in ("yarn", "spark://host:7077", "local-cluster[2,1,1024]"):
        assert env in split_default_warning(master, {})
        assert split_default_warning(master, {env: "134217728"}) is None


def test_auto_shards_sizing():
    """VERDICT r6 #5: --prepare stage 2 self-sizes the packing shard
    count from the OBSERVED corpus rows instead of relying on the
    ResourceWarning; the requested value stays a floor."""
    import warnings

    from job import auto_shards

    assert auto_shards(16, 500) == 16
    assert auto_shards(16, 100_000_000) == 20
    assert auto_shards(64, 100_000_000) == 64
    assert auto_shards(16, 0) == 16
    # the driven path no longer warns: est_rows over the auto-sized
    # shard count is inside the cap by construction
    rows = 100_000_000
    with warnings.catch_warnings():
        warnings.simplefilter("error", ResourceWarning)
        from documentai_spark.operators.packing import pack_sequences
        # plan construction only (the warning is driver-side)
        import pyspark.sql.functions as F  # noqa: F401
        # the guard math: rows / auto_shards <= MAX_ROWS_PER_SHARD
        from documentai_spark.operators.packing import MAX_ROWS_PER_SHARD
        assert rows / auto_shards(16, rows) <= MAX_ROWS_PER_SHARD


def test_prepare_per_source_mixture_accounting(spark, docs):
    """VERDICT r6 #6: per-source [before, after] composition rides the
    same two Observations the job mode uses — identity-checked against
    the corpus itself."""
    from pyspark.sql.observation import Observation

    rates = {"src13": 0.0, "src8": 0.5}
    obs = Observation("test_src_acc")

    def observer(df):
        surviving = F.col("keep")
        metrics = ([F.count(F.lit(1)).alias("rows"),
                    F.sum(surviving.cast("int")).alias("surviving")]
                   + [F.sum((surviving & (F.col("source") == s))
                            .cast("int")).alias(f"src_before_{s}")
                      for s in rates])
        return df.observe(obs, *metrics)

    prep = prepare_training_data(docs, mixture_rates=rates,
                                 budget=BUDGET, n_shards=4,
                                 observer=observer)
    after = {r["source"]: r["n"] for r in
             prep.corpus.groupBy("source")
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
    acc = dict(obs.get)
    # identities: after == the corpus's own per-source counts; zeroed
    # source vanishes; half-rate source shrinks; unknown sources
    # (default rate 1.0) have before == after in aggregate
    assert acc["src_before_src13"] > 0
    assert after.get("src13", 0) == 0
    assert 0 < after.get("src8", 0) < acc["src_before_src8"]
    known_before = sum(acc[f"src_before_{s}"] for s in rates)
    known_after = sum(after.get(s, 0) for s in rates)
    star_before = acc["surviving"] - known_before
    star_after = sum(after.values()) - known_after
    assert star_before == star_after > 0


def test_pack_corpus_autosizes_shards_like_the_job(spark, docs):
    """The no-drift contract must include shard self-sizing: above
    MAX_ROWS_PER_SHARD the single-call pack_corpus and the two-stage job
    (which applies auto_shards to the observed count) must produce the
    SAME layout, not a raw-n_shards one guarded only by a
    ResourceWarning (r7 review)."""
    from documentai_spark.operators.packing import auto_shards
    from documentai_spark.plans.prepare import pack_corpus

    corpus = with_split(curate_documents(docs).filter("keep"))
    est = 23_000_000  # > MAX_ROWS_PER_SHARD * 2 -> auto_shards(2,.) = 5
    sized = auto_shards(2, est)
    assert sized > 2
    got = pack_corpus(corpus, budget=BUDGET, n_shards=2, est_rows=est)
    want = pack_sequences(corpus, budget=BUDGET, n_shards=sized,
                          est_rows=est, group_cols=["split"])
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    assert got.agg(F.max("shard")).first()[0] > 1
