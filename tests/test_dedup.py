"""Dedup operator tests: exact, MinHash+LSH, SimHash (spark-backed)."""

from __future__ import annotations

import pytest

from documentai_spark.operators.dedup import (
    exact_dedup, minhash_dedup_pairs, minhash_lsh_candidates,
    simhash_near_dups, simhash_signatures,
)

BASE = ("the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill and the birds sing in the "
        "garden under a bright morning sun near the old stone wall")
NEAR = BASE.replace("morning", "evening")  # one-token edit
FAR = ("completely different content about spark shuffle partitions "
       "and adaptive query execution with broadcast joins and skew "
       "handling in large scale distributed dataframe pipelines today")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE), (1, BASE), (2, "  " + BASE + "  "),  # exact dups (norm)
        (3, NEAR),                                       # near dup of 0
        (4, FAR), (5, "tiny"), (6, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    kept = sorted(r.doc_id for r in exact_dedup(docs).collect())
    # 0,1,2 collapse to 0 (whitespace-normalized); others survive
    assert kept == [0, 3, 4, 5, 6]


def test_exact_dedup_null_text_keeps_representative(spark):
    """r7 review: a NULL text has a NULL fingerprint — groupBy keeps the
    NULL group but a plain equi-join can never rejoin it, so the whole
    group used to vanish (data loss). The null-safe semi join keeps the
    group's min-id representative, matching the with_curation_flags
    window semantics (m NULL-text docs -> 1 kept)."""
    rows = [(0, BASE), (1, None), (2, None), (3, FAR)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert kept == [0, 1, 3]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="_fp"):
        exact_dedup(df.withColumn("_fp", df.doc_id))


def test_exact_rep_rows_elects_one_banded_row_per_group(spark):
    """r7: the near-dup chain bands only exact-dup representatives —
    one (min long, min string) row per normalized fingerprint; a
    60-copy group contributes ONE row to the LSH stage instead of
    60 identical signatures colliding in every band (quadratic
    candidates), and the chain's keep set is unchanged."""
    from documentai_spark.operators.dedup import (
        exact_rep_rows, minhash_lsh_candidates, near_dedup,
    )

    rows = [(100 + i, BASE) for i in range(60)]          # mega group
    rows += [(5, NEAR), (7, FAR), (1, "  " + BASE + " ")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    reps = exact_rep_rows(df)
    got = sorted(r.doc_id for r in reps.collect())
    assert got == [1, 5, 7]        # min id per group (1 < 100..159)

    # candidate pairs over the representatives: only the true near pair
    # remains; the 61-copy group used to contribute 61*60/2 pairs
    cands = minhash_lsh_candidates(reps).collect()
    assert {(r.id_a, r.id_b) for r in cands} == {(1, 5)}

    kept = sorted(r.doc_id for r in near_dedup(df,
                                               jaccard_threshold=0.7)
                  .collect())
    assert kept == [1, 7]          # cluster rep 1 survives, 7 unrelated


def test_minhash_candidates_and_pairs(docs):
    cand = {(r.id_a, r.id_b)
            for r in minhash_lsh_candidates(docs).collect()}
    assert (0, 1) in cand and (0, 2) in cand and (1, 2) in cand
    assert (0, 3) in cand  # near dup shares most shingles -> some band hits
    assert not any({a, b} == {0, 4} for a, b in cand)

    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in minhash_dedup_pairs(docs,
                                          jaccard_threshold=0.8).collect()}
    assert pairs[(0, 1)] == 1.0 and pairs[(0, 2)] == 1.0
    assert (0, 3) in pairs and 0.8 <= pairs[(0, 3)] < 1.0
    assert not any({a, b} == {0, 4} for a, b in pairs)


def test_simhash(docs):
    sigs = {r.doc_id: r.simhash
            for r in simhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1] == sigs[2]          # identical normalized text
    assert sigs[0] != sigs[4]
    mask64 = (1 << 64) - 1  # signatures are two's-complement longs
    ham_near = bin((sigs[0] ^ sigs[3]) & mask64).count("1")
    ham_far = bin((sigs[0] ^ sigs[4]) & mask64).count("1")
    assert ham_near < ham_far

    dups = {(r.id_a, r.id_b): r.hamming
            for r in simhash_near_dups(docs, max_hamming=6).collect()}
    assert dups[(0, 1)] == 0 and dups[(1, 2)] == 0
    assert not any({a, b} == {0, 4} for a, b in dups)


def test_signatures_partition_invariant(docs):
    from documentai_spark.operators.dedup import minhash_signatures

    one = {r.doc_id: r.simhash
           for r in simhash_signatures(docs.repartition(1)).collect()}
    many = {r.doc_id: r.simhash
            for r in simhash_signatures(docs.repartition(7)).collect()}
    assert one == many
    one = {r.doc_id: r._sig
           for r in minhash_signatures(docs.repartition(1)).collect()}
    many = {r.doc_id: r._sig
            for r in minhash_signatures(docs.repartition(7)).collect()}
    assert one == many


def test_xxhash64_port_matches_spark(spark):
    """core.minhash's numpy XXH64 equals ``F.xxhash64(F.lit(i), s)``
    bit for bit on every byte length 0-80 (each stripe/word/int/tail
    path and their joins) over ASCII, multibyte UTF-8, astral and
    control-character text."""
    import numpy as np
    from pyspark.sql import functions as F

    from documentai_spark.core.minhash import (
        _hash_strings, permutation_seeds,
    )

    alphabet = ["a", "Z", " ", "\t", "\x0b", "\x1c", "\x1d", "ß", "İ",
                "ſ", "Σ", "ς", "é", "\U0001d11e"]
    rng = np.random.default_rng(7)
    strs = ["x" * n for n in range(81)]
    while len(strs) < 200:
        s = "".join(rng.choice(alphabet, int(rng.integers(0, 40))))
        if len(s.encode()) <= 80:
            strs.append(s)
    k = 8
    df = spark.createDataFrame(list(enumerate(strs)), "i long, s string")
    want = {r.i: list(r.h) for r in df.select(
        "i", F.array(*[F.xxhash64(F.lit(j), "s") for j in range(k)])
        .alias("h")).collect()}
    got = _hash_strings([s.encode() for s in strs],
                        permutation_seeds(k)).view(np.int64)
    for i, s in enumerate(strs):
        assert list(got[i]) == want[i], repr(s)


def test_exact_rep_rows_keeps_full_width(spark):
    """The rep exchange has an explicit count, so AQE (on in the test
    session) cannot coalesce a tiny input to one partition: every
    consumer of the representatives runs spark.sql.shuffle.partitions
    wide."""
    from documentai_spark.operators.dedup import exact_rep_rows

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = spark.createDataFrame([(i, f"doc {i % 30} text") for i in
                                range(40)], "doc_id long, text string")
    reps = exact_rep_rows(df)
    assert reps.rdd.getNumPartitions() == n
    assert reps.count() == 30


def test_simhash_udf_matches_expr(spark, docs):
    """r9 optimization: simhash_signatures is now an Arrow kernel over
    JVM-normalized text; the retained pure-JVM expression form is the
    independent second engine. Signatures must be BIT-identical on the
    module corpus plus adversarial rows (control-char whitespace,
    unicode incl. astral, empty/blank, token-less, long repetition) —
    any drift desyncs the DuckDB gate oracle's md5-fold replay."""
    from documentai_spark.operators.dedup import simhash_signatures_expr

    adv = [
        (10, "a\tb\x0b c\x0c\rd\ne"),        # every Java \s class char
        (11, "  "), (12, "\t\n"), (13, None),
        (14, "é café   nbsp"),           # \xa0 is NOT Java \s
        (15, "\U0001d11e astral MiXeD İ ı ſ"),
        (16, ("tok " * 500).strip()),          # single dominant token
        (17, "x"), (18, "unique words only here"),
    ]
    df = docs.unionByName(
        spark.createDataFrame(adv, "doc_id long, text string"))
    fast = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}
    slow = {r.doc_id: r.simhash
            for r in simhash_signatures_expr(df).collect()}
    # the expr form's groupBy drops NULL-normalized rows the same way
    # only if the split produces rows; align on the common domain but
    # require it to cover every non-null doc
    assert set(fast) == set(slow)
    assert fast == slow


def test_embedding_near_dups_lsh(spark):
    """LSH-bucketed embedding dedup finds near-identical vectors."""
    import hashlib

    from documentai_spark.operators.dedup import embedding_near_dups

    def vec(i, eps=0.0):
        h = hashlib.md5(f"e{i}".encode()).digest() * 4
        return [((b / 255.0) - 0.5) + (eps if j == 0 else 0.0)
                for j, b in enumerate(h[:16])]

    rows = ([(i, vec(i)) for i in range(30)]
            + [(100, vec(0, eps=0.001)),   # near-dup of 0
               (101, vec(5, eps=0.002))])  # near-dup of 5
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r.id_a, r.id_b): r.cosine
             for r in embedding_near_dups(df, threshold=0.999,
                                          m_bits=6, dim=16).collect()}
    assert (0, 100) in pairs and pairs[(0, 100)] > 0.999
    assert (5, 101) in pairs
    assert all(a in (0, 5) or b in (100, 101) or a == b - 100
               for a, b in pairs) or len(pairs) >= 2


def test_fingerprint_whitespace_pin(spark):
    """Spark fingerprint_col (Java \\s) == textstats.fingerprint (pinned
    ASCII class) byte-for-byte, including the nasty-whitespace domain:
    \\x0b is whitespace in both, \\x1c-\\x1f / \\xa0 / \\u2028 are NOT
    (Python's Unicode \\s would disagree — ADVICE r1 low #2)."""
    from documentai_spark.core.textstats import fingerprint
    from documentai_spark.operators.dedup import fingerprint_col
    from pyspark.sql import functions as F

    texts = [
        "plain  text",
        "tabs\tand\nnewlines\r\n",
        "vertical\x0btab",
        "file\x1cgroup\x1drecord\x1eunit\x1fseps",
        "nbsp\xa0and linesep",
        "  leading and trailing  ",
        "",
        "MiXeD Case\x0c\x0bWS",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    got = {r.doc_id: r.fp
           for r in df.select("doc_id",
                              fingerprint_col(F.col("text")).alias("fp"))
                      .collect()}
    for i, t in enumerate(texts):
        assert got[i] == fingerprint(t), repr(t)


def test_cluster_pairs_transitive_closure(spark):
    """A~B and B~C fold into ONE cluster with the min-id representative
    even without an A~C pair; disjoint components and singletons keep
    their own reps."""
    from documentai_spark.operators.dedup import cluster_pairs

    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (20, 21), (30, 9)], ["doc_a", "doc_b"])
    nodes = spark.createDataFrame([(i,) for i in
                                   (1, 5, 9, 20, 21, 30, 40)],
                                  ["doc_id"])
    stats = {}
    got = {r.doc_id: r.cluster_rep
           for r in cluster_pairs(pairs, nodes, stats=stats).collect()}
    assert got == {1: 1, 5: 1, 9: 1, 30: 1,      # chain 1-5-9-30
                   20: 20, 21: 20,               # separate component
                   40: 40}                       # singleton
    # observability hook (sf1 export evidence): one pass over the edges
    assert stats["rounds"] == 1


def test_cluster_pairs_long_chain_collapses(spark):
    """A 200-node chain (diameter 199) folds into one component: the
    closure's cost and correctness do not depend on the diameter."""
    from documentai_spark.operators.dedup import cluster_pairs

    chain = spark.createDataFrame([(i, i + 1) for i in range(199)],
                                  ["doc_a", "doc_b"])
    nodes = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    got = cluster_pairs(chain, nodes).collect()
    assert len(got) == 200
    assert {r.cluster_rep for r in got} == {0}


def test_cluster_pairs_builds_lazily(spark):
    """Building the closure frame starts no Spark job and stores no
    checkpoint block; the work happens at the action."""
    from documentai_spark.operators.dedup import cluster_pairs

    sc = spark.sparkContext
    pairs = spark.createDataFrame([(i, i + 1) for i in range(9)],
                                  ["doc_a", "doc_b"])
    nodes = spark.createDataFrame([(i,) for i in range(12)], ["doc_id"])

    def state():
        return (set(sc.statusTracker().getJobIdsForGroup(None)),
                len(sc._jsc.sc().getRDDStorageInfo()))

    jobs_before, stored_before = state()
    got = cluster_pairs(pairs, nodes)
    jobs_after, stored_after = state()
    assert jobs_after == jobs_before
    assert stored_after <= stored_before   # the cleaner may free others
    reps = {r.doc_id: r.cluster_rep for r in got.collect()}
    assert reps == {**{i: 0 for i in range(10)}, 10: 10, 11: 11}


def test_near_dedup_end_to_end(spark):
    """The one-call chain: near-identical docs (incl. a TRANSITIVE
    chain A~B~C where A and C differ more) collapse to one min-id
    representative; distinct docs all survive."""
    from documentai_spark.operators.dedup import near_dedup

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep woods to rest for a while longer")
    rows = [
        (10, base),
        (11, base + " extra"),                     # ~A
        (12, base + " extra tail"),                # ~B (chain to A)
        (20, "completely different content about spark plans and "
             "shuffles and broadcast joins in a distributed engine"),
        (21, "yet another unrelated document concerning audio codecs "
             "and riff containers with pcm samples inside them ok"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = near_dedup(df, jaccard_threshold=0.7)
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [10, 20, 21]
    assert all(r.cluster_rep == r.doc_id for r in out.collect())


def test_cluster_pairs_rejects_non_long_ids(spark):
    """VERDICT r6 #4: a non-numeric id must fail with an error naming
    the fix (long surrogate), not an opaque mid-chain ANSI cast error —
    the guard rides the edge and id projections, so it fires at the
    first action on the closure frame."""
    import pytest

    from documentai_spark.operators.dedup import cluster_pairs

    pairs = spark.createDataFrame([("doc-a", "doc-b")],
                                  ["doc_a", "doc_b"])
    nodes = spark.createDataFrame([("doc-a",), ("doc-b",)], ["doc_id"])
    # string columns take the stricter canonical-form message (r7)
    with pytest.raises(Exception, match="canonical.*xxhash64"):
        cluster_pairs(pairs, nodes).collect()


def test_exact_dedup_null_id_fails_fast(spark):
    import pytest

    from documentai_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "unique text one"), (None, "unique text two")],
        "doc_id int, text string")
    with pytest.raises(Exception, match="exact_dedup.*non-NULL id"):
        exact_dedup(df).collect()


def test_band_structs_validates_divisibility(spark):
    import pytest

    from documentai_spark.operators.dedup import minhash_lsh_candidates

    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="divide num_hashes"):
        minhash_lsh_candidates(df, num_hashes=60, bands=16).collect()
    with pytest.raises(ValueError, match="divide num_hashes"):
        minhash_lsh_candidates(df, num_hashes=64, bands=100).collect()


def _band_structs_element_at(sig_col, num_hashes: int, bands: int):
    """The node-by-node ``F.element_at`` construction band_structs
    replaced, kept as its reference."""
    from pyspark.sql import functions as F

    r = num_hashes // bands
    return F.array(*[
        F.struct(F.lit(b).alias("band_idx"),
                 F.xxhash64(*[F.element_at(sig_col, b * r + j + 1)
                              for j in range(r)]).alias("band_hash"))
        for b in range(bands)])


def test_band_structs_matches_element_at_reference(spark):
    """The SQL-text band keys equal the element_at construction, value
    and type, on random signatures (negatives and the long extremes
    included) at two band shapes."""
    import random

    from pyspark.sql import functions as F

    from documentai_spark.operators.dedup import band_structs

    rng = random.Random(7)
    sigs = [[rng.choice([rng.getrandbits(64) - 2 ** 63, -2 ** 63,
                         2 ** 63 - 1, 0]) for _ in range(64)]
            for _ in range(30)]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(sigs)],
                               "id int, _sig array<bigint>")
    got = df.select(band_structs("_sig", 64, 16).alias("a"),
                    band_structs("_sig", 12, 4).alias("b"))
    want = df.select(_band_structs_element_at(F.col("_sig"), 64, 16)
                     .alias("a"),
                     _band_structs_element_at(F.col("_sig"), 12, 4)
                     .alias("b"))
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_max_bucket_star_join_bounds_candidates(spark):
    """An oversized band bucket (near-identical mega-group) switches to
    star edges: candidate count is linear in the group, and the
    verify+closure still clusters the whole group (r7 review)."""
    from documentai_spark.operators.dedup import (
        minhash_lsh_candidates, near_dedup,
    )

    base = ("boilerplate template text that repeats across the corpus "
            "with a serial number inside it somewhere ")
    rows = [(i, base + f"serial {i}") for i in range(30)]
    rows.append((99, "totally different content about other things "
                     "entirely unrelated to the template and long "
                     "enough to shingle"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    exact = minhash_lsh_candidates(df, max_bucket=None)
    capped = minhash_lsh_candidates(df, max_bucket=5)
    n_exact = exact.count()
    n_capped = capped.count()
    # all-pairs within the 30-group ~ 435 pairs; the capped form keeps
    # all-pairs only in the small residual buckets (the serial token
    # splits some bands), so star edges dominate
    assert n_exact >= 300 and n_capped < n_exact / 3

    # the chain still collapses the group to ONE survivor either way
    surv_capped = {r.doc_id for r in
                   near_dedup(df, jaccard_threshold=0.5,
                              max_bucket=5).collect()}
    surv_exact = {r.doc_id for r in
                  near_dedup(df, jaccard_threshold=0.5,
                             max_bucket=None).collect()}
    assert surv_capped == surv_exact == {0, 99}


def test_embedding_near_dups_zero_vector_not_nan(spark):
    """A zero-norm embedding must not NaN-match everything (NaN >=
    threshold is TRUE under Spark NaN ordering; r7 review)."""
    from documentai_spark.operators.dedup import embedding_near_dups

    rows = [(0, [1.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 0.001, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0])]   # corrupt zero vector
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = embedding_near_dups(df, threshold=0.9, m_bits=1, dim=4).collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    assert (0, 1) in pairs
    assert all(2 not in p for p in pairs), pairs


def test_cluster_pairs_noncanonical_string_id_fails(spark):
    """'007' and '7' are DISTINCT documents that collapse onto one long
    closure label — fail fast instead of conflating (r7 review)."""
    import pytest

    from documentai_spark.operators.dedup import cluster_pairs

    pairs = spark.createDataFrame([("3", "11")], ["id_a", "id_b"])
    nodes = spark.createDataFrame([("3",), ("11",), ("007",)], ["doc_id"])
    with pytest.raises(Exception, match="canonical"):
        cluster_pairs(pairs, nodes, a_col="id_a", b_col="id_b").collect()
