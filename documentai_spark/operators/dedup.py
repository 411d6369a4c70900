"""Deduplication operators for training-data pipelines.

Four tiers, each a standard large-corpus technique expressed Spark-first
(JVM built-ins for normalization, joins and aggregation; the per-row
integer kernels — shingling, MinHash and SimHash signatures — run as
Arrow-batched pandas UDFs over JVM-normalized text):

- **exact**      — md5 fingerprint hash-groupBy (one shuffle on a 16-byte
                   key; map-side partial agg).
- **MinHash+LSH**— k-permutation signatures computed *shuffle-free* per row
                   (an Arrow kernel over JVM-normalized text,
                   ``core.minhash``), then banded: only the
                   (band_idx, band_hash) explode shuffles, and its fan-out is b rows/doc (b=16), so the candidate
                   join touches a tiny fraction of the corpus — the 100 TB
                   scale path.
- **SimHash**    — 64-bit signature via per-bit weighted majority over
                   token hashes; near-dup = small Hamming distance
                   (bit_count(a XOR b)); candidates via 16-bit chunk bands.
- **n-gram Jaccard** — exact verify step for candidate pairs (also
                   standalone in __spark_entry__.q_ngram_jaccard).

Determinism: all hashes are xxhash64 with fixed per-permutation salts —
signatures are pure functions of the text, independent of partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from documentai_spark.functions import sqltext


def normalized_text(col: Column) -> Column:
    """Whitespace-collapsed lowercase (textstats.normalize_for_fingerprint)."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint_col(col: Column) -> Column:
    """Exact-dedup key: md5 of normalized text."""
    return F.md5(normalized_text(col).cast("binary"))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per fingerprint group.

    One shuffle; at 100 TB prefer a two-level agg (cluster by fingerprint
    prefix first) only if the key cardinality approaches row count — here
    map-side combine already collapses duplicates early.

    The semi join is NULL-SAFE on the fingerprint (r7 review): a
    NULL-text row has a NULL fingerprint, which groupBy keeps as its own
    group but a plain equi-join can never match — the NULL group's
    min-id representative would silently vanish from the output (data
    loss, not dedup). With eqNullSafe the NULL-fingerprint group keeps
    its min-id row exactly like the window form in
    ``curation.with_curation_flags``.

    NULL ids fail fast (r7 review): the id leg of the semi-join
    condition is null-UNSAFE by design (two NULL-id rows are not the
    same row), so a NULL id would silently delete its row — even a
    unique-text one — instead of deduping anything. The check rides the
    min() agg input; no extra jobs (``functions.ids.checked_non_null``).
    """
    from documentai_spark.functions.ids import checked_non_null

    if "_fp" in df.columns:
        raise ValueError("input column '_fp' collides with exact_dedup "
                         "internals")
    fp = df.withColumn("_fp", fingerprint_col(F.col(text_col)))
    keep = (fp.groupBy("_fp")
              .agg(F.min(checked_non_null(F.col(id_col), "exact_dedup"))
                   .alias("_keep_id"))
              .withColumnRenamed("_fp", "_keep_fp"))
    return (fp.join(keep,
                    F.col("_fp").eqNullSafe(F.col("_keep_fp"))
                    & (F.col(id_col) == F.col("_keep_id")), "left_semi")
              .drop("_fp"))


def exact_rep_rows(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", *,
                   context: str = "near_dedup") -> DataFrame:
    """One representative ``(id, text)`` row per EXACT-duplicate group:
    the min-(long id, string id) member per normalized fingerprint.

    Why this exists (r7 review): identical texts have identical MinHash
    signatures, so an m-copy boilerplate group collides in EVERY band
    and the LSH self-join emits ~bands*m^2/2 candidate rows — a
    quadratic blowup on content that exact dedup collapses to one row
    in one shuffle (at 100 TB a million-copy template is ~10^13 join
    rows). The near-dup chain therefore bands ONLY these
    representatives; exact-duplicate members inherit the verdict
    through ``is_dup`` (with_curation_flags) or by not being cluster
    representatives (near_dedup). One groupBy on the 16-byte
    fingerprint.

    The winner is picked in the LONG domain with the string id as
    tie-break — the SAME ordering the near path's exact-dup window
    uses. ``checked_long`` enforces the long domain, and (r7 review)
    rejects NON-CANONICAL string forms outright: '007' and '7' are
    distinct documents that would share one closure label, so they fail
    fast with an error naming the surrogate fix instead of silently
    conflating. NOTE: the agg is a
    plain plan node and recomputes per consumer; the chain's consumers
    each ran full-corpus shingling before, so this strictly reduces
    per-consumer work — a checkpointed run materializes the final reps
    table instead (plans.checkpoint._near_reps_stage).

    The exchange has an EXPLICIT partition count
    (``spark.sql.shuffle.partitions``, as ``skew.restore_order``): the
    groupBy reuses that hash partitioning, so no exchange is added, and
    AQE never coalesces a repartition with a count. Left to AQE, the
    small (id, text) shuffle coalesced to ONE partition and every
    consumer — the MinHash kernel and band explode, the verify
    shingling, the checkpointed reps stage — ran as a single task
    (measured: the band stage 1 task for 3.35 s on local[4]). The
    price: duplicates no longer combine map-side before the exchange
    (+2.4% shuffle bytes on 4k documents with 10% exact copies).
    """
    from documentai_spark.functions.ids import checked_long

    lid = checked_long(id_col, context, df.schema[id_col].dataType)
    row = F.struct(lid.alias("_l"),
                   F.col(id_col).cast("string").alias("_s"),
                   F.col(id_col).alias("_id"),
                   F.col(text_col).alias("_text"))
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return (df.select(fingerprint_col(F.col(text_col)).alias("_erfp"),
                      row.alias("_row"))
              .repartition(n, "_erfp")
              .groupBy("_erfp").agg(F.min("_row").alias("_row"))
              .select(F.col("_row._id").alias(id_col),
                      F.col("_row._text").alias(text_col)))


def shingle_udf(w: int = 3):
    """The Arrow-batched shingler over PRE-NORMALIZED text, used by
    :func:`with_shingles` (the verify join and the
    :func:`minhash_signatures_agg` reference engine). The per-document
    logic is ``core.minhash.shingles``, which the signature kernel
    (:func:`minhash_signature_udf`) calls too, so both shingle
    bit-identically.

    Why a pandas UDF and not a ``transform``/``slice`` column form:
    higher-order functions are interpreted, and the optimizer's
    projection/Generate collapse re-inlines the tokenization subtree
    into the lambda and the generator — measured on the r3 skew-stress
    corpus as PER-ELEMENT re-evaluation of the full 150 KB
    normalize+split (minutes per 20k-token mega doc, O(len^2)). Staging
    the token array in a child projection does not survive the optimizer
    either. The Arrow boundary is a real barrier: normalization stays
    JVM-side (exactly ``normalized_text``, which the DuckDB oracle
    mirrors), Python only splits the pre-normalized string and joins
    w-token windows — ~ms per mega doc, linear, and batch-streamed."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from documentai_spark.core.minhash import shingles as _shingles

    @pandas_udf("array<string>")
    def shingles(norm):  # no hints (annotations future)
        return pd.Series([_shingles(s, w) for s in norm])

    return shingles


def with_shingles(df: DataFrame, text_col: str, out_col: str = "_sh",
                  id_col: str = "doc_id", w: int = 3) -> DataFrame:
    """(id, distinct w-token shingles) via :func:`shingle_udf` (see its
    docstring for why the shingling crosses an Arrow boundary)."""
    shingles = shingle_udf(w)
    normed = df.select(F.col(id_col),
                       normalized_text(F.col(text_col)).alias("_norm"))
    return normed.select(id_col, shingles(F.col("_norm")).alias(out_col))


def minhash_signature_udf(num_hashes: int = 64, w: int = 3):
    """Arrow-batched MinHash kernel over PRE-NORMALIZED text (exactly
    ``normalized_text``, computed JVM-side): one ``array<long>`` per
    row, ``core.minhash.signatures`` — the doc's distinct w-shingles
    hashed under k salted XXH64 permutations in a numpy port of Spark's
    ``hashUnsafeBytes``, min taken signed. Bit-identical to
    ``F.xxhash64(F.lit(i), shingle)`` folded with ``least`` (pinned by
    tests/test_dedup.py::test_xxhash64_port_matches_spark and
    tests/test_streaming_near_dedup.py::test_local_signature_bit_identity).

    Why a kernel: the ``transform``/``aggregate``/``zip_with`` fold it
    replaces ran interpreted (higher-order functions have no codegen),
    building a k-long array per shingle and a new accumulator per fold
    step, behind an Arrow round trip of the whole shingle array; here
    each shingle's bytes are read once and the k lanes are numpy
    columns."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from documentai_spark.core.minhash import signatures

    @pandas_udf("array<long>")
    def minhash_sig(norm):  # no hints (annotations future)
        return pd.Series(list(signatures(norm, num_hashes, w)))

    return minhash_sig


def with_minhash_signature_local(df: DataFrame, text_col: str = "text",
                                 num_hashes: int = 64,
                                 out_col: str = "_sig",
                                 w: int = 3) -> DataFrame:
    """MinHash signature as an added column, computed DOC-LOCALLY — no
    aggregation, so it runs on STREAMS (where
    :func:`minhash_signatures_agg`'s explode+groupBy would be a stateful
    streaming aggregation) and keeps every input column.

    One Arrow kernel (:func:`minhash_signature_udf`) over the JVM
    ``normalized_text``: shingling, hashing and the per-permutation min
    all happen inside it, so no shingle array crosses the boundary.
    Bit-identical to :func:`minhash_signatures_agg` (pinned by
    tests/test_streaming_near_dedup.py::test_local_signature_bit_identity);
    the batch path (:func:`minhash_signatures`) and the streaming path
    share this function."""
    if out_col in df.columns:
        # "keeps every input column" is the contract — withColumn would
        # silently clobber a same-named input (r7 review; the
        # with_curation_flags guard family)
        raise ValueError(
            f"input column {out_col!r} collides with "
            "with_minhash_signature_local's output")
    sig = minhash_signature_udf(num_hashes, w)
    return df.withColumn(out_col, sig(normalized_text(F.col(text_col))))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       num_hashes: int = 64) -> DataFrame:
    """(id, _sig array<long>) — k-permutation MinHash signatures.

    Delegates to :func:`with_minhash_signature_local`: one map-side
    Arrow kernel per row (no explode, no shuffle), bit-identical to the
    retained explode+groupBy engine :func:`minhash_signatures_agg`
    (tests/test_streaming_near_dedup.py::test_local_signature_bit_identity)."""
    return (with_minhash_signature_local(
                df.select(F.col(id_col), F.col(text_col)),
                text_col=text_col, num_hashes=num_hashes, out_col="_sig")
            .select(id_col, "_sig"))


def minhash_signatures_agg(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           num_hashes: int = 64) -> DataFrame:
    """(id, _sig array<long>) — the explode+groupBy formulation, kept
    as the independent second engine for the bit-identity pin (and for
    inputs whose per-doc shingle arrays would not fit a row).

    Formulation: explode shingles ONCE, project the k salted xxhash64
    values in a single codegen pass, groupBy(id) with k min() aggregates.
    Map-side partial agg collapses each partition to one row per id
    before the shuffle, so shuffle volume is ~k*8 bytes per (id x
    partition) — independent of shingle count. (A shuffle-free
    higher-order variant [array_min over transform per hash] re-evaluates
    the shingle expression per hash after projection collapse: measured
    ~30x slower.)
    """
    ex = with_shingles(df, text_col, "_shs", id_col) \
        .select(F.col(id_col), F.explode("_shs").alias("_sh"))
    # NOTE: an affine k-permutation trick (h_i = a_i*xxhash64(s) + b_i)
    # would save k-1 hash calls per shingle, but Spark 4 runs ANSI mode by
    # default and long overflow THROWS — salted xxhash64 per permutation
    # is the overflow-free formulation.
    hashed = ex.select(
        id_col, *[F.xxhash64(F.lit(i), F.col("_sh")).alias(f"_h{i}")
                  for i in range(num_hashes)])
    sig = hashed.groupBy(id_col).agg(
        *[F.min(f"_h{i}").alias(f"_h{i}") for i in range(num_hashes)])
    return sig.select(
        id_col,
        F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias("_sig"))


def band_structs(sig_col: str, num_hashes: int, bands: int) -> Column:
    """``array<struct<band_idx int, band_hash bigint>>`` — the banded
    LSH bucket keys over the signature column named ``sig_col``. One
    definition shared by the batch candidate join
    (:func:`minhash_lsh_candidates`) and the streaming state op
    (streaming/near_dedup.py) so both bucket bit-identically.

    Band ``b`` hashes elements ``b*r+1 .. b*r+r`` (1-based
    ``element_at``, r = num_hashes // bands) with one ``xxhash64``. The
    tree is parsed from SQL text in one ``F.expr``: built node by node
    it cost ~1,300 py4j round trips per plan at 64 hashes x 16 bands."""
    if bands < 1 or num_hashes % bands != 0:
        # a remainder silently drops the trailing hashes from banding
        # (shifting the LSH threshold curve away from what the caller
        # configured), and bands > num_hashes makes zero-row bands that
        # fail as an opaque zero-arg xxhash64 analysis error (r7 review)
        raise ValueError(
            f"bands={bands} must be >= 1 and divide num_hashes="
            f"{num_hashes} exactly (rows-per-band = num_hashes // "
            "bands; every hash must participate in exactly one band)")
    r = num_hashes // bands
    sig = sqltext.ident(sig_col)
    return F.expr("array(" + ", ".join(
        f"named_struct('band_idx', {b}, 'band_hash', xxhash64("
        + ", ".join(f"element_at({sig}, {b * r + j + 1})"
                    for j in range(r))
        + "))" for b in range(bands)) + ")")


def minhash_lsh_candidates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", num_hashes: int = 64,
                           bands: int = 16,
                           max_bucket: int | None = None) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash.

    rows_per_band = num_hashes // bands; two docs are candidates if any
    band matches exactly. Returns (id_a, id_b, n_bands_matched).
    Shuffles: the band self-join only (signatures are doc-local) — at
    corpus scale each band bucket is tiny unless docs are true near-dups.

    ``max_bucket`` (r7 review): exact_rep_rows collapses byte-IDENTICAL
    texts, but an m-copy group of NEAR-identical texts (boilerplate
    differing by a serial/timestamp, mutual Jaccard ~0.99) still
    collides in essentially every band and the self-join emits
    ~bands*m^2/2 rows — the quadratic blowup one edit-distance past the
    exact-dup fix. Buckets larger than ``max_bucket`` therefore switch
    from all-pairs to STAR edges (every member paired with the bucket's
    min-id member). For the clustering consumers this is
    connectivity-preserving through the verify+closure whenever members
    actually resemble the hub (the mega-template case that creates
    oversized buckets in the first place); the documented recall
    tradeoff is pairs inside an oversized bucket that are similar to
    each other but NOT to the hub. None = exact all-pairs (the
    oracle-mirrored default).
    """
    sig = minhash_signatures(df, text_col, id_col, num_hashes)
    bands_col = band_structs("_sig", num_hashes, bands)
    # eager localCheckpoint (r9): the self-join (and the max_bucket
    # window) consumes the band rows on BOTH sides, and the doc-local
    # signature kernel leaves no exchange below for Spark to
    # reuse — without this the whole shingle+signature subtree executed
    # once per consumer. ~bands rows/doc of (id, int, long); freed by
    # the ContextCleaner when the result is GC'd.
    ex = (sig.select(id_col, F.explode(bands_col).alias("band"))
             .select(id_col, "band.band_idx", "band.band_hash")
             .localCheckpoint(eager=True))
    if max_bucket is not None:
        if max_bucket < 2:
            raise ValueError("max_bucket must be >= 2 (a bucket of two "
                             "is already a single pair)")
        # the window shuffles by the SAME key the self-join needs, so
        # AQE reuses one exchange; the hub (min id) is the star center
        wb = Window.partitionBy("band_idx", "band_hash")
        ex = (ex.withColumn("_bn", F.count(F.lit(1)).over(wb))
                .withColumn("_hub", F.min(id_col).over(wb)))
        big = ex.filter(F.col("_bn") > max_bucket)
        star = (big.filter(F.col(id_col) != F.col("_hub"))
                   .select(F.col("_hub").alias("id_a"),
                           F.col(id_col).alias("id_b"),
                           "band_idx", "band_hash"))
        ex = ex.filter(F.col("_bn") <= max_bucket).drop("_bn", "_hub")
    a = ex.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = ex.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    pairs = (a.join(b, ["band_idx", "band_hash"])
              .filter(F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b", "band_idx", "band_hash"))
    if max_bucket is not None:
        pairs = pairs.unionByName(star)
    return (pairs.groupBy("id_a", "id_b")
                 .agg(F.count(F.lit(1)).alias("n_bands_matched")))


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", num_hashes: int = 64,
                        bands: int = 16,
                        jaccard_threshold: float = 0.8,
                        max_bucket: int | None = None) -> DataFrame:
    """LSH candidates verified by exact shingle Jaccard (J-verify step).

    Verify-join width (the 100 TB decision): candidates are a tiny
    fraction of the corpus, so the shingle table is SEMI-JOIN-FILTERED to
    candidate ids before any wide join — only candidate docs' shingle
    arrays ever shuffle, not the whole corpus's. The candidate set is
    cached (it is consumed three times: two semi filters + the verify
    join); at cluster scale it would be materialized to a table instead.
    ``max_bucket`` passes through to :func:`minhash_lsh_candidates`
    (oversized-band star-join safety valve).
    """
    cand = minhash_lsh_candidates(df, text_col, id_col, num_hashes, bands,
                                  max_bucket=max_bucket)
    # eager localCheckpoint instead of persist(): the candidate set is
    # consumed three times, but a CacheManager persist would outlive the
    # call (no safe point to unpersist a lazily-consumed result) and leak
    # blocks for the session. Checkpointed blocks are released by the
    # ContextCleaner when the returned DataFrame is GC'd.
    cand = cand.localCheckpoint(eager=True)
    cand_ids = (cand.select(F.col("id_a").alias(id_col))
                    .union(cand.select(F.col("id_b").alias(id_col)))
                    .distinct())
    # semi-filter BEFORE the Arrow shingler (r9): the join does not
    # push below a Python eval node, so the old order re-shingled the
    # whole corpus to keep the few candidate docs' arrays
    sh = with_shingles(df.join(cand_ids, id_col, "left_semi"),
                       text_col, "_sh", id_col)
    j = (cand
         .join(sh.select(F.col(id_col).alias("id_a"),
                         F.col("_sh").alias("_sha")), "id_a")
         .join(sh.select(F.col(id_col).alias("id_b"),
                         F.col("_sh").alias("_shb")), "id_b"))
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.size("_sha") + F.size("_shb") - inter
    jac = F.when(union > 0, inter / union).otherwise(F.lit(1.0))
    return (j.withColumn("jaccard", F.round(jac, 6))
             .filter(F.col("jaccard") >= jaccard_threshold)
             .select("id_a", "id_b", "jaccard"))


def embedding_near_dups(df: DataFrame, threshold: float = 0.9,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        m_bits: int = 8, seed: int = 7,
                        dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs, LSH-bucketed (the scale path).

    Candidates = same random-hyperplane bucket (near-identical vectors
    collide with probability (1 - theta/pi)^m); exact cosine re-rank
    keeps only pairs >= threshold. All-pairs work is avoided — each
    bucket joins only within itself. Returns (id_a, id_b, cosine).
    """
    from documentai_spark.operators.similarity import (
        _as_double, _hyperplanes, dot_col, lsh_bucket_col, norm_col,
    )
    if dim is None:
        from documentai_spark.operators.similarity import embedding_dim
        dim = embedding_dim(df, vec_col)
    planes = _hyperplanes(dim, m_bits, seed)
    v = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
    # norms projected once per ROW before the self-join (r7 review):
    # inlining norm_col in the per-pair cosine recomputed each vector's
    # norm once per bucket partner
    v = (v.withColumn("_b", lsh_bucket_col(F.col("_v"), planes))
          .withColumn("_n", norm_col(F.col("_v"))))
    a = v.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"),
                 F.col("_n").alias("_na"), "_b")
    b = v.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"),
                 F.col("_n").alias("_nb"), "_b")
    # zero-norm guard (r7 review): 0.0/0.0 is NaN and NaN >= threshold
    # is TRUE under Spark's NaN ordering, so one corrupt all-zero
    # embedding would be reported as a near-dup of every bucket-mate
    cos = F.when((F.col("_na") > 0) & (F.col("_nb") > 0),
                 dot_col(F.col("_va"), F.col("_vb"))
                 / (F.col("_na") * F.col("_nb"))).otherwise(F.lit(0.0))
    return (a.join(b, "_b")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
             .filter(F.col("cosine") >= threshold))


def _md5_fold(tok: Column) -> Column:
    """64-bit token hash as struct(hi32, lo32): integer parse of the md5
    hex digest's first 16 chars (big-endian prefix halves).

    md5 instead of xxhash64 so the DuckDB gate oracle computes the
    IDENTICAL bits — ``('0x' || substr(md5(t), 1, 8))::BIGINT`` — which is
    what promoted simhash_dups from rows-only (xxhash64 has no DuckDB
    equivalent; VERDICT r2 #4). Two 32-bit halves, never one 64-bit
    value: the full unsigned parse would overflow a signed long and ANSI
    mode throws."""
    h = F.md5(tok)
    return F.struct(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("lo"))


def _fold_bit(h: Column, j: int) -> Column:
    """Bit j (0 = LSB) of the 64-bit md5 fold."""
    half = h["lo"] if j < 32 else h["hi"]
    return F.shiftright(half, j % 32).bitwiseAND(F.lit(1))


def simhash_udf():
    """Arrow-batched SimHash kernel over PRE-NORMALIZED text (exactly
    ``normalized_text``, computed JVM-side so the normalization pass the
    DuckDB oracle mirrors never leaves the JVM).

    Per doc: tokens = norm.split(" ") (identical to the JVM
    ``F.split(norm, " ")`` — verified field-for-field on adversarial
    control-char/unicode inputs), each token md5-hashed and its first 8
    digest bytes taken big-endian — the SAME 64-bit fold as
    ``_md5_fold`` (hi32 = hex chars 1-8, lo32 = 9-16; bit j of the fold
    is bit j of the big-endian 8-byte prefix). Bit j of the signature is
    set iff the +1/-1 majority over tokens is strictly positive, i.e.
    2*count_j > n_tokens. ``np.unpackbits`` column c of the big-endian
    digest rows is fold bit 63-c, so ``packbits`` of the majority row
    reconstructs the signature directly; the int64 two's-complement
    wrap mirrors the expression form's Long.MIN_VALUE bit-63 add.

    Why a pandas UDF (optimization r9, guide §4.2): the explode + 64
    signed-bit-sum aggregate form (kept below as
    :func:`simhash_signatures_expr`, equality pinned by
    tests/test_dedup.py) spent ~22 s of simhash_dups' 25 s at sf1.0 in
    the 64-accumulator hash aggregate + per-token-row bit projections;
    this kernel computes the identical majority doc-locally in one
    Arrow pass — measured ~12x faster end-to-end, and shuffle-free
    (the groupBy exchange disappears).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def simhash64(norm):  # no hints: annotations future + local imports
        md5 = hashlib.md5
        out = np.empty(len(norm), np.int64)
        for i, s in enumerate(norm):
            toks = (s or "").split(" ")
            digests = b"".join(
                md5(t.encode("utf-8", "surrogatepass")).digest()[:8]
                for t in toks)
            rows = np.frombuffer(digests, np.uint8).reshape(-1, 8)
            cnt = np.unpackbits(rows, axis=1).sum(axis=0, dtype=np.int64)
            major = (cnt * 2 > len(toks))
            v = int.from_bytes(np.packbits(major).tobytes(), "big")
            out[i] = v - (1 << 64) if v >= (1 << 63) else v
        return pd.Series(out)

    return simhash64


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(id, simhash long): JVM normalization (the oracle-mirrored
    ``normalized_text``) + the :func:`simhash_udf` Arrow kernel — one
    map-side pass, no explode, no shuffle. Bit-identical to
    :func:`simhash_signatures_expr` (pinned by
    tests/test_dedup.py::test_simhash_udf_matches_expr)."""
    simhash64 = simhash_udf()
    # NULL text drops the row, exactly like the expr form (explode of a
    # NULL token array emits no rows); empty text stays (split("") is
    # [""], one md5("") token, in both engines)
    normed = (df.select(F.col(id_col),
                        normalized_text(F.col(text_col)).alias("_norm"))
                .filter(F.col("_norm").isNotNull()))
    return normed.select(id_col, simhash64(F.col("_norm")).alias("simhash"))


def simhash_signatures_expr(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """(id, simhash long) via explode + 64 signed-bit sums + groupBy —
    the pure-JVM expression form, kept as the independent second engine
    pinning :func:`simhash_signatures`'s Arrow kernel (the quality_vec
    two-engine pattern). ~12x slower at sf1.0 (the 64-accumulator
    aggregate); not used in query paths.

    Tokens explode ONCE and hash ONCE; the 64 per-bit +/-1 contributions
    are narrow projections over that single hash column, and map-side
    partial sums collapse before the shuffle. (A row-local
    ``transform``/``aggregate`` form re-evaluates the token-hash
    transform per bit after projection collapse — measured ~10x slower
    again.)
    """
    # split staged into its own projection: Generate re-evaluates an
    # inline generator expression pathologically on huge strings (same
    # mechanism as the shingle case, see with_shingles) — exploding a
    # projected attribute is linear
    toksed = df.select(
        F.col(id_col),
        F.split(normalized_text(F.col(text_col)), " ").alias("_toks"))
    ex = toksed.select(id_col, F.explode("_toks").alias("_tok"))
    ex = ex.select(id_col, _md5_fold(F.col("_tok")).alias("_h"))
    bit_cols = [
        (F.when(_fold_bit(F.col("_h"), j) == 1, 1)
          .otherwise(-1)).alias(f"_b{j}")
        for j in range(64)]
    sums = (ex.select(id_col, *bit_cols)
              .groupBy(id_col)
              .agg(*[F.sum(f"_b{j}").alias(f"_b{j}") for j in range(64)]))
    sig = F.lit(0).cast("long")
    for j in range(64):
        contrib = F.lit(-(2 ** 63)) if j == 63 else F.lit(2 ** j).cast("long")
        sig = sig + F.when(F.col(f"_b{j}") > 0, contrib) \
                     .otherwise(F.lit(0).cast("long"))
    return sums.select(id_col, sig.alias("simhash"))


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by Hamming distance, candidates via 4x16-bit bands
    (a pair within Hamming<=3 of 64 bits must match at least one of 4
    16-bit chunks exactly — pigeonhole).

    The signature table is eagerly localCheckpoint'ed (r9, the
    minhash_dedup_pairs pattern): the band self-join consumes it on
    BOTH sides, and since the Arrow-kernel rewrite there is no exchange
    below it for Spark to reuse — without the checkpoint the whole
    scan+normalize+md5 kernel executed twice. 16 bytes/doc, freed by
    the ContextCleaner when the result is GC'd."""
    sig = simhash_signatures(df, text_col, id_col) \
        .localCheckpoint(eager=True)
    chunks = F.array(*[
        F.struct(F.lit(c).alias("chunk_idx"),
                 F.shiftright("simhash", c * 16)
                  .bitwiseAND(F.lit(0xFFFF)).alias("chunk_val"))
        for c in range(4)])
    ex = (sig.select(id_col, "simhash", F.explode(chunks).alias("ch"))
             .select(id_col, "simhash", "ch.chunk_idx", "ch.chunk_val"))
    a = ex.select(F.col(id_col).alias("id_a"),
                  F.col("simhash").alias("sig_a"), "chunk_idx", "chunk_val")
    b = ex.select(F.col(id_col).alias("id_b"),
                  F.col("simhash").alias("sig_b"), "chunk_idx", "chunk_val")
    pairs = (a.join(b, ["chunk_idx", "chunk_val"])
              .filter(F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b", "sig_a", "sig_b").distinct())
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (pairs.withColumn("hamming", ham)
                 .filter(F.col("hamming") <= max_hamming)
                 .select("id_a", "id_b", "hamming"))


def _free_local_checkpoint(df: DataFrame) -> None:
    """Best-effort release of a ``localCheckpoint``'ed DataFrame's
    cached blocks. There is no public API for this (``unpersist()`` on
    the Dataset is a CacheManager no-op for checkpoint blocks; the
    ContextCleaner only frees them at GC), so this walks the analyzed
    ``LogicalRDD`` to the checkpointed RDD — verified to drop the
    storage entry while leaving DataFrames checkpointed FROM it intact.
    Only ever called on a frame whose every consumer is already
    eagerly materialized; if Spark's internals move, the except leaves
    the blocks to the ContextCleaner (the pre-fix behavior)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def closure_labels(pairs: DataFrame, *, a_col: str = "doc_a",
                   b_col: str = "doc_b",
                   stats: dict | None = None) -> DataFrame:
    """Near-dup PAIRS -> ``(node long, rep long)`` for every node that
    HAS an edge: connected components by one union-find pass, ``rep``
    the smallest id in the node's component. A node in no pair is its
    own representative and gets no row; :func:`cluster_pairs` adds the
    full id universe back.

    This closes the pair->keep-set gap: MinHash/SimHash/Jaccard emit
    PAIRS, but transitive near-duplicates (A~B, B~C, A!~C) must collapse
    into ONE cluster or the corpus keeps two of the three.

    Shape: the ``(src, dst)`` edges go through one exchange into a
    single ``mapInArrow`` task that streams them into
    ``core.components`` (union by smaller root, path halving). The
    result is lazy — building it runs no Spark job and stores nothing
    — and its cost does not depend on the components' diameter. The
    one task holds a dict entry per node WITH an edge (about 100 B
    each), not the edges, so it is bounded by the number of
    near-duplicate documents, not by the corpus; the output has one row
    per such node, which is what lets ``with_curation_flags`` broadcast
    it. ``stats["rounds"]`` is set to 1: one pass over the edges.

    Ids must be losslessly long-castable (the label domain); a NULL /
    malformed / truncating id fails the action with a named error
    (``checked_long``, VERDICT r6 #4) instead of an opaque mid-chain
    ANSI cast error.
    """
    from documentai_spark.functions.ids import checked_long

    def _label(batches):
        import pyarrow as pa

        from documentai_spark.core.components import components

        def edges():
            for b in batches:
                yield from zip(b.column(0).to_pylist(),
                               b.column(1).to_pylist())

        reps = components(edges())
        if reps:
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(reps), pa.int64()),
                 pa.array(list(reps.values()), pa.int64())],
                names=["node", "rep"])

    edges = pairs.select(
        checked_long(a_col, "cluster_pairs",
                     pairs.schema[a_col].dataType).alias("src"),
        checked_long(b_col, "cluster_pairs",
                     pairs.schema[b_col].dataType).alias("dst"))
    if stats is not None:
        # observability hook (perfbench, the sf1 export evidence)
        stats["rounds"] = 1
    return edges.repartition(1).mapInArrow(_label, "node long, rep long")


def cluster_pairs(pairs: DataFrame, nodes: DataFrame, *,
                  a_col: str = "doc_a", b_col: str = "doc_b",
                  id_col: str = "doc_id",
                  stats: dict | None = None) -> DataFrame:
    """Near-dup PAIRS -> clusters over a full id universe. Returns
    ``(id_col, cluster_rep)`` where ``cluster_rep`` is the smallest id
    in the component — the canonical representative a dedup pass keeps
    (``filter(id == cluster_rep)``). ``nodes`` supplies the id
    universe, so documents in no pair come out as their own singleton
    representative: the distinct ids left-joined to
    :func:`closure_labels`, ``coalesce(rep, node)``. Lazy, like the
    labels; ``stats`` as there.
    """
    from documentai_spark.functions.ids import checked_long

    labels = closure_labels(pairs, a_col=a_col, b_col=b_col, stats=stats)
    ids = (nodes.select(checked_long(id_col, "cluster_pairs",
                                     nodes.schema[id_col].dataType)
                        .alias("node"))
                .distinct())
    return (ids.join(labels, "node", "left")
               .select(F.col("node").alias(id_col),
                       F.coalesce(F.col("rep"), F.col("node"))
                       .alias("cluster_rep")))


def near_dedup(df: DataFrame, *, text_col: str = "text",
               id_col: str = "doc_id",
               jaccard_threshold: float = 0.8,
               num_hashes: int = 64, bands: int = 16,
               max_bucket: int | None = 4096) -> DataFrame:
    """One-call near-deduplication, the full production chain:
    MinHash-LSH candidates -> exact shingle-Jaccard verify
    (:func:`minhash_dedup_pairs`) -> transitive cluster closure
    (:func:`cluster_pairs`, one lazy union-find pass) -> keep each
    cluster's min-id representative. Building the frame runs no Spark
    job. Returns the SURVIVING rows of ``df`` (all columns),
    plus a ``cluster_rep`` column (== the row's own id, by
    construction) so callers can audit cluster sizes from the pair set
    if needed.

    This is the end-to-end shape a 100 TB curation pass runs: every
    stage is banded/semi-filtered (no all-pairs anywhere), and the
    closure makes the keep-decision TRANSITIVE — without it, A~B and
    B~C with A!~C would keep both A and C's near-identical content.

    r7: only EXACT-duplicate representatives are banded
    (:func:`exact_rep_rows`) — identical texts band identically, so an
    m-copy group used to emit ~bands*m^2/2 candidate rows that the
    verify join then had to carry. The survivor set is unchanged: a
    non-representative exact copy could never be its cluster's min-id
    (its group's representative has a smaller (long, string) key), so
    it was always dropped — now it simply never enters the closure.
    Ids must be losslessly long-castable (the closure's label domain;
    ``checked_long`` fails fast otherwise).

    ``max_bucket`` defaults ON here (4096) — this is the production
    surface, and NEAR-identical mega-groups (which exact_rep_rows cannot
    collapse) would otherwise make a band bucket quadratic; see
    :func:`minhash_lsh_candidates` for the star-join semantics and the
    recall tradeoff. Pass None for the exact all-pairs form.
    """
    rep_src = exact_rep_rows(df.select(id_col, text_col),
                             text_col, id_col, context="near_dedup")
    pairs = minhash_dedup_pairs(rep_src, text_col=text_col,
                                id_col=id_col, num_hashes=num_hashes,
                                bands=bands,
                                jaccard_threshold=jaccard_threshold,
                                max_bucket=max_bucket)
    reps = cluster_pairs(pairs, rep_src.select(id_col), a_col="id_a",
                         b_col="id_b", id_col=id_col)
    keep = reps.filter(F.col(id_col) == F.col("cluster_rep"))
    return df.join(keep, id_col, "inner")
