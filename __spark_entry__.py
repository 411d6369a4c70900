"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``    — flagship extraction+quality pipeline on sf0.001.
``queries()``       — one entry per implemented operator (SURVEY.md §2 +
                      the training-data-pipeline operators).
``oracle_sql()``    — DuckDB-runnable ANSI SQL mirrors; keys without an
                      entry get the weaker rows-only check (pandas-UDF
                      pipelines whose ensemble math is not SQL-expressible
                      are pinned byte-exact by tests/ instead).

Cross-engine exactness rules used throughout (so value-hashes match):
- money/double aggregates: per-row CAST to DECIMAL (exact sum, engine
  independent), final CAST back to DOUBLE;
- ratio outputs: ROUND(int/int double division, 6);
- time logic: wall-clock only (testdata timestamps are TIMESTAMP_NTZ in
  Spark / naive in DuckDB) — ``timestampdiff`` for gaps, string-cast
  ``date_trunc`` for buckets; never epoch/timezone rendering;
- deterministic tie-breaks on every window/top-k (rank flips would flip
  the hash);
- NO final orderBy on shuffle-free (map-only) UDF queries: the driver
  canonical-sorts rows by all columns before hashing, while a global
  sort's RangePartitioner sampling job would re-execute the whole
  Python chain (measured 2x). Queries whose plan already shuffles keep
  their cosmetic sorts (the sampling job reuses the map stages).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from documentai_spark.core.entities import ENTITY_CODES  # noqa: E402
from documentai_spark.core.textstats import STOPWORDS  # noqa: E402

SF0001 = "/root/testdata/sf0.001"

_SWIFT_CODES_SQL = ", ".join(f"'{c}'" for c in sorted(ENTITY_CODES))

# Python str.strip()'s ASCII whitespace set as a DuckDB trim charset
_WSC = ("' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"
        " || chr(28) || chr(29) || chr(30) || chr(31)")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _par(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Scale-adaptive ingress repartition (optimization r9, guide §2.5
    "input skew: one huge unsplittable file ... repartition immediately
    after the read"): the testdata tables are single-row-group parquet
    files, so the scan yields one partition and every downstream
    map-side kernel — Arrow UDF stages especially — runs on ONE core
    regardless of the master's core count. Round-robin up to
    defaultParallelism only when the scan is under-parallel; on a real
    cluster (or multi-block files) the scan is already wide and this is
    a no-op, so nothing here is tuned to local[32]. Results are
    partitioning-independent by the repo's determinism contract (every
    query is content-hash pinned against the DuckDB oracle under
    arbitrary partitionings)."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _lsh_ann_oracle_sql(dim: int = 64, m_bits: int = 6, seed: int = 7,
                        k: int = 5, n_anchors: int = 10) -> str:
    """DuckDB mirror of operators/similarity.lsh_ann_topk: the seeded
    hyperplanes are driver-side literals, so bucket assignment and the
    exact-cosine re-rank replay in SQL with the same left-associative
    double sums (bit-identical folds -> identical ranking)."""
    from documentai_spark.operators.similarity import _hyperplanes
    planes = _hyperplanes(dim, m_bits, seed)

    def dot_lit(plane: list, arr: str) -> str:
        # string-cast form: bare decimal literals lose the last ulp in
        # DuckDB's parser (61/384 plane constants round differently),
        # which would bucket near-zero dot products off-by-one vs Spark
        return " + ".join(
            f"CAST('{x!r}' AS DOUBLE) * {arr}[{i + 1}]"
            for i, x in enumerate(plane))

    bucket = " + ".join(
        f"(CASE WHEN ({dot_lit(p, 'v')}) > 0 THEN {2 ** j} ELSE 0 END)"
        for j, p in enumerate(planes))
    dot_vv = " + ".join(f"av[{i + 1}] * v[{i + 1}]" for i in range(dim))
    norm = lambda a: ("sqrt(" + " + ".join(  # noqa: E731
        f"{a}[{i + 1}] * {a}[{i + 1}]" for i in range(dim)) + ")")
    return f"""
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
          FROM embeddings
        ), b AS (
          SELECT vec_id, v, ({bucket}) AS bucket FROM v
        ), anchors AS (
          SELECT vec_id AS anchor_id, v AS av, bucket FROM b
          WHERE vec_id < {n_anchors}
        ), cand AS (
          SELECT a.anchor_id, b.vec_id,
                 ({dot_vv}) / ({norm('av')} * {norm('v')}) AS cos
          FROM anchors a JOIN b ON a.bucket = b.bucket
          WHERE b.vec_id <> a.anchor_id
        )
        SELECT anchor_id, rank, neighbor_id FROM (
          SELECT anchor_id, vec_id AS neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY anchor_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM cand
        ) WHERE rank <= {k} ORDER BY anchor_id, rank
    """


def _preprocess_route_oracle_sql() -> str:
    quality = _quality_oracle_sql(
        table=f"read_parquet('{TRANSCRIPTS_TEST}/*.parquet')",
        id_col="conv_id, turn_idx", only_plain=True)
    norm = (r"regexp_replace(regexp_replace(regexp_replace(text, "
            r"'[\x00-\x08\x0b-\x1f\x7f]', '', 'g'), "
            r"'(\w)-\n(\w)', '\1\2', 'g'), "
            r"'[ \t]{2,}', ' ', 'g')")
    return f"""
        WITH q AS ({quality}),
        j AS (
          SELECT q.conv_id, q.turn_idx, t.text,
            q.verdict IN ('pre-processing', 'azure document analysis')
                AS needs_preprocessing
          FROM q JOIN read_parquet('{TRANSCRIPTS_TEST}/*.parquet') t
            ON q.conv_id = t.conv_id AND q.turn_idx = t.turn_idx
        )
        SELECT conv_id, turn_idx, needs_preprocessing,
          CASE WHEN needs_preprocessing THEN {norm} <> text
          ELSE FALSE END AS touched
        FROM j
    """


def _ivf_ann_oracle_sql(k: int = 5, n_probe: int = 2,
                        n_anchors: int = 10) -> str:
    """ivf_ann mirror: literal frozen centroids -> squared-euclid sums in
    the Spark fold's association order, (distance, cell) tie-broken
    assignment + probe ranking, exact cosine re-rank (same machinery the
    lsh_ann oracle proved bit-identical)."""
    centers = _ivf_centroids()
    dim = len(centers[0])

    def dist_lit(c: list, arr: str) -> str:
        return " + ".join(
            f"(CAST('{x!r}' AS DOUBLE) - {arr}[{i + 1}])"
            f" * (CAST('{x!r}' AS DOUBLE) - {arr}[{i + 1}])"
            for i, x in enumerate(c))

    dlist = lambda arr: ", ".join(  # noqa: E731
        dist_lit(c, arr) for c in centers)
    dot_vv = " + ".join(f"av[{i + 1}] * v[{i + 1}]" for i in range(dim))
    norm = lambda a: ("sqrt(" + " + ".join(  # noqa: E731
        f"{a}[{i + 1}] * {a}[{i + 1}]" for i in range(dim)) + ")")
    return f"""
        WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
          FROM embeddings
        ), ranked AS (
          SELECT vec_id, v, u.cell, ROW_NUMBER() OVER (
                   PARTITION BY vec_id ORDER BY u.d, u.cell) AS rn
          FROM (
            SELECT vec_id, v,
                   unnest(list_transform([{dlist('v')}],
                          (x, i) -> struct_pack(d := x, cell := i - 1)))
                     AS u
            FROM v
          )
        ), assigned AS (
          SELECT vec_id, v, cell FROM ranked WHERE rn = 1
        ), anchors AS (
          SELECT vec_id AS anchor_id, v AS av, cell FROM ranked
          WHERE vec_id < {n_anchors} AND rn <= {n_probe}
        ), cand AS (
          SELECT a.anchor_id, b.vec_id,
                 ({dot_vv}) / ({norm('av')} * {norm('v')}) AS cos
          FROM anchors a JOIN assigned b ON a.cell = b.cell
          WHERE b.vec_id <> a.anchor_id
        )
        SELECT anchor_id, rank, neighbor_id FROM (
          SELECT anchor_id, vec_id AS neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY anchor_id
                                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM cand
        ) WHERE rank <= {k} ORDER BY anchor_id, rank
    """


# ---- Spark xxhash64-for-longs, re-derived in DuckDB SQL (r8) ----
# The streaming near-dedup's candidate geometry (operators/dedup.py
# band_structs, shared verbatim by batch LSH and the streaming state
# op) hashes LONG signature elements with Spark's xxhash64 — the
# XXH64 "hashLong" closed form (one 8-byte round + avalanche, chained
# arg-to-arg from seed 42; verified bit-exact against
# org.apache.spark.sql.functions.xxhash64 incl. negatives and
# multi-arg chaining). DuckDB has no xxhash64, but HUGEINT gives exact
# 64-bit modular arithmetic (mul via 32-bit limbs — a 64x64 product
# would overflow the signed int128), so the whole fold is expressible
# as a chain of one-step lateral projections. This is what promotes
# the geometry from pytest-only bit-identity to a driver-gate
# hash-checked row (stream_band_keys).

_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_M64 = "18446744073709551616"


def _xxh_mulmod(a: str, b: int) -> str:
    """(a * b) mod 2^64 for a HUGEINT column/alias and a constant,
    via 32-bit limbs of b (all intermediates < 2^65, inside HUGEINT)."""
    bh, bl = b >> 32, b & 0xFFFFFFFF
    return (f"((({a} & 4294967295) * {bl} + "
            f"(((({a} >> 32) * {bl} + ({a} & 4294967295) * {bh}) "
            f"% 4294967296) * 4294967296)) % {_M64})")


def _xxh_rotl(a: str, r: int) -> str:
    return f"((({a} << {r}) % {_M64}) | ({a} >> {64 - r}))"


def _xxh64_long_layers(prefix: str, input_col: str,
                       seed_expr: str) -> list[str]:
    """One `expr AS alias` per algorithm step (layered into nested
    SELECTs by the caller — one step per layer keeps every alias
    computed once; inlining the chain textually would blow up
    exponentially). Result alias: {prefix}_out (unsigned HUGEINT)."""
    p = prefix
    return [
        f"(({seed_expr}) + {_XXH_P5} + 8) % {_M64} AS {p}_h0",
        f"{_xxh_mulmod(input_col, _XXH_P2)} AS {p}_k1a",
        f"{_xxh_rotl(p + '_k1a', 31)} AS {p}_k1b",
        f"{_xxh_mulmod(p + '_k1b', _XXH_P1)} AS {p}_k1c",
        f"xor({p}_h0, {p}_k1c) AS {p}_h1",
        f"{_xxh_rotl(p + '_h1', 27)} AS {p}_h2",
        f"({_xxh_mulmod(p + '_h2', _XXH_P1)} + {_XXH_P4}) % {_M64} "
        f"AS {p}_h3",
        f"xor({p}_h3, {p}_h3 >> 33) AS {p}_f1",
        f"{_xxh_mulmod(p + '_f1', _XXH_P2)} AS {p}_f2",
        f"xor({p}_f2, {p}_f2 >> 29) AS {p}_f3",
        f"{_xxh_mulmod(p + '_f3', _XXH_P3)} AS {p}_f4",
        f"xor({p}_f4, {p}_f4 >> 32) AS {p}_out",
    ]


def _xxh_layered(inner: str, layers: list[str]) -> str:
    q = inner
    for expr in layers:
        q = f"SELECT *, {expr} FROM ({q})"
    return q


def _stream_band_keys_oracle_sql(n_docs: int = 64, num_hashes: int = 64,
                                 bands: int = 16) -> str:
    """stream_band_keys mirror: synthetic per-doc signature
    sig[i] = xxhash64(i::long, doc_id) (the long-domain stand-in for
    the minhash fold, whose batch-vs-streaming bit-identity is
    pytest-pinned), then the banded bucket keys
    band_hash = xxhash64(sig[b*r] .. sig[b*r+r-1]) — exactly
    operators/dedup.band_structs. Unsigned chain throughout; final
    values re-signed to Spark's long domain."""
    r = num_hashes // bands
    u64 = (f"CASE WHEN doc_id < 0 THEN doc_id::HUGEINT + {_M64} "
           f"ELSE doc_id::HUGEINT END AS did_u")
    grid = (f"SELECT doc_id, i, {u64}, i::HUGEINT AS i_u FROM "
            f"(SELECT doc_id FROM documents ORDER BY doc_id "
            f"LIMIT {n_docs}) ids, "
            f"(SELECT range AS i FROM range({num_hashes})) hs")
    sig_q = _xxh_layered(grid,
                         _xxh64_long_layers("sa", "i_u", "42")
                         + _xxh64_long_layers("sb", "did_u", "sa_out"))
    pivot_cols = ", ".join(
        f"MAX(CASE WHEN i % {r} = {j} THEN sb_out END) AS v{j}"
        for j in range(r))
    band_base = (f"SELECT doc_id, CAST(i // {r} AS INT) AS band_idx, "
                 f"{pivot_cols} FROM ({sig_q}) GROUP BY doc_id, i // {r}")
    layers: list[str] = []
    seed = "42"
    for j in range(r):
        layers += _xxh64_long_layers(f"b{j}", f"v{j}", seed)
        seed = f"b{j}_out"
    band_q = _xxh_layered(band_base, layers)
    return (f"SELECT doc_id, band_idx, "
            f"CAST(CASE WHEN {seed} >= 9223372036854775808 "
            f"THEN {seed} - {_M64} ELSE {seed} END AS BIGINT) "
            f"AS band_hash FROM ({band_q}) "
            f"ORDER BY doc_id, band_idx")


def _simhash_oracle_sql(max_hamming: int = 3) -> str:
    """simhash_dups mirror: the md5-fold bit source is DuckDB-computable
    (('0x' || substr(md5(tok), 1/9, 8))::BIGINT — the r3 re-base away from
    xxhash64 that promoted this row from rows-only). The oracle skips the
    16-bit-chunk banding (a pigeonhole-exact candidate generator, not an
    approximation) and scores ALL pairs directly — sound at gate scale,
    identical final set by construction."""
    sums = ",\n                ".join(
        f"SUM(CASE WHEN (({'lo' if j < 32 else 'hi'} >> {j % 32}) & 1) = 1"
        f" THEN 1 ELSE -1 END) AS s{j}" for j in range(64))
    bits = ", ".join(f"CASE WHEN s{j} > 0 THEN 1 ELSE 0 END"
                     for j in range(64))
    return rf"""
        WITH d AS (
          SELECT doc_id,
            string_split(trim(regexp_replace(lower(text),
              '[ \t\n\x0b\f\r]+', ' ', 'g')), ' ') AS toks
          FROM documents
        ), ex AS (
          SELECT doc_id, unnest(toks) AS tok FROM d
        ), h AS (
          SELECT doc_id,
                 ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
                 ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
          FROM ex
        ), sums AS (
          SELECT doc_id,
                {sums}
          FROM h GROUP BY doc_id
        ), bits AS (
          SELECT doc_id, [{bits}] AS bv FROM sums
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_filter(range(1, 65),
                    j -> a.bv[j] <> b.bv[j])) AS INT) AS hamming
        FROM bits a JOIN bits b ON a.doc_id < b.doc_id
        WHERE len(list_filter(range(1, 65),
                  j -> a.bv[j] <> b.bv[j])) <= {max_hamming}
        ORDER BY id_a, id_b
    """


def _ml_meta() -> dict:
    import json as _json
    with open(os.path.join(ML_FROZEN, "meta.json")) as f:
        return _json.load(f)


def _ml_sum_ctes(src: str = "base") -> str:
    """Shared oracle CTE chain replaying the frozen integer scorer:
    tokenize -> 1-4gram expansion -> per-(doc, term) tf -> sublinear-LUT
    weighted integer sums (``mlsum``: doc_id, s0..s3 WITHOUT intercepts).
    The factor list is the artifact's frozen f_lut, 1-indexed by
    least(tf, tf_cap) — neither engine evaluates ln() live."""
    meta = _ml_meta()
    tf_cap = meta["tf_cap"]
    f_lut = ", ".join(str(int(x)) for x in meta["f_lut"])
    ws_cls = r"[ \t\n\x0b\f\r\x1c-\x1f]+"
    wpq = os.path.join(ML_FROZEN, "weights.parquet", "*.parquet")
    return rf"""toks AS (
          SELECT doc_id,
            list_filter(string_split_regex(lower(text), '{ws_cls}'),
                        x -> x <> '') AS tk
          FROM {src}
        ), terms AS (
          SELECT doc_id, unnest(
            tk
            || CASE WHEN len(tk) >= 2 THEN
                 [array_to_string(tk[i:i+1], ' ')
                  for i in range(1, len(tk))]
               ELSE []::VARCHAR[] END
            || CASE WHEN len(tk) >= 3 THEN
                 [array_to_string(tk[i:i+2], ' ')
                  for i in range(1, len(tk) - 1)]
               ELSE []::VARCHAR[] END
            || CASE WHEN len(tk) >= 4 THEN
                 [array_to_string(tk[i:i+3], ' ')
                  for i in range(1, len(tk) - 2)]
               ELSE []::VARCHAR[] END) AS term
          FROM toks
        ), tfc AS (
          SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          FROM terms GROUP BY doc_id, term
        ), mlsum AS (
          SELECT t.doc_id,
                 CAST(SUM(w.w_0 * ([{f_lut}])[least(t.tf, {tf_cap})])
                      AS BIGINT) AS s0,
                 CAST(SUM(w.w_1 * ([{f_lut}])[least(t.tf, {tf_cap})])
                      AS BIGINT) AS s1,
                 CAST(SUM(w.w_2 * ([{f_lut}])[least(t.tf, {tf_cap})])
                      AS BIGINT) AS s2,
                 CAST(SUM(w.w_3 * ([{f_lut}])[least(t.tf, {tf_cap})])
                      AS BIGINT) AS s3
          FROM tfc t JOIN read_parquet('{wpq}') w USING (term)
          GROUP BY t.doc_id
        )"""


def _ml_scores_oracle_sql() -> str:
    """ml_scores mirror: the frozen integer class scores per document
    (intercept*fscale + sublinear-LUT weighted sums) — hash-checks the
    scorer at SCORE level, strictly stronger than classify_vote's
    argmax-only technique_4 column."""
    meta = _ml_meta()
    inter = meta["intercepts"]
    fscale = meta["fscale"]
    sel = ",\n               ".join(
        f"COALESCE(m.s{c}, 0) + {inter[c] * fscale} AS s{c}"
        for c in range(len(meta["labels"])))
    return f"""
        WITH {_ml_sum_ctes(src="documents")}
        SELECT d.doc_id,
               {sel}
        FROM documents d LEFT JOIN mlsum m USING (doc_id)
        ORDER BY d.doc_id
    """


def _redact_oracle_sql() -> str:
    """redact_entities mirror: RE2 re-derives each field's first-match
    value (the core/entities patterns verbatim), then BOTH redaction
    forms in REDACT_FIELDS order — the default all-substrings
    nested-replace chain, and (r7, VERDICT r6 #3) the bounded
    ``word_boundary=True`` chain: chained-replace regex escaping +
    conditional RE2 ``\\b`` guards at word-char edges, replayed via
    global ``regexp_replace``. RE2's ``\\b`` is ASCII-only, which is the
    pinned three-engine boundary (core ``\\b``+re.ASCII, Spark ASCII
    lookarounds). Absent/empty values become chr(0) needles/patterns
    (both chains are then identities — chr(0) never occurs in text and
    is a non-word char, so no guard inverts)."""
    from documentai_spark.core.redact import REGEX_SPECIALS

    specs = [
        ("po_number", r"PO\s+NUMBER[:\s]+([A-Z0-9/\-]+)", 1, "i"),
        ("pi_number", r"PI\s+No[.:\s]+([A-Z0-9/\-]+)", 1, "i"),
        ("date_numeric", r"\b(\d{2}[./-]\d{2}[./-]\d{4})\b", 1, None),
        ("date_alpha", r"\b(\d{1,2}-[A-Za-z]{3}-\d{4})\b", 1, None),
        ("currency_amount", r"\b([A-Z]{3})\s+([\d,]+(?:\.\d+)?)\b", 0,
         None),
        ("email", r"\b[\w.+-]+@[\w-]+\.[\w.]+\b", 0, None),
        ("phone", r"\+?\d[\d\s\-]{7,14}\d", 0, None),
    ]
    cols = []
    for name, pat, grp, opt in specs:
        o = f", '{opt}'" if opt else ""
        cols.append(f"regexp_extract(text, '{pat}', {grp}{o}) AS {name}")
    # sentinel CTE: absent/empty -> chr(0) once, shared by both chains
    sent = ", ".join(f"coalesce(nullif({name}, ''), chr(0)) AS {name}"
                     for name, *_ in specs)
    expr = "text"
    bexpr = "text"
    for name, *_ in specs:
        expr = f"replace({expr}, {name}, '[{name.upper()}]')"
        esc = name
        for ch in REGEX_SPECIALS:
            esc = f"replace({esc}, '{ch}', '\\' || '{ch}')"
        pat = (
            f"(CASE WHEN regexp_matches(substr({name}, 1, 1), "
            f"'^[A-Za-z0-9_]$') THEN '\\b' ELSE '' END) || {esc} || "
            f"(CASE WHEN regexp_matches(substr({name}, length({name}), 1),"
            f" '^[A-Za-z0-9_]$') THEN '\\b' ELSE '' END)")
        bexpr = (f"regexp_replace({bexpr}, {pat}, "
                 f"'[{name.upper()}]', 'g')")
    return f"""
        WITH vals AS (
          SELECT conv_id, turn_idx, text,
                 {', '.join(cols)}
          FROM read_parquet('{TRANSCRIPTS_TEST}/*.parquet')
        ), sent AS (
          SELECT conv_id, turn_idx, text, {sent}
          FROM vals
        )
        SELECT conv_id, turn_idx,
               {expr} AS redacted_text,
               {bexpr} AS redacted_text_bounded
        FROM sent ORDER BY conv_id, turn_idx
    """


def _classify_vote_oracle_sql() -> str:
    """classify_vote mirror: 3 rule techniques + the frozen integer-weight
    ML scorer (data/ml_frozen — same weights parquet the Spark side
    broadcasts) + the insertion-order 4-way vote. Integer score sums are
    exact under any aggregation order, so technique_4 replays bit-for-bit
    (the reason the model is compiled to ints; see operators/ml_classify).
    """
    meta = _ml_meta()
    labels = meta["labels"]          # sorted asc == w_0..w_3 order
    inter = meta["intercepts"]
    fscale = meta["fscale"]
    assert labels == ["invoice", "letter_of_credit", "purchase_order",
                      "shipping"]
    return rf"""
        WITH base AS (
          SELECT doc_id, text,
            text IS NULL OR length(trim(text)) < 5 AS too_short,
            regexp_replace(lower(text), '[^0-9a-z]', '', 'g') AS nt,
            trim(regexp_replace(lower(text), '[^0-9a-z \t\n\x0b\f\r]', '', 'g'))
                AS snt,
            lower(text) AS lt
          FROM documents
        ), scored AS (
          SELECT doc_id, too_short,
            CASE WHEN contains(nt,'invoice') THEN 28.0 ELSE 0 END
            + CASE WHEN contains(nt,'payment') THEN 28.0 ELSE 0 END
            + CASE WHEN contains(nt,'amount') THEN 24.0 ELSE 0 END AS a0,
            CASE WHEN contains(nt,'purchase') THEN 32.0 ELSE 0 END
            + CASE WHEN contains(nt,'supplier') THEN 32.0 ELSE 0 END
            + CASE WHEN contains(nt,'order') THEN 20.0 ELSE 0 END AS a1,
            CASE WHEN contains(nt,'beneficiary') THEN 44.0 ELSE 0 END
            + CASE WHEN contains(nt,'credit') THEN 24.0 ELSE 0 END
            + CASE WHEN contains(nt,'swift') THEN 20.0 ELSE 0 END AS a2,
            CASE WHEN contains(nt,'freight') THEN 28.0 ELSE 0 END
            + CASE WHEN contains(nt,'vessel') THEN 24.0 ELSE 0 END
            + CASE WHEN contains(nt,'port') THEN 16.0 ELSE 0 END AS a3,
            CAST(len(regexp_extract_all(lt, 'amount'))
                  + len(regexp_extract_all(lt, 'invoice'))
                  + len(regexp_extract_all(lt, 'payment')) AS DOUBLE) AS b0,
            CAST(len(regexp_extract_all(lt, 'order'))
                  + len(regexp_extract_all(lt, 'purchase'))
                  + len(regexp_extract_all(lt, 'supplier')) AS DOUBLE) AS b1,
            CAST(len(regexp_extract_all(lt, 'beneficiary'))
                  + len(regexp_extract_all(lt, 'credit'))
                  + len(regexp_extract_all(lt, 'swift')) AS DOUBLE) AS b2,
            CAST(len(regexp_extract_all(lt, 'freight'))
                  + len(regexp_extract_all(lt, 'port'))
                  + len(regexp_extract_all(lt, 'vessel')) AS DOUBLE) AS b3,
            CAST(len([x for x in list_distinct(string_split_regex(snt, '[ \t\n\x0b\f\r]+'))
              if x IN ('invoice','amount','payment')]) AS DOUBLE) AS c0,
            CAST(len([x for x in list_distinct(string_split_regex(snt, '[ \t\n\x0b\f\r]+'))
              if x IN ('purchase','order','supplier')]) AS DOUBLE) AS c1,
            CAST(len([x for x in list_distinct(string_split_regex(snt, '[ \t\n\x0b\f\r]+'))
              if x IN ('credit','beneficiary','swift')]) AS DOUBLE) AS c2,
            CAST(len([x for x in list_distinct(string_split_regex(snt, '[ \t\n\x0b\f\r]+'))
              if x IN ('vessel','port','freight')]) AS DOUBLE) AS c3
          FROM base
        ), {_ml_sum_ctes()}, t4s AS (
          SELECT b.doc_id,
                 COALESCE(m.s0, 0) + {inter[0] * fscale} AS s0,
                 COALESCE(m.s1, 0) + {inter[1] * fscale} AS s1,
                 COALESCE(m.s2, 0) + {inter[2] * fscale} AS s2,
                 COALESCE(m.s3, 0) + {inter[3] * fscale} AS s3
          FROM base b LEFT JOIN mlsum m USING (doc_id)
        ), tech AS (
          SELECT s.doc_id, s.too_short,
            CASE WHEN s.too_short THEN 'unclassified'
                 WHEN a0 >= a1 AND a0 >= a2 AND a0 >= a3 AND a0 > 0
                   THEN 'invoice'
                 WHEN a1 >= a2 AND a1 >= a3 AND a1 > 0
                   THEN 'purchase_order'
                 WHEN a2 >= a3 AND a2 > 0 THEN 'letter_of_credit'
                 WHEN a3 > 0 THEN 'shipping'
                 ELSE 'unclassified' END AS t1,
            CASE WHEN s.too_short THEN 'unclassified'
                 WHEN b0 >= b1 AND b0 >= b2 AND b0 >= b3 AND b0 > 0
                   THEN 'invoice'
                 WHEN b1 >= b2 AND b1 >= b3 AND b1 > 0
                   THEN 'purchase_order'
                 WHEN b2 >= b3 AND b2 > 0 THEN 'letter_of_credit'
                 WHEN b3 > 0 THEN 'shipping'
                 ELSE 'unclassified' END AS t2,
            CASE WHEN s.too_short THEN 'unclassified'
                 WHEN c0 >= c1 AND c0 >= c2 AND c0 >= c3 AND c0 > 0
                   THEN 'invoice'
                 WHEN c1 >= c2 AND c1 >= c3 AND c1 > 0
                   THEN 'purchase_order'
                 WHEN c2 >= c3 AND c2 > 0 THEN 'letter_of_credit'
                 WHEN c3 > 0 THEN 'shipping'
                 ELSE 'unclassified' END AS t3,
            CASE WHEN t.s0 >= t.s1 AND t.s0 >= t.s2 AND t.s0 >= t.s3
                   THEN '{labels[0]}'
                 WHEN t.s1 >= t.s2 AND t.s1 >= t.s3 THEN '{labels[1]}'
                 WHEN t.s2 >= t.s3 THEN '{labels[2]}'
                 ELSE '{labels[3]}' END AS t4
          FROM scored s JOIN t4s t USING (doc_id)
        ), vote AS (
          SELECT doc_id, too_short, t1, t2, t3, t4,
            CAST(t1 = t1 AS INT) + CAST(t2 = t1 AS INT)
              + CAST(t3 = t1 AS INT) + CAST(t4 = t1 AS INT) AS n1,
            CAST(t1 = t2 AS INT) + CAST(t2 = t2 AS INT)
              + CAST(t3 = t2 AS INT) + CAST(t4 = t2 AS INT) AS n2,
            CAST(t1 = t3 AS INT) + CAST(t2 = t3 AS INT)
              + CAST(t3 = t3 AS INT) + CAST(t4 = t3 AS INT) AS n3,
            CAST(t1 = t4 AS INT) + CAST(t2 = t4 AS INT)
              + CAST(t3 = t4 AS INT) + CAST(t4 = t4 AS INT) AS n4
          FROM tech
        )
        SELECT doc_id, t1 AS technique_1, t2 AS technique_2,
               t3 AS technique_3, t4 AS technique_4,
               CASE WHEN too_short THEN 'unclassified'
                    WHEN n1 = greatest(n1, n2, n3, n4) THEN t1
                    WHEN n2 = greatest(n1, n2, n3, n4) THEN t2
                    WHEN n3 = greatest(n1, n2, n3, n4) THEN t3
                    ELSE t4 END AS category,
               CASE WHEN too_short THEN 0.0
                    ELSE CAST(greatest(n1, n2, n3, n4) AS DOUBLE) / 4.0
                    END AS vote_confidence
        FROM vote ORDER BY doc_id
    """


def _quality_oracle_sql(**kw) -> str:
    from documentai_spark.functions.quality_sql import (
        extract_quality_oracle_sql,
    )
    return extract_quality_oracle_sql(
        kind_html_pat=_KIND_HTML_PAT, kind_blocksep=_KIND_BLOCKSEP,
        kind_multicol=_KIND_MULTICOL, **kw)


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the DocumentAI extraction+quality pipeline over the
    ``documents`` table (each document = a one-turn conversation)."""
    from documentai_spark.functions.verdict import with_verdict
    from documentai_spark.operators.extraction import (
        with_extraction, with_quality,
    )
    docs = _t(spark, SF0001, "documents")
    df = with_extraction(docs, text_col="text")
    df = with_quality(df, raw_col="text")
    df = with_verdict(df)
    return df.select("doc_id", "kind", "extracted_text", "q_blank",
                     "q_legibility", "q_completeness", "q_skew", "q_noise",
                     "q_contrast", "q_brightness", "q_edge_crop",
                     "q_shadow_glare", "q_resolution", "confidence",
                     "verdict").orderBy("doc_id")


# --------------------------------------------------------------------------
# SQL-checkable queries (each has an oracle_sql mirror)
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-groupBy-agg with exact decimal sums.

    Covers A5/A11 partial+final aggregation; filter pushes to the parquet
    scan (PushedFilters visible in .explain)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    disc_price = (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)")
                                            - dec("l_discount")))
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
                 F.sum(dec("l_extendedprice")).cast("double")
                  .alias("sum_base_price"),
                 F.sum(disc_price).cast("double").alias("sum_disc_price"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue top-10 via broadcast dim join (J5/J6 + W4 top-k).

    customer is the small side -> explicit broadcast(); lineitem->orders
    is the big equi-join, shuffle on orderkey with AQE.

    r9 (guide §2.3, aggregate before you shuffle): lineitem revenue is
    pre-summed per l_orderkey BEFORE the orders join, so the join input
    shrinks ~4x and the join never carries per-line rows. Equivalence
    is exact, not approximate: decimal(18,4) sums are exact integer
    arithmetic, so sum-of-partial-sums equals the flat sum bit-for-bit
    (no overflow at any tested scale — sum() widens to decimal(28,4)/
    (38,4)) and the final cast to double sees the identical exact
    value. Oracle hash unchanged (checked at sf0.001/0.01/0.1)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = (F.col("l_extendedprice").cast("decimal(18,4)")
           * (F.lit(1).cast("decimal(18,4)")
              - F.col("l_discount").cast("decimal(18,4)")))
    per_order = (li.select("l_orderkey", rev.alias("_r"))
                   .groupBy("l_orderkey")
                   .agg(F.sum("_r").alias("_r")))
    return (per_order
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_custkey", "c_name")
            .agg(F.sum("_r").cast("double").alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("c_custkey"))
            .limit(10))


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: date-range filter + left-semi join + count (U/J7)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (orders
            .filter((F.col("o_orderdate") >= F.lit("1996-01-01"))
                    & (F.col("o_orderdate") < F.lit("1996-07-01")))
            .join(li.select("l_orderkey").distinct(),
                  F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("o_orderpriority"))


def q_majority_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: the 4/4 classification vote re-expressed at table scale —
    per user, mode of event_type with vote count and 'k/n' confidence
    (documentClassifier.py:928-948 semantics). Deterministic tie-break."""
    ev = _t(spark, sf_dir, "events")
    votes = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("votes"))
    totals = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("total"))
    w = Window.partitionBy("user_id").orderBy(F.desc("votes"),
                                              F.asc("event_type"))
    return (votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn")
            .join(totals, "user_id")
            .select("user_id", F.col("event_type").alias("top_event"),
                    "votes",
                    F.round(F.col("votes") / F.col("total"), 6)
                     .alias("vote_confidence"))
            .orderBy("user_id"))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 gaps-and-islands sessionization (documentClassifier.py:1057-1080
    consecutive-page grouping, generalized to 30-min event gaps)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond granularity: exact in both engines (Spark timestampdiff
    # truncates sub-unit parts; DuckDB date_diff counts boundary crossings —
    # they disagree at SECOND granularity but agree at the data's native µs)
    gap = F.expr("timestampdiff(MICROSECOND, _prev_ts, ts)")
    df = (ev.withColumn("_prev_ts", F.lag("ts").over(w))
            .withColumn("new_session",
                        F.when(F.col("_prev_ts").isNull()
                               | (gap > 1800 * 1000000), 1)
                         .otherwise(0))
            .withColumn("session_id", F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, 0))))
    return (df.groupBy("user_id", "session_id")
              .agg(F.count(F.lit(1)).alias("session_events"))
              .groupBy("user_id")
              .agg(F.count(F.lit(1)).alias("n_sessions"),
                   F.max("session_events").alias("max_session_events"))
              .orderBy("user_id"))


def q_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 top-k per group (top-3 by value, deterministic tie-break)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"),
                                              F.asc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= 3)
              .select("user_id", "rn", "event_id", "value")
              .orderBy("user_id", "rn"))


def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup (streaming-friendly shape; here batch).

    Wall-clock bucket as string to stay TZ-free cross-engine."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(
                F.date_trunc("hour", F.col("ts")).cast("string")
                 .alias("hour_bucket"),
                "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum(F.col("value").cast("decimal(18,4)"))
                    .cast("double").alias("sum_value"))
              .orderBy("hour_bucket", "event_type"))


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over documents (text-analysis op; exact ints).
    The whitespace class and NULL-as-zero pin live in
    ``curation.token_count_col`` (shared, r7)."""
    from documentai_spark.operators.curation import token_count_col
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    return docs.select("doc_id",
                       token_count_col(F.col("text")).alias("n_tokens"),
                       F.length("text").alias("len_chars")).orderBy("doc_id")


def q_doc_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic via stopword density, single-pass JVM regex.

    Perf note: an earlier higher-order-function formulation
    (filter+array_contains per token) was ~10x slower — interpreted
    lambdas don't join whole-stage codegen and get re-evaluated per
    reference after projection collapse. One boundary-anchored
    regexp_extract_all pass is the scale formulation (explicit ASCII
    lookarounds — curation.STOPWORD_PATTERN — because Java's bare \\b
    is Unicode-aware while the oracle's RE2 \\b is ASCII-only)."""
    from documentai_spark.operators.curation import (
        STOPWORD_PATTERN, token_count_col,
    )
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    n_toks = token_count_col(F.col("text"))
    n_sw = F.coalesce(
        F.size(F.regexp_extract_all(F.lower(F.col("text")),
                                    F.lit(STOPWORD_PATTERN), F.lit(0))),
        F.lit(0))
    # branch-free ratio (CSE-friendly: the stopword regex stays out of
    # lazy CaseWhen branches): n_toks = 0 implies n_sw = 0, so dividing
    # by greatest(n_toks, 1) yields the identical 0.0 for empty rows
    sw_ratio = F.round(n_sw / F.greatest(n_toks, F.lit(1)), 6)
    return (docs.select(
                "doc_id", n_toks.alias("n_tokens"), n_sw.alias("n_stopwords"),
                sw_ratio.alias("stopword_ratio"),
                F.when(sw_ratio >= 0.04, F.lit("en")).otherwise(F.lit("unknown"))
                 .alias("lang_pred"))
            .orderBy("doc_id"))


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style frozen-LM quality scoring (r8): every doc scored
    under the committed bigram stupid-backoff model (data/lm_frozen —
    tools/freeze_lm_model.py; the data/ml_frozen pattern: the gate
    LOADS the artifact, never refits). The operator's Arrow UDF
    delegates row-wise to core/lm.score_doc; the oracle replays the
    identical integer LUT sums as parquet joins
    (_lm_perplexity_oracle_sql). The hashed columns are ALL exact
    integers/booleans — lm_mean_e6 is the mean cost in 1e-6 digits via
    integer division (Spark ``div`` == DuckDB ``//`` on positives), so
    no float rounding can enter the hash; the operator's round(6)
    double ``lm_mean_cost`` stays a user column, pinned separately by
    tests/test_lm.py. Threshold 1.45 digits/bigram sits inside the
    corpus's observed [1.20, 1.75] range so both flag classes are live
    (124 of 500 flagged at sf0.01)."""
    from documentai_spark.operators.curation import (
        load_lm_model, with_lm_perplexity,
    )
    docs = _par(spark, _t(spark, sf_dir, "documents")).select("doc_id", "text")
    model = load_lm_model(LM_FROZEN)
    out = with_lm_perplexity(docs, model, threshold=1.45)
    # map-only UDF plan: NO final orderBy (the header rule — a global
    # sort's sampling job would re-execute the Arrow chain 2x; the
    # driver canonical-sorts before hashing)
    return out.select(
        "doc_id", "lm_bigrams", "lm_cost",
        F.when(F.col("lm_bigrams") > 0,
               F.expr("lm_cost * 100 div lm_bigrams"))
         .alias("lm_mean_e6"),
        "high_perplexity")


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of whitespace-normalized lowercase text
    (exact-dedup key; textstats.fingerprint semantics)."""
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return docs.select(
        "doc_id", F.md5(norm.cast("binary")).alias("fingerprint")
    ).orderBy("doc_id")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the fingerprint; keep min doc_id as
    representative; report group sizes (map-side partial agg, one shuffle
    on the 16-byte key — the scale path for 100 TB exact dedup)."""
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    fp = docs.select("doc_id", F.md5(norm.cast("binary")).alias("fingerprint"))
    return (fp.groupBy("fingerprint")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.min("doc_id").alias("keep_doc_id"))
              .agg(F.count(F.lit(1)).alias("n_groups"),
                   F.sum("n_docs").alias("n_docs"),
                   F.sum(F.when(F.col("n_docs") > 1,
                                F.col("n_docs") - 1).otherwise(0))
                    .alias("n_dropped")))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup candidates: 3-token shingles, candidate
    pairs via shingle-key equi-join (the shuffle-join formulation of
    shingle-LSH banding), exact Jaccard from intersection/union counts.

    Bounded to doc_id < 120 to keep the oracle cross-join-free compare
    cheap at sf0.1; at cluster scale the same plan runs unbounded with the
    shingle join sharded by key."""
    docs = _par(spark, _t(spark, sf_dir, "documents")).filter(F.col("doc_id") < 120)
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    toks = F.split(norm, " ")
    n = F.size(toks)
    sh = F.when(n >= 3, F.transform(
            F.sequence(F.lit(0), n - F.lit(3)),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, F.lit(3)))
        )).otherwise(F.array(norm))
    # explode ONCE; shingle-set sizes come from the exploded rows (the
    # heavy shingle expression is never re-evaluated — projection collapse
    # would otherwise inline it into every reference), and the self-join's
    # two shuffles on `shingle` are identical subplans, so Spark reuses
    # the exchange (ReusedExchange in .explain).
    ex = docs.select("doc_id", F.explode(F.array_distinct(sh))
                     .alias("shingle"))
    ns = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ns"))
    a = ex.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = ex.select(F.col("doc_id").alias("doc_b"), "shingle")
    pairs = (a.join(b, "shingle")
              .filter(F.col("doc_a") < F.col("doc_b"))
              .groupBy("doc_a", "doc_b")
              .agg(F.count(F.lit(1)).alias("inter")))
    pairs = (pairs
             .join(F.broadcast(ns.select(F.col("doc_id").alias("doc_a"),
                                         F.col("ns").alias("na"))), "doc_a")
             .join(F.broadcast(ns.select(F.col("doc_id").alias("doc_b"),
                                         F.col("ns").alias("nb"))), "doc_b"))
    jac = F.round(F.col("inter")
                  / (F.col("na") + F.col("nb") - F.col("inter")), 6)
    return (pairs.select("doc_a", "doc_b", jac.alias("jaccard"))
                 .filter(F.col("jaccard") >= 0.01)
                 .orderBy("doc_a", "doc_b"))


def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair->cluster closure (dedup.cluster_pairs): ngram-Jaccard pairs
    at >= 0.2 over the bounded doc set, collapsed into connected
    components with min-id representatives — the transitive step every
    pair-emitting dedup needs before a keep set exists (A~B, B~C must
    fold into ONE cluster even when A!~C). The distributed side runs
    one union-find pass over the edges (``core.components``, in a
    single mapInArrow task); the oracle closes the SAME pair set with a
    recursive CTE fixpoint — two different strategies agreeing
    value-for-value."""
    from documentai_spark.operators.dedup import cluster_pairs
    docs = _par(spark, _t(spark, sf_dir, "documents")).filter(F.col("doc_id") < 120)
    pairs = q_ngram_jaccard(spark, sf_dir) \
        .filter(F.col("jaccard") >= 0.2)
    return cluster_pairs(pairs, docs).orderBy("doc_id")


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for 10 anchor vectors (ANN
    baseline). Anchors broadcast; dot/norm via higher-order aggregate in
    DOUBLE (identical left-to-right IEEE sum in both engines). Output is
    ids+rank only — float reprs never reach the hash."""
    raw = _t(spark, sf_dir, "embeddings")
    vecs = _par(spark, raw).select(
        "vec_id", F.transform("embedding",
                              lambda x: x.cast("double")).alias("v"))
    anchors = raw.select(
        "vec_id", F.transform("embedding",
                              lambda x: x.cast("double")).alias("v")) \
                 .filter(F.col("vec_id") < 10) \
                  .select(F.col("vec_id").alias("anchor_id"),
                          F.col("v").alias("av"))
    dot = F.aggregate(F.zip_with("av", "v", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    joined = (F.broadcast(anchors).crossJoin(vecs)
              .filter(F.col("vec_id") != F.col("anchor_id"))
              .select("anchor_id", "vec_id",
                      (dot / (norm(F.col("av")) * norm(F.col("v"))))
                      .alias("cos")))
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (joined.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("anchor_id", "rank", F.col("vec_id").alias("neighbor_id"))
            .orderBy("anchor_id", "rank"))


def q_classify_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword classification, technique-1 semantics (A7:
    len(keyword)*4*weight substring scoring with deterministic argmax,
    documentClassifier.py:406-421) over the documents table."""
    from documentai_spark.operators.classify import (
        ClassifierConfig, technique_substring,
    )
    cfg = ClassifierConfig.compile({
        "query_engine": {"keywords": ["query", "join", "filter", "scan"]},
        "storage": {"keywords": ["table", "row", "column", "part"]},
        "streaming": {"keywords": ["stream", "window", "batch"]},
    })
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        technique_substring(F.col("text"), cfg).alias("category")
    ).orderBy("doc_id")


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame: per-user running event count + exact running sum
    (decimal) ordered by ts (W-family row-frame coverage)."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
               .rowsBetween(Window.unboundedPreceding, 0))
    return (ev.filter(F.col("user_id") < 20)
            .select("user_id", "event_id",
                    F.count(F.lit(1)).over(w).alias("running_n"),
                    F.sum(F.col("value").cast("decimal(18,4)")).over(w)
                     .cast("double").alias("running_value"))
            .orderBy("user_id", "event_id"))


def q_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead deltas per user (ordered-operator coverage); exact decimal
    subtraction so cross-engine doubles match."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("value").cast("decimal(18,4)")).over(w)
    return (ev.filter(F.col("user_id") < 20)
            .select("user_id", "event_id",
                    (F.col("value").cast("decimal(18,4)") - prev)
                    .cast("double").alias("delta"))
            .filter(F.col("delta").isNotNull())
            .orderBy("user_id", "event_id"))


def q_user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: users who clicked INTERSECT users who errored,
    minus users who purchased (U-family coverage)."""
    # restrict to an event_id window so the per-type user sets are sparse
    # enough that intersect/except produce non-degenerate results
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1500)
    def users(et: str) -> DataFrame:
        return ev.filter(F.col("event_type") == et).select("user_id")
    both = users("click").intersect(users("error"))
    return both.subtract(users("purchase")).orderBy("user_id")


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (dedup tier #5), brute-force over a
    capped id range so the DuckDB oracle mirrors it exactly; output is id
    pairs only (floats never reach the hash). The uncapped scale path is
    operators/dedup.embedding_near_dups (LSH-bucketed)."""
    emb = _par(spark, _t(spark, sf_dir, "embeddings")
               .filter(F.col("vec_id") < 500))
    v = emb.select("vec_id",
                   F.transform("embedding",
                               lambda x: x.cast("double")).alias("v"))
    a = v.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = v.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))
    cos = dot / (norm(F.col("va")) * norm(F.col("vb")))
    return (a.crossJoin(b)
             .filter(F.col("id_a") < F.col("id_b"))
             .filter(F.round(cos, 6) >= 0.4)
             .select("id_a", "id_b")
             .orderBy("id_a", "id_b"))


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (training-data-pipeline op): GPT-style
    pretokenizer classes without lookahead (RE2-compatible) —
    '' ?[A-Za-z]+ | ?[0-9]+ | ?[^A-Za-z0-9 \\t\\n]+'' — counted per doc in
    one regex pass, vs whitespace token count."""
    from documentai_spark.operators.curation import token_count_col
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    pat = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n]+"
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))
    return docs.select("doc_id", n_bpe.alias("n_bpe_tokens"),
                       token_count_col(F.col("text"))
                       .alias("n_ws_tokens")).orderBy("doc_id")


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-pass corpus curation report — the summary a training-data
    pipeline computes before filtering: per predicted language, document
    volume, token totals, interpolated token quantiles, and the
    exact-duplicate count/ratio. Composes the already-pinned
    formulations of doc_token_stats (whitespace tokens),
    doc_lang_quality (stopword-density language id), doc_fingerprint
    (normalized md5), and value_percentiles (percentile ==
    quantile_cont) in ONE scan + ONE low-cardinality shuffle.

    Library form: ``curation.corpus_report`` (promoted in r5). The gate
    runs ``exact=True`` (`percentile`, the oracle-replayable
    interpolated form); the 100 TB swap is the ``exact=False`` flag —
    ``approx_percentile(n_tokens, p, accuracy)`` with bounded memory and
    rank error <= 1/accuracy, tested against the exact form at an
    sf1-like skewed shape (tests/test_curation.py)."""
    from documentai_spark.operators.curation import corpus_report
    return corpus_report(_par(spark, _t(spark, sf_dir, "documents")),
                         exact=True)


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data curation FILTER — the operator that actually
    decides what enters a training set: keep a document iff it is the
    dedup representative (min doc_id per normalized fingerprint), the
    language id says 'en', the token count is in [20, 2000], and the
    12-point quality confidence clears the azure threshold (0.6). Emits
    per-reason audit booleans alongside the keep bit so the gate
    hash-checks the full drop accounting, not just the survivor set.

    Every ingredient reuses a pinned formulation: the quality stack is
    the generated bit-exact SQL mirror (functions/quality_sql), language
    and tokens are the corpus_report expressions, the dedup
    representative is a min-over-fingerprint window — deterministic in
    both engines. One scan, one fingerprint shuffle, one broadcast-free
    window; confidence comparisons are exact because the doubles are
    bit-identical cross-engine (extract_quality's standing hash-check).
    """
    from documentai_spark.operators.curation import curate_documents
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    out = curate_documents(docs)
    return (out.select("doc_id", "keep", "is_dup", "bad_lang", "bad_len",
                       "low_conf")
               .orderBy("doc_id"))


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 percentile aggregates: exact interpolated percentiles per
    event_type (Spark `percentile` and DuckDB `quantile_cont` share the
    linear-interpolation definition — bit-identical doubles)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
              .agg(F.expr("percentile(value, 0.25)").alias("p25"),
                   F.expr("percentile(value, 0.5)").alias("p50"),
                   F.expr("percentile(value, 0.95)").alias("p95"),
                   F.min("value").alias("vmin"),
                   F.max("value").alias("vmax"))
              .orderBy("event_type"))


# --------------------------------------------------------------------------
# transcripts-domain queries (committed deterministic table at
# data/transcripts_test — DuckDB reads it via read_parquet, so even the
# content-kind dispatch rule is oracle-checked cross-engine)
# --------------------------------------------------------------------------

ML_FROZEN = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "data", "ml_frozen")
IVF_CENTROIDS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "data", "ivf_centroids.json")
LM_FROZEN = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "data", "lm_frozen")


def _lm_perplexity_oracle_sql(threshold: float = 1.45) -> str:
    """lm_perplexity mirror: the frozen bigram LM's integer costs as
    DuckDB LUT joins — tokenize (the pinned explicit WS class, empties
    filtered), map to the inlined vocab or '<unk>', pair consecutive
    mapped tokens, then per pair COALESCE(bigram LUT, unigram LUT +
    backoff) exactly like core/lm.score_doc. Every hashed value is an
    integer or boolean (lm_mean_e6 via ``//``, Spark's ``div`` twin on
    positives); docs with < 2 tokens (incl. NULL text) restore via the
    LEFT JOIN as (0, 0, NULL, false)."""
    import json as _json
    with open(os.path.join(LM_FROZEN, "meta.json")) as f:
        meta = _json.load(f)
    # tokens are whitespace-split, so apostrophes survive inside them —
    # a natural-English refreeze whose top-24 includes "don't" must not
    # emit broken SQL (r8 review): SQL-escape every vocab literal
    vocab_sql = "[" + ", ".join(
        "'" + w.replace("'", "''") + "'" for w in meta["vocab"]) + "]"
    back = meta["backoff_cost"]
    thr_e4 = int(round(threshold * meta["scale"]))
    uni = os.path.join(LM_FROZEN, "unigrams.parquet")
    bi = os.path.join(LM_FROZEN, "bigrams.parquet")
    ws_cls = r"[ \t\n\x0b\f\r]+"
    return rf"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '{ws_cls}'),
                             x -> x <> '') AS tk
          FROM documents
        ), mapped AS (
          SELECT doc_id,
                 [CASE WHEN list_contains({vocab_sql}, x) THEN x
                       ELSE '<unk>' END for x in tk] AS mk
          FROM toks
        ), pairs AS (
          SELECT doc_id,
                 unnest(CASE WHEN len(mk) >= 2 THEN
                          [mk[i] || ' ' || mk[i+1]
                           for i in range(1, len(mk))]
                        ELSE []::VARCHAR[] END) AS bg
          FROM mapped
        ), pcost AS (
          SELECT p.doc_id, COALESCE(b.cost, u.cost + {back}) AS c
          FROM pairs p
          LEFT JOIN read_parquet('{bi}') b ON b.bigram = p.bg
          LEFT JOIN read_parquet('{uni}') u
                 ON u.w = split_part(p.bg, ' ', 2)
        ), agg AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS lm_bigrams,
                 CAST(SUM(c) AS BIGINT) AS lm_cost
          FROM pcost GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(a.lm_bigrams, 0) AS lm_bigrams,
               COALESCE(a.lm_cost, 0) AS lm_cost,
               CASE WHEN a.lm_bigrams > 0
                    THEN (a.lm_cost * 100) // a.lm_bigrams
               END AS lm_mean_e6,
               COALESCE(a.lm_cost > {thr_e4} * a.lm_bigrams, FALSE)
                   AS high_perplexity
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id
    """


def _ivf_centroids() -> list:
    import json as _json
    with open(IVF_CENTROIDS) as f:
        return _json.load(f)["centroids"]
TRANSCRIPTS_TEST = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "data", "transcripts_test")
PIPELINE_EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "data", "pipeline_expected.parquet")

# the detect_kind regexes, imported from core/textkind (single source of
# truth) and shared verbatim with the SQL oracle — spelled portable there:
# explicit ASCII whitespace classes (no bare \s/\S: Java's includes \x0b,
# RE2's does not) and [hH]-style tag case classes (no (?i): the three
# engines case-fold differently outside ASCII)
from documentai_spark.core.textkind import (  # noqa: E402
    KIND_BLOCKSEP_PAT as _KIND_BLOCKSEP,
    KIND_HTML_PAT as _KIND_HTML_PAT,
    KIND_MULTICOL_PAT as _KIND_MULTICOL,
)


def _transcripts(spark: SparkSession, wide: bool = False) -> DataFrame:
    # r9: the committed table is one single-row-group file — without
    # the adaptive ingress repartition every transcript-family query's
    # Arrow extraction/quality stage ran on ONE core (guide §2.5).
    # ``wide=True`` opts a Python-kernel-heavy query in; the pure-JVM
    # window/agg queries skip it (their own shuffle dominates and the
    # extra exchange measurably regressed the sub-second tail), and
    # the flagship pipeline places its own range exchange.
    df = spark.read.parquet(TRANSCRIPTS_TEST)
    return _par(spark, df) if wide else df


def q_t_kind_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-kind dispatch (core/textkind.detect_kind) as SQL so the
    DuckDB oracle independently verifies the routing rule per turn."""
    t = _transcripts(spark)
    kind = (F.when(F.col("text").rlike(_KIND_HTML_PAT), "html")
             .when(F.col("text").contains("\n")
                   & (F.col("text").rlike(_KIND_BLOCKSEP)
                      | F.col("text").rlike(_KIND_MULTICOL)), "layout")
             .otherwise("plain"))
    return (t.select("conv_id", "turn_idx", kind.alias("kind"))
             .groupBy("kind").agg(F.count(F.lit(1)).alias("n_turns"))
             .orderBy("kind"))


def q_t_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation rollup (A5/A11 partial+final on the real input
    shape): turn counts, text volume, role cardinality, ordering check."""
    t = _transcripts(spark)
    return (t.groupBy("conv_id")
             .agg(F.count(F.lit(1)).alias("n_turns"),
                  F.max("turn_idx").alias("max_turn_idx"),
                  F.sum(F.length("text")).alias("total_chars"),
                  F.countDistinct("role").alias("n_roles"))
             .withColumn("contiguous",
                         F.col("max_turn_idx") == F.col("n_turns") - 1)
             .orderBy("conv_id"))


def q_t_role_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 gaps-and-islands on the transcripts: runs of consecutive
    same-role turns per conversation (the consecutive-page grouping
    semantics of documentClassifier.py:1057-1080 on real input)."""
    t = _transcripts(spark)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    brk = (F.lag("role").over(w).isNull()
           | (F.col("role") != F.lag("role").over(w))).cast("int")
    df = (t.withColumn("_brk", brk)
           .withColumn("island", F.sum("_brk").over(
               w.rowsBetween(Window.unboundedPreceding, 0))))
    return (df.groupBy("conv_id", "island", "role")
              .agg(F.count(F.lit(1)).alias("run_len"))
              .groupBy("conv_id")
              .agg(F.count(F.lit(1)).alias("n_islands"),
                   F.max("run_len").alias("longest_run"))
              .orderBy("conv_id"))


def q_t_mega_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew profile: the mega-conversation stands out (the salting
    rationale made checkable): top-5 conversations by turn count."""
    t = _transcripts(spark)
    return (t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n_turns"))
             .orderBy(F.desc("n_turns"), F.asc("conv_id"))
             .limit(5))


# --------------------------------------------------------------------------
# operator-backed queries; the few without an oracle_sql mirror (xxhash64
# signatures, fitted models, Python-only extraction) are rows-only at the
# gate and pinned by tests/ instead
# --------------------------------------------------------------------------

def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, oracle-checked at threshold 0.9: the
    banded LSH (b=16, r=4) has candidate-miss probability ~3e-8 per true
    pair at J>=0.9 AND is fully deterministic (fixed xxhash64 salts), so
    the verified pair set equals the exact shingle-Jaccard pair set on the
    fixture — the DuckDB oracle computes the exact set via a shingle
    equi-join (no all-pairs). Banding internals stay pinned by
    tests/test_dedup.py at looser thresholds."""
    from documentai_spark.operators.dedup import minhash_dedup_pairs
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    return (minhash_dedup_pairs(docs, jaccard_threshold=0.9)
            .orderBy("id_a", "id_b"))


def q_stream_band_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming candidate-geometry gate row (r8, VERDICT r7 #4): the
    banded LSH bucket keys the streaming state op groups on — the REAL
    ``operators/dedup.band_structs``, shared verbatim by the batch
    candidate join and ``streaming/near_dedup.py`` — computed over a
    deterministic synthetic signature ``sig[i] = xxhash64(i::long,
    doc_id)`` and hash-checked against a from-scratch DuckDB
    re-derivation of Spark's XXH64 long-chain (HUGEINT modular
    arithmetic; see ``_stream_band_keys_oracle_sql``). The synthetic
    signature stands in for the minhash fold, whose batch-vs-streaming
    bit-identity is pytest-pinned
    (tests/test_streaming_near_dedup.py::test_local_signature_bit_identity);
    this row puts the hash+banding arithmetic itself under the
    round-over-round CORRECTNESS contract."""
    from documentai_spark.operators.dedup import band_structs
    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id").orderBy("doc_id").limit(64))
    sig = F.array(*[F.xxhash64(F.lit(i).cast("long"), F.col("doc_id"))
                    for i in range(64)])
    # r9: materialize the 64-hash signature BEFORE banding — inlined,
    # every band_structs element_at re-evaluated the full 64-hash array
    # construction and the Generate re-evaluated it again per band
    # (~65k hashes/row, the documented HOF/Generate CSE hazard); the
    # eager checkpoint (64 rows) is the projection-collapse barrier
    staged = docs.select("doc_id", sig.alias("_sig")) \
                 .localCheckpoint(eager=True)
    return (staged.select("doc_id",
                          F.explode(band_structs("_sig", 64, 16))
                          .alias("_b"))
                  .select("doc_id",
                          F.col("_b.band_idx").alias("band_idx"),
                          F.col("_b.band_hash").alias("band_hash"))
                  .orderBy("doc_id", "band_idx"))


def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, oracle-checked: the md5-fold bit source
    is replayed in DuckDB and the banded candidate set equals the direct
    all-pairs hamming<=3 set by pigeonhole (promoted from rows-only in
    r3; tests/test_dedup.py pins the operator semantics)."""
    from documentai_spark.operators.dedup import simhash_near_dups
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    return simhash_near_dups(docs, max_hamming=3).orderBy("id_a", "id_b")


def q_entity_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity extraction + extraction confidence, oracle-checked: the
    entity regexes are re.ASCII-compiled (core/entities._PATTERNS) so the
    DuckDB RE2 mirror matches character-for-character. Fields emitted as a
    sorted comma-joined scalar (the gate canonicalizer cannot hash array
    cells); confidence rounded to 6 on both sides.

    Runs over the committed transcripts fixture (the documents table is
    digit-free word soup — zero entities, no signal)."""
    from documentai_spark.operators.extraction import with_entities
    out = with_entities(_transcripts(spark, wide=True), extracted_col="text")
    return (out.select(
                "conv_id", "turn_idx",
                F.array_join(F.array_sort(F.map_keys("entities")), ",")
                 .alias("fields"),
                F.round("extraction_confidence", 6)
                 .alias("extraction_confidence")))


def q_entity_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level entity extraction, oracle-checked: the first-match
    GROUP values (not just presence) must agree with DuckDB's RE2
    regexp_extract group pulls. Absent -> '' on both sides."""
    from documentai_spark.operators.extraction import with_entities
    out = with_entities(_transcripts(spark, wide=True), extracted_col="text")
    e = lambda f: F.coalesce(F.element_at("entities", F.lit(f)),  # noqa: E731
                             F.lit("")).alias(f)
    return out.select("conv_id", "turn_idx", e("po_number"),
                      e("date_numeric"), e("currency"), e("amount"),
                      e("incoterm"), e("email"))


def q_entity_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity span offsets via the exact -> consecutive-multi-word ->
    containment cascade (core/spans.py spec, pinned by tests/test_spans.py
    AND hash-checked against a full DuckDB list-lambda replay of the
    cascade -- promoted from rows-only in r3). One row per located
    entity. Branch coverage of the hash check is real, not incidental:
    on this fixture the stages fire exact=11595 / consecutive=1293 /
    containment=5432 times (and 0 misses among extracted entities)."""
    from documentai_spark.operators.extraction import with_entities
    out = with_entities(_transcripts(spark, wide=True), extracted_col="text")
    ex = out.select("conv_id", "turn_idx",
                    F.explode("entity_spans").alias("s"))
    return (ex.select("conv_id", "turn_idx", F.col("s.field").alias("field"),
                      F.col("s.begin").alias("begin"),
                      F.col("s.end").alias("end"))
              .filter(F.col("begin").isNotNull()))


def q_categorized_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorized-entity transform (api-gateway/app.py:60-108), exploded
    to scalar rows (rows-only; structure pinned by tests/test_spans.py)."""
    from documentai_spark.functions.categorize import (
        with_categorized_entities,
    )
    from documentai_spark.operators.extraction import with_entities
    out = with_categorized_entities(
        with_entities(_transcripts(spark, wide=True), extracted_col="text"),
        "purchase_order")
    ex = out.select("conv_id", "turn_idx",
                    F.explode("categorized_entities")
                     .alias("category", "entries"))
    ex = ex.select("conv_id", "turn_idx", "category",
                   F.explode("entries").alias("e"))
    return ex.select("conv_id", "turn_idx", "category",
                     F.col("e.label").alias("label"),
                     F.col("e.value").alias("value"))


def q_rule_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """English-rule validation over extracted entities, oracle-checked:
    the DuckDB mirror re-derives the entity values via RE2 group pulls
    and replays each typed check in SQL (not_empty / valid_date /
    numeric-with-comma-strip / case-sensitive one_of). Runs over the
    transcripts fixture (documents carry zero entities)."""
    from documentai_spark.operators.extraction import with_entities
    from documentai_spark.operators.rules_op import with_rule_validation
    out = with_rule_validation(
        with_entities(_transcripts(spark, wide=True), extracted_col="text"),
        ["po_number must not be empty",
         "date_numeric must be a valid date",
         "amount must be a number",
         "currency must be one of USD, EUR or GBP"])
    return out.select("conv_id", "turn_idx", "rules_passed",
                      "rules_failed", "overall_valid")


def q_rule_cross_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field rule types (date_comparison with the YYMMDD-first dual
    parse, validation_engine.py:213-243; unique :207-210; multiple_choice
    :245-252), oracle-checked: synthetic 6-digit date fields derived
    deterministically from doc_id exercise BOTH parse branches and the
    invalid-in-both-readings failure path; the DuckDB mirror replays the
    dual parse with explicit calendar validity."""
    from documentai_spark.operators.rules_op import with_rule_validation
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    d = F.col("doc_id")
    issue = F.concat(two(d % 29 + 1), two(d % 12 + 1), two(d % 100))
    expiry = F.concat(two((d * 3) % 31 + 1), two((d * 5) % 14),
                      two((d * 7) % 100))
    status = (F.when(d % 4 == 0, "active").when(d % 4 == 1, "closed")
               .when(d % 4 == 2, "PENDING").otherwise("bogus"))
    code = F.when(d % 5 == 0, F.lit("")) \
            .otherwise(F.concat(F.lit("C-"), d.cast("string")))
    amount = ((d * 37) % 10000).cast("string")
    ents = F.create_map(
        F.lit("issue_date"), issue, F.lit("expiry_date"), expiry,
        F.lit("status"), status, F.lit("code"), code,
        F.lit("amount_field"), amount)
    out = with_rule_validation(
        docs.select("doc_id", ents.alias("entities")),
        ["expiry_date must be on or after issue_date",
         "status should be active or closed or pending",
         "code must be unique",
         "amount_field must be between 100 and 5,000",
         "code must be maximum 4 characters"])
    r = F.col("rule_results")
    return (out.select("doc_id",
                       r[0]["passed"].alias("date_ok"),
                       r[1]["passed"].alias("choice_ok"),
                       r[2]["passed"].alias("unique_ok"),
                       r[3]["passed"].alias("between_ok"),
                       r[4]["passed"].alias("maxlen_ok"),
                       "rules_passed", "overall_valid"))


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mixture thinning (curation.mixture_sample):
    src0/src1 kept at 25% / 50%, everything else in full — the
    downweight-the-crawl move, hash-stable so re-runs keep the same
    rows. Oracle replays the salted bucket + per-source thresholds."""
    from documentai_spark.operators.curation import mixture_sample
    docs = _t(spark, sf_dir, "documents")
    out = mixture_sample(docs, rates={"src0": 0.25, "src1": 0.5})
    return out.select("doc_id", "source").orderBy("doc_id")


def q_rep_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (curation.repetition_signals): the
    Gopher-rule family — duplicate-line fraction (count and character
    weighted) and top-bigram coverage — per document, all
    partial-aggregating map-side (a doc's lines/grams are
    partition-local). Oracle replays line and bigram paths in SQL."""
    from documentai_spark.operators.curation import repetition_signals
    return repetition_signals(_par(spark, _t(spark, sf_dir, "documents"))) \
        .orderBy("doc_id")


def q_redact_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity redaction (functions/redact): every extracted sensitive
    entity value (PO/PI numbers, dates, currency amounts, emails,
    phones) replaced with its [FIELD] tag — the privacy scrub before a
    corpus release. TWO columns, both hash-checked (VERDICT r6 #3):
    ``redacted_text`` is the default all-substrings chain (first-match
    values replaced at every identical occurrence, fields in the fixed
    REDACT_FIELDS order); ``redacted_text_bounded`` is the
    ``word_boundary=True`` variant (ASCII boundary guards at word-char
    edges — short values no longer fire inside unrelated tokens). The
    oracle re-derives the values with RE2 and replays the plain chain
    with nested replace and the bounded chain with escaped-literal
    RE2 ``\\b`` patterns."""
    from documentai_spark.functions.redact import with_redaction
    from documentai_spark.operators.extraction import with_entities
    out = with_redaction(
        with_entities(_transcripts(spark, wide=True), extracted_col="text"))
    out = with_redaction(out, out_col="redacted_text_bounded",
                         word_boundary=True)
    return out.select("conv_id", "turn_idx", "redacted_text",
                      "redacted_text_bounded") \
              .orderBy("conv_id", "turn_idx")


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (curation.with_split): bucket
    = first 32 bits of md5(seed|doc_id) mod 10000 through cumulative
    thresholds (9000/9500/10000 for 0.9/0.05/0.05). Content- and
    order-independent, so re-runs and incremental loads never migrate a
    document between splits; both engines replay the identical bucket
    arithmetic."""
    from documentai_spark.operators.curation import with_split
    docs = _t(spark, sf_dir, "documents")
    return with_split(docs).select("doc_id", "split").orderBy("doc_id")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination sweep (curation.decontaminate): flag
    documents sharing any 8-token gram with an eval set. The benchmark
    here is synthesized deterministically INSIDE the query from the
    corpus itself — a 10-token window (tokens 4..13) of every 97th
    document — so the oracle can rebuild the identical probe set; the
    planted windows guarantee true positives (3 overlapping 8-grams
    each) while the word-soup corpus keeps accidental overlap rare."""
    from documentai_spark.operators.curation import decontaminate
    from documentai_spark.operators.ml_classify import tokens_col
    raw = _t(spark, sf_dir, "documents").select("doc_id", "text")
    docs = _par(spark, raw)
    # bench derives from the RAW scan (r9): ~1% of rows feed a
    # driver-side probe-set build — routing them through the ingress
    # repartition shuffled the whole table for a 516-row collect
    bench = (raw.filter(F.col("doc_id") % 97 == 0)
                .select(F.array_join(
                    F.slice(tokens_col(F.col("text")), 4, 10), " ")
                    .alias("text")))
    out = decontaminate(docs, bench, n=8)
    return out.select("doc_id", "n_contam_hits", "contaminated") \
              .orderBy("doc_id")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-group sampling (curation.stratified_sample):
    rank inside each predicted-language group by md5('strat|'seed|doc_id)
    (salted so the rank hash is independent of with_split's bucket
    hash), keep the 7 smallest — reservoir sampling made deterministic,
    so eval subsets are stable across re-runs and engines. The oracle
    replays the identical hash-rank window."""
    from documentai_spark.operators.curation import (
        stopword_ratio_col, stratified_sample,
    )
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    lang = F.when(stopword_ratio_col(F.col("text")) >= 0.04,
                  F.lit("en")).otherwise(F.lit("unknown"))
    tagged = docs.select("doc_id", lang.alias("lang_pred"))
    return stratified_sample(tagged, group_cols=["lang_pred"], k=7) \
        .select("doc_id", "lang_pred").orderBy("doc_id")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing (operators/packing.pack_sequences):
    per-shard (doc_id % 16) ordered greedy fill under a 512-token
    budget, oversize docs flagged in their own bins. The greedy
    reset-at-boundary recurrence has no window-function closed form, so
    the oracle re-derives it independently with a recursive CTE stepping
    row-by-row per shard — a genuinely different evaluation strategy
    agreeing value-for-value."""
    from documentai_spark.operators.packing import pack_sequences
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    return pack_sequences(docs, budget=512, n_shards=16) \
        .orderBy("doc_id")


def q_ml_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen classifier's INTEGER class scores per document —
    intercept*fscale + sum over distinct terms of w_c * f_lut[min(tf,
    cap)] (the r5 sublinear-LUT scheme). Hash-checking the raw scores
    pins the whole scorer (tokenization, 1-4gram expansion, tf counts,
    LUT factors, weighted integer sums) at SCORE level — strictly
    stronger than classify_vote's argmax-only technique_4 column, and
    the check that would have caught the r4 n-gram lambda-arity bug."""
    from documentai_spark.operators.ml_classify import (
        FrozenTextClassifier, integer_scores,
    )
    model = FrozenTextClassifier.load(spark, ML_FROZEN)
    docs = _par(spark, _t(spark, sf_dir, "documents")
                .select("doc_id", "text"))
    return integer_scores(model, docs, text_col="text",
                          id_col="doc_id").orderBy("doc_id")


def q_classify_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 4-technique classification: 3 rule techniques + the frozen
    TF-IDF/LogReg classifier as the 4th vote with k/4 confidence
    (documentClassifier.py:898-948). The model is the committed
    data/ml_frozen artifact (trained offline by tools/freeze_ml_model.py
    — the reference applies an offline-trained pickle the same way,
    documentClassifier.py:162-205), compiled to integer weights so the
    DuckDB oracle replays technique_4 and the whole vote EXACTLY
    (promoted from rows-only in r3). Training itself is pinned by
    tests/test_ml_classify.py (accuracy >= 0.9 on held-out data)."""
    from documentai_spark.operators.classify import ClassifierConfig
    from documentai_spark.operators.ml_classify import (
        FrozenTextClassifier, classify_with_ml_vote,
    )
    cfg = ClassifierConfig.compile({
        "invoice": {"keywords": ["invoice", "amount", "payment"]},
        "purchase_order": {"keywords": ["purchase", "order", "supplier"]},
        "letter_of_credit": {"keywords": ["credit", "beneficiary", "swift"]},
        "shipping": {"keywords": ["vessel", "port", "freight"]},
    })
    model = FrozenTextClassifier.load(spark, ML_FROZEN)
    docs = _par(spark, _t(spark, sf_dir, "documents")
                .withColumnRenamed("text", "extracted_text"))
    out = classify_with_ml_vote(docs, cfg, model)
    return out.select("doc_id", "technique_1", "technique_2",
                      "technique_3", "technique_4", "category",
                      "vote_confidence")


def q_classify_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL rule-technique classification chain, oracle-checked: 3
    techniques (substring len*4 scoring, regex occurrence count, token
    overlap) + the insertion-order majority vote + consecutive grouping
    with max_pages chunking (documentClassifier.py:406-557, 928-948,
    1039-1121) — every stage replayed in SQL over the transcripts. The
    ML 4th vote stays in classify_vote (rows-only; fitted model)."""
    from documentai_spark.operators.classify import (
        ClassifierConfig, classify_with_vote, group_consecutive,
    )
    cfg = ClassifierConfig.compile({
        "billing": {"keywords": ["invoice", "amount", "total"],
                    "max_pages": 3},
        "shipping": {"keywords": ["vessel", "port", "freight", "shipment"]},
        "credit": {"keywords": ["credit", "beneficiary"]},
    })
    t = _transcripts(spark, wide=True).withColumnRenamed("text", "extracted_text")
    out = group_consecutive(classify_with_vote(t, cfg), cfg)
    return out.select("conv_id", "turn_idx", "technique_1", "technique_2",
                      "technique_3", "category", "vote_confidence",
                      "group_id")


def q_preprocess_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective preprocessing (P5/P12/U3/X1) routing, oracle-checked on
    the plain-kind subset: needs_preprocessing comes from the SQL-mirrored
    verdict, and `touched` (= the enhancement kernel changed the text,
    i.e. was_preprocessed OR was_reverted) is replayed via the same
    control-strip / de-hyphenation / whitespace-collapse regex chain.
    The revert DIRECTION (worse-legibility rollback) is pinned by
    tests/test_rules_preprocess.py."""
    from documentai_spark.functions.verdict import with_verdict
    from documentai_spark.operators.extraction import (
        with_extraction_and_quality,
    )
    from documentai_spark.operators.preprocess import selective_preprocess
    t = _transcripts(spark, wide=True)
    df = with_verdict(with_extraction_and_quality(t))
    df = df.filter(F.col("kind") == "plain")
    out = selective_preprocess(df)
    return out.select("conv_id", "turn_idx", "needs_preprocessing",
                      (F.col("was_preprocessed") | F.col("was_reverted"))
                      .alias("touched"))


def q_text_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text table detection (extract_tables_from_text,
    app.py:830-851) over the transcripts. Oracle-checked since r3: the
    single-row-bridge stateful fold is replayed as a recursive-CTE
    per-line state machine in DuckDB (semantics also pinned by
    tests/test_typed_extract.py)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        IntegerType, StructField, StructType,
    )

    from documentai_spark.core.typed_extract import extract_text_tables

    out_type = StructType([
        StructField("n_tables", IntegerType(), False),
        StructField("n_table_rows", IntegerType(), False),
        StructField("max_cols", IntegerType(), False),
    ])

    @pandas_udf(out_type)
    def tables_udf(text):
        nt, nr, mc = [], [], []
        for t in text:
            tabs = extract_text_tables(t or "")
            nt.append(len(tabs))
            nr.append(sum(len(tb) for tb in tabs))
            mc.append(max((len(r) for tb in tabs for r in tb), default=0))
        return pd.DataFrame({"n_tables": nt, "n_table_rows": nr,
                             "max_cols": mc})

    t = _transcripts(spark, wide=True)
    # r9: the n_tables>0 filter would duplicate the UDF below itself
    # (guide 4.4) - non-determinism forbids the copy, result unchanged
    out = t.withColumn("_tt", tables_udf.asNondeterministic()(F.col("text")))
    return (out.select("conv_id", "turn_idx",
                       F.col("_tt.n_tables").alias("n_tables"),
                       F.col("_tt.n_table_rows").alias("n_table_rows"),
                       F.col("_tt.max_cols").alias("max_cols"))
               .filter(F.col("n_tables") > 0))


def q_transcript_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL flagship pipeline over the committed transcripts table,
    hash-checked since r4 against a committed frozen expected-output
    table (data/pipeline_expected.parquet, regenerated only by
    tools/freeze_pipeline_expected.py — the data/ml_frozen pattern).

    The HTML/layout extraction legs have no SQL form, so the oracle is a
    plain SELECT over the frozen parquet: the pure-Python core computed
    it offline, and the gate verifies the LIVE distributed DAG (exchange
    placement, Arrow batching, SQL verdict legs) reproduces it
    bit-for-bit — extraction text, canonical span string, all ten q_*
    doubles, confidence, verdict, routing, recommendations.

    Canonical string forms match the freeze tool: span fields join with
    \\x1e, records/lines with \\x1f. The transform lambda touches only
    its element variable (no embedded subtrees), so the documented
    HOF re-evaluation hazard does not apply."""
    from documentai_spark.plans.pipeline import extraction_pipeline
    df = extraction_pipeline(_transcripts(spark))
    span_str = F.concat_ws("\x1f", F.transform(
        "spans",
        lambda s: F.concat_ws("\x1e", s["begin"].cast("string"),
                              s["end"].cast("string"), s["kind"],
                              s["text"])))
    return df.select(
        "conv_id", "turn_idx", "kind", "extracted_text",
        span_str.alias("spans_cat"),
        "q_blank", "q_legibility", "q_completeness", "q_skew", "q_noise",
        "q_contrast", "q_brightness", "q_edge_crop", "q_shadow_glare",
        "q_resolution", "confidence", "verdict", "needs_preprocessing",
        F.concat_ws("\x1f", "recommendations").alias("recommendations_cat"))


def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate NN for 10 anchors (oracle-checked:
    literal planes -> SQL bucket + exact re-rank; recall additionally
    measured against brute force in tests/test_similarity.py)."""
    from documentai_spark.operators.similarity import lsh_ann_topk
    raw = _t(spark, sf_dir, "embeddings")
    emb = _par(spark, raw)
    # anchors from the RAW scan (r9): extracting 10 broadcast rows
    # through the ingress repartition shuffled the whole table first
    anchors = raw.filter(F.col("vec_id") < 10) \
                 .select(F.col("vec_id").alias("anchor_id"), "embedding")
    # dim threaded explicitly (the fixture embeds at 64): no .first()
    # probe job before the main action
    out = lsh_ann_topk(emb, anchors, k=5, m_bits=6, dim=64)
    return out.select("anchor_id", "rank", "neighbor_id") \
              .orderBy("anchor_id", "rank")

def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN with the FROZEN coarse quantizer
    (data/ivf_centroids.json, trained offline by
    tools/freeze_ivf_centroids.py — the real IVF deployment shape:
    codebook fixed, assignments computed at scale). Cell assignment,
    probe selection, and the exact cosine re-rank are pure column
    expressions over literal centroids, so the DuckDB oracle replays the
    whole query bit-for-bit (promoted from rows-only in r3). The
    train-and-search KMeans mode keeps its recall pin in
    tests/test_similarity.py."""
    from documentai_spark.operators.similarity import ivf_ann_topk
    raw = _t(spark, sf_dir, "embeddings")
    emb = _par(spark, raw)
    # anchors from the RAW scan (r9): extracting 10 broadcast rows
    # through the ingress repartition shuffled the whole table first
    anchors = raw.filter(F.col("vec_id") < 10) \
                 .select(F.col("vec_id").alias("anchor_id"), "embedding")
    out = ivf_ann_topk(emb, anchors, k=5, n_probe=2,
                       centroids=_ivf_centroids())
    return out.select("anchor_id", "rank", "neighbor_id") \
              .orderBy("anchor_id", "rank")


PO_DOCS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "data", "po_docs")


def q_po_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed purchase-order extraction (extractor/purchase_order.py:5-85
    regex-for-regex) over the committed synthetic PO corpus, fully
    oracle-checked: block joins, the seller PO-NUMBER line skip, the
    missing-DATED empty path, comma strips — all replayed in RE2+list
    SQL."""
    from documentai_spark.operators.typed_entities import with_po_entities
    docs = spark.read.parquet(PO_DOCS)
    out = with_po_entities(docs)
    return (out.select("doc_id", "po_number", "po_date", "seller_name",
                       "buyer_name", "goods_description", "quantity",
                       "currency", "total_value", "delivery_terms",
                       "unit_price"))


def q_pi_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed proforma-invoice extraction (extractor/performa_invoice.py)
    over the transcripts fixture (PI No / Date fire on ~1.4k turns;
    the goods-table path is pinned by tests/test_typed_extract.py)."""
    from documentai_spark.operators.typed_entities import with_pi_entities
    out = with_pi_entities(_transcripts(spark, wide=True))
    return (out.select("conv_id", "turn_idx", "invoice_number",
                       "invoice_date", "contract_po_reference",
                       "incoterm_named_place",
                       "shipment_period_or_delivery_date",
                       "payment_terms", "country_of_origin",
                       "currency", "total_amount"))


def q_t_plain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The six-ensemble quality stack over the REAL input shape: the
    fused extraction+quality UDF runs on the transcripts table, restricted
    to plain-kind turns (the identity-extraction subset the SQL oracle can
    mirror — html/layout extraction is Python-only). Membership itself is
    cross-checked: the oracle recomputes kind from the shared RE2
    dispatch, so a routing disagreement fails as a row-count mismatch."""
    from documentai_spark.functions.verdict import with_verdict
    from documentai_spark.operators.extraction import (
        with_extraction_and_quality,
    )
    t = _transcripts(spark, wide=True)
    df = with_verdict(with_extraction_and_quality(t))
    return (df.filter(F.col("kind") == "plain")
              .select("conv_id", "turn_idx", "kind",
                      F.length("extracted_text").alias("n_extracted_chars"),
                      F.size("spans").alias("n_spans"),
                      "q_blank", "q_legibility", "q_completeness",
                      "q_skew", "q_noise", "q_contrast", "q_brightness",
                      "q_edge_crop", "q_shadow_glare", "q_resolution",
                      "confidence", "verdict",
                      F.array_join("recommendations", " | ")
                       .alias("recommendations")))


def q_extract_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship extraction+quality pipeline over documents."""
    from documentai_spark.functions.verdict import with_verdict
    from documentai_spark.operators.extraction import (
        with_extraction, with_quality,
    )
    docs = _par(spark, _t(spark, sf_dir, "documents"))
    df = with_quality(with_extraction(docs), raw_col="text")
    df = with_verdict(df)
    return df.select("doc_id", "kind", "q_blank", "q_legibility",
                     "q_completeness", "q_skew", "q_noise", "q_contrast",
                     "q_brightness", "q_edge_crop", "q_shadow_glare",
                     "q_resolution", "confidence", "verdict",
                     F.array_join("recommendations", " | ")
                      .alias("recommendations"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry ORDER is a contract (VERDICT r5 #1): the driver's
    correctness gate records only the FIRST 50 entries, so the four
    hash-checked pipeline rows (the operators a user actually runs)
    lead, and the TAIL holds exactly the four redundant sf-domain
    window/agg shapes already covered elsewhere (running_total /
    lag_delta by sessionize+topk_per_user, hourly_rollup by
    t_conv_stats, user_set_ops by the set-op family) — those four are
    the only rows allowed to fall past the driver's cap. Pinned by
    tests/test_entry_contract.py::test_gate_window_covers_essentials."""
    return {
        "transcript_pipeline": q_transcript_pipeline,
        "classify_grouping": q_classify_grouping,
        "preprocess_route": q_preprocess_route,
        "text_tables": q_text_tables,
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        "order_priority": q_order_priority,
        "majority_vote": q_majority_vote,
        # r8: stream_band_keys took the windowed topk_per_user's gate
        # slot, and lm_perplexity took sessionize's (registry-budget
        # contract — the driver caps at 50 rows; W2 gaps-and-islands
        # stays driver-checked via t_role_islands, and both displaced
        # rows stay pytest-pinned in the tail below)
        "stream_band_keys": q_stream_band_keys,
        "lm_perplexity": q_lm_perplexity,
        "doc_token_stats": q_doc_token_stats,
        "doc_lang_quality": q_doc_lang_quality,
        "doc_fingerprint": q_doc_fingerprint,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "near_dup_clusters": q_near_dup_clusters,
        "cosine_topk": q_cosine_topk,
        "classify_keywords": q_classify_keywords,
        "value_percentiles": q_value_percentiles,
        "corpus_report": q_corpus_report,
        "corpus_filter": q_corpus_filter,
        "embedding_near_dups": q_embedding_near_dups,
        "bpe_token_count": q_bpe_token_count,
        "t_kind_dispatch": q_t_kind_dispatch,
        "t_conv_stats": q_t_conv_stats,
        "t_role_islands": q_t_role_islands,
        "t_mega_skew": q_t_mega_skew,
        "t_plain_quality": q_t_plain_quality,
        "po_extraction": q_po_extraction,
        "pi_extraction": q_pi_extraction,
        "extract_quality": q_extract_quality,
        "minhash_dedup": q_minhash_dedup,
        "simhash_dups": q_simhash_dups,
        "lsh_ann": q_lsh_ann,
        "ivf_ann": q_ivf_ann,
        "entity_extraction": q_entity_extraction,
        "entity_values": q_entity_values,
        "entity_spans": q_entity_spans,
        "categorized_entities": q_categorized_entities,
        "rule_validation": q_rule_validation,
        "rule_cross_field": q_rule_cross_field,
        "hash_split": q_hash_split,
        "decontaminate": q_decontaminate,
        "pack_sequences": q_pack_sequences,
        "stratified_sample": q_stratified_sample,
        "redact_entities": q_redact_entities,
        "rep_signals": q_rep_signals,
        "mixture_sample": q_mixture_sample,
        "ml_scores": q_ml_scores,
        "classify_vote": q_classify_vote,
        # --- past-the-gate tail: redundant shapes, judge-replayable
        # AND pytest-pinned (test_entry_contract.py::
        # test_tail_rows_stay_oracle_green) ---
        "sessionize": q_sessionize,
        "topk_per_user": q_topk_per_user,
        "running_total": q_running_total,
        "lag_delta": q_lag_delta,
        "hourly_rollup": q_hourly_rollup,
        "user_set_ops": q_user_set_ops,
    }


def oracle_sql() -> dict[str, str]:
    sw_alt = "|".join(STOPWORDS)
    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                       AS sum_disc_price,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "top_customers": """
            SELECT c_custkey, c_name,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                       AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 10
        """,
        "order_priority": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1996-07-01'
              AND o_orderkey IN (SELECT l_orderkey FROM lineitem)
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "majority_vote": """
            WITH votes AS (
              SELECT user_id, event_type, COUNT(*) AS votes
              FROM events GROUP BY user_id, event_type
            ), totals AS (
              SELECT user_id, COUNT(*) AS total FROM events GROUP BY user_id
            ), ranked AS (
              SELECT user_id, event_type, votes,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY votes DESC, event_type ASC) AS rn
              FROM votes
            )
            SELECT r.user_id, r.event_type AS top_event, r.votes,
                   ROUND(r.votes * 1.0 / t.total, 6) AS vote_confidence
            FROM ranked r JOIN totals t ON r.user_id = t.user_id
            WHERE rn = 1
            ORDER BY r.user_id
        """,
        "sessionize": """
            WITH flagged AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN LAG(ts) OVER w IS NULL
                               OR date_diff('microsecond', LAG(ts) OVER w, ts)
                                  > 1800 * 1000000
                          THEN 1 ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sessions AS (
              SELECT user_id,
                     SUM(new_session) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) AS session_id
              FROM flagged
            ), per_session AS (
              SELECT user_id, session_id, COUNT(*) AS session_events
              FROM sessions GROUP BY user_id, session_id
            )
            SELECT user_id, COUNT(*) AS n_sessions,
                   MAX(session_events) AS max_session_events
            FROM per_session GROUP BY user_id ORDER BY user_id
        """,
        "topk_per_user": """
            SELECT user_id, rn, event_id, value FROM (
              SELECT user_id, event_id, value,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY value DESC, event_id ASC) AS rn
              FROM events
            ) WHERE rn <= 3 ORDER BY user_id, rn
        """,
        "hourly_rollup": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS hour_bucket,
                   event_type, COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM events
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "doc_token_stats": r"""
            SELECT doc_id,
                   CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+'))
                   END AS n_tokens,
                   length(text) AS len_chars
            FROM documents ORDER BY doc_id
        """,
        "doc_lang_quality": rf"""
            WITH stats AS (
              SELECT doc_id,
                     CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+'))
                     END AS n_tokens,
                     COALESCE(len(regexp_extract_all(lower(text),
                         '\b({sw_alt})\b')), 0) AS n_stopwords
              FROM documents
            )
            SELECT doc_id, n_tokens, n_stopwords,
                   CASE WHEN n_tokens > 0
                        THEN ROUND(n_stopwords * 1.0 / n_tokens, 6)
                        ELSE 0.0 END AS stopword_ratio,
                   CASE WHEN n_tokens > 0
                             AND ROUND(n_stopwords * 1.0 / n_tokens, 6) >= 0.04
                        THEN 'en' ELSE 'unknown' END AS lang_pred
            FROM stats ORDER BY doc_id
        """,
        "doc_fingerprint": r"""
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g')))
                       AS fingerprint
            FROM documents ORDER BY doc_id
        """,
        "dedup_exact": r"""
            WITH fp AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g')))
                         AS fingerprint
              FROM documents
            ), groups AS (
              SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
              FROM fp GROUP BY fingerprint
            )
            SELECT COUNT(*) AS n_groups,
                   CAST(SUM(n_docs) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN n_docs > 1 THEN n_docs - 1 ELSE 0 END)
                        AS BIGINT) AS n_dropped
            FROM groups
        """,
        "ngram_jaccard": r"""
            WITH d AS (
              SELECT doc_id,
                     regexp_split_to_array(
                         trim(regexp_replace(lower(text), '[ \t\n\x0b\f\r]+', ' ', 'g')),
                         ' ') AS t
              FROM documents WHERE doc_id < 120
            ), sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 3 THEN
                       list_distinct([array_to_string(t[i:i+2], ' ')
                                      for i in range(1, len(t) - 1)])
                     ELSE list_distinct([array_to_string(t, ' ')]) END AS shingles
              FROM d
            ), ex AS (
              SELECT doc_id, len(shingles) AS ns, unnest(shingles) AS shingle
              FROM sh
            ), pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.ns AS na, b.ns AS nb, COUNT(*) AS inter
              FROM ex a JOIN ex b ON a.shingle = b.shingle
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4
            )
            SELECT doc_a, doc_b,
                   ROUND(inter * 1.0 / (na + nb - inter), 6) AS jaccard
            FROM pairs
            WHERE ROUND(inter * 1.0 / (na + nb - inter), 6) >= 0.01
            ORDER BY doc_a, doc_b
        """,
        # r5: pair->cluster closure — recursive-CTE fixpoint over the
        # same jaccard>=0.2 pair set the Spark side label-propagates
        "near_dup_clusters": r"""
            WITH RECURSIVE d AS (
              SELECT doc_id,
                     regexp_split_to_array(
                         trim(regexp_replace(lower(text),
                                             '[ \t\n\x0b\f\r]+', ' ',
                                             'g')),
                         ' ') AS t
              FROM documents WHERE doc_id < 120
            ), sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 3 THEN
                       list_distinct([array_to_string(t[i:i+2], ' ')
                                      for i in range(1, len(t) - 1)])
                     ELSE list_distinct([array_to_string(t, ' ')])
                     END AS shingles
              FROM d
            ), ex AS (
              SELECT doc_id, len(shingles) AS ns,
                     unnest(shingles) AS shingle
              FROM sh
            ), pr AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.ns AS na, b.ns AS nb, COUNT(*) AS inter
              FROM ex a JOIN ex b ON a.shingle = b.shingle
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4
            ), e0 AS (
              SELECT doc_a, doc_b FROM pr
              WHERE ROUND(inter * 1.0 / (na + nb - inter), 6) >= 0.2
            ), e AS (
              SELECT doc_a AS src, doc_b AS dst FROM e0
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM e0
            ), reach AS (
              SELECT doc_id AS node, doc_id AS label FROM d
              UNION
              SELECT e.src AS node, r.label
              FROM reach r JOIN e ON e.dst = r.node
            )
            SELECT node AS doc_id,
                   CAST(min(label) AS BIGINT) AS cluster_rep
            FROM reach GROUP BY node ORDER BY doc_id
        """,
        "cosine_topk": """
            WITH v AS (
              SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), anchors AS (
              SELECT vec_id AS anchor_id, v AS av FROM v WHERE vec_id < 10
            ), sims AS (
              SELECT a.anchor_id, b.vec_id,
                     list_dot_product(a.av, b.v)
                       / (sqrt(list_dot_product(a.av, a.av))
                          * sqrt(list_dot_product(b.v, b.v))) AS cos
              FROM anchors a, v b
              WHERE b.vec_id <> a.anchor_id
            )
            SELECT anchor_id, rank, neighbor_id FROM (
              SELECT anchor_id, vec_id AS neighbor_id,
                     ROW_NUMBER() OVER (PARTITION BY anchor_id
                                        ORDER BY cos DESC, vec_id ASC) AS rank
              FROM sims
            ) WHERE rank <= 5 ORDER BY anchor_id, rank
        """,
        "classify_keywords": """
            WITH nt AS (
              SELECT doc_id,
                     regexp_replace(lower(text), '[^0-9a-z]', '', 'g') AS t
              FROM documents
            ), scored AS (
              SELECT doc_id,
                     (CASE WHEN contains(t,'filter') THEN 24.0 ELSE 0 END
                      + CASE WHEN contains(t,'query') THEN 20.0 ELSE 0 END
                      + CASE WHEN contains(t,'join') THEN 16.0 ELSE 0 END
                      + CASE WHEN contains(t,'scan') THEN 16.0 ELSE 0 END)
                         AS s0,
                     (CASE WHEN contains(t,'column') THEN 24.0 ELSE 0 END
                      + CASE WHEN contains(t,'table') THEN 20.0 ELSE 0 END
                      + CASE WHEN contains(t,'part') THEN 16.0 ELSE 0 END
                      + CASE WHEN contains(t,'row') THEN 12.0 ELSE 0 END)
                         AS s1,
                     (CASE WHEN contains(t,'stream') THEN 24.0 ELSE 0 END
                      + CASE WHEN contains(t,'window') THEN 24.0 ELSE 0 END
                      + CASE WHEN contains(t,'batch') THEN 20.0 ELSE 0 END)
                         AS s2
              FROM nt
            )
            SELECT doc_id,
                   CASE WHEN s0 >= s1 AND s0 >= s2 AND s0 > 0
                             THEN 'query_engine'
                        WHEN s1 >= s2 AND s1 > 0 THEN 'storage'
                        WHEN s2 > 0 THEN 'streaming'
                        ELSE 'unclassified' END AS category
            FROM scored ORDER BY doc_id
        """,
        "running_total": """
            SELECT user_id, event_id,
                   COUNT(*) OVER w AS running_n,
                   CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
                       AS running_value
            FROM events
            WHERE user_id < 20
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING)
            ORDER BY user_id, event_id
        """,
        "lag_delta": """
            SELECT user_id, event_id, CAST(delta AS DOUBLE) AS delta FROM (
              SELECT user_id, event_id,
                     CAST(value AS DECIMAL(18,4))
                       - LAG(CAST(value AS DECIMAL(18,4))) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id) AS delta
              FROM events WHERE user_id < 20
            ) WHERE delta IS NOT NULL
            ORDER BY user_id, event_id
        """,
        "user_set_ops": """
            (SELECT DISTINCT user_id FROM events
             WHERE event_type = 'click' AND event_id < 1500
             INTERSECT
             SELECT DISTINCT user_id FROM events
             WHERE event_type = 'error' AND event_id < 1500)
            EXCEPT
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND event_id < 1500
            ORDER BY user_id
        """,
        "embedding_near_dups": """
            WITH v AS (
              SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
              WHERE vec_id < 500
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM v a, v b
            WHERE a.vec_id < b.vec_id
              AND ROUND(list_dot_product(a.e, b.e)
                        / (sqrt(list_dot_product(a.e, a.e))
                           * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.4
            ORDER BY id_a, id_b
        """,
        "bpe_token_count": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n]+'))
                       AS n_bpe_tokens,
                   CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+'))
                   END AS n_ws_tokens
            FROM documents ORDER BY doc_id
        """,
        "value_percentiles": """
            SELECT event_type,
                   quantile_cont(value, 0.25) AS p25,
                   quantile_cont(value, 0.5)  AS p50,
                   quantile_cont(value, 0.95) AS p95,
                   MIN(value) AS vmin, MAX(value) AS vmax
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        # corpus_filter: quality stack via the generated bit-exact mirror
        # (nested CTE), lang/token/fingerprint via the corpus_report
        # expressions, dedup representative via min-over-fingerprint.
        # 0.6 goes through the string-cast (bare decimal literals lose
        # the last ulp past 2^53 — documented DuckDB trap).
        "corpus_filter": rf"""
            WITH q AS ({_quality_oracle_sql()}),
            per AS (
              SELECT doc_id,
                CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+'))
                END AS n_tokens,
                COALESCE(len(regexp_extract_all(lower(text),
                    '\b({sw_alt})\b')), 0) AS n_stopwords,
                md5(trim(regexp_replace(lower(text),
                    '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fp
              FROM documents
            ), j AS (
              SELECT per.doc_id, per.n_tokens, per.n_stopwords, per.fp,
                     q.confidence
              FROM per JOIN q USING (doc_id)
            ), w AS (
              SELECT doc_id,
                doc_id > MIN(doc_id) OVER (PARTITION BY fp) AS is_dup,
                ROUND(n_stopwords * 1.0 / greatest(n_tokens, 1), 6)
                    < 0.04 AS bad_lang,
                (n_tokens < 20 OR n_tokens > 2000) AS bad_len,
                COALESCE(confidence < CAST('0.6' AS DOUBLE), TRUE)
                    AS low_conf
              FROM j
            )
            SELECT doc_id,
                   NOT (is_dup OR bad_lang OR bad_len OR low_conf)
                       AS keep,
                   is_dup, bad_lang, bad_len, low_conf
            FROM w ORDER BY doc_id
        """,
        "corpus_report": rf"""
            WITH per AS (
              SELECT doc_id,
                CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+'))
                END AS n_tokens,
                COALESCE(len(regexp_extract_all(lower(text),
                    '\b({sw_alt})\b')), 0) AS n_stopwords,
                md5(trim(regexp_replace(lower(text),
                    '[ \t\n\x0b\f\r]+', ' ', 'g'))) AS fp
              FROM documents
            ), langed AS (
              SELECT *,
                CASE WHEN n_tokens > 0
                          AND ROUND(n_stopwords * 1.0 / n_tokens, 6)
                              >= 0.04
                     THEN 'en' ELSE 'unknown' END AS lang_pred
              FROM per
            )
            SELECT lang_pred,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   quantile_cont(n_tokens, 0.5) AS p50_tokens,
                   quantile_cont(n_tokens, 0.95) AS p95_tokens,
                   -- the NULL-fingerprint (NULL-text) group counts as
                   -- ONE unique doc: COUNT(DISTINCT) skips NULLs, so
                   -- without the MAX term m NULL-text docs would all
                   -- report as duplicates instead of m-1 (mirrors
                   -- curation.corpus_report)
                   CAST(COUNT(*) - (COUNT(DISTINCT fp)
                        + MAX(CASE WHEN fp IS NULL THEN 1 ELSE 0 END))
                        AS BIGINT) AS n_dup_docs,
                   ROUND((COUNT(*) - (COUNT(DISTINCT fp)
                          + MAX(CASE WHEN fp IS NULL THEN 1 ELSE 0 END)))
                         * 1.0 / COUNT(*), 6) AS dup_ratio
            FROM langed GROUP BY lang_pred ORDER BY lang_pred
        """,
        "t_kind_dispatch": rf"""
            WITH k AS (
              SELECT CASE
                WHEN regexp_matches(text, '{_KIND_HTML_PAT}') THEN 'html'
                WHEN contains(text, chr(10))
                     AND (regexp_matches(text, '{_KIND_BLOCKSEP}')
                          OR regexp_matches(text, '{_KIND_MULTICOL}'))
                     THEN 'layout'
                ELSE 'plain' END AS kind
              FROM read_parquet('{TRANSCRIPTS_TEST}/*.parquet')
            )
            SELECT kind, COUNT(*) AS n_turns FROM k
            GROUP BY kind ORDER BY kind
        """,
        "t_conv_stats": f"""
            SELECT conv_id, COUNT(*) AS n_turns,
                   MAX(turn_idx) AS max_turn_idx,
                   CAST(SUM(length(text)) AS BIGINT) AS total_chars,
                   COUNT(DISTINCT role) AS n_roles,
                   MAX(turn_idx) = COUNT(*) - 1 AS contiguous
            FROM read_parquet('{TRANSCRIPTS_TEST}/*.parquet')
            GROUP BY conv_id ORDER BY conv_id
        """,
        "t_role_islands": f"""
            WITH flagged AS (
              SELECT conv_id, turn_idx, role,
                     CASE WHEN LAG(role) OVER w IS NULL
                               OR role <> LAG(role) OVER w
                          THEN 1 ELSE 0 END AS brk
              FROM read_parquet('{TRANSCRIPTS_TEST}/*.parquet')
              WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            ), islands AS (
              SELECT conv_id, role,
                     SUM(brk) OVER (PARTITION BY conv_id ORDER BY turn_idx
                                    ROWS UNBOUNDED PRECEDING) AS island
              FROM flagged
            ), runs AS (
              SELECT conv_id, island, role, COUNT(*) AS run_len
              FROM islands GROUP BY conv_id, island, role
            )
            SELECT conv_id, COUNT(*) AS n_islands,
                   MAX(run_len) AS longest_run
            FROM runs GROUP BY conv_id ORDER BY conv_id
        """,
        "t_mega_skew": f"""
            SELECT conv_id, COUNT(*) AS n_turns
            FROM read_parquet('{TRANSCRIPTS_TEST}/*.parquet')
            GROUP BY conv_id
            ORDER BY n_turns DESC, conv_id ASC
            LIMIT 5
        """,
        # RE2 mirrors of core/entities._PATTERNS (re.ASCII-compiled, so the
        # \b/\d/\w/\s semantics coincide); swift_tag replicates the
        # first-match-then-membership rule (lc_application.py:24-36):
        # the FIRST tag-shaped match must be in ENTITY_CODES.
        "entity_extraction": rf"""
            WITH m AS (
              SELECT conv_id, turn_idx,
                regexp_matches(text,
                  'PO\s+NUMBER[:\s]+[A-Z0-9/\-]+', 'i') AS b_po,
                regexp_matches(text,
                  'PI\s+No[.:\s]+[A-Z0-9/\-]+', 'i') AS b_pi,
                regexp_matches(text,
                  '\b\d{{2}}[./-]\d{{2}}[./-]\d{{4}}\b') AS b_dn,
                regexp_matches(text,
                  '\b\d{{1,2}}-[A-Za-z]{{3}}-\d{{4}}\b') AS b_da,
                regexp_matches(text,
                  '\b[A-Z]{{3}}\s+[\d,]+(?:\.\d+)?\b') AS b_ca,
                regexp_matches(text, '\b(CFR|CIF|FOB|DAP|EXW)\b') AS b_inc,
                regexp_matches(text,
                  '\b[\w.+-]+@[\w-]+\.[\w.]+\b') AS b_em,
                regexp_matches(text, '\+?\d[\d\s\-]{{7,14}}\d') AS b_ph,
                regexp_extract(text,
                  '(?:^|\n):?(\d{{2}}[A-Z]?)\s*:', 1)
                  IN ({_SWIFT_CODES_SQL}) AS b_sw
              FROM read_parquet('{TRANSCRIPTS_TEST}/*.parquet')
            )
            SELECT conv_id, turn_idx,
                   COALESCE(array_to_string(list_sort(list_filter([
                     CASE WHEN b_po  THEN 'po_number' END,
                     CASE WHEN b_pi  THEN 'pi_number' END,
                     CASE WHEN b_dn  THEN 'date_numeric' END,
                     CASE WHEN b_da  THEN 'date_alpha' END,
                     CASE WHEN b_ca  THEN 'currency' END,
                     CASE WHEN b_ca  THEN 'amount' END,
                     CASE WHEN b_ca  THEN 'currency_amount' END,
                     CASE WHEN b_inc THEN 'incoterm' END,
                     CASE WHEN b_em  THEN 'email' END,
                     CASE WHEN b_ph  THEN 'phone' END,
                     CASE WHEN b_sw  THEN 'swift_tag' END
                   ], x -> x IS NOT NULL)), ','), '') AS fields,
                   ROUND(LEAST(1.0,
                     CAST(CAST(b_po AS INT) + CAST(b_dn AS INT)
                          + CAST(b_ca AS INT) + CAST(b_inc AS INT)
                          + CAST(b_em AS INT) AS DOUBLE) / 5
                     + 0.1 * (CAST(b_po AS INT) + CAST(b_ca AS INT))), 6)
                       AS extraction_confidence
            FROM m ORDER BY conv_id, turn_idx
        """,
        # the streaming/batch-shared banded bucket keys over a synthetic
        # long-domain signature, vs a from-scratch DuckDB XXH64
        # re-derivation (HUGEINT modular arithmetic; r8)
        "stream_band_keys": _stream_band_keys_oracle_sql(),
        # frozen bigram-LM curation scores as integer LUT joins (r8)
        "lm_perplexity": _lm_perplexity_oracle_sql(),
        # exact shingle-Jaccard pairs at 0.9 (equals the deterministic
        # banded-LSH verified set; see q_minhash_dedup docstring)
        "minhash_dedup": r"""
            WITH d AS (
              SELECT doc_id, regexp_split_to_array(
                trim(regexp_replace(lower(text),
                     '[ \t\n\x0b\f\r]+', ' ', 'g')), ' ') AS t
              FROM documents
            ), sh AS (
              SELECT doc_id, CASE WHEN len(t) >= 3 THEN
                  list_distinct([array_to_string(t[i:i+2], ' ')
                                 for i in range(1, len(t) - 1)])
                ELSE list_distinct([array_to_string(t, ' ')]) END AS shingles
              FROM d
            ), ex AS (
              SELECT doc_id, len(shingles) AS ns, unnest(shingles) AS shingle
              FROM sh
            ), pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     a.ns AS na, b.ns AS nb, COUNT(*) AS inter
              FROM ex a JOIN ex b ON a.shingle = b.shingle
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b,
                   ROUND(inter / (na + nb - inter), 6) AS jaccard
            FROM pairs
            WHERE ROUND(inter / (na + nb - inter), 6) >= 0.9
            ORDER BY id_a, id_b
        """,
        # first-match GROUP values via RE2 (same leftmost-first semantics
        # as Python re.search over these alternation-free patterns)
        "entity_values": rf"""
            SELECT conv_id, turn_idx,
                   regexp_extract(text,
                     'PO\s+NUMBER[:\s]+([A-Z0-9/\-]+)', 1, 'i')
                       AS po_number,
                   regexp_extract(text,
                     '\b(\d{{2}}[./-]\d{{2}}[./-]\d{{4}})\b', 1)
                       AS date_numeric,
                   regexp_extract(text,
                     '\b([A-Z]{{3}})\s+([\d,]+(?:\.\d+)?)\b', 1)
                       AS currency,
                   regexp_extract(text,
                     '\b([A-Z]{{3}})\s+([\d,]+(?:\.\d+)?)\b', 2)
                       AS amount,
                   regexp_extract(text, '\b(CFR|CIF|FOB|DAP|EXW)\b', 1)
                       AS incoterm,
                   regexp_extract(text, '\b[\w.+-]+@[\w-]+\.[\w.]+\b', 0)
                       AS email
            FROM read_parquet('{TRANSCRIPTS_TEST}/*.parquet')
            ORDER BY conv_id, turn_idx
        """,
        # typed rule checks replayed in SQL over RE2-re-derived entities:
        # not_empty, valid_date (day/month ranges, core/rules._valid_date
        # branch 1), numeric (comma/space strip + cast), one_of
        # (case-SENSITIVE membership, validation_engine.py semantics)
        "rule_validation": rf"""
            WITH e AS (
              SELECT conv_id, turn_idx,
                regexp_extract(text,
                  'PO\s+NUMBER[:\s]+([A-Z0-9/\-]+)', 1, 'i') AS po,
                regexp_extract(text,
                  '\b(\d{{2}})[./-](\d{{2}})[./-](\d{{4}})\b', 1) AS dd,
                regexp_extract(text,
                  '\b(\d{{2}})[./-](\d{{2}})[./-](\d{{4}})\b', 2) AS mm,
                regexp_extract(text,
                  '\b([A-Z]{{3}})\s+([\d,]+(?:\.\d+)?)\b', 2) AS amt,
                regexp_extract(text,
                  '\b([A-Z]{{3}})\s+([\d,]+(?:\.\d+)?)\b', 1) AS curr
              FROM read_parquet('{TRANSCRIPTS_TEST}/*.parquet')
            ), checks AS (
              SELECT conv_id, turn_idx,
                CAST(po <> '' AS INT)
                + CAST(dd <> ''
                       AND try_cast(dd AS INT) BETWEEN 1 AND 31
                       AND try_cast(mm AS INT) BETWEEN 1 AND 12 AS INT)
                + CAST(amt <> ''
                       AND try_cast(replace(replace(amt, ',', ''), ' ', '')
                                    AS DOUBLE) IS NOT NULL AS INT)
                + CAST(curr IN ('USD', 'EUR', 'GBP') AS INT) AS p
              FROM e
            )
            SELECT conv_id, turn_idx, p AS rules_passed,
                   4 - p AS rules_failed, p = 4 AS overall_valid
            FROM checks ORDER BY conv_id, turn_idx
        """,
        # the YYMMDD-first dual parse with explicit calendar validity
        # (exact mirror of datetime()'s day-in-month check, incl. leap
        # years — years are 2000-2099 so the %100 exception never bites)
        "rule_cross_field": """
            WITH f AS (
              SELECT doc_id,
                lpad(CAST(doc_id % 29 + 1 AS VARCHAR), 2, '0')
                  || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
                  || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS issue,
                lpad(CAST((doc_id * 3) % 31 + 1 AS VARCHAR), 2, '0')
                  || lpad(CAST((doc_id * 5) % 14 AS VARCHAR), 2, '0')
                  || lpad(CAST((doc_id * 7) % 100 AS VARCHAR), 2, '0')
                      AS expiry,
                CASE doc_id % 4 WHEN 0 THEN 'active' WHEN 1 THEN 'closed'
                     WHEN 2 THEN 'PENDING' ELSE 'bogus' END AS status,
                CASE WHEN doc_id % 5 = 0 THEN ''
                     ELSE 'C-' || CAST(doc_id AS VARCHAR) END AS code,
                CAST((doc_id * 37) % 10000 AS VARCHAR) AS amount_field
              FROM documents
            ), comp AS (
              SELECT doc_id, status, code, amount_field,
                CAST(substr(issue, 1, 2) AS INT) AS ia,
                CAST(substr(issue, 3, 2) AS INT) AS ib,
                CAST(substr(issue, 5, 2) AS INT) AS ic,
                CAST(substr(expiry, 1, 2) AS INT) AS xa,
                CAST(substr(expiry, 3, 2) AS INT) AS xb,
                CAST(substr(expiry, 5, 2) AS INT) AS xc
              FROM f
            ), parsed AS (
              SELECT doc_id, status, code, amount_field,
                CASE
                  WHEN ib BETWEEN 1 AND 12 AND ic BETWEEN 1 AND
                    CASE ib WHEN 2 THEN
                           CASE WHEN (2000+ia) % 4 = 0
                                     AND ((2000+ia) % 100 <> 0
                                          OR (2000+ia) % 400 = 0)
                                THEN 29 ELSE 28 END
                         WHEN 4 THEN 30 WHEN 6 THEN 30 WHEN 9 THEN 30
                         WHEN 11 THEN 30 ELSE 31 END
                  THEN make_date(2000+ia, ib, ic)
                  WHEN ib BETWEEN 1 AND 12 AND ia BETWEEN 1 AND
                    CASE ib WHEN 2 THEN
                           CASE WHEN (2000+ic) % 4 = 0
                                     AND ((2000+ic) % 100 <> 0
                                          OR (2000+ic) % 400 = 0)
                                THEN 29 ELSE 28 END
                         WHEN 4 THEN 30 WHEN 6 THEN 30 WHEN 9 THEN 30
                         WHEN 11 THEN 30 ELSE 31 END
                  THEN make_date(2000+ic, ib, ia)
                  ELSE NULL END AS d_issue,
                CASE
                  WHEN xb BETWEEN 1 AND 12 AND xc BETWEEN 1 AND
                    CASE xb WHEN 2 THEN
                           CASE WHEN (2000+xa) % 4 = 0
                                     AND ((2000+xa) % 100 <> 0
                                          OR (2000+xa) % 400 = 0)
                                THEN 29 ELSE 28 END
                         WHEN 4 THEN 30 WHEN 6 THEN 30 WHEN 9 THEN 30
                         WHEN 11 THEN 30 ELSE 31 END
                  THEN make_date(2000+xa, xb, xc)
                  WHEN xb BETWEEN 1 AND 12 AND xa BETWEEN 1 AND
                    CASE xb WHEN 2 THEN
                           CASE WHEN (2000+xc) % 4 = 0
                                     AND ((2000+xc) % 100 <> 0
                                          OR (2000+xc) % 400 = 0)
                                THEN 29 ELSE 28 END
                         WHEN 4 THEN 30 WHEN 6 THEN 30 WHEN 9 THEN 30
                         WHEN 11 THEN 30 ELSE 31 END
                  THEN make_date(2000+xc, xb, xa)
                  ELSE NULL END AS d_expiry
              FROM comp
            ), checks AS (
              SELECT doc_id,
                (d_issue IS NOT NULL AND d_expiry IS NOT NULL
                 AND d_expiry >= d_issue) AS date_ok,
                upper(status) IN ('ACTIVE', 'CLOSED', 'PENDING')
                    AS choice_ok,
                trim(code) <> '' AS unique_ok,
                CAST(amount_field AS DOUBLE) BETWEEN 100.0 AND 5000.0
                    AS between_ok,
                -- max_length measures the RAW value, but the empty
                -- value fails first (validate_rule's early check)
                trim(code) <> '' AND length(code) <= 4 AS maxlen_ok
              FROM parsed
            )
            SELECT doc_id, date_ok, choice_ok, unique_ok, between_ok,
                   maxlen_ok,
                   CAST(date_ok AS INT) + CAST(choice_ok AS INT)
                     + CAST(unique_ok AS INT) + CAST(between_ok AS INT)
                     + CAST(maxlen_ok AS INT) AS rules_passed,
                   date_ok AND choice_ok AND unique_ok AND between_ok
                     AND maxlen_ok AS overall_valid
            FROM checks ORDER BY doc_id
        """,
        # the ENTIRE six-ensemble quality stack + confidence + verdict +
        # recommendations, replayed bit-exact in SQL (generated from the
        # same Python constants — functions/quality_sql.py); the kind
        # dispatch runs for real, and a non-plain row would fail loudly
        "extract_quality": _quality_oracle_sql(),
        # the same generated mirror over the transcripts fixture's
        # plain-kind subset (composite key, membership cross-checked via
        # the shared RE2 kind dispatch)
        "t_plain_quality": _quality_oracle_sql(
            table=f"read_parquet('{TRANSCRIPTS_TEST}/*.parquet')",
            id_col="conv_id, turn_idx", only_plain=True,
            span_counts=True),
        # the exact -> consecutive-multi-word -> containment cascade
        # (entity-extraction-service/app.py:682-755; core/spans.py is the
        # Python spec) replayed in list lambdas: token boxes rebuilt with
        # char offsets by interleaving token/whitespace runs (window
        # cumsum), then one ordered scan where stage 1 (exact) and stage 2
        # (consecutive words, immediate-match-or-break) share the first
        # hit like the reference's if/elif loop, stage 3 (containment)
        # only on miss; envelope = (first box begin, last box end) -- the
        # 1-D combine_bounding_boxes
        "entity_spans": rf"""
            WITH src AS (
              SELECT conv_id, turn_idx, text AS t
              FROM read_parquet('{TRANSCRIPTS_TEST}/*.parquet')
            ), ents0 AS (
              SELECT conv_id, turn_idx,
                regexp_extract(t,
                  'PO\s+NUMBER[:\s]+([A-Z0-9/\-]+)', 1, 'i') AS po_number,
                regexp_extract(t,
                  'PI\s+No[.:\s]+([A-Z0-9/\-]+)', 1, 'i') AS pi_number,
                regexp_extract(t,
                  '\b(\d{{2}}[./-]\d{{2}}[./-]\d{{4}})\b', 1)
                    AS date_numeric,
                regexp_extract(t,
                  '\b(\d{{1,2}}-[A-Za-z]{{3}}-\d{{4}})\b', 1)
                    AS date_alpha,
                regexp_extract(t,
                  '\b([A-Z]{{3}})\s+([\d,]+(?:\.\d+)?)\b', 0)
                    AS currency_amount,
                regexp_extract(t,
                  '\b([A-Z]{{3}})\s+([\d,]+(?:\.\d+)?)\b', 1)
                    AS currency,
                regexp_extract(t,
                  '\b([A-Z]{{3}})\s+([\d,]+(?:\.\d+)?)\b', 2) AS amount,
                regexp_extract(t, '\b(CFR|CIF|FOB|DAP|EXW)\b', 1)
                    AS incoterm,
                regexp_extract(t, '\b[\w.+-]+@[\w-]+\.[\w.]+\b', 0)
                    AS email,
                regexp_extract(t, '\+?\d[\d\s\-]{{7,14}}\d', 0) AS phone,
                CASE WHEN regexp_extract(t,
                        '(?:^|\n):?(\d{{2}}[A-Z]?)\s*:', 1)
                        IN ({_SWIFT_CODES_SQL})
                     THEN regexp_extract(t,
                        '(?:^|\n):?(\d{{2}}[A-Z]?)\s*:', 1)
                     ELSE '' END AS swift_tag
              FROM src
            ), fv0 AS (
              SELECT conv_id, turn_idx, unnest([
                struct_pack(field := 'amount', value := amount),
                struct_pack(field := 'currency', value := currency),
                struct_pack(field := 'currency_amount',
                            value := currency_amount),
                struct_pack(field := 'date_alpha', value := date_alpha),
                struct_pack(field := 'date_numeric', value := date_numeric),
                struct_pack(field := 'email', value := email),
                struct_pack(field := 'incoterm', value := incoterm),
                struct_pack(field := 'phone', value := phone),
                struct_pack(field := 'pi_number', value := pi_number),
                struct_pack(field := 'po_number', value := po_number),
                struct_pack(field := 'swift_tag', value := swift_tag)
              ]) AS fv
              FROM ents0
            ), fv AS (
              SELECT conv_id, turn_idx, fv.field AS field, fv.value AS value
              FROM fv0 WHERE fv.value <> ''
            ), segs AS (
              SELECT conv_id, turn_idx, u.s AS s, u.is_tok,
                     2 * u.i - CASE WHEN u.is_tok THEN
                                 CASE WHEN lead THEN 0 ELSE 1 END
                               ELSE CASE WHEN lead THEN 1 ELSE 0 END END
                       AS seq
              FROM (
                SELECT conv_id, turn_idx,
                       regexp_matches(t, '^[ \t\n\x0b\f\r\x1c-\x1f]') AS lead,
                       unnest(list_transform(
                           regexp_extract_all(t, '[^ \t\n\x0b\f\r\x1c-\x1f]+'),
                           (x, i) -> struct_pack(s := x, i := i,
                                                 is_tok := TRUE))
                         || list_transform(
                           regexp_extract_all(t, '[ \t\n\x0b\f\r\x1c-\x1f]+'),
                           (x, i) -> struct_pack(s := x, i := i,
                                                 is_tok := FALSE))) AS u
                FROM src
              )
            ), pos AS (
              SELECT conv_id, turn_idx, s, is_tok, seq,
                     CAST(COALESCE(SUM(length(s)) OVER (
                         PARTITION BY conv_id, turn_idx ORDER BY seq
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) AS INT) AS b
              FROM segs
            ), boxes AS (
              SELECT conv_id, turn_idx,
                     list(struct_pack(tok := lower(s), b := b,
                                      e := b + CAST(length(s) AS INT))
                          ORDER BY seq) AS B
              FROM pos WHERE is_tok GROUP BY conv_id, turn_idx
            ), hits AS (
              SELECT f.conv_id, f.turn_idx, f.field, b.B AS B,
                lower(trim(f.value, {_WSC})) AS clean,
                regexp_extract_all(lower(trim(f.value, {_WSC})),
                                   '[^ \t\n\x0b\f\r\x1c-\x1f]+') AS words,
                len(regexp_extract_all(lower(trim(f.value, {_WSC})),
                                       '[^ \t\n\x0b\f\r\x1c-\x1f]+')) AS m
              FROM fv f JOIN boxes b USING (conv_id, turn_idx)
            ), scanned AS (
              SELECT conv_id, turn_idx, field, B, clean, m,
                list_filter(range(1, len(B) + 1), i ->
                    B[i].tok = clean
                    OR (m > 1 AND B[i].tok = words[1]
                        AND i + m - 1 <= len(B)
                        AND len(list_filter(range(2, m + 1),
                                k -> B[i + k - 1].tok = words[k]))
                            = m - 1))[1] AS h12,
                list_filter(range(1, len(B) + 1), i ->
                    contains(B[i].tok, clean)
                    OR contains(clean, B[i].tok))[1] AS h3
              FROM hits
              WHERE m > 0 AND len(B) > 0
            )
            SELECT conv_id, turn_idx, field,
              CASE WHEN h12 IS NOT NULL THEN B[h12].b
                   WHEN h3 IS NOT NULL THEN B[h3].b END AS begin,
              CASE WHEN h12 IS NOT NULL THEN
                     CASE WHEN B[h12].tok = clean THEN B[h12].e
                          ELSE B[h12 + m - 1].e END
                   WHEN h3 IS NOT NULL THEN B[h3].e END AS "end"
            FROM scanned
            WHERE h12 IS NOT NULL OR h3 IS NOT NULL
            ORDER BY conv_id, turn_idx, field
        """,
        # the static category table + regex value pulls, replayed as a
        # UNION ALL per (category, label, field regex) with empty values
        # dropped (api-gateway/app.py:85-105 semantics)
        "categorized_entities": rf"""
            WITH e AS (
              SELECT conv_id, turn_idx,
                regexp_extract(text,
                  'PO\s+NUMBER[:\s]+([A-Z0-9/\-]+)', 1, 'i') AS po_number,
                regexp_extract(text,
                  '\b(\d{{2}}[./-]\d{{2}}[./-]\d{{4}})\b', 1)
                    AS date_numeric,
                regexp_extract(text,
                  '\b([A-Z]{{3}})\s+([\d,]+(?:\.\d+)?)\b', 1) AS currency,
                regexp_extract(text,
                  '\b([A-Z]{{3}})\s+([\d,]+(?:\.\d+)?)\b', 2) AS amount,
                regexp_extract(text,
                  '\b[A-Z]{{3}}\s+[\d,]+(?:\.\d+)?\b', 0)
                    AS currency_amount,
                regexp_extract(text, '\b(CFR|CIF|FOB|DAP|EXW)\b', 1)
                    AS incoterm,
                regexp_extract(text, '\b[\w.+-]+@[\w-]+\.[\w.]+\b', 0)
                    AS email,
                regexp_extract(text, '\+?\d[\d\s\-]{{7,14}}\d', 0) AS phone
              FROM read_parquet('{TRANSCRIPTS_TEST}/*.parquet')
            ), u AS (
              SELECT conv_id, turn_idx, 'Basic Information' AS category,
                     'Po Number' AS label, po_number AS value FROM e
              UNION ALL SELECT conv_id, turn_idx, 'Basic Information',
                     'Date Numeric', date_numeric FROM e
              UNION ALL SELECT conv_id, turn_idx, 'Amounts',
                     'Currency', currency FROM e
              UNION ALL SELECT conv_id, turn_idx, 'Amounts',
                     'Amount', amount FROM e
              UNION ALL SELECT conv_id, turn_idx, 'Amounts',
                     'Currency Amount', currency_amount FROM e
              UNION ALL SELECT conv_id, turn_idx, 'Terms',
                     'Incoterm', incoterm FROM e
              UNION ALL SELECT conv_id, turn_idx, 'Contact',
                     'Email', email FROM e
              UNION ALL SELECT conv_id, turn_idx, 'Contact',
                     'Phone', phone FROM e
            )
            SELECT conv_id, turn_idx, category, label, value FROM u
            WHERE value <> ''
            ORDER BY conv_id, turn_idx, category, label
        """,
        # hyperplane-LSH ANN: literal planes -> SQL bucket + exact
        # re-rank (see _lsh_ann_oracle_sql)
        "lsh_ann": _lsh_ann_oracle_sql(),
        # purchase_order.py:5-85 replayed in RE2 + list SQL; the
        # lookahead po_number pattern uses the equivalent consuming form
        # (identical group under greedy backtracking); line filters run
        # on the RAW line like the reference's startswith
        "po_extraction": rf"""
            WITH src AS (
              SELECT doc_id, text AS t
              FROM read_parquet('{PO_DOCS}/*.parquet')
            ), blocks AS (
              SELECT doc_id, t,
                regexp_extract(t, '(?is)SELLER.*?\n(.*?)\nBUYER', 1)
                    AS seller_block,
                regexp_extract(t,
                  '(?i)BUYER\s*\n([\s\S]+?)(UNITED ARAB EMIRATES)', 1)
                    AS buyer_block,
                regexp_matches(t,
                  '(?i)BUYER\s*\n[\s\S]+?UNITED ARAB EMIRATES') AS has_buyer
              FROM src
            )
            SELECT doc_id,
              trim(regexp_extract(t,
                '(?i)PO NUMBER\s*[:\-]?\s*([A-Z0-9/ ]+)\s*DATED', 1),
                {_WSC}) AS po_number,
              regexp_extract(t,
                'DATED\s*([0-9]{{2}}\.[0-9]{{2}}\.[0-9]{{4}})', 1)
                  AS po_date,
              COALESCE(array_to_string(
                [trim(x, {_WSC}) for x in string_split(seller_block, chr(10))
                 if length(trim(x, {_WSC})) > 0
                    AND NOT starts_with(upper(x), 'PO NUMBER')],
                ', '), '') AS seller_name,
              CASE WHEN has_buyer THEN
                COALESCE(array_to_string(
                  [trim(x, {_WSC}) for x in string_split(buyer_block, chr(10))
                   if length(trim(x, {_WSC})) > 0], ', '), '')
                || ', UNITED ARAB EMIRATES'
              ELSE '' END AS buyer_name,
              trim(replace(regexp_extract(t,
                '(?is)DESCRIPTION OF GOODS\s*\n(.+?)'
                '(\nPARTIAL SHIPMENT|\nTRANSHIPMENT|\n{{2,}}|$)', 1),
                chr(10), ' '), {_WSC}) AS goods_description,
              replace(regexp_extract(t,
                '(?i)[0-9,]+(?:\.\d+)?\s*(?:MT|KG|TON|PCS)', 0), ',', '')
                  AS quantity,
              regexp_extract(t,
                '(USD|EUR|INR|GBP)\s*([0-9,]+\.\d{{2}})', 1) AS currency,
              regexp_extract(t,
                '(USD|EUR|INR|GBP)\s*([0-9,]+\.\d{{2}})', 2) AS total_value,
              trim(regexp_extract(t,
                '(?i)(CFR|CIF|FOB|DAP|EXW)[ \w,()/-]+(?:INCOTERMS ?\d{{4}})?',
                0), {_WSC}) AS delivery_terms,
              '' AS unit_price
            FROM blocks ORDER BY doc_id
        """,
        # performa_invoice.py scalar fields via RE2 (case-SENSITIVE like
        # the reference; the goods-table split is pinned by tests)
        "pi_extraction": rf"""
            SELECT conv_id, turn_idx,
              regexp_extract(text, 'PI No\s*([A-Za-z0-9\-]+)', 1)
                  AS invoice_number,
              regexp_extract(text,
                'Date\s*([0-9]{{2}}-[A-Za-z]{{3}}-[0-9]{{4}})', 1)
                  AS invoice_date,
              regexp_extract(text, 'PI No\s*([A-Za-z0-9\-]+)', 1)
                  AS contract_po_reference,
              trim(regexp_extract(text,
                'Shipment Terms\s*\|\s*(.+?)\s*Delivery Window', 1),
                {_WSC}) AS incoterm_named_place,
              CASE WHEN regexp_matches(text,
                     'Delivery Window\s*By\s*[0-9A-Za-z\-]+')
                   THEN 'By ' || regexp_extract(text,
                     'Delivery Window\s*By\s*([0-9A-Za-z\-]+)', 1)
                   ELSE '' END AS shipment_period_or_delivery_date,
              trim(regexp_extract(text, 'Payment Terms:\s*([^\n]+)', 1),
                {_WSC}) AS payment_terms,
              regexp_extract(text, 'Origin:\s*([A-Za-z]+)', 1)
                  AS country_of_origin,
              regexp_extract(text,
                'Total\s*\(([A-Za-z]+)\)[^\d]*([\d,]+\.\d{{2}})', 1)
                  AS currency,
              replace(regexp_extract(text,
                'Total\s*\(([A-Za-z]+)\)[^\d]*([\d,]+\.\d{{2}})', 2),
                ',', '') AS total_amount
            FROM read_parquet('{TRANSCRIPTS_TEST}/*.parquet')
            ORDER BY conv_id, turn_idx
        """,
        # the 3-technique chain + insertion-order vote + consecutive
        # grouping, all in SQL (scores are compile-time constants:
        # len(kw)*4*weight; patterns alphabetical per ClassifierConfig)
        "classify_grouping": rf"""
            WITH base AS (
              SELECT conv_id, turn_idx,
                text IS NULL OR length(trim(text)) < 5 AS too_short,
                regexp_replace(lower(text), '[^0-9a-z]', '', 'g') AS nt,
                trim(regexp_replace(lower(text), '[^0-9a-z \t\n\x0b\f\r]', '', 'g'))
                    AS snt,
                lower(text) AS lt
              FROM read_parquet('{TRANSCRIPTS_TEST}/*.parquet')
            ), scored AS (
              SELECT conv_id, turn_idx, too_short,
                CASE WHEN contains(nt,'invoice') THEN 28.0 ELSE 0 END
                + CASE WHEN contains(nt,'amount') THEN 24.0 ELSE 0 END
                + CASE WHEN contains(nt,'total') THEN 20.0 ELSE 0 END AS a0,
                CASE WHEN contains(nt,'shipment') THEN 32.0 ELSE 0 END
                + CASE WHEN contains(nt,'freight') THEN 28.0 ELSE 0 END
                + CASE WHEN contains(nt,'vessel') THEN 24.0 ELSE 0 END
                + CASE WHEN contains(nt,'port') THEN 16.0 ELSE 0 END AS a1,
                CASE WHEN contains(nt,'beneficiary') THEN 44.0 ELSE 0 END
                + CASE WHEN contains(nt,'credit') THEN 24.0 ELSE 0 END AS a2,
                CAST(len(regexp_extract_all(lt, 'amount'))
                  + len(regexp_extract_all(lt, 'invoice'))
                  + len(regexp_extract_all(lt, 'total')) AS DOUBLE) AS b0,
                CAST(len(regexp_extract_all(lt, 'freight'))
                  + len(regexp_extract_all(lt, 'port'))
                  + len(regexp_extract_all(lt, 'shipment'))
                  + len(regexp_extract_all(lt, 'vessel')) AS DOUBLE) AS b1,
                CAST(len(regexp_extract_all(lt, 'beneficiary'))
                  + len(regexp_extract_all(lt, 'credit')) AS DOUBLE) AS b2,
                CAST(len([x for x in list_distinct(string_split_regex(snt, '[ \t\n\x0b\f\r]+'))
                  if x IN ('invoice','amount','total')]) AS DOUBLE) AS c0,
                CAST(len([x for x in list_distinct(string_split_regex(snt, '[ \t\n\x0b\f\r]+'))
                  if x IN ('vessel','port','freight','shipment')])
                  AS DOUBLE) AS c1,
                CAST(len([x for x in list_distinct(string_split_regex(snt, '[ \t\n\x0b\f\r]+'))
                  if x IN ('credit','beneficiary')]) AS DOUBLE) AS c2
              FROM base
            ), tech AS (
              SELECT conv_id, turn_idx, too_short,
                CASE WHEN too_short THEN 'unclassified'
                     WHEN a0 >= a1 AND a0 >= a2 AND a0 > 0 THEN 'billing'
                     WHEN a1 >= a2 AND a1 > 0 THEN 'shipping'
                     WHEN a2 > 0 THEN 'credit'
                     ELSE 'unclassified' END AS t1,
                CASE WHEN too_short THEN 'unclassified'
                     WHEN b0 >= b1 AND b0 >= b2 AND b0 > 0 THEN 'billing'
                     WHEN b1 >= b2 AND b1 > 0 THEN 'shipping'
                     WHEN b2 > 0 THEN 'credit'
                     ELSE 'unclassified' END AS t2,
                CASE WHEN too_short THEN 'unclassified'
                     WHEN c0 >= c1 AND c0 >= c2 AND c0 > 0 THEN 'billing'
                     WHEN c1 >= c2 AND c1 > 0 THEN 'shipping'
                     WHEN c2 > 0 THEN 'credit'
                     ELSE 'unclassified' END AS t3
              FROM scored
            ), vote AS (
              SELECT conv_id, turn_idx, too_short,
                t1 AS technique_1, t2 AS technique_2, t3 AS technique_3,
                CAST(t1 = t1 AS INT) + CAST(t2 = t1 AS INT)
                  + CAST(t3 = t1 AS INT) AS n1,
                CAST(t1 = t2 AS INT) + CAST(t2 = t2 AS INT)
                  + CAST(t3 = t2 AS INT) AS n2,
                CAST(t1 = t3 AS INT) + CAST(t2 = t3 AS INT)
                  + CAST(t3 = t3 AS INT) AS n3
              FROM tech
            ), win AS (
              SELECT conv_id, turn_idx, technique_1, technique_2,
                technique_3,
                CASE WHEN too_short THEN 'unclassified'
                     WHEN n1 = greatest(n1, n2, n3) THEN technique_1
                     WHEN n2 = greatest(n1, n2, n3) THEN technique_2
                     ELSE technique_3 END AS category,
                CASE WHEN too_short THEN 0.0
                     ELSE CAST(greatest(n1, n2, n3) AS DOUBLE) / 3.0
                     END AS vote_confidence
              FROM vote
            ), grp AS (
              SELECT *, CASE WHEN lag(turn_idx) OVER w IS NULL
                          OR turn_idx <> lag(turn_idx) OVER w + 1
                          OR category <> lag(category) OVER w
                     THEN 1 ELSE 0 END AS brk
              FROM win
              WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
            ), isl AS (
              SELECT *, SUM(brk) OVER (PARTITION BY conv_id
                                       ORDER BY turn_idx
                                       ROWS UNBOUNDED PRECEDING) AS island
              FROM grp
            ), subbed AS (
              SELECT *, CASE WHEN category = 'billing'
                   THEN CAST(floor((ROW_NUMBER() OVER (
                          PARTITION BY conv_id, island
                          ORDER BY turn_idx) - 1) / 3) AS BIGINT)
                   ELSE 0 END AS subid
              FROM isl
            )
            SELECT conv_id, turn_idx, technique_1, technique_2,
                   technique_3, category, vote_confidence,
                   conv_id || '-' || CAST(island AS VARCHAR) || '-'
                     || CAST(subid AS VARCHAR) AS group_id
            FROM subbed
        """,
        # routing verdict from the generated quality mirror + the
        # enhancement kernel's changed-flag via the same regex chain
        # (control strip -> de-hyphenate -> collapse runs, in order)
        "preprocess_route": _preprocess_route_oracle_sql(),
        # 3 rule techniques + frozen integer-weight ML scorer + 4-way vote
        "classify_vote": _classify_vote_oracle_sql(),
        # r5: frozen integer scorer hash-checked at SCORE level
        "ml_scores": _ml_scores_oracle_sql(),
        # r5: deterministic hash split — identical bucket arithmetic
        # (md5 hex prefix -> 32-bit int) in both engines
        "hash_split": """
            SELECT doc_id,
                   CASE WHEN b < 9000 THEN 'train'
                        WHEN b < 9500 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
              SELECT doc_id,
                     ('0x' || substr(md5('42|' || doc_id::VARCHAR), 1, 8)
                     )::BIGINT % 10000 AS b
              FROM documents
            )
            ORDER BY doc_id
        """,
        # r5: entity redaction — nested replace over RE2 first-matches
        "redact_entities": _redact_oracle_sql(),
        # r5: source-mixture thinning — salted bucket + per-source rates
        "mixture_sample": """
            SELECT doc_id, source FROM (
              SELECT doc_id, source,
                     ('0x' || substr(md5('mix|42|' || doc_id::VARCHAR),
                                     1, 8))::BIGINT % 10000 AS b
              FROM documents
            )
            WHERE b < CASE source WHEN 'src0' THEN 2500
                                  WHEN 'src1' THEN 5000
                                  ELSE 10000 END
            ORDER BY doc_id
        """,
        # r5: Gopher-style repetition signals — line + bigram paths
        "rep_signals": r"""
            WITH lines AS (
              SELECT doc_id, line FROM (
                SELECT doc_id,
                       unnest(string_split(text, chr(10))) AS line
                FROM documents)
              WHERE length(trim(line)) > 0
            ), per_line AS (
              SELECT doc_id, line, count(*) AS cnt
              FROM lines GROUP BY doc_id, line
            ), la AS (
              SELECT doc_id, SUM(cnt) AS n_lines,
                     COUNT(*) AS n_distinct,
                     SUM(CASE WHEN cnt > 1 THEN cnt * length(line)
                         ELSE 0 END) AS dup_chars,
                     SUM(cnt * length(line)) AS tot_chars
              FROM per_line GROUP BY doc_id
            ), toks AS (
              SELECT doc_id,
                list_filter(string_split_regex(lower(text),
                  '[ \t\n\x0b\f\r\x1c-\x1f]+'), x -> x <> '') AS tk,
                CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+'))
                END AS ntok
              FROM documents
            ), grams AS (
              SELECT doc_id, unnest(
                CASE WHEN len(tk) >= 2 THEN
                  [array_to_string(tk[i:i+1], ' ')
                   for i in range(1, len(tk))]
                ELSE []::VARCHAR[] END) AS gram
              FROM toks
            ), t2 AS (
              SELECT doc_id, MAX(cnt) AS top2 FROM (
                SELECT doc_id, gram, count(*) AS cnt
                FROM grams GROUP BY doc_id, gram)
              GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(la.n_lines, 0) AS BIGINT) AS n_lines,
                   ROUND(CASE WHEN COALESCE(la.n_lines, 0) > 0
                         THEN (la.n_lines - la.n_distinct) * 1.0
                              / la.n_lines
                         ELSE 0.0 END, 6) AS dup_line_frac,
                   ROUND(CASE WHEN COALESCE(la.tot_chars, 0) > 0
                         THEN la.dup_chars * 1.0 / la.tot_chars
                         ELSE 0.0 END, 6) AS dup_line_char_frac,
                   ROUND(2.0 * COALESCE(t2.top2, 0)
                         / greatest(t.ntok, 1), 6) AS top2gram_frac
            FROM documents d
            LEFT JOIN la USING (doc_id)
            LEFT JOIN t2 USING (doc_id)
            JOIN toks t USING (doc_id)
            ORDER BY doc_id
        """,
        # r5: deterministic k-per-group sampling — hash-rank window
        "stratified_sample": rf"""
            WITH tagged AS (
              SELECT doc_id,
                CASE WHEN (CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                           ELSE len(regexp_split_to_array(trim(text),
                                                          '[ \t\n\x0b\f\r]+')) END) > 0
                          AND ROUND(COALESCE(len(regexp_extract_all(lower(text),
                                '\b({sw_alt})\b')), 0) * 1.0
                              / (CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                                 ELSE len(regexp_split_to_array(
                                      trim(text), '[ \t\n\x0b\f\r]+')) END), 6) >= 0.04
                     THEN 'en' ELSE 'unknown' END AS lang_pred
              FROM documents
            ), ranked AS (
              SELECT doc_id, lang_pred,
                     row_number() OVER (
                       PARTITION BY lang_pred
                       ORDER BY md5('strat|42|' || doc_id::VARCHAR) ASC,
                                doc_id ASC) AS rn
              FROM tagged
            )
            SELECT doc_id, lang_pred FROM ranked
            WHERE rn <= 7 ORDER BY doc_id
        """,
        # r5: greedy sequence packing — the reset-at-boundary recurrence
        # replayed with a recursive CTE (row-by-row per shard)
        "pack_sequences": r"""
            WITH RECURSIVE toks AS (
              SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
                     CAST(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text),
                                                         '[ \t\n\x0b\f\r]+'))
                          END AS INT) AS n_tokens
              FROM documents
            ), seq AS (
              SELECT doc_id, shard, n_tokens,
                     row_number() OVER (PARTITION BY shard
                                        ORDER BY doc_id) AS rn
              FROM toks
            ), packed AS (
              SELECT doc_id, shard, n_tokens, rn,
                     CAST(0 AS BIGINT) AS bin, n_tokens AS fill
              FROM seq WHERE rn = 1
              UNION ALL
              SELECT s.doc_id, s.shard, s.n_tokens, s.rn,
                     CASE WHEN p.fill + s.n_tokens <= 512 THEN p.bin
                          ELSE p.bin + 1 END,
                     CASE WHEN p.fill + s.n_tokens <= 512
                          THEN p.fill + s.n_tokens
                          ELSE s.n_tokens END
              FROM packed p
              JOIN seq s ON s.shard = p.shard AND s.rn = p.rn + 1
            )
            SELECT doc_id, shard, bin, n_tokens,
                   n_tokens > 512 AS oversize
            FROM packed ORDER BY doc_id
        """,
        # r5: benchmark decontamination — probe windows (tokens 4..13 of
        # every 97th doc) rebuilt identically, 8-gram overlap counts
        "decontaminate": r"""
            WITH tokd AS (
              SELECT doc_id,
                list_filter(string_split_regex(lower(text),
                  '[ \t\n\x0b\f\r\x1c-\x1f]+'), x -> x <> '') AS tk
              FROM documents
            ), bgrams AS (
              SELECT DISTINCT unnest(
                CASE WHEN len(btk) >= 8 THEN
                  [array_to_string(btk[i:i+7], ' ')
                   for i in range(1, len(btk) - 6)]
                ELSE []::VARCHAR[] END) AS gram
              FROM (SELECT tk[4:13] AS btk FROM tokd WHERE doc_id % 97 = 0)
            ), dgrams AS (
              SELECT doc_id, unnest(
                CASE WHEN len(tk) >= 8 THEN
                  [array_to_string(tk[i:i+7], ' ')
                   for i in range(1, len(tk) - 6)]
                ELSE []::VARCHAR[] END) AS gram
              FROM tokd
            ), hits AS (
              SELECT doc_id, count(DISTINCT gram) AS n
              FROM dgrams JOIN bgrams USING (gram) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   COALESCE(h.n, 0) AS n_contam_hits,
                   COALESCE(h.n, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
            ORDER BY d.doc_id
        """,
        # md5-fold SimHash bit-majority + all-pairs hamming
        "simhash_dups": _simhash_oracle_sql(),
        # frozen-codebook IVF: literal centroids, exact fold replay
        "ivf_ann": _ivf_ann_oracle_sql(),
        # the recursively-stateful table-detection fold (single-row
        # bridge quirk) replayed as a per-line recursive CTE state
        # machine: state = (rows-in-current, cur max cols, closed
        # totals); every turn advances in lockstep by line index and its
        # final state is read at its last line + the end-of-text close
        "text_tables": rf"""
            WITH src AS (
              SELECT conv_id, turn_idx, text AS t
              FROM read_parquet('{TRANSCRIPTS_TEST}/*.parquet')
            ), lines AS (
              SELECT conv_id, turn_idx, u.i AS i,
                len(string_split_regex(
                  trim(u.x, {_WSC}),
                  '[ \t\n\x0b\f\r\x1c-\x1f]{{2,}}|\t')) AS nf
              FROM (
                SELECT conv_id, turn_idx,
                       unnest(list_transform(string_split(t, chr(10)),
                              (x, i) -> struct_pack(x := x, i := i))) AS u
                FROM src
              )
            ), nl AS (
              SELECT conv_id, turn_idx, max(i) AS L FROM lines
              GROUP BY conv_id, turn_idx
            ), st AS (
              WITH RECURSIVE s AS (
                SELECT l.conv_id, l.turn_idx, l.i,
                  CASE WHEN l.nf >= 2 THEN 1 ELSE 0 END AS c,
                  CASE WHEN l.nf >= 2 THEN l.nf ELSE 0 END AS cur_max,
                  0 AS n_tables, 0 AS n_rows, 0 AS tot_max
                FROM lines l WHERE l.i = 1
                UNION ALL
                SELECT l.conv_id, l.turn_idx, l.i,
                  CASE WHEN l.nf >= 2 THEN s.c + 1
                       WHEN s.c > 1 THEN 0 ELSE s.c END AS c,
                  CASE WHEN l.nf >= 2 THEN greatest(s.cur_max, l.nf)
                       WHEN s.c > 1 THEN 0 ELSE s.cur_max END AS cur_max,
                  CASE WHEN l.nf < 2 AND s.c > 1 THEN s.n_tables + 1
                       ELSE s.n_tables END AS n_tables,
                  CASE WHEN l.nf < 2 AND s.c > 1 THEN s.n_rows + s.c
                       ELSE s.n_rows END AS n_rows,
                  CASE WHEN l.nf < 2 AND s.c > 1
                       THEN greatest(s.tot_max, s.cur_max)
                       ELSE s.tot_max END AS tot_max
                FROM s JOIN lines l
                  ON l.conv_id = s.conv_id AND l.turn_idx = s.turn_idx
                 AND l.i = s.i + 1
              )
              SELECT * FROM s
            ), fin AS (
              SELECT s.conv_id, s.turn_idx,
                CASE WHEN s.c > 1 THEN s.n_tables + 1
                     ELSE s.n_tables END AS n_tables,
                CASE WHEN s.c > 1 THEN s.n_rows + s.c
                     ELSE s.n_rows END AS n_table_rows,
                CASE WHEN s.c > 1 THEN greatest(s.tot_max, s.cur_max)
                     ELSE s.tot_max END AS max_cols
              FROM st s JOIN nl ON s.conv_id = nl.conv_id
                               AND s.turn_idx = nl.turn_idx
                               AND s.i = nl.L
            )
            SELECT conv_id, turn_idx, CAST(n_tables AS INT) AS n_tables,
                   CAST(n_table_rows AS INT) AS n_table_rows,
                   CAST(max_cols AS INT) AS max_cols
            FROM fin WHERE n_tables > 0
            ORDER BY conv_id, turn_idx
        """,
        # transcript_pipeline: the full production DAG vs the COMMITTED
        # frozen expected-output table (data/pipeline_expected.parquet,
        # computed offline by tools/freeze_pipeline_expected.py from the
        # pure-Python core — the data/ml_frozen pattern). The HTML/layout
        # legs have no SQL form; freezing the core's output lets the gate
        # hash-check the live pipeline end-to-end anyway.
        "transcript_pipeline": f"""
            SELECT conv_id, turn_idx, kind, extracted_text, spans_cat,
                   q_blank, q_legibility, q_completeness, q_skew, q_noise,
                   q_contrast, q_brightness, q_edge_crop, q_shadow_glare,
                   q_resolution, confidence, verdict, needs_preprocessing,
                   recommendations_cat
            FROM read_parquet('{PIPELINE_EXPECTED}')
            ORDER BY conv_id, turn_idx
        """,
    }
