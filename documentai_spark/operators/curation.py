"""Corpus curation: the keep/drop decision for training-data filtering.

The operator behind the ``corpus_filter`` gate query, exposed as a
library function and a spark-submit mode (``job.py --curate``): keep a
document iff it is the dedup representative (min id per normalized
fingerprint), the language id passes, the token count is inside the
configured band, and the 12-point quality confidence clears the
threshold. Each reason is emitted as its own audit boolean so drop
accounting is a first-class output, not a log line.

Every ingredient is a pinned formulation shared with the DuckDB gate
oracles (__spark_entry__): whitespace tokens, stopword-density language
id, normalized-md5 fingerprints, and the bit-exact quality confidence
(functions/quality_sql mirror). Scale shape: one scan, one fingerprint
shuffle for the min-window, everything else map-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from documentai_spark.core.textstats import STOPWORDS


# Pinned token whitespace: Java's \s set [ \t\n\x0b\f\r], SPELLED OUT
# (r7 review) because RE2's \s lacks \x0b — a bare '\s+' in the DuckDB
# oracle splits vertical-tab input differently. Same precedent as
# ml_classify._WS_SPLIT and the fingerprint oracle's explicit class.
TOKEN_WS = r"[ \t\n\x0b\f\r]+"

# Pinned stopword boundary: explicit ASCII lookarounds (r7 review, the
# CLAUDE.md three-engine \b rule) — Java's bare \b is Unicode-aware
# (no match boundary before 'é') while the oracle's RE2 \b is
# ASCII-only; on ASCII word chars the two are identical, and the
# lookarounds make Spark match RE2 on ALL inputs. RE2 has no
# lookarounds, so the oracle keeps \b (equivalent under ASCII classes).
STOPWORD_PATTERN = (r"(?<![A-Za-z0-9_])(" + "|".join(STOPWORDS)
                    + r")(?![A-Za-z0-9_])")


def token_count_col(text: Column) -> Column:
    """Whitespace token count (doc_token_stats formulation). NULL text
    counts 0 tokens (r7 review) — previously a NULL propagated into
    bad_len/keep and the row dropped without a reason attributed."""
    return F.when(text.isNull() | (F.length(F.trim(text)) == 0),
                  F.lit(0)) \
            .otherwise(F.size(F.split(F.trim(text), TOKEN_WS)))


def stopword_ratio_col(text: Column) -> Column:
    """Stopword density, rounded to 6 dp (doc_lang_quality formulation:
    branch-free greatest() divisor keeps the regex outside lazy CaseWhen
    branches — the documented codegen-CSE hazard). NULL text scores 0.0
    (the coalesce; matches token_count_col's NULL-as-empty pin)."""
    n_sw = F.coalesce(
        F.size(F.regexp_extract_all(F.lower(text),
                                    F.lit(STOPWORD_PATTERN), F.lit(0))),
        F.lit(0))
    return F.round(n_sw / F.greatest(token_count_col(text), F.lit(1)), 6)


def fingerprint_col(text: Column) -> Column:
    """Normalized md5 (doc_fingerprint formulation; Java \\s ==
    [ \\t\\n\\x0b\\f\\r], mirrored by the oracle's explicit class)."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def with_curation_flags(df: DataFrame, *, id_col: str = "doc_id",
                        text_col: str = "text",
                        confidence_col: str = "confidence",
                        min_tokens: int = 20, max_tokens: int = 2000,
                        min_confidence: float = 0.6,
                        min_stopword_ratio: float = 0.04,
                        near_dedup: bool = False,
                        near_reps: DataFrame | None = None,
                        jaccard_threshold: float = 0.8,
                        num_hashes: int = 64, bands: int = 16,
                        max_bucket: int | None = 4096,
                        near_stats: dict | None = None) -> DataFrame:
    """Adds keep / is_dup / bad_lang / bad_len / low_conf.

    ``df`` must already carry the quality ``confidence`` column (run
    with_extraction + with_quality + with_verdict upstream — the bench
    and gate shapes do).

    ``near_dedup=True`` (VERDICT r5 #5) additionally runs the full
    near-dup chain — MinHash-LSH candidates over the EXACT-duplicate
    representatives only (``dedup.exact_rep_rows``, r7: identical texts
    band identically, so banding members too was quadratic in the
    group size) -> shingle-Jaccard verify -> transitive cluster closure
    (``dedup.near_dedup``'s stages; the closure is one lazy union-find
    pass, ``dedup.closure_labels``, so building the frame runs no Spark
    job for it) — and
    adds ``is_near_dup``: the row is NOT its cluster's min-id
    representative *and* is not already an exact duplicate, so drop
    accounting attributes near-dup kills separately from exact ones.
    ``keep`` then requires the row to be its cluster representative.
    Requires a losslessly long-castable ``id_col`` (the closure's label
    domain) — a NULL / malformed / truncating id fails fast with a
    named error (``functions.ids.checked_long``, VERDICT r6 #4).

    ``near_reps`` (r7, VERDICT r6 #2): a PRECOMPUTED representatives
    table ``(id_col, cluster_rep long)`` — the exact frame
    ``dedup.cluster_pairs`` returns — to join instead of running the
    chain. This is the resumable-checkpoint shape: the closure labels
    GLOBALLY, so a per-bucket loop cannot recompute it per bucket;
    ``plans.checkpoint.run_checkpointed_curation(near_dedup=True)``
    computes pairs+closure ONCE as its own manifest-committed stage and
    passes the written reps here. Flags are identical to
    ``near_dedup=True`` by construction (the same join, the same
    long-domain exact-dup winner). Mutually exclusive with
    ``near_dedup=True``.

    Both paths join the same way: only the rows whose rep is ANOTHER
    node (the closure's labels, or ``near_reps`` filtered to
    ``id != cluster_rep``), as a broadcast; a row with no match is its
    own rep. The labelled nodes are the closure's one-task output, which
    CLAUDE.md bounds by the near-duplicate count (about 10^7 per GiB),
    so the broadcast adds no scale limit the closure does not already
    have — and the wide document rows are not shuffled by id.

    ``near_stats``: a dict the closure fills with ``rounds`` = 1 (one
    pass over the verified edges) when ``near_dedup=True``.
    """
    if near_dedup and near_reps is not None:
        raise ValueError("pass near_dedup=True OR near_reps, not both")
    use_near = near_dedup or near_reps is not None
    if near_reps is not None and "cluster_rep" not in near_reps.columns:
        raise ValueError("near_reps must be a (id, cluster_rep) table "
                         "(dedup.cluster_pairs output)")
    reserved = {"keep", "is_dup", "bad_lang", "bad_len", "low_conf"}
    if use_near:
        reserved |= {"is_near_dup", "_ct_rep"}
    clash = reserved & set(df.columns)
    if clash:
        # exact-name collisions would be silently clobbered by the
        # projections below — refuse loudly, matching the
        # predict_with_topk guard (ADVICE r4)
        raise ValueError(
            f"input columns collide with with_curation_flags outputs: "
            f"{sorted(clash)}")
    text = F.col(text_col)
    # the window partitions on the fingerprint expression itself: the
    # analyzer projects it below the exchange and drops it after, so no
    # _ct_fp column is added and dropped by hand
    if use_near:
        # near dedup's closure labels live in the LONG domain, so the
        # exact-dup winner must be picked there too: with string ids
        # whose native and numeric orderings disagree ('9' vs '10'), a
        # cluster could otherwise lose EVERY member (exact window drops
        # one, the closure rep drops the other). checked_long fails
        # fast on any id outside the long domain with an error naming
        # the fix.
        from documentai_spark.functions.ids import checked_long
        lid = checked_long(id_col, "with_curation_flags",
                           df.schema[id_col].dataType)
        # row_number, not value-compare (r7 review): ids that TIE in
        # the long domain would both miss a `lid > min(lid)` compare
        # and the duplicate text would survive; the (long, string) rank
        # flags exactly the non-winner — the SAME ordering
        # exact_rep_rows uses to elect the banded representative below.
        # (Non-canonical string ids like '007' now fail fast in
        # checked_long rather than colliding at all.)
        w_fp = Window.partitionBy(fingerprint_col(text)).orderBy(
            lid.asc(), F.col(id_col).asc())
        is_dup = F.row_number().over(w_fp) > 1
    else:
        # checked_non_null (r7 review): a NULL id makes the comparison
        # NULL, keep NULL, and the row silently vanishes from the kept
        # set with every audit boolean false — bypassing the downstream
        # checked_id guards (they only see keep=true rows)
        from documentai_spark.functions.ids import checked_non_null
        dup_id = checked_non_null(F.col(id_col), "with_curation_flags")
        is_dup = dup_id > F.min(dup_id).over(
            Window.partitionBy(fingerprint_col(text)))
    out = df.withColumn("is_dup", is_dup)
    if use_near:
        if near_reps is None:
            from documentai_spark.operators.dedup import (
                closure_labels, exact_rep_rows, minhash_dedup_pairs,
            )
            # band only exact-dup representatives (r7 review): an
            # m-copy group's identical signatures otherwise emit
            # ~bands*m^2/2 LSH candidate rows; members inherit the
            # verdict through is_dup above (flags unchanged — a
            # member's is_near_dup was already forced false by ~is_dup)
            rep_src = exact_rep_rows(df.select(id_col, text_col),
                                     text_col, id_col,
                                     context="with_curation_flags")
            pairs = minhash_dedup_pairs(
                rep_src, text_col=text_col,
                id_col=id_col, num_hashes=num_hashes, bands=bands,
                jaccard_threshold=jaccard_threshold,
                max_bucket=max_bucket)
            labels = closure_labels(pairs, a_col="id_a", b_col="id_b",
                                    stats=near_stats)
            reps = labels.select(F.col("node").alias(id_col),
                                 F.col("rep").alias("_ct_rep"))
        else:
            reps = near_reps.select(id_col,
                                    F.col("cluster_rep").alias("_ct_rep"))
        # one join rule for both paths (see the docstring): broadcast
        # only the rows whose rep is another node
        reps = reps.filter(F.col(id_col) != F.col("_ct_rep"))
        # lid is checked here TOO (r7 review): relying on the window's
        # assert assumes is_dup survives column pruning — a caller
        # selecting only is_near_dup lets Spark prune the window and
        # its guard, and a bad id would silently NULL the dedup
        # decision. The duplicate assert costs nothing (same
        # expression, one codegen projection) and holds under ANY
        # pruning.
        out = (out.join(F.broadcast(reps), id_col, "left")
                  .withColumn("is_near_dup",
                              (lid != F.coalesce(F.col("_ct_rep"), lid))
                              & ~F.col("is_dup"))
                  .drop("_ct_rep"))
    return with_stateless_flags(
        out, text_col=text_col, confidence_col=confidence_col,
        min_tokens=min_tokens, max_tokens=max_tokens,
        min_confidence=min_confidence,
        min_stopword_ratio=min_stopword_ratio)


def with_stateless_flags(df: DataFrame, *, text_col: str = "text",
                         confidence_col: str = "confidence",
                         min_tokens: int = 20, max_tokens: int = 2000,
                         min_confidence: float = 0.6,
                         min_stopword_ratio: float = 0.04) -> DataFrame:
    """The row-local half of the curation decision: bad_lang / bad_len /
    low_conf and the combined ``keep``, folding in an ``is_dup`` column
    if the caller already computed one (the batch window or the streaming
    stateful dedup; absent -> treated as not-a-dup).

    This is the streamable piece — no window, no shuffle — shared by
    the batch ``with_curation_flags`` and ``streaming_curate``.

    A NULL confidence reads as ``low_conf`` (r7 review): the comparison
    alone would make keep NULL and the row would vanish with every
    audit boolean false — the silent-drop class the NULL-text pins
    eliminated. A row whose quality could not be scored is dropped WITH
    its reason on the books.
    """
    text = F.col(text_col)
    n_tok = token_count_col(text)
    flags = {
        "bad_lang": stopword_ratio_col(text) < F.lit(min_stopword_ratio),
        "bad_len": (n_tok < F.lit(min_tokens)) | (n_tok > F.lit(max_tokens)),
        "low_conf": F.coalesce(F.col(confidence_col) < F.lit(min_confidence),
                               F.lit(True))}
    if "is_dup" not in df.columns:
        flags["is_dup"] = F.lit(False)
    keep = ~(F.col("is_dup") | F.col("bad_lang") | F.col("bad_len")
             | F.col("low_conf"))
    if "is_near_dup" in df.columns:
        # present only when the caller ran the near-dup chain
        # (with_curation_flags(near_dedup=True)) — folded, not created,
        # so the batch/streaming default schemas stay unchanged
        keep = keep & ~F.col("is_near_dup")
    if "high_perplexity" in df.columns:
        # present only when the caller ran with_lm_perplexity with a
        # threshold (streaming_curate/near_curate_finish lm_threshold=,
        # job.py --lm-threshold) — same fold-if-present contract
        keep = keep & ~F.col("high_perplexity")
    return df.withColumns(flags).withColumn("keep", keep)


def corpus_report(docs: DataFrame, *, text_col: str = "text",
                  exact: bool = True, accuracy: int = 10000) -> DataFrame:
    """Per-language corpus curation report: document volume, token
    totals, token quantiles (p50/p95), exact-duplicate count/ratio.
    ONE scan + ONE low-cardinality shuffle; every expression is the
    pinned gate formulation (whitespace tokens, stopword-density
    language id, normalized-md5 fingerprints).

    ``exact=True`` uses the interpolated ``percentile`` aggregate — the
    oracle-replayable form, which buffers each group's values in the
    aggregation buffer (fine to ~10^8 rows/group). ``exact=False`` is
    the 100 TB path: ``approx_percentile(n_tokens, p, accuracy)`` — the
    Greenwald-Khanna sketch with bounded memory and a guaranteed RANK
    error <= 1/accuracy (the returned value's rank is within
    n/accuracy positions of the true percentile rank; tested against
    the exact form at a skewed sf1-like shape). Counts, sums, and
    distinct counts are identical in both modes.

    A duplicate group never spans languages (identical normalized text
    implies identical stopword ratio), so the per-language distinct
    count equals the global dedup arithmetic. NULL-text rows carry a
    NULL fingerprint, which ``countDistinct`` skips — the unique count
    adds the NULL group back explicitly (r7 review) so m NULL-text docs
    report m-1 duplicates, matching the window-based ``is_dup``
    accounting in :func:`with_curation_flags` (the oracle adds the same
    term).
    """
    text = F.col(text_col)
    n_toks = token_count_col(text)
    lang = F.when(stopword_ratio_col(text) >= 0.04,
                  F.lit("en")).otherwise(F.lit("unknown"))
    per = docs.select(n_toks.alias("n_tokens"), lang.alias("lang_pred"),
                      fingerprint_col(text).alias("fp"))
    if exact:
        p50 = F.expr("percentile(n_tokens, 0.5)")
        p95 = F.expr("percentile(n_tokens, 0.95)")
    else:
        p50 = F.expr(f"approx_percentile(n_tokens, 0.5, {int(accuracy)})") \
               .cast("double")
        p95 = F.expr(f"approx_percentile(n_tokens, 0.95, {int(accuracy)})") \
               .cast("double")
    agg = (per.groupBy("lang_pred")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_tokens").cast("bigint").alias("total_tokens"),
                p50.alias("p50_tokens"),
                p95.alias("p95_tokens"),
                (F.countDistinct("fp")
                 + F.max(F.col("fp").isNull().cast("long")))
                .alias("n_unique")))
    return (agg.withColumn("n_dup_docs",
                           F.col("n_docs") - F.col("n_unique"))
               .withColumn("dup_ratio",
                           F.round(F.col("n_dup_docs") / F.col("n_docs"),
                                   6))
               .select("lang_pred", "n_docs", "total_tokens",
                       "p50_tokens", "p95_tokens", "n_dup_docs",
                       "dup_ratio")
               .orderBy("lang_pred"))


def with_split(df: DataFrame, *, id_col: str = "doc_id",
               weights: dict[str, float] | None = None, seed: int = 42,
               col: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment by a content-independent
    hash of the row id: bucket = first 32 bits of ``md5(f"{seed}|{id}")``
    mod 10_000, mapped through cumulative weight thresholds.

    Stable across runs, engines, partitionings, and data order — the
    property a 100 TB pipeline needs so that re-runs and incremental
    loads never migrate a document between splits (a ``rand()``-based
    split re-deals on every action). Pure JVM expressions, no shuffle;
    the DuckDB gate oracle replays the identical bucket arithmetic
    (hex-prefix cast both engines agree on). A NULL id fails fast
    (``checked_id``, r7 review) — it used to hash NULL and fall through
    the when-chain into the LAST declared split, silently contaminating
    the eval set under the default weights.
    """
    from documentai_spark.functions.ids import checked_id

    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    if col in df.columns:
        raise ValueError(f"column {col!r} already exists")
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit(f"{seed}|"),
                       checked_id(F.col(id_col), "with_split"))), 1, 8),
        16, 10).cast("long") % 10_000)
    *head, (last, _) = split_thresholds(weights)
    expr = None
    for name, bound in head:
        cond = bucket < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None \
            else expr.when(cond, F.lit(name))
    # last split takes the remainder: thresholds always cover 0..9999
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(col, expr)


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """(name, exclusive upper bucket bound) pairs in declaration order —
    the one definition of the cumulative thresholds, shared by
    :func:`with_split` and the oracles that replay its arithmetic."""
    total = float(sum(weights.values()))
    out = []
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total * 10_000
        out.append((name, int(round(acc))))
    out.append((names[-1], 10_000))
    return out


def stratified_sample(df: DataFrame, *, group_cols: list[str], k: int,
                      id_col: str = "doc_id", seed: int = 42,
                      exact_window: bool = True,
                      initial_margin: float = 8.0) -> DataFrame:
    """Deterministic k-per-group sample: rank rows inside each group by
    ``md5(f"strat|{seed}|{id}")`` (uniform, content-independent) and keep
    the k smallest — reservoir sampling made deterministic and
    engine-replayable. Re-runs pick the SAME sample; growing a group
    only ever swaps members whose hash beats an existing one (stable
    eval subsets as the corpus grows). Ties are impossible for distinct
    ids but the id itself is the documented tie-break, so the output is
    total-order determined.

    ``exact_window=True`` (default) ranks with a window — the
    oracle-exact baseline, whose cost at 100 TB is the per-group sort of
    EVERY row of a skewed group. ``exact_window=False`` is the at-scale
    form: because the hash is uniform, the k smallest hashes of a group
    of n rows almost surely sit below fraction ``margin * k / n``, so a
    broadcast of the (tiny) per-group counts prefilters each group to
    ~margin*k survivor rows and the window sorts ONLY those. The
    prefilter is verified against the per-group COUNTS table (not the
    survivor set — a group whose rows all miss the prefilter would be
    invisible there): any group keeping fewer than min(k, n) survivors
    re-runs with a doubled margin — geometrically improbable, never
    silently wrong — so both forms return the IDENTICAL row set
    (equality-tested at a skewed shape).

    The rank hash carries a ``strat|`` salt so it is independent of
    ``with_split``'s bucket hash under a shared seed: without it, the k
    survivors of a huge group are exactly the smallest split-hashes too,
    and the sample would concentrate in the low split buckets (the same
    bias ``mixture_sample`` guards against with its ``mix|`` salt)."""
    if k < 1:
        raise ValueError("k must be positive")
    if "_sr" in df.columns:
        # the rank handle below would silently clobber it (same guard
        # family as with_curation_flags / predict_with_topk; ADVICE r5)
        raise ValueError("input column '_sr' collides with "
                         "stratified_sample internals")
    # checked_id (r7 review): a NULL id's NULL rank hash ordered NULLS
    # FIRST in the exact window (NULL-id rows hogged the top-k) but
    # fell out of the scale form's prefilter — the two forms' documented
    # identical-row-set equivalence broke exactly there. Fail fast.
    from documentai_spark.functions.ids import checked_id

    h = F.md5(F.concat(F.lit(f"strat|{seed}|"),
                       checked_id(F.col(id_col), "stratified_sample")))
    w = Window.partitionBy(*group_cols).orderBy(h.asc(),
                                                F.col(id_col).asc())
    if exact_window:
        return (df.withColumn("_sr", F.row_number().over(w))
                  .filter(F.col("_sr") <= k).drop("_sr"))
    gc_alias = [f"_sg{i}" for i in range(len(group_cols))]
    if ({"_sn", "_shf"} | set(gc_alias)) & set(df.columns):
        raise ValueError("input columns '_sn'/'_shf'/'_sgN' collide "
                         "with stratified_sample internals")
    # hash as a uniform fraction of [0, 1): first 8 hex digits / 16^8.
    # Ordering by (frac, id) == ordering by (md5, id) for the survivor
    # set because frac is a monotone prefix of the full digest and the
    # id tie-break covers prefix collisions.
    frac = (F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
            / F.lit(float(16 ** 8)))
    counts = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("_sn"))

    # ALL prefilter joins are NULL-SAFE on the group keys (ADVICE r6):
    # groupBy treats NULL as its own group (as does the exact form's
    # window), but a plain equi-join drops NULL-keyed rows — the NULL
    # group's documents would vanish from the sample while the
    # coverage check (whose left side is the counts table) would see
    # the group as permanently short and burn all 8 doubled-margin
    # retries before raising a misleading corrupt-id error.
    def _null_safe(left: DataFrame, right: DataFrame,
                   how: str = "inner", broadcast: bool = False) -> DataFrame:
        r = right.select(*[F.col(c).alias(a)
                           for c, a in zip(group_cols, gc_alias)],
                         *[c for c in right.columns
                           if c not in group_cols])
        if broadcast:
            r = F.broadcast(r)
        cond = None
        for c, a in zip(group_cols, gc_alias):
            eq = left[c].eqNullSafe(r[a])
            cond = eq if cond is None else cond & eq
        return left.join(r, cond, how).drop(*gc_alias)

    from documentai_spark.operators.dedup import _free_local_checkpoint

    if initial_margin <= 0:
        raise ValueError("initial_margin must be positive")
    # initial_margin is the prefilter aggressiveness knob: P(a group
    # under-covers) ~ e^-margin, so the default 8 retries roughly once
    # per 3000 groups; a smaller value trades retry probability for a
    # smaller survivor materialization (and is the deterministic
    # retry-path test hook)
    margin = float(initial_margin)
    prev_surv = None
    for _ in range(8):  # P(retry) < ~e^-margin per group; 8 doublings
        thr = F.least(F.lit(1.0), F.lit(margin) * F.lit(float(k))
                      / F.col("_sn"))
        surv = (_null_safe(df, counts, broadcast=True)
                .withColumn("_shf", frac)
                .filter(F.col("_shf") < thr))
        # eager localCheckpoint (r7 review, same rationale as
        # minhash_dedup_pairs' candidate set): surv is tiny by
        # construction (~margin*k rows per group) but derives from a
        # full-corpus scan — without this, the coverage check below AND
        # every consumer action of the returned frame re-scan the whole
        # corpus; with it they read the materialized survivors
        surv = surv.localCheckpoint(eager=True)
        if prev_surv is not None:
            # the doubled-margin retry recomputes survivors from the
            # source scan, not from prev_surv — the superseded
            # checkpoint would otherwise pin a full survivor copy in
            # executor storage for the session's lifetime (r7 ADVICE;
            # dedup.py's closure-loop pattern)
            _free_local_checkpoint(prev_surv)
        prev_surv = surv
        # verify the prefilter kept at least min(k, n) rows per group.
        # Anchor the check on the per-group COUNTS table: a group whose
        # rows ALL miss the prefilter contributes no survivor row, so
        # aggregating surv alone would never see it and the group would
        # be silently absent from the sample. counts is the tiny side
        # (one row per group); the survivor agg is ~margin*k per group.
        kept = (surv.groupBy(*group_cols)
                    .agg(F.count(F.lit(1)).alias("_kept")))
        short = (_null_safe(counts, kept, "left")
                 .filter(F.coalesce(F.col("_kept"), F.lit(0))
                         < F.least(F.lit(k), F.col("_sn")))
                 .limit(1).count())
        if short == 0:
            return (surv.withColumn("_sr", F.row_number().over(w))
                        .filter(F.col("_sr") <= k)
                        .drop("_sr", "_sn", "_shf"))
        margin *= 2.0
    raise RuntimeError("stratified_sample prefilter failed to cover "
                       "k per group at margin 1024 — hash is not "
                       "behaving uniformly (corrupt id column?)")


def exact_ngrams_col(toks: Column, n: int) -> Column:
    """Exactly-n token grams of an already-projected token-array
    attribute (unary factory lambda — the r5 HOF-arity rule)."""
    def join_at(i):
        return F.array_join(F.slice(toks, i, n), " ")
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
                    lambda i: join_at(i))
    ).otherwise(F.array().cast("array<string>"))


def _ngrams_arr_udf(n: int):
    """Arrow-batched n-gram array kernel over LOWERED text: exactly
    ``exact_ngrams_col(tokens_col(text), n)`` — the pinned ml_classify
    tokenization (``_WS_SPLIT``, empties dropped) then all space-joined
    n-token windows, ``[]`` when the doc has fewer than n tokens.
    Optimization r9 (guide §4.2): the JVM form built every gram via
    interpreted ``array_join(slice(...))`` per position (~4 s of
    decontaminate's 5.6 s at sf1.0); equality pinned by
    tests/test_curation.py::test_ngrams_udf_matches_expr."""
    import re as _re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from documentai_spark.operators.ml_classify import _WS_SPLIT

    ws_re = _re.compile(_WS_SPLIT)

    @pandas_udf("array<string>")
    def grams(lowered):  # no hints: annotations future + local imports
        join = " ".join
        out = []
        for s in lowered:
            toks = [t for t in ws_re.split(s or "") if t]
            out.append([join(toks[i:i + n])
                        for i in range(len(toks) - n + 1)])
        return pd.Series(out)

    return grams


def decontaminate(docs: DataFrame, benchmark: DataFrame, *,
                  n: int = 8, text_col: str = "text",
                  bench_text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    n-token gram with a benchmark/eval set (the standard
    test-set-contamination sweep an LLM data pipeline runs before
    training). Adds ``n_contam_hits`` (count of DISTINCT shared grams
    per document) and ``contaminated``.

    Scale shape: the benchmark side (MBs — eval sets are small, and the
    pre-r9 form already materialized it driver-side via
    ``F.broadcast``) is distinct-reduced ONCE into a driver frozenset
    shipped inside the Arrow kernel's closure; each doc's distinct-gram
    intersection count is then computed doc-locally — no gram explode,
    no join, no aggregate, no join-back (r9: the explode+join chain
    cost ~2.5 s of decontaminate's 5.6 s at sf1.0 on top of the
    JVM gram construction). Gram construction skips windows whose
    first token starts no benchmark gram (sound: such a gram cannot be
    in the set). The corpus is never shuffled at all. Token and gram
    formulations are the pinned ml_classify tokenization
    (:func:`_ngrams_arr_udf` semantics, equality-pinned), so the DuckDB
    oracle replays everything.
    """
    import re as _re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from documentai_spark.operators.ml_classify import _WS_SPLIT

    clash = {"n_contam_hits", "contaminated"} & set(docs.columns)
    if clash:
        # the withColumn would silently clobber caller columns — refuse
        # loudly, same guard family as with_curation_flags (ADVICE r5)
        raise ValueError(
            f"input columns collide with decontaminate outputs: "
            f"{sorted(clash)}")
    grams_udf = _ngrams_arr_udf(n)
    bench_set = frozenset(
        r["gram"] for r in
        (benchmark.select(grams_udf(F.lower(F.col(bench_text_col)))
                          .alias("_gs"))
                  .select(F.explode("_gs").alias("gram"))
                  .distinct().collect()))
    starters = frozenset(g.split(" ", 1)[0] for g in bench_set)
    ws_re = _re.compile(_WS_SPLIT)

    @pandas_udf("long")
    def contam_hits(lowered):  # no hints: annotations future
        join = " ".join
        out = []
        for s in lowered:
            toks = [t for t in ws_re.split(s or "") if t]
            hits = {join(toks[i:i + n])
                    for i in range(len(toks) - n + 1)
                    if toks[i] in starters}
            out.append(len(hits & bench_set))
        return pd.Series(out)

    return (docs.withColumn("n_contam_hits",
                            contam_hits(F.lower(F.col(text_col))))
                .withColumn("contaminated", F.col("n_contam_hits") > 0))


def mixture_sample(df: DataFrame, *, rates: dict[str, float],
                   default_rate: float = 1.0, source_col: str = "source",
                   id_col: str = "doc_id", seed: int = 42) -> DataFrame:
    """Deterministic source-mixture thinning: keep a row iff its hash
    bucket (first 32 bits of ``md5(f"mix|{seed}|{id}")`` mod 10_000)
    falls under ``rate(source) * 10_000`` — how a pretraining pipeline
    downweights over-represented sources (web crawl vs. curated sets)
    without a ``rand()`` re-deal on every action. The salt prefix
    ``mix|`` makes the decision independent of :func:`with_split`'s
    bucket, so thinning never biases the train/val/test assignment.
    Pure JVM expressions, no shuffle; unknown sources keep
    ``default_rate``. Re-runs and incremental loads keep/drop the SAME
    rows (stable mixtures as the corpus grows). A NULL id fails fast
    (``checked_id``, r7 review) — the NULL bucket comparison used to
    silently DROP the row from every source."""
    from documentai_spark.functions.ids import checked_id

    for s, r in rates.items():
        if not (0.0 <= r <= 1.0):
            raise ValueError(f"rate for {s!r} must be in [0, 1]: {r}")
    if not (0.0 <= default_rate <= 1.0):
        raise ValueError(f"default_rate must be in [0, 1]: {default_rate}")
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit(f"mix|{seed}|"),
                       checked_id(F.col(id_col), "mixture_sample"))),
        1, 8),
        16, 10).cast("long") % 10_000)
    thr = None
    for s, r in rates.items():
        c = F.col(source_col) == F.lit(s)
        t = F.lit(int(round(r * 10_000)))
        thr = F.when(c, t) if thr is None else thr.when(c, t)
    thr = (F.lit(int(round(default_rate * 10_000))) if thr is None
           else thr.otherwise(int(round(default_rate * 10_000))))
    return df.filter(bucket < thr)


def _rep_counts_udf():
    """Arrow-batched exact-integer repetition counters (optimization
    r9, guide §4.2): per doc — qualifying-line total/distinct/dup-char/
    total-char counts (lines split on the literal "\\n", kept when
    ``len(line.strip(' ')) > 0``, the verified mirror of
    ``length(trim(line)) > 0``; char counts are code points, matching
    ``F.length``) and the max token-bigram count (tokens = the pinned
    ml_classify ``_WS_SPLIT`` class over the JVM-LOWERCASED text — the
    second argument, ``F.lower(text)``, exactly what ``tokens_col`` and
    the oracle split — bigrams counted as adjacent token PAIRS — tokens
    cannot contain spaces, so pair identity equals the space-joined gram
    identity the expression form counts). Line counters read the raw
    text, as in the oracle.

    Every output is an exact integer; the IEEE ratio math stays in the
    JVM select unchanged. Why: the expression form spent ~6.5 s of
    rep_signals' 9.3 s at sf1.0 building bigrams as JVM
    ``array_join(slice(...))`` per position and double-aggregating the
    exploded rows; equality is pinned by
    tests/test_curation.py::test_rep_signals_udf_matches_expr."""
    import re as _re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        LongType, StructField as _SF, StructType as _ST,
    )

    from documentai_spark.operators.ml_classify import _WS_SPLIT

    ws_re = _re.compile(_WS_SPLIT)
    out_t = _ST([_SF("_n_lines", LongType(), False),
                 _SF("_n_distinct", LongType(), False),
                 _SF("_dup_chars", LongType(), False),
                 _SF("_tot_chars", LongType(), False),
                 _SF("_top2", LongType(), False)])

    @pandas_udf(out_t)
    def rep_counts(text, lowered):  # no hints (annotations future)
        from collections import Counter
        nl, nd, dc, tc, t2 = [], [], [], [], []
        for s, lo in zip(text, lowered):
            s = s or ""
            lines = Counter(ln for ln in s.split("\n")
                            if len(ln.strip(" ")) > 0)
            n_lines = sum(lines.values())
            dup = tot = 0
            for ln, c in lines.items():
                ch = c * len(ln)
                tot += ch
                if c > 1:
                    dup += ch
            toks = [t for t in ws_re.split(lo or "") if t]
            top2 = 0
            if len(toks) >= 2:
                top2 = max(Counter(zip(toks, toks[1:])).values())
            nl.append(n_lines)
            nd.append(len(lines))
            dc.append(dup)
            tc.append(tot)
            t2.append(top2)
        return pd.DataFrame({"_n_lines": nl, "_n_distinct": nd,
                             "_dup_chars": dc, "_tot_chars": tc,
                             "_top2": t2})

    return rep_counts


def repetition_signals(docs: DataFrame, *, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Per-document repetition quality signals — the Gopher-rule family
    a pretraining pipeline screens on (duplicated boilerplate lines and
    degenerate n-gram loops are the classic low-quality tells):

    - ``n_lines`` — non-empty (after trim) newline-split lines;
    - ``dup_line_frac`` — 1 - distinct/total over those lines;
    - ``dup_line_char_frac`` — fraction of line characters belonging to
      lines that occur more than once;
    - ``top2gram_frac`` — 2 * (count of the most frequent token bigram)
      / token count.

    All ratios round(6); docs with no lines / <2 tokens score 0.0.

    r9: the per-doc counters come from :func:`_rep_counts_udf` (one
    map-side Arrow pass, exact integers, no explode/shuffle); the
    ratio expressions below are byte-for-byte the ones the grouped
    form (:func:`repetition_signals_expr`, the retained second engine)
    evaluates, so the emitted doubles are identical.
    """
    rep_counts = _rep_counts_udf()
    base = docs.select(
        F.col(id_col),
        token_count_col(F.col(text_col)).alias("_ntok"),
        rep_counts(F.col(text_col), F.lower(F.col(text_col)))
        .alias("_rc"))
    out = base.select(id_col, "_ntok",
                      F.col("_rc._n_lines").alias("_n_lines"),
                      F.col("_rc._n_distinct").alias("_n_distinct"),
                      F.col("_rc._dup_chars").alias("_dup_chars"),
                      F.col("_rc._tot_chars").alias("_tot_chars"),
                      F.col("_rc._top2").alias("_top2"))
    n_lines = F.coalesce(F.col("_n_lines"), F.lit(0))
    return out.select(
        id_col,
        n_lines.cast("bigint").alias("n_lines"),
        F.round(F.when(n_lines > 0,
                       (n_lines - F.coalesce(F.col("_n_distinct"),
                                             F.lit(0)))
                       / n_lines).otherwise(F.lit(0.0)), 6)
         .alias("dup_line_frac"),
        F.round(F.when(F.coalesce(F.col("_tot_chars"), F.lit(0)) > 0,
                       F.coalesce(F.col("_dup_chars"), F.lit(0))
                       / F.col("_tot_chars")).otherwise(F.lit(0.0)), 6)
         .alias("dup_line_char_frac"),
        F.round(F.lit(2) * F.coalesce(F.col("_top2"), F.lit(0))
                / F.greatest(F.col("_ntok"), F.lit(1)), 6)
         .alias("top2gram_frac"))


def repetition_signals_expr(docs: DataFrame, *, id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """The explode + two-level-aggregate expression form of
    :func:`repetition_signals`, retained as the independent second
    engine for the equality pin (~6.5 s of JVM gram construction at
    sf1.0; not used in query paths).

    Scale shape: both aggregate paths group by (doc, unit) then by doc —
    a document's lines/grams live in its own input partition, so the
    first aggregation completes map-side and each exchange ships one row
    per distinct unit; line and gram arrays are staged as their own
    projections before explode (the Generate re-evaluation hazard).
    """
    from documentai_spark.operators.ml_classify import tokens_col

    ident = F.col(id_col)
    # --- line path ---
    lines = (docs.select(ident, F.split(F.col(text_col), "\n")
                         .alias("_ls"))
                 .select(id_col, F.explode("_ls").alias("line"))
                 .filter(F.length(F.trim(F.col("line"))) > 0))
    per_line = lines.groupBy(id_col, "line") \
                    .agg(F.count(F.lit(1)).alias("cnt"))
    line_agg = (per_line.groupBy(id_col).agg(
        F.sum("cnt").alias("_n_lines"),
        F.count(F.lit(1)).alias("_n_distinct"),
        F.sum(F.when(F.col("cnt") > 1,
                     F.col("cnt") * F.length("line"))
               .otherwise(F.lit(0))).alias("_dup_chars"),
        F.sum(F.col("cnt") * F.length("line")).alias("_tot_chars")))
    # --- bigram path ---
    grams = (docs.select(ident, tokens_col(F.col(text_col)).alias("_tk"))
                 .select(id_col, F.explode(exact_ngrams_col(F.col("_tk"),
                                                            2))
                         .alias("gram")))
    top2 = (grams.groupBy(id_col, "gram")
                 .agg(F.count(F.lit(1)).alias("cnt"))
                 .groupBy(id_col)
                 .agg(F.max("cnt").alias("_top2")))
    base = docs.select(ident,
                       token_count_col(F.col(text_col)).alias("_ntok"))
    out = base.join(line_agg, id_col, "left").join(top2, id_col, "left")
    n_lines = F.coalesce(F.col("_n_lines"), F.lit(0))
    return out.select(
        id_col,
        n_lines.cast("bigint").alias("n_lines"),
        F.round(F.when(n_lines > 0,
                       (n_lines - F.coalesce(F.col("_n_distinct"),
                                             F.lit(0)))
                       / n_lines).otherwise(F.lit(0.0)), 6)
         .alias("dup_line_frac"),
        F.round(F.when(F.coalesce(F.col("_tot_chars"), F.lit(0)) > 0,
                       F.coalesce(F.col("_dup_chars"), F.lit(0))
                       / F.col("_tot_chars")).otherwise(F.lit(0.0)), 6)
         .alias("dup_line_char_frac"),
        F.round(F.lit(2) * F.coalesce(F.col("_top2"), F.lit(0))
                / F.greatest(F.col("_ntok"), F.lit(1)), 6)
         .alias("top2gram_frac"))


def curate_documents(docs: DataFrame, **kw) -> DataFrame:
    """documents(doc_id, text, ...) -> the full quality stack + curation
    flags (the --curate job shape). Returns ALL rows with flags; filter
    on ``keep`` for the surviving set. ``text_col`` (r7 review) is
    honored by the WHOLE chain — the extraction/quality stack used to
    hardcode 'text', so a non-default text column either failed or,
    worse, silently scored confidence over the wrong column while the
    dedup/length flags used the right one."""
    from documentai_spark.functions.verdict import with_verdict
    from documentai_spark.operators.extraction import (
        with_extraction_and_quality,
    )
    text_col = kw.get("text_col", "text")
    # r9: the FUSED extract+quality kernel (one Arrow round-trip; the
    # flagship pipeline's stage) instead of the split pair, which
    # shipped the text to Python twice and the extracted text back and
    # forth once more — metrics are bit-identical (both delegate to
    # core/quality; the standing three-engine equality pins)
    df = with_verdict(with_extraction_and_quality(docs, text_col=text_col))
    return with_curation_flags(df, **kw)


def load_lm_model(model_dir: str | None = None) -> dict:
    """Load the frozen curation bigram LM (tools/freeze_lm_model.py's
    artifact: meta.json + unigram/bigram cost LUT parquets) into the
    dict ``core.lm.score_doc`` takes. ``_vset`` is precomputed once here
    so per-row scoring never rebuilds the vocab set.

    ``model_dir`` defaults to the COMMITTED artifact (repo-root
    ``data/lm_frozen``) so the job modes and the gate cannot drift onto
    different paths; pass a dir only for a custom model."""
    import json
    import os

    import pyarrow.parquet as pq

    if model_dir is None:
        model_dir = os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__)))), "data", "lm_frozen")
    with open(os.path.join(model_dir, "meta.json")) as f:
        meta = json.load(f)
    uni = pq.read_table(os.path.join(model_dir, "unigrams.parquet"))
    bi = pq.read_table(os.path.join(model_dir, "bigrams.parquet"))
    model = {
        "vocab": meta["vocab"],
        "unigram_cost": dict(zip(uni["w"].to_pylist(),
                                 uni["cost"].to_pylist())),
        "bigram_cost": dict(zip(bi["bigram"].to_pylist(),
                                bi["cost"].to_pylist())),
        "backoff_cost": meta["backoff_cost"],
        "scale": meta["scale"],
    }
    model["_vset"] = set(model["vocab"])
    return model


def with_lm_perplexity(df: DataFrame, model: dict, *,
                       text_col: str = "text",
                       threshold: float | None = None) -> DataFrame:
    """CCNet-style LM quality scoring under a FROZEN bigram model
    (core/lm.py — stupid backoff, integer-quantized costs; the
    data/ml_frozen pattern: gate queries LOAD the artifact via
    :func:`load_lm_model`, never refit). Adds:

    - ``lm_bigrams``  — max(token_count - 1, 0), long;
    - ``lm_cost``     — sum of integer bigram costs (1e-4 digits of
      -log10 p; exact across engines by construction);
    - ``lm_mean_cost`` — round(cost / bigrams / scale, 6) double, the
      mean -log10 probability per bigram (perplexity = 10**mean);
      NULL when the doc has < 2 tokens;
    - ``high_perplexity`` (only when ``threshold`` is given) — the
      drop flag, evaluated EXACTLY in the integer domain:
      ``lm_cost > round(threshold * scale) * lm_bigrams`` (docs with
      no bigrams never flag — too short to judge, the min_tokens gate
      owns them).

    Scale shape: pure map-side — the model (a few hundred LUT entries)
    ships in the UDF closure, no join, no shuffle; Arrow-batched rows
    delegate row-wise to ``core.lm.score_doc`` (the oracle invariant:
    UDFs import and delegate to core/).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from documentai_spark.core import lm as _lm

    reserved = {"lm_bigrams", "lm_cost", "lm_mean_cost", "_lm"} | \
        ({"high_perplexity"} if threshold is not None else set())
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"input columns collide with with_lm_perplexity outputs: "
            f"{sorted(clash)}")

    @pandas_udf("struct<b: long, c: long>")
    def score(texts):  # no hints: annotations future + local imports
        rows = [_lm.score_doc(t, model) for t in texts]
        return pd.DataFrame({"b": [r[0] for r in rows],
                             "c": [r[1] for r in rows]})

    out = (df.withColumn("_lm", score(F.col(text_col)))
             .withColumn("lm_bigrams", F.col("_lm.b"))
             .withColumn("lm_cost", F.col("_lm.c"))
             .withColumn(
                 "lm_mean_cost",
                 F.when(F.col("lm_bigrams") > 0,
                        F.round(F.col("lm_cost") / F.col("lm_bigrams")
                                / F.lit(float(model["scale"])), 6)))
             .drop("_lm"))
    if threshold is not None:
        thr_e4 = int(round(threshold * model["scale"]))
        out = out.withColumn(
            "high_perplexity",
            (F.col("lm_cost") > F.lit(thr_e4) * F.col("lm_bigrams"))
            & (F.col("lm_bigrams") > 0))
    return out
