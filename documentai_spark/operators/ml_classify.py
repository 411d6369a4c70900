"""ML classification vote: the reference's 4th technique, Spark-native.

The reference trains scikit-learn TF-IDF (1-4gram, 15k features,
sublinear) + LogisticRegression(balanced) OFFLINE and ships the pickle
into the per-page vote (document_classification_updated/
train_model_auto.py:28-51; documentClassifier.py:162-205 predict;
model/model_info.json records CV accuracy 0.9212 on 18 classes).

Spark-first rebuild, same train-offline / apply-at-scale split:

- **Training** (``train_frozen_classifier``) mirrors the reference's
  featurizer term-for-term: explicit vocabulary of 1-4grams capped at
  ``vocab_size`` (CountVectorizer-equivalent, ordered by corpus count
  with a deterministic term tie-break), sklearn's smooth-idf
  ``ln((1+n)/(1+df)) + 1`` and sublinear tf ``1 + ln(tf)`` — built
  entirely with DataFrame ops (explode -> broadcast-joinable vocab ->
  map_from_entries -> dense array -> vector; no Python UDF), then MLlib
  LogisticRegression (multinomial, no standardization — sklearn
  parity). Driver actions (count/collect of the ≤15k-term vocab) are
  trainer-path only, never in scoring.

- **Scoring** (``predict_with_topk``) applies the model the way the
  reference applies its pickle — as a frozen artifact. The fitted
  (coef x idf) matrix is compiled to INTEGER weights
  (round(w * 1e6)), and the sublinear-tf curve is compiled to a frozen
  integer LUT ``f(tf) = round((1 + ln tf) * FSCALE)`` for tf = 1..cap
  (values frozen INTO meta.json — neither engine evaluates ln() live,
  so there is no cross-engine 1-ulp risk). A document's class score is
  ``intercept*FSCALE + sum over distinct terms of w_c(term) *
  f(min(tf, cap))`` — the SAME sublinear feature the trainer used
  (predict == train, the reference's predict path applies its fitted
  vectorizer identically, documentClassifier.py:162-205), as pure
  integer sums over an explode + broadcast-join + tf-count + groupBy
  plan, which (a) is the 100 TB shape (no vectors, no vocabulary scan
  per row, map-side combine — tf counts complete map-side because a
  document's terms live in one partition), and (b) is EXACT under any
  aggregation order, so the DuckDB gate oracle replays it bit-for-bit
  (float sums would be shuffle-order-dependent). tf saturates at
  ``tf_cap`` (64): beyond it the sublinear curve is nearly flat
  (1+ln(64)=5.16 vs 1+ln(1000)=7.9) and the clamp keeps the LUT finite;
  the saturation point is part of the frozen artifact.

Top-3 predictions (documentClassifier.py:199-203 argsort()[-3:]) come
from the integer score vector via a sorted struct slice (W3);
ml_confidence is the softmax over the de-scaled scores.
"""

from __future__ import annotations

import json
import os
import warnings
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# pinned tokenization, identical in the DuckDB mirror: lowercase, split
# on the ASCII whitespace class (spelled out — RE2's \s lacks \x0b and
# \x1c-\x1f, Java's \s lacks \x1c-\x1f)
_WS_SPLIT = r"[ \t\n\x0b\f\r\x1c-\x1f]+"
SCALE = 1_000_000
# sublinear-tf LUT quantization: f(tf) = round((1 + ln tf) * FSCALE).
# FSCALE=1e4 keeps worst-case integer scores far from int64 overflow
# under ANSI mode (w <= ~1e8, f <= ~5.2e4, 15k terms -> ~1e17 < 2^63)
# while the quantization error (~1e-5 relative) is far below any
# decision margin.
FSCALE = 10_000
TF_CAP = 64


def sublinear_lut(cap: int = TF_CAP, fscale: int = FSCALE) -> list[int]:
    """f(tf) for tf = 1..cap, frozen at train time so both engines replay
    identical integers (f(1) = fscale exactly: ln 1 = 0)."""
    import math
    return [round((1.0 + math.log(tf)) * fscale) for tf in range(1, cap + 1)]


def tokens_col(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), _WS_SPLIT),
                    lambda x: x != F.lit(""))


def _gram_join(toks: Column, n: int):
    """Unary slice-join lambda for F.transform. MUST stay single-
    parameter: pyspark inspects the lambda's ARITY, and a second
    parameter (even a defaulted one like ``n=n``) turns it into the
    binary (element, index) form — the index silently replaces the
    captured value. That exact bug shipped in r4: ``lambda i, n=n:``
    made every slice length the element INDEX, corrupting the n-gram
    expansion (caught by the r5 exact score-parity test; the gate had
    stayed green because only the argmax is hashed). ``n`` binds here
    via the enclosing call frame — eager, no late-binding hazard."""
    return lambda i: F.array_join(F.slice(toks, i, n), " ")


def _ngrams_from(toks: Column, max_ngram: int) -> Column:
    """1..max_ngram space-joined grams over an already-projected
    token-array attribute (TfidfVectorizer(ngram_range=(1,4)) analog,
    train_model_auto.py:27-31). MUST take an attribute, never an
    expression tree: interpreted HOF lambdas re-evaluate embedded
    subtrees per element — an inline tokenization here measured 7.4x
    slower on the sf0.1 documents and quadratic on mega docs (same
    mechanism as dedup.with_shingles); lambda bodies below reference
    only the attribute and the lambda variable."""
    parts = [toks]
    for n in range(2, max_ngram + 1):
        grams = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
                _gram_join(toks, n),
            )).otherwise(F.array().cast("array<string>"))
        parts.append(grams)
    return F.concat(*parts)


def explode_terms(df: DataFrame, text_col: str, keep: list[str],
                  max_ngram: int = 4) -> DataFrame:
    """(keep..., term) rows: tokenization staged in its own projection so
    the ngram lambdas read a row attribute instead of re-evaluating the
    split per element (see _ngrams_from)."""
    toksed = df.select(*keep, tokens_col(F.col(text_col)).alias("_tk"))
    return toksed.select(
        *keep, F.explode(_ngrams_from(F.col("_tk"), max_ngram))
                .alias("term"))


def build_vocab(labeled: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", vocab_size: int = 15000,
                max_ngram: int = 4) -> DataFrame:
    """(term, idx, idf) vocabulary: top vocab_size terms by corpus count
    (CountVectorizer max_features semantics) with a deterministic term
    tie-break; smooth idf = ln((1+n_docs)/(1+df)) + 1 (sklearn default).
    """
    from pyspark.sql import Window
    n_docs = labeled.count()
    terms = explode_terms(labeled, text_col, [id_col], max_ngram)
    vocab = (terms.groupBy("term")
                  .agg(F.count(F.lit(1)).alias("cnt"),
                       F.countDistinct(id_col).alias("df"))
                  .orderBy(F.desc("cnt"), F.asc("term"))
                  .limit(vocab_size))
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    return (vocab.withColumn("idx", F.row_number().over(w) - 1)
                 .withColumn("idf", F.log((F.lit(float(n_docs + 1)))
                                          / (F.col("df") + F.lit(1.0)))
                             + F.lit(1.0))
                 .select("term", "idx", "idf"))


@dataclass
class FrozenTextClassifier:
    """Compiled linear text classifier: the offline-trained artifact
    applied at scale (the reference's model.pkl analog). ``weights`` has
    one row per vocab term with an integer weight column per class
    (``w_0`` .. ``w_{k-1}``, label order = ``labels``); score_c(doc) =
    intercepts[c]*fscale + sum over distinct terms of
    w_c(term) * f_lut[min(tf, tf_cap)] — the frozen sublinear-tf scheme
    (f_lut[tf] = round((1 + ln tf) * fscale), tf 1-indexed)."""
    labels: list[str]
    intercepts: list[int]
    weights: DataFrame
    max_ngram: int = 4
    f_lut: list[int] = None
    fscale: int = FSCALE
    tf_cap: int = TF_CAP

    def __post_init__(self):
        if self.f_lut is None:
            self.f_lut = sublinear_lut(self.tf_cap, self.fscale)
        self._wmap = None

    def weight_map(self) -> dict:
        """``{term: (w_0, ..., w_{k-1})}`` — the compiled weights as a
        driver-side dict for the Arrow scorer closure. One bounded
        collect per model instance (vocab_size-capped, same bound the
        trainer's vocab collect documents), cached."""
        if self._wmap is None:
            kcls = len(self.labels)
            self._wmap = {
                r["term"]: tuple(int(r[f"w_{c}"]) for c in range(kcls))
                for r in self.weights.collect()}
        return self._wmap

    def save(self, path: str) -> None:
        self.weights.coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(path, "weights.parquet"))
        with open(os.path.join(path, "meta.json"), "w") as f:
            json.dump({"labels": self.labels,
                       "intercepts": self.intercepts,
                       "max_ngram": self.max_ngram,
                       "scale": SCALE,
                       "fscale": self.fscale,
                       "tf_cap": self.tf_cap,
                       "f_lut": self.f_lut}, f, indent=1)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "FrozenTextClassifier":
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        return cls(labels=list(meta["labels"]),
                   intercepts=[int(x) for x in meta["intercepts"]],
                   weights=spark.read.parquet(
                       os.path.join(path, "weights.parquet")),
                   max_ngram=int(meta["max_ngram"]),
                   f_lut=[int(x) for x in meta["f_lut"]],
                   fscale=int(meta["fscale"]),
                   tf_cap=int(meta["tf_cap"]))


def train_frozen_classifier(labeled: DataFrame, text_col: str = "text",
                            label_col: str = "label_str",
                            id_col: str = "doc_id",
                            vocab_size: int = 15000, max_ngram: int = 4,
                            reg_param: float = 1e-4,
                            max_iter: int = 60) -> FrozenTextClassifier:
    """Fit a TF-IDF + logistic-regression model in the REFERENCE'S
    FAMILY (train_model_auto.py:28-51), then compile it to a
    FrozenTextClassifier (integer (coef x idf) weights).

    Honest deviation list (r7 review — this is NOT term-for-term
    TfidfVectorizer + LogisticRegression(class_weight='balanced')):
    sublinear tf and smooth idf match, but rows are NOT l2-normalized,
    there is no max_df pruning, tokenization is the pinned whitespace
    class (sklearn's default token_pattern drops 1-char tokens and
    splits on punctuation), accents are not stripped, and classes are
    unweighted. These are deliberate: the replay contract (the DuckDB
    oracle re-derives every integer score bit-for-bit) requires a
    featurizer both engines can express exactly, and the frozen
    artifact — not the trainer — is the production interface. Accuracy
    comparisons against the reference's reported number are therefore
    family-level, not apples-to-apples."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    spark = labeled.sparkSession
    vocab = build_vocab(labeled, text_col, id_col, vocab_size, max_ngram)
    vocab_rows = vocab.collect()          # <= vocab_size; trainer-only
    n_feat = len(vocab_rows)
    labels = sorted(r[0] for r in
                    labeled.select(label_col).distinct().collect())
    lbl_idx = None
    for i, lb in enumerate(labels):       # sklearn classes_ = sorted
        branch = F.when(F.col(label_col) == lb, F.lit(float(i)))
        lbl_idx = branch if lbl_idx is None else lbl_idx.when(
            F.col(label_col) == lb, F.lit(float(i)))
    tf = (explode_terms(labeled, text_col, [id_col, label_col],
                        max_ngram)
                 .groupBy(id_col, label_col, "term")
                 .agg(F.count(F.lit(1)).alias("tf"))
                 .join(F.broadcast(vocab), "term"))
    # sublinear tf * smooth idf (train_model_auto.py:28-31)
    val = (F.lit(1.0) + F.log(F.col("tf").cast("double"))) * F.col("idf")
    feats = (tf.withColumn("val", val)
               .groupBy(id_col, label_col)
               .agg(F.map_from_entries(
                   F.collect_list(F.struct("idx", "val"))).alias("m"))
               .withColumn("features", array_to_vector(F.transform(
                   F.sequence(F.lit(0), F.lit(n_feat - 1)),
                   lambda i: F.coalesce(F.col("m")[i], F.lit(0.0)))))
               .withColumn("label", lbl_idx)
               .select("features", "label"))
    # single-partition cache: LBFGS re-evaluates the input per iteration
    feats = feats.coalesce(1).cache()
    lr = LogisticRegression(maxIter=max_iter, regParam=reg_param,
                            family="multinomial", standardization=False)
    model = lr.fit(feats)
    feats.unpersist()
    coef = model.coefficientMatrix.toArray()      # k x n_feat
    inter = model.interceptVector.toArray()
    wrows = []
    for r in vocab_rows:
        term, idx, idf = r["term"], r["idx"], r["idf"]
        wrows.append((term, *[int(round(float(coef[c][idx]) * idf * SCALE))
                              for c in range(len(labels))]))
    wdf = spark.createDataFrame(
        wrows, ["term"] + [f"w_{c}" for c in range(len(labels))])
    return FrozenTextClassifier(
        labels=labels,
        intercepts=[int(round(float(x) * SCALE)) for x in inter],
        weights=wdf, max_ngram=max_ngram)


def _score_sums(model: FrozenTextClassifier, handled: DataFrame,
                key: str, text_col: str) -> DataFrame:
    """(key, _s0.._s{k-1}) raw weighted sums (no intercepts): explode
    terms -> broadcast-join weights -> per-(doc, term) tf -> frozen
    sublinear LUT factor -> integer groupBy sums. The partial (map-side)
    aggregation already yields the COMPLETE tf, because a document's
    exploded terms all live in its own input partition — the exchange
    ships one final (key, term, tf) row per distinct vocab hit."""
    kcls = len(model.labels)
    w_cols = [f"w_{c}" for c in range(kcls)]
    hits = explode_terms(handled, text_col, [key], model.max_ngram) \
        .join(F.broadcast(model.weights), "term")
    tf = hits.groupBy(key, "term", *w_cols) \
             .agg(F.count(F.lit(1)).alias("_tf"))
    # frozen sublinear factor: f_lut is 1-indexed by tf, saturating at
    # tf_cap (see module docstring)
    f = F.element_at(F.lit(model.f_lut),
                     F.least(F.col("_tf"),
                             F.lit(model.tf_cap)).cast("int"))
    return (tf.select(key, *[(F.col(w) * f).alias(w) for w in w_cols])
              .groupBy(key)
              .agg(*[F.sum(w_cols[c]).alias(f"_s{c}")
                     for c in range(kcls)]))


def _score_sums_udf(model: FrozenTextClassifier):
    """Arrow-batched integer scorer: LOWERED text -> array<long> of the
    k raw weighted sums (no intercepts) — the per-row form of
    :func:`_score_sums` (optimization r9, guide §4.2).

    Why: the explode-terms form spent ~7 s of ml_scores' 9 s at sf1.0
    constructing every 1..4-gram as a JVM ``array_join(slice(...))``
    before the broadcast join dropped ~99% of them. Here grams are only
    materialized when their FIRST token starts some multi-word vocab
    term (the starter set — sound: a gram not starting with a starter
    cannot be in the vocab, and skipped grams contribute nothing to any
    vocab term's tf), and the whole tf -> sublinear-LUT -> integer-sum
    pipeline runs on exact Python ints (overflow-free, same integers as
    the groupBy form — equality pinned by
    tests/test_ml_classify.py::test_scorer_udf_matches_expr and the
    DuckDB gate oracle). Lowercasing stays JVM-side (``F.lower``) so
    unicode case mapping never depends on Python.

    Per-row scoring also removes the score join entirely: no handle
    column, no monotonically_increasing_id fallback, no localCheckpoint
    pin — every input row scores in place, which is the same semantics
    the join-by-unique-key form had.
    """
    import re as _re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    wmap = model.weight_map()
    f_lut = [int(x) for x in model.f_lut]
    cap = model.tf_cap
    kcls = len(model.labels)
    max_ngram = model.max_ngram
    starters = frozenset(t.split(" ", 1)[0] for t in wmap if " " in t)
    ws_re = _re.compile(_WS_SPLIT)

    @pandas_udf("array<long>")
    def score(lowered):  # no hints: annotations future + local imports
        from collections import Counter
        out = []
        zeros = [0] * kcls
        for s in lowered:
            toks = [t for t in ws_re.split(s or "") if t]
            cnt = Counter(toks)
            n = len(toks)
            for g in range(2, max_ngram + 1):
                joiner = " ".join
                for i in range(n - g + 1):
                    if toks[i] in starters:
                        cnt[joiner(toks[i:i + g])] += 1
            acc = list(zeros)
            for term, tf in cnt.items():
                w = wmap.get(term)
                if w is not None:
                    f = f_lut[tf - 1] if tf <= cap else f_lut[cap - 1]
                    for c in range(kcls):
                        acc[c] += w[c] * f
            out.append(acc)
        return pd.Series(out)

    return score


def integer_scores(model: FrozenTextClassifier, df: DataFrame,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """(id_col, s0..s{k-1}): the frozen integer class scores —
    intercept*fscale + sum over distinct terms of w_c * f_lut[min(tf,
    cap)] — for every input row (no-hit rows score intercept-only).
    This is EXACTLY the integer the DuckDB oracle replays, exposed for
    score-level gate checks (stronger than the argmax-only
    classify_vote hash).

    r9: scores come from the per-row Arrow scorer
    (:func:`_score_sums_udf`) — no term explode, no score join; the
    grouped expression form stays as :func:`_score_sums` (equality
    pinned by tests/test_ml_classify.py::test_scorer_udf_matches_expr).
    """
    kcls = len(model.labels)
    score = _score_sums_udf(model)
    out = df.select(id_col,
                    score(F.lower(F.col(text_col))).alias("_sums"))
    score_cols = [
        (F.coalesce(F.element_at(F.col("_sums"), c + 1), F.lit(0))
         + F.lit(model.intercepts[c] * model.fscale)).cast("long")
        .alias(f"s{c}")
        for c in range(kcls)]
    return out.select(id_col, *score_cols)


def predict_with_topk(model: FrozenTextClassifier, df: DataFrame,
                      text_col: str = "text", k: int = 3,
                      id_col: str | None = None) -> DataFrame:
    """Adds ml_category + ml_confidence + ml_topk (W3 top-k classes).

    Per-row integer class sums from the Arrow scorer
    (:func:`_score_sums_udf` over the JVM-lowercased text: terms, tf,
    the frozen sublinear LUT factor — the SAME feature the trainer
    fitted — and the integer weights), then the intercepts, ranking
    and max-subtracted softmax as JVM expressions. No explode, no
    join, no shuffle; the input is never renamed, so a caller-side
    'text' column cannot collide (ADVICE r2).

    ``id_col`` is deprecated and ignored: scoring has been per-row
    since r9, so there is no score join to key. Passing it warns
    (DeprecationWarning).
    """
    if id_col is not None:
        warnings.warn("predict_with_topk: id_col is ignored (scoring is "
                      "per-row) and will be removed",
                      DeprecationWarning, stacklevel=2)
    kcls = len(model.labels)
    reserved = {f"_s{c}" for c in range(kcls)} | {"_ranked", "_denom",
                                                 "_sums"}
    clash = reserved & set(df.columns)
    if clash:
        # exact-name collisions would be silently clobbered by the score
        # select below (ADVICE r3) — refuse loudly instead
        raise ValueError(
            f"input columns collide with predict_with_topk internals: "
            f"{sorted(clash)}")
    score = _score_sums_udf(model)
    out = df.withColumn("_sums", score(F.lower(F.col(text_col))))
    score_cols = []
    for c in range(kcls):
        s = (F.coalesce(F.element_at(F.col("_sums"), c + 1), F.lit(0))
             + F.lit(model.intercepts[c] * model.fscale)).cast("long")
        score_cols.append(s.alias(f"_s{c}"))
    out = out.select(*[cc for cc in out.columns if cc != "_sums"],
                     *score_cols)
    # ranked structs: sort asc by (-score, label) == desc score, asc label
    ranked = F.array_sort(F.array(*[
        F.struct((-F.col(f"_s{c}")).alias("neg"),
                 F.lit(model.labels[c]).alias("category"),
                 F.col(f"_s{c}").alias("s"))
        for c in range(kcls)]))
    # softmax over de-scaled scores for the reference's probability
    # shape. Max-SUBTRACTED (r7 review): the integer scores are bounded
    # ~1e17, i.e. de-scaled logits up to ~1e7, while exp() overflows a
    # double at ~709 — without the shift a long document with thousands
    # of vocab hits turned ml_confidence into inf/inf = NaN. After the
    # shift the top class's exp is exactly 1.0 and every term is in
    # (0, 1] — overflow-free at any score magnitude.
    descale = float(SCALE) * float(model.fscale)
    smax = F.element_at(ranked, 1)["s"]
    exps = [F.exp((F.col(f"_s{c}") - smax).cast("double")
                  / F.lit(descale))
            for c in range(kcls)]
    denom = exps[0]
    for e in exps[1:]:
        denom = denom + e
    top_expr = F.element_at(ranked, 1)
    # _denom staged as its own column: the topk lambda then reads an
    # attribute (arrays here are k<=n_classes long, so even an inlined
    # subtree would be cheap — but attributes keep the plan clean)
    out = (out.withColumn("_denom", denom)
              .withColumn("_ranked", ranked)
              .withColumn("ml_category", top_expr["category"])
              .withColumn("ml_confidence",
                          # exp((smax - smax)/d) == 1.0 exactly —
                          # identical to ml_topk's leading p
                          F.lit(1.0) / F.col("_denom"))
              .withColumn("ml_topk", F.transform(
                  F.slice("_ranked", 1, k),
                  # softmax probability, the reference's predict_proba
                  # top-3 shape (documentClassifier.py:199-203) — was the
                  # raw de-scaled linear score until r4 (ADVICE r3);
                  # max-subtracted like the denominator (r7)
                  lambda x: F.struct(
                      (F.exp((x["s"] - F.element_at(F.col("_ranked"),
                                                    1)["s"])
                             .cast("double") / F.lit(descale))
                       / F.col("_denom")).alias("p"),
                      x["category"].alias("category")))))
    drop = ["_ranked", "_denom"] + [f"_s{c}" for c in range(kcls)]
    return out.drop(*drop)


def classify_with_ml_vote(df: DataFrame, cfg, model: FrozenTextClassifier,
                          text_col: str = "extracted_text",
                          default: str = "unclassified",
                          id_col: str | None = None) -> DataFrame:
    """The full 4-technique ensemble: 3 rule techniques + the frozen ML
    model as the 4th vote with k/4 confidence (documentClassifier.py:
    898-948 — 'Add ML classifier as 4th technique' + 4/4 final
    classification). ``id_col`` is deprecated and ignored, as in
    :func:`predict_with_topk` (which warns when it is passed)."""
    from documentai_spark.operators.classify import classify_with_vote
    scored = predict_with_topk(model, df, text_col=text_col, id_col=id_col)
    return classify_with_vote(scored, cfg, text_col=text_col,
                              default=default,
                              ml_category_col="ml_category")


def synthesize_labeled_docs(spark, n_per_class: int = 120,
                            seed: int = 42) -> DataFrame:
    """Deterministic labeled corpus: class-specific vocabulary + shared
    noise words (mirrors the fixture style; hash-driven, seed-fixed)."""
    import hashlib

    vocab = {
        "invoice": "invoice amount total unit price payment due tax".split(),
        "purchase_order": "purchase order po number supplier delivery".split(),
        "letter_of_credit": ("letter credit beneficiary applicant swift "
                             "documentary").split(),
        "shipping": "vessel port lading freight container bill".split(),
    }
    noise = "the of and to for with this that from under".split()
    rows = []
    i = 0
    for label, words in vocab.items():
        for j in range(n_per_class):
            h = int.from_bytes(hashlib.md5(
                f"{seed}|{label}|{j}".encode()).digest()[:8], "big")
            toks = []
            for t in range(12 + h % 8):
                src = words if (h >> t) % 3 else noise
                toks.append(src[(h >> (t % 13)) % len(src)])
            rows.append((i, " ".join(toks), label))
            i += 1
    return spark.createDataFrame(rows, ["doc_id", "text", "label_str"])


_CLASSES_18 = {
    # 18 trade-document classes, the reference model's shape
    # (classification-service/model/model_info.json: 18 classes, 559
    # samples, CV accuracy 0.9212). Distinctive terms per class PLUS a
    # shared trade-vocabulary pool so classes genuinely overlap — the
    # benchmark is not trivially separable.
    "invoice": "invoice receivable billing vat".split(),
    "purchase_order": "purchase requisition procurement buyer".split(),
    "letter_of_credit": "credit documentary issuing confirming".split(),
    "bill_of_lading": "lading onboard carrier consignee".split(),
    "packing_list": "packing carton gross nett".split(),
    "certificate_of_origin": "origin chamber preferential exporter".split(),
    "insurance_certificate": "insurance policy premium coverage".split(),
    "bank_guarantee": "guarantee surety obligor demand".split(),
    "customs_declaration": "customs declaration hs tariff".split(),
    "delivery_note": "delivery dispatch received driver".split(),
    "credit_note": "adjustment refund overcharge reversal".split(),
    "debit_note": "debit undercharge supplementary claim".split(),
    "quotation": "quotation validity offer estimate".split(),
    "proforma_invoice": "proforma advance prepayment pro".split(),
    "inspection_certificate": "inspection surveyor conformity sample".split(),
    "airway_bill": "airway flight awb iata".split(),
    "remittance_advice": "remittance transfer swift settlement".split(),
    "shipping_instruction": "instruction booking stuffing cutoff".split(),
}

_SHARED_TRADE = ("amount total date number goods shipment port vessel "
                 "payment terms bank document party reference currency "
                 "quantity unit description value country").split()


def synthesize_labeled_docs_18(spark, n_per_class: int = 31,
                               seed: int = 42) -> DataFrame:
    """Deterministic 18-class / ~560-doc corpus matching the reference
    model's benchmark shape (18 classes, 559 samples). Roughly half of
    each document is the SHARED trade vocabulary (so classes overlap and
    the task is non-trivial); the rest draws from the class's distinctive
    terms. Used by the ML-fidelity test (holdout accuracy vs the
    reference's 0.9212 CV accuracy)."""
    import hashlib

    rows = []
    i = 0
    for label, words in _CLASSES_18.items():
        for j in range(n_per_class):
            h = int.from_bytes(hashlib.md5(
                f"{seed}|18|{label}|{j}".encode()).digest()[:8], "big")
            toks = []
            for t in range(14 + h % 10):
                bit = (h >> (t % 29)) & 3
                src = words if bit == 0 else _SHARED_TRADE
                toks.append(src[(h >> ((t * 5) % 23)) % len(src)])
            rows.append((i, " ".join(toks), label))
            i += 1
    return spark.createDataFrame(rows, ["doc_id", "text", "label_str"])
