"""Confidence + verdict + recommendations as pure Spark SQL expressions.

The reference's verdict machinery is scalar threshold logic
(quality_analysis_updated/quality_config.py:39-129), so it stays JVM-side
in whole-stage codegen — no Python round trip (SURVEY §2.10:
``verdict_for_page`` -> pure when/otherwise).

Arithmetic is written in exactly the oracle's operation order
(core/quality.confidence_score — the r3 12-POINT scheme: sequential
weighted sum legibility*3 + completeness*3 + (1-skew)*2 + (1-noise)*2 +
contrast*1 + brightness*1, then /12; skew and noise are REVERSE
metrics; blank is EXCLUDED like the reference excludes
blank_page_score, and edge_crop/shadow_glare/resolution are
reported-only — quality_config.py:45-53,119-121) so the IEEE-double
results are bit-identical to the pytest oracle — verified by
tests/test_pipeline_oracle.py. A low critical metric (legibility,
skew, noise — CRITICAL_LOW) returns the flat 0.55 outright
(quality_config.py:57-62), and the blank hard block ZEROES confidence
alongside the 're-scan' verdict (the CLAUDE.md r3 invariant; this
docstring used to describe the retired /10 no-skew r2 formula).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from documentai_spark.core.quality import (
    BLANK_LOW, BLANK_RECOMMENDATION, CONFIDENCE_W_TOTAL, CRITICAL_CAP,
    CRITICAL_LOW, METRIC_THRESHOLDS, RECOMMENDATION_TEXT, REVERSE_METRICS,
    VERDICT_AZURE, VERDICT_DIRECT, VERDICT_PREPROCESS, _METRIC_ORDER,
)
from documentai_spark.functions import sqltext

_METRIC_COL = {"legibility": "q_legibility", "completeness":
               "q_completeness", "skew": "q_skew", "noise": "q_noise",
               "contrast": "q_contrast", "brightness": "q_brightness",
               "edge_crop": "q_edge_crop",
               "shadow_glare": "q_shadow_glare",
               "resolution": "q_resolution"}

# The four columns are SQL text generated once at import (pure strings,
# parsed by one F.expr each per plan): built node by node through F.*
# they cost ~2,000 py4j round trips per plan. Every binary operation is
# parenthesized in the oracle's evaluation order and every double is a
# <repr>D literal, so the parsed trees — and the IEEE results — are the
# ones the builder form made.
_d = sqltext.double
_BLANK_HARD = f"(`q_blank` >= {_d(BLANK_LOW)})"


def _confidence_sql() -> str:
    """Weighted mean with the critical flat-return
    (quality_config.py:39-74 analog; the reference's full 12-point scheme:
    legibility 3, completeness 3, skew 2 reversed, noise 2 reversed,
    contrast 1, brightness 1), summed left to right then divided. The
    blank hard block zeroes confidence alongside the 're-scan' verdict —
    verdict_for_page returns (re-scan, 0.0) (quality_config.py:109-121)."""
    terms = [f"(`q_legibility` * {_d(3.0)})",
             f"(`q_completeness` * {_d(3.0)})",
             f"(({_d(1.0)} - `q_skew`) * {_d(2.0)})",
             f"(({_d(1.0)} - `q_noise`) * {_d(2.0)})",
             f"(`q_contrast` * {_d(1.0)})",
             f"(`q_brightness` * {_d(1.0)})"]
    acc = terms[0]
    for t in terms[1:]:
        acc = f"({acc} + {t})"
    conf = f"({acc} / {_d(CONFIDENCE_W_TOTAL)})"
    low = _d(CRITICAL_LOW)
    critical_low = (f"(((`q_legibility` < {low}) OR "
                    f"(({_d(1.0)} - `q_skew`) < {low})) OR "
                    f"(({_d(1.0)} - `q_noise`) < {low}))")
    return (f"CASE WHEN {_BLANK_HARD} THEN {_d(0.0)} ELSE "
            f"CASE WHEN {critical_low} THEN {_d(CRITICAL_CAP)} "
            f"ELSE {conf} END END")


def _verdict_sql() -> str:
    """4-way verdict + blank hard blocker (quality_config.py:86-129).
    The blank "low" branch short-circuits before the confidence logic —
    the X3 hard-blocker early exit, free under CASE ordering."""
    s = sqltext.string
    return (f"CASE WHEN {_BLANK_HARD} THEN {s('re-scan')} "
            f"WHEN (`confidence` >= {_d(VERDICT_DIRECT)}) "
            f"THEN {s('direct analysis')} "
            f"WHEN (`confidence` >= {_d(VERDICT_PREPROCESS)}) "
            f"THEN {s('pre-processing')} "
            f"WHEN (`confidence` >= {_d(VERDICT_AZURE)}) "
            f"THEN {s('azure document analysis')} "
            f"ELSE {s('reupload')} END")


def _recommendations_sql() -> str:
    """array<string> of '{Metric}: {advice}' lines per non-excellent
    metric (generate_recommendations, quality_config.py:96-103), with the
    blank hard blocker short-circuiting to the single re-scan line
    (quality_config.py:109-116). Metric order is pinned
    (core/quality._METRIC_ORDER) so the array matches the oracle. A
    metric's category is excellent/good/medium/low by the threshold
    table; a reverse metric is categorized on 1-value
    (core/quality.metric_category; quality_config.py:17-27)."""
    s = sqltext.string
    entries = []
    for m in _METRIC_ORDER:
        col = sqltext.ident(_METRIC_COL[m])
        v = f"({_d(1.0)} - {col})" if m in REVERSE_METRICS else col
        exc, good, med = METRIC_THRESHOLDS[m]
        cat = (f"CASE WHEN ({v} >= {_d(exc)}) THEN 'excellent' "
               f"WHEN ({v} >= {_d(good)}) THEN 'good' "
               f"WHEN ({v} >= {_d(med)}) THEN 'medium' ELSE 'low' END")
        label = m.replace("_", " ").capitalize()
        entries.append("CASE " + " ".join(   # NULL on 'excellent'
            f"WHEN ({cat} = '{c}') "
            f"THEN {s(f'{label}: {RECOMMENDATION_TEXT[m][c]}')}"
            for c in ("good", "medium", "low")) + " END")
    recs = f"filter(array({', '.join(entries)}), x -> (x IS NOT NULL))"
    return (f"CASE WHEN {_BLANK_HARD} "
            f"THEN array({s(BLANK_RECOMMENDATION)}) ELSE {recs} END")


CONFIDENCE_SQL = _confidence_sql()
VERDICT_SQL = _verdict_sql()
# the P4 preprocessing-need predicate (api-gateway/app.py:132-219
# analog) over the verdict, inlined so it rides the verdict's projection
NEEDS_PREPROCESSING_SQL = (f"(({VERDICT_SQL}) IN ('pre-processing', "
                           "'azure document analysis'))")
RECOMMENDATIONS_SQL = _recommendations_sql()


def with_verdict(df: DataFrame) -> DataFrame:
    """Add confidence / verdict / needs_preprocessing / recommendations
    columns (pure SQL over the ten q_* metrics; two projections, the
    second reading ``confidence``)."""
    return (df.withColumns({"confidence": F.expr(CONFIDENCE_SQL)})
              .withColumns({
                  "verdict": F.expr(VERDICT_SQL),
                  "needs_preprocessing": F.expr(NEEDS_PREPROCESSING_SQL),
                  "recommendations": F.expr(RECOMMENDATIONS_SQL)}))
