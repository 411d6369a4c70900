"""Extraction + quality pandas UDFs (Arrow-batched; never per-row Python).

The per-page loop of the reference
(quality_analysis_updated/universal_analyzer.py:31-49 per-page metrics;
entity-extraction-service/app.py:547-593 span extraction) becomes one
vectorized call per Arrow batch — the CIDR'22 "Accelerating Python UDFs in
Vectorized Query Execution" pattern (PAPERS.md). The UDF bodies delegate to
``documentai_spark.core`` so the pytest oracle and the pipeline share one
implementation (byte-equality by construction; SURVEY §7.4 risk #1).

Design notes for 100 TB scale:

- UDFs are *column -> struct column* (SQL_SCALAR_PANDAS_UDF): they compose
  with Catalyst projections, survive whole-stage codegen around them, and
  keep the scan's predicate pushdown / column pruning intact (only ``text``
  is shipped to Python, nothing else).
- The extraction stage is embarrassingly parallel: no shuffle is needed or
  introduced. Skew defusal (salted repartition) is a separate explicit
  operator (documentai_spark.operators.skew).
- Spans travel as ``array<struct>`` columns (Arrow list<struct> — cheap
  columnar encoding, no JSON round-trip).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, MapType, StringType, StructField,
    StructType,
)

from documentai_spark.core.entities import (
    extract_entities, extraction_confidence,
)
from documentai_spark.core.extract import extract_turn

SPAN_TYPE = StructType([
    StructField("begin", IntegerType(), False),
    StructField("end", IntegerType(), False),
    StructField("kind", StringType(), False),
    StructField("text", StringType(), False),
])

EXTRACT_RESULT_TYPE = StructType([
    StructField("kind", StringType(), False),
    StructField("extracted_text", StringType(), False),
    StructField("spans", ArrayType(SPAN_TYPE, False), False),
])

QUALITY_RESULT_TYPE = StructType([
    StructField("q_blank", DoubleType(), False),
    StructField("q_legibility", DoubleType(), False),
    StructField("q_completeness", DoubleType(), False),
    StructField("q_skew", DoubleType(), False),
    StructField("q_noise", DoubleType(), False),
    StructField("q_contrast", DoubleType(), False),
    StructField("q_brightness", DoubleType(), False),
    StructField("q_edge_crop", DoubleType(), False),
    StructField("q_shadow_glare", DoubleType(), False),
    StructField("q_resolution", DoubleType(), False),
])

ENTITY_SPAN_TYPE = StructType([
    StructField("field", StringType(), False),
    StructField("value", StringType(), False),
    StructField("begin", IntegerType(), True),   # null = cascade missed
    StructField("end", IntegerType(), True),
])

ENTITY_RESULT_TYPE = StructType([
    StructField("entities", MapType(StringType(), StringType(), False), False),
    StructField("entity_spans", ArrayType(ENTITY_SPAN_TYPE, False), False),
    StructField("extraction_confidence", DoubleType(), False),
])

FUSED_RESULT_TYPE = StructType(
    EXTRACT_RESULT_TYPE.fields + QUALITY_RESULT_TYPE.fields)


@pandas_udf(EXTRACT_RESULT_TYPE)
def extract_udf(text: pd.Series) -> pd.DataFrame:
    """text -> (kind, extracted_text, spans); one call per Arrow batch."""
    kinds: list[str] = []
    texts: list[str] = []
    spans_col: list[list] = []
    for t in text:
        kind, extracted, spans = extract_turn(t)
        kinds.append(kind)
        texts.append(extracted)
        spans_col.append(spans)  # NamedTuples -> structs, no dict boxing
    return pd.DataFrame({"kind": kinds, "extracted_text": texts,
                         "spans": spans_col})


@pandas_udf(QUALITY_RESULT_TYPE)
def quality_udf(raw: pd.Series, extracted: pd.Series) -> pd.DataFrame:
    """(raw text, extracted text) -> ten quality metrics (the text
    analogs of the reference's 10-metric image ensemble; SURVEY App. A).

    Fully vectorized (operators/quality_vec mirrors core/quality
    bit-for-bit; equality pinned by tests). Confidence + verdict +
    recommendations are pure SQL on top (functions/verdict) — the
    reference's verdict machinery is scalar thresholds
    (quality_config.py:86-129), no UDF needed.
    """
    from documentai_spark.operators.quality_vec import (
        _Counts, blank_scores, brightness_scores, completeness_scores,
        contrast_scores, edge_crop_scores, legibility_scores, noise_scores,
        resolution_scores, shadow_glare_scores, skew_scores,
    )
    ext_f = extracted.fillna("")
    raw_f = raw.fillna("")
    c = _Counts(ext_f.tolist())
    # identity-extraction rows (plain turns, incl. the CPU-dominant mega
    # turns) share the count pass: blank consumes raw-side counts that are
    # value-equal to the extracted-side ones just computed (memcmp is
    # ~100x cheaper than recounting; r7 review — this path used to run
    # the full _Counts machinery twice per batch)
    same = (raw_f.to_numpy(dtype=object) == ext_f.to_numpy(dtype=object))
    c_raw = _Counts(raw_f.tolist(), reuse=(c, same))
    return pd.DataFrame({
        "q_blank": blank_scores(raw, counts=c_raw),
        "q_legibility": legibility_scores(extracted, counts=c),
        "q_completeness": completeness_scores(extracted, counts=c),
        "q_skew": skew_scores(extracted, counts=c),
        "q_noise": noise_scores(extracted, counts=c),
        "q_contrast": contrast_scores(extracted, counts=c),
        "q_brightness": brightness_scores(extracted, counts=c),
        "q_edge_crop": edge_crop_scores(extracted, counts=c),
        "q_shadow_glare": shadow_glare_scores(extracted, counts=c),
        "q_resolution": resolution_scores(extracted, counts=c),
    })


@pandas_udf(ENTITY_RESULT_TYPE)
def entity_udf(extracted: pd.Series) -> pd.DataFrame:
    """extracted text -> (flat entity map, char-offset entity spans,
    extraction confidence). Spans locate each entity value inside the
    text via the reference's exact -> consecutive-multi-word ->
    containment cascade (entity-extraction-service/app.py:682-755;
    core/spans.py is the pure-Python spec)."""
    from documentai_spark.core.spans import entity_spans
    ents = []
    spans = []
    confs = []
    for e in extracted:
        t = e or ""
        d = extract_entities(t)
        ents.append(d)
        spans.append(entity_spans(t, d) if d else [])
        confs.append(extraction_confidence(d))
    return pd.DataFrame({"entities": ents, "entity_spans": spans,
                         "extraction_confidence": confs})


@pandas_udf(FUSED_RESULT_TYPE)
def extract_quality_udf(text: pd.Series) -> pd.DataFrame:
    """Fused extraction + quality: ONE Arrow round-trip per batch.

    Running extract and quality as separate scalar UDFs ships the text to
    Python twice (and the extracted text back and forth once more) — at
    10^12 turns the exchange is pure waste since quality consumes exactly
    what extraction just produced inside the same worker. Fusing halves
    the Arrow transfer and keeps one python worker pass per batch.
    """
    from documentai_spark.operators.quality_vec import fused_quality
    kinds: list[str] = []
    texts: list[str] = []
    spans_col: list[list] = []
    for t in text:
        kind, extracted, spans = extract_turn(t)
        kinds.append(kind)
        texts.append(extracted)
        spans_col.append(spans)  # NamedTuples serialize as structs (2.3x
        # cheaper than dicts through the Arrow converter, measured)
    qb, ql, qc, qsk, qn, qct, qbr, qec, qsg, qre = fused_quality(text, texts)
    return pd.DataFrame({
        "kind": kinds, "extracted_text": texts, "spans": spans_col,
        "q_blank": qb, "q_legibility": ql, "q_completeness": qc,
        "q_skew": qsk, "q_noise": qn, "q_contrast": qct,
        "q_brightness": qbr, "q_edge_crop": qec, "q_shadow_glare": qsg,
        "q_resolution": qre,
    })


# r9 (guide 4.4): a filter on a UDF-derived column (kind, n_tables,
# quality gates) gets pushed below the projection by re-EVALUATING the
# UDF a second time under the Filter — measured as a duplicate
# ArrowEvalPython stage costing ~1.7s per filtering query at sf1.0.
# Marking the expensive extraction-family UDFs non-deterministic
# forbids the optimizer from duplicating them; the functions are pure,
# so results are unchanged (the flag only constrains plan rewrites).
extract_udf = extract_udf.asNondeterministic()
quality_udf = quality_udf.asNondeterministic()
entity_udf = entity_udf.asNondeterministic()
extract_quality_udf = extract_quality_udf.asNondeterministic()


def _with_struct_fields(df: DataFrame, udf_col, fields: list[str],
                        tmp: str) -> DataFrame:
    """``df`` plus one column per struct field of ``udf_col`` — three
    plan-building calls however many fields (a withColumn per field
    re-analyzed the whole plan each time)."""
    return (df.withColumn(tmp, udf_col)
              .withColumns({f: F.col(f"{tmp}.{f}") for f in fields})
              .drop(tmp))


def with_extraction_and_quality(df: DataFrame,
                                text_col: str = "text") -> DataFrame:
    """Fused stage used by the flagship pipeline (no shuffle)."""
    return _with_struct_fields(df, extract_quality_udf(F.col(text_col)),
                               FUSED_RESULT_TYPE.fieldNames(), "_xq")


def with_extraction(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add kind / extracted_text / spans columns (no shuffle)."""
    return _with_struct_fields(df, extract_udf(F.col(text_col)),
                               EXTRACT_RESULT_TYPE.fieldNames(), "_x")


def with_quality(df: DataFrame, raw_col: str = "text",
                 extracted_col: str = "extracted_text") -> DataFrame:
    """Add the TEN q_* metric columns (no shuffle; the r3 ten-metric ensemble — see core/quality)."""
    return _with_struct_fields(
        df, quality_udf(F.col(raw_col), F.col(extracted_col)),
        QUALITY_RESULT_TYPE.fieldNames(), "_q")


def with_entities(df: DataFrame,
                  extracted_col: str = "extracted_text") -> DataFrame:
    """Add entities map + entity_spans + extraction_confidence (no
    shuffle)."""
    return _with_struct_fields(df, entity_udf(F.col(extracted_col)),
                               ENTITY_RESULT_TYPE.fieldNames(), "_e")
