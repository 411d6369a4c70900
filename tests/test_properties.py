"""Property-based tests (hypothesis) for the oracle core: totality,
span-offset integrity, score bounds, and scalar/vectorized agreement on
arbitrary inputs (not just the fixture domain)."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from documentai_spark.core.entities import (
    completeness_from_text, extract_entities,
)
from documentai_spark.core.extract import extract_turn
from documentai_spark.core.quality import (
    blank_score, brightness_score, contrast_score, edge_crop_score,
    legibility_score, noise_score, resolution_score, score_turn,
    shadow_glare_score, skew_score,
)
from documentai_spark.operators.quality_vec import (
    blank_scores, brightness_scores, contrast_scores, edge_crop_scores,
    legibility_scores, noise_scores, resolution_scores,
    shadow_glare_scores, skew_scores,
)

# texts that stress the parsers: html-ish tags, layout whitespace, control
# chars, unicode, long runs
text_strategy = st.one_of(
    st.text(max_size=400),
    st.text(alphabet="<>/abptdlrhu ul\n\t ", max_size=300),
    st.text(alphabet=st.characters(min_codepoint=0, max_codepoint=0x2FF),
            max_size=200),
    st.builds(lambda a, b: f"<p>{a}</p><table><tr><td>{b}</td></tr>",
              st.text(max_size=80), st.text(max_size=40)),
    st.builds(lambda lines: "\n".join(lines),
              st.lists(st.text(alphabet="abc  ", max_size=30), max_size=8)),
)


@settings(max_examples=300, deadline=None)
@given(text_strategy)
def test_extract_total_and_spans_valid(text):
    kind, extracted, spans = extract_turn(text)
    assert kind in ("plain", "html", "layout")
    prev_end = 0
    for s in spans:
        assert 0 <= s.begin <= s.end <= len(extracted)
        assert extracted[s.begin:s.end] == s.text
        assert s.begin >= prev_end or True  # spans are ordered by begin
    begins = [s.begin for s in spans]
    assert begins == sorted(begins)


@settings(max_examples=300, deadline=None)
@given(text_strategy)
def test_quality_bounds_and_verdict(text):
    qc = completeness_from_text(text)
    s = score_turn(text, extract_turn(text)[1], qc)
    assert 0.0 <= s.q_blank <= 1.0
    assert 0.0 <= s.q_legibility <= 1.0
    assert 0.0 <= s.q_completeness <= 1.0
    assert 0.0 <= s.q_noise <= 1.0
    assert 0.0 <= s.q_contrast <= 1.0
    assert 0.0 <= s.q_brightness <= 1.0
    assert 0.0 <= s.q_skew <= 1.0
    assert 0.0 <= s.q_edge_crop <= 1.0
    assert 0.0 <= s.q_shadow_glare <= 1.0
    assert 0.0 <= s.q_resolution <= 1.0
    assert 0.0 <= s.confidence <= 1.0
    assert s.verdict in {"direct analysis", "pre-processing",
                         "azure document analysis", "reupload", "re-scan"}


@settings(max_examples=120, deadline=None)
@given(st.lists(text_strategy, min_size=1, max_size=20))
def test_vectorized_equals_scalar_on_arbitrary(texts):
    s = pd.Series(texts, dtype=object)
    vb = blank_scores(s)
    vl = legibility_scores(s)
    vn = noise_scores(s)
    vc = contrast_scores(s)
    vbr = brightness_scores(s)
    vsk = skew_scores(s)
    vec_ = edge_crop_scores(s)
    vsg = shadow_glare_scores(s)
    vre = resolution_scores(s)
    for i, t in enumerate(texts):
        assert vb[i] == blank_score(t)
        assert vl[i] == legibility_score(t)
        assert vn[i] == noise_score(t)
        assert vc[i] == contrast_score(t)
        assert vbr[i] == brightness_score(t)
        assert vsk[i] == skew_score(t)
        assert vec_[i] == edge_crop_score(t)
        assert vsg[i] == shadow_glare_score(t)
        assert vre[i] == resolution_score(t)


@settings(max_examples=200, deadline=None)
@given(text_strategy)
def test_entities_total(text):
    ents = extract_entities(text)
    assert isinstance(ents, dict)
    for k, v in ents.items():
        assert isinstance(k, str) and isinstance(v, str)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="ab \n\t", max_size=100))
def test_plain_extraction_identity(text):
    kind, extracted, _ = extract_turn(text)
    if kind == "plain":
        assert extracted == text


@settings(max_examples=60, deadline=None)
@given(st.text(max_size=300))
def test_classify_norm_byte_lut_equals_regex(text):
    """_norm_batch (byte-LUT) == the re-based forms for ARBITRARY unicode
    text, not just the fixture domain — multi-byte deletion, case
    folding to ASCII (e.g. Kelvin sign), control chars."""
    import re

    import pandas as pd

    from documentai_spark.operators.classify import _norm_batch

    out = _norm_batch(pd.Series([text]))
    low = text.lower()
    assert out["na"][0] == re.sub(r"[^0-9a-z]", "", low, flags=re.A)
    # Java \s == [ \t\n\x0b\f\r]
    expect_ns = re.sub(r"[^0-9a-z \t\n\x0b\f\r]", "", low,
                       flags=re.A).strip(" ")
    assert out["ns"][0] == expect_ns
