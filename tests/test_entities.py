"""Entity extraction (functions/entities.py) — pinned against the scrubber.

The entities column is DEFINED by the scrub pass (same patterns, same
precedence, same Luhn gate), so every test here is an equality against
scrub_text_value: scrubbed-text equality, per-type count equality, and
the span invariant (replacing every entity span in the original text,
in reverse begin order, reproduces the scrubbed text exactly).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from pii_redaction_data_pipeline_spark.functions.entities import (
    entities_frame,
    extract_entities_value,
    make_entities_udf,
)
from pii_redaction_data_pipeline_spark.functions.scrub import (
    scrub_text_value,
    token,
)

SAMPLES = [
    "",
    "hello world, nothing to see",
    "mail me at jane.doe@example.com today",
    "call (555) 123-4567 or 555-987-6543",
    "ssn 123-45-6789 card 4111 1111 1111 1111 ip 10.0.0.1",
    "ipv6 fe80::1 and 2001:0db8:85a3:0000:0000:8a2e:0370:7334 ok",
    "that frakking smeg again",
    "two mails a@b.co c@d.org and 999-99-9999",
    # Luhn-rejected candidate overlapping a real card
    "1111 1111 1111 1111 1111 111 4111 1111 1111 1111",
    "digits 123 456 but no pii",
]


def _replay(text: str, entities: list[dict]) -> str:
    out = text
    for e in sorted(entities, key=lambda d: d["begin"], reverse=True):
        out = out[: e["begin"]] + token(e["type"]) + out[e["end"] :]
    return out


@pytest.mark.parametrize("text", SAMPLES)
def test_scrubbed_equality_and_counts(text):
    scrubbed_ref, counts_ref = scrub_text_value(text)
    scrubbed, ents = extract_entities_value(text)
    assert scrubbed == scrubbed_ref
    got = {}
    for e in ents:
        got[e["type"]] = got.get(e["type"], 0) + 1
    assert got == counts_ref


@pytest.mark.parametrize("text", SAMPLES)
def test_span_replay_reproduces_scrub(text):
    scrubbed, ents = extract_entities_value(text)
    # spans are disjoint, within bounds, and carry the original slice
    spans = sorted((e["begin"], e["end"]) for e in ents)
    for (b1, e1), (b2, e2) in zip(spans, spans[1:]):
        assert e1 <= b2
    for e in ents:
        assert 0 <= e["begin"] < e["end"] <= len(text)
        assert text[e["begin"] : e["end"]] == e["text"]
        assert e["score"] == 1.0
    assert _replay(text, ents) == scrubbed


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="0123456789-. ()@abcfrk:​\n", max_size=120))
def test_property_entities_match_scrub(text):
    scrubbed_ref, counts_ref = scrub_text_value(text)
    scrubbed, ents = extract_entities_value(text)
    assert scrubbed == scrubbed_ref
    got = {}
    for e in ents:
        got[e["type"]] = got.get(e["type"], 0) + 1
    assert got == counts_ref
    assert _replay(text, ents) == scrubbed


def test_frame_prefilter_matches_scalar():
    s = pd.Series(SAMPLES + [None])
    ents = entities_frame(s)
    for i, text in enumerate(SAMPLES):
        assert list(ents.iloc[i]) == extract_entities_value(text)[1]
    assert list(ents.iloc[len(SAMPLES)]) == []


def test_unknown_trigger_kind_disables_prefilter(monkeypatch):
    """A trigger kind the prescan cannot express must widen it to every
    row, never drop that pattern's rows: entities equal an unfiltered
    per-row scan."""
    from pii_redaction_data_pipeline_spark.functions import scrub

    patched = {i: ("at-sign" if k == "@" else k) for i, k in scrub._TRIGGERS.items()}
    assert "at-sign" in patched.values()
    monkeypatch.setattr(scrub, "_TRIGGERS", patched)
    ents = entities_frame(pd.Series(SAMPLES))
    assert [list(e) for e in ents] == [extract_entities_value(t)[1] for t in SAMPLES]


def test_pipeline_emit_entities(spark):
    from pii_redaction_data_pipeline_spark.config import PipelineConfig
    from pii_redaction_data_pipeline_spark.plans.pipeline import annotate

    rows = [
        ("c1", 1, "user", "please email jane.doe@example.com about the billing report today", None),
        ("c1", 2, "assistant", "sure, i will reach out to them about the billing report today", None),
        ("c2", 1, "user", "zz", None),  # too_short -> dropped
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())
    cfg = PipelineConfig(emit_entities=True)
    out = {r["turn_idx"]: r for r in annotate(df, cfg, spark).filter("conv_id='c1'").collect()}
    ents = out[1]["entities"]
    assert [e["type"] for e in ents] == ["EMAIL"]
    b, e = ents[0]["begin"], ents[0]["end"]
    assert rows[0][3][b:e] == "jane.doe@example.com"
    assert out[1]["scrub_counts"] == {"EMAIL": 1}
    assert out[2]["entities"] == []
    dropped = annotate(df, cfg, spark).filter("conv_id='c2'").collect()[0]
    assert dropped["entities"] is None and not dropped["keep"]


def test_entities_udf_schema_and_values(spark):
    df = spark.createDataFrame(
        [(1, "mail jane.doe@example.com ssn 123-45-6789"), (2, "clean")],
        "id int, text string",
    )
    out = df.select("id", make_entities_udf()("text").alias("entities"))
    assert (
        out.schema["entities"].dataType.simpleString()
        == "array<struct<text:string,type:string,score:double,begin:int,end:int>>"
    )
    rows = {r["id"]: r["entities"] for r in out.collect()}
    assert [(e["type"], e["begin"], e["end"]) for e in rows[1]] == [
        ("EMAIL", 5, 25),
        ("SSN", 30, 41),
    ]
    assert rows[2] == []
