"""Spark-pipeline golden tests: routing + byte-exact JSON output.

Runs every reference golden vector through the ACTUAL Spark path — the
``parse_view(emit=("sink", "json"))`` operator ``run_job`` uses — and
asserts byte equality with the reference's expected serde_json strings,
including the `\\x22` escape passthrough (alb.rs:299-313) and
optional-tid omission (alb.rs:340-344). The same goldens also go through
JVM ``to_json`` over the RE2 reference parse (tests/reference_parse.py).
"""

from __future__ import annotations

import pytest

from elb_pipeline.goldens import ALB_GOLDENS, CLASSIC_GOLDENS, MALFORMED_GOLDENS
from elb_pipeline.parse import parse_view
from tests.reference_parse import alb_json, classic_json, with_parsed


@pytest.fixture(scope="module")
def results(spark):
    rows = (
        [(i, line) for i, (line, _) in enumerate(ALB_GOLDENS)]
        + [(100 + i, line) for i, (line, _) in enumerate(CLASSIC_GOLDENS)]
        + [(200 + i, line) for i, line in enumerate(MALFORMED_GOLDENS)]
    )
    df = spark.createDataFrame(rows, "id int, text string")
    prod = parse_view(df, emit=("sink", "json")).collect()
    ref = (
        with_parsed(df)
        .select("id", "sink", alb_json().alias("aj"), classic_json().alias("cj"))
        .collect()
    )
    return {r["id"]: r for r in prod}, {r["id"]: r for r in ref}


@pytest.mark.parametrize("i", range(len(ALB_GOLDENS)))
def test_alb_spark_golden(results, i):
    prod, ref = results
    assert prod[i]["sink"] == "alb"
    assert prod[i]["json"] == ALB_GOLDENS[i][1]
    assert ref[i]["sink"] == "alb"
    assert ref[i]["aj"] == ALB_GOLDENS[i][1]


@pytest.mark.parametrize("i", range(len(CLASSIC_GOLDENS)))
def test_classic_spark_golden(results, i):
    prod, ref = results
    assert prod[100 + i]["sink"] == "classic_lb"
    assert prod[100 + i]["json"] == CLASSIC_GOLDENS[i][1]
    assert ref[100 + i]["sink"] == "classic_lb"
    assert ref[100 + i]["cj"] == CLASSIC_GOLDENS[i][1]


@pytest.mark.parametrize("i", range(len(MALFORMED_GOLDENS)))
def test_malformed_spark_golden(results, i):
    prod, ref = results
    assert prod[200 + i]["sink"] == "malformed"
    assert prod[200 + i]["json"] is None
    assert ref[200 + i]["sink"] == "malformed"
