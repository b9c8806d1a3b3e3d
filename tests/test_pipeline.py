"""End-to-end pipeline semantics: routing sets, aggregates, strict mode,
checkpoint-resume idempotence — all vs a pure-Python ``re`` oracle over the
same synthesized rows (FIXTURES.md §3)."""

from __future__ import annotations

import collections
import glob

import pytest
from pyspark.sql import functions as F

from elb_pipeline import checkpoint
from elb_pipeline.dialects import parse_line
from elb_pipeline.job import StrictModeError, run_job
from elb_pipeline.parse import ALB_COLS, CLB_COLS, parse_view
from elb_pipeline.synth import transcripts_from_events
from tests.reference_parse import with_parsed, with_parsed_pandas

SF_DIR = "/root/testdata/sf0.001"


def _routed(t):
    """Every input column, text included, plus ``sink``."""
    return parse_view(t, t.columns)


@pytest.fixture(scope="module")
def transcripts(spark):
    return transcripts_from_events(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def oracle_rows(transcripts):
    """Pure-Python routing oracle over the collected rows."""
    rows = transcripts.collect()
    out = []
    for r in rows:
        sink, _ = parse_line(r["text"])
        out.append((r["conv_id"], r["turn_idx"], sink, r["ts"]))
    return out


def test_routed_row_sets_match_oracle(spark, transcripts, oracle_rows):
    got = {
        (r["conv_id"], r["turn_idx"], r["sink"])
        for r in _routed(transcripts).select("conv_id", "turn_idx", "sink").collect()
    }
    want = {(c, t, s) for c, t, s, _ in oracle_rows}
    assert got == want


def test_sink_counts_match_oracle(spark, transcripts, oracle_rows):
    got = {
        r["sink"]: r["n"]
        for r in _routed(transcripts).groupBy("sink").agg(F.count("*").alias("n")).collect()
    }
    want = collections.Counter(s for _, _, s, _ in oracle_rows)
    assert got == dict(want)
    assert set(got) == {"alb", "classic_lb", "malformed"}  # every sink exercised


def test_order_invariant(transcripts, oracle_rows):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering."""
    collected = transcripts.orderBy("conv_id", "turn_idx").select(
        "conv_id", "turn_idx"
    ).collect()
    want = sorted((c, t) for c, t, _, _ in oracle_rows)
    assert [(r["conv_id"], r["turn_idx"]) for r in collected] == want


def test_job_end_to_end_and_resume(spark, transcripts, oracle_rows, tmp_path):
    out = str(tmp_path / "out")
    want = collections.Counter(s for _, _, s, _ in oracle_rows)

    res1 = run_job(spark, transcripts, out, mode="skip", n_groups=3)
    assert sorted(res1.groups_run) == [0, 1, 2]
    assert res1.sink_counts == dict(want)

    # per-sink parquet row counts match the manifests (group=/sink=/ts_day=
    # read back as partition columns)
    data_df = spark.read.parquet(f"{out}/data")
    for sink in ("alb", "classic_lb", "malformed"):
        assert data_df.where(F.col("sink") == sink).count() == want[sink]

    # alb output carries the byte-exact json column
    alb_df = data_df.where(F.col("sink") == "alb")
    assert alb_df.where(F.col("json").startswith('{"type":"')).count() == want["alb"]
    # dead letters carry raw text + byte-exact diagnostics; valid rows don't
    mal = data_df.where(F.col("sink") == "malformed")
    assert mal.where(F.col("failed_position").isNotNull()).count() == want["malformed"]
    assert mal.where(F.col("mal_text").isNotNull()).count() == want["malformed"]
    assert data_df.where(
        (F.col("sink") != "malformed") & F.col("mal_text").isNotNull()
    ).count() == 0

    # resume: everything already committed → nothing re-runs
    res2 = run_job(spark, transcripts, out, mode="skip", n_groups=3)
    assert res2.groups_run == [] and sorted(res2.groups_skipped) == [0, 1, 2]
    assert res2.sink_counts == dict(want)

    # knock out one manifest → exactly that group re-runs, totals unchanged
    import os

    os.remove(checkpoint.manifest_path(out, 1))
    res3 = run_job(spark, transcripts, out, mode="skip", n_groups=3)
    assert res3.groups_run == [1] and sorted(res3.groups_skipped) == [0, 2]
    assert res3.sink_counts == dict(want)


def test_ndjson_export_matches_parquet_json(spark, transcripts, tmp_path):
    """export_ndjson writes the reference's output artifact: raw NDJSON
    text, line-for-line equal to the fused pass's json column."""
    from elb_pipeline.job import export_ndjson

    out = str(tmp_path / "ndj")
    run_job(spark, transcripts, out, mode="skip", n_groups=2)
    paths = export_ndjson(spark, out)
    data = spark.read.parquet(f"{out}/data")
    for sink, path in paths.items():
        want = sorted(
            r["json"] for r in data.where(F.col("sink") == sink).select("json").collect()
        )
        got = sorted(r["value"] for r in spark.read.text(path).collect())
        assert got == want and len(got) > 0
        assert all(line.startswith("{") and line.endswith("}") for line in got)


def test_job_all_malformed_input_survives_skip_mode(spark, transcripts, tmp_path):
    """A group whose valid slice is empty must not crash the read-back
    (dynamic-partition writes of empty frames emit no part files)."""
    mal_only = _routed(transcripts).where(F.col("sink") == "malformed").drop("sink")
    res = run_job(spark, mal_only, str(tmp_path / "malonly"), mode="skip", n_groups=2)
    assert res.sink_counts["alb"] == 0 and res.sink_counts["classic_lb"] == 0
    assert res.sink_counts["malformed"] == mal_only.count()


def test_job_empty_groups_survive(spark, transcripts, tmp_path):
    """n_groups exceeding the distinct conv-bucket values leaves some
    groups with zero rows of ANY kind; they must commit empty manifests."""
    one_conv = transcripts.where(
        F.col("conv_id") == transcripts.select("conv_id").first()["conv_id"]
    )
    res = run_job(spark, one_conv, str(tmp_path / "onecnv"), mode="skip", n_groups=4)
    assert sorted(res.groups_run) == [0, 1, 2, 3]
    assert sum(res.sink_counts.values()) == one_conv.count()


def test_strict_mode_raises(spark, transcripts, tmp_path):
    with pytest.raises(StrictModeError):
        run_job(spark, transcripts, str(tmp_path / "strict"), mode="strict", n_groups=1)


def test_strict_fast_mode_aborts_with_reference_error(spark, transcripts, tmp_path):
    """strict-fast reproduces the reference exactly: the parse stage aborts
    at the first malformed line with ParseLogError's message text
    (parse.rs:8, main.rs:194-203)."""
    malformed_texts = {
        r["text"]
        for r in _routed(transcripts).where(F.col("sink") == "malformed")
        .select("text").collect()
    }
    with pytest.raises(StrictModeError, match="Invalid log line: ") as exc:
        run_job(
            spark, transcripts, str(tmp_path / "sf"), mode="strict-fast", n_groups=1
        )
    # the message must carry the ACTUAL malformed line (not UDF source text
    # that py4j also embeds in the traceback)
    reported = str(exc.value).split("Invalid log line: ", 1)[1]
    assert reported in malformed_texts


def test_strict_fast_clean_input_passes(spark, transcripts, tmp_path):
    clean = _routed(transcripts).where(F.col("sink") != "malformed").drop("sink")
    res = run_job(spark, clean, str(tmp_path / "sfc"), mode="strict-fast", n_groups=1)
    assert res.sink_counts["malformed"] == 0
    assert res.sink_counts["alb"] > 0


def test_strict_mode_clean_input_passes(spark, transcripts, tmp_path):
    clean = _routed(transcripts).where(F.col("sink") != "malformed").drop("sink")
    res = run_job(spark, clean, str(tmp_path / "clean"), mode="strict", n_groups=1)
    assert res.sink_counts["malformed"] == 0
    assert res.sink_counts["alb"] > 0


def test_parse_paths_equivalent(spark, transcripts):
    """The three parse implementations (the production ``parse_view``
    operator, Arrow RE2 full-struct extraction, pandas/``re`` UDF) must
    agree row-for-row: sinks, and every ALB and Classic field."""
    key = ["conv_id", "turn_idx"]
    a = {tuple(r[k] for k in key): r["sink"]
         for r in parse_view(transcripts).select(*key, "sink").collect()}
    b = {tuple(r[k] for k in key): r["sink"]
         for r in with_parsed(transcripts).select(*key, "sink").collect()}
    c = {tuple(r[k] for k in key): r["sink"]
         for r in with_parsed_pandas(transcripts).select(*key, "sink").collect()}
    assert a == b == c

    # and field values: every alb_*/clb_* column of the three paths
    fields = [*ALB_COLS, *CLB_COLS]
    cols = [f"parsed.{f}" for f in fields]
    n = len(key)
    a2 = {tuple(r[k] for k in key): tuple(r[n:])
          for r in parse_view(transcripts, key, emit=fields).collect()}
    b2 = {tuple(r[k] for k in key): tuple(r[n:])
          for r in with_parsed(transcripts).select(*key, *cols).collect()}
    c2 = {tuple(r[k] for k in key): tuple(r[n:])
          for r in with_parsed_pandas(transcripts).select(*key, *cols).collect()}
    assert a2 == b2 == c2
    assert len(a2) == len(a)


def test_salted_agg_equals_direct(spark, transcripts):
    from elb_pipeline.aggregate import salted_sink_day_bucket_counts, sink_day_bucket_counts

    routed = _routed(transcripts).withColumn("ts_day", F.to_date("ts"))
    direct = {
        (r["sink"], r["conv_bucket"], r["ts_day"]): r["n"]
        for r in sink_day_bucket_counts(routed).collect()
    }
    salted = {
        (r["sink"], r["conv_bucket"], r["ts_day"]): r["n"]
        for r in salted_sink_day_bucket_counts(routed).collect()
    }
    assert direct == salted


def test_export_ndjson_ordered_single_sorted_file(spark, transcripts, tmp_path):
    """Order-preserving export: ONE text file whose line sequence equals the
    valid NDJSON sorted by the stable turn key (the reference stdin mode's
    input-order observable, main.rs:89-101)."""
    from elb_pipeline.job import export_ndjson_ordered

    out = str(tmp_path / "job_ordered")
    run_job(spark, transcripts, out, mode="skip", n_groups=2)
    path = export_ndjson_ordered(spark, out)

    files = sorted(glob.glob(f"{path}/part-*"))
    assert len(files) == 1  # single-stream export = single writer
    with open(files[0], encoding="utf-8") as fh:
        lines = fh.read().splitlines()

    expected = [
        r["json"]
        for r in spark.read.parquet(f"{out}/data")
        .where(F.col("sink").isin("alb", "classic_lb"))
        .orderBy("conv_id", "turn_idx")
        .select("json")
        .collect()
    ]
    assert len(lines) > 0
    assert lines == expected


def test_export_ndjson_sharded_concatenation_is_globally_ordered(
    spark, transcripts, tmp_path
):
    """Scale-out ordered export (VERDICT r3 #5): multiple range shards,
    each sorted within, whose name-order concatenation equals the
    single-stream export's exact line sequence — no single-partition
    global sort in the plan."""
    from elb_pipeline.job import export_ndjson_sharded

    out = str(tmp_path / "job_sharded")
    run_job(spark, transcripts, out, mode="skip", n_groups=2)
    path = export_ndjson_sharded(spark, out, n_shards=8)

    files = sorted(glob.glob(f"{path}/part-*"))
    assert len(files) > 1  # genuinely parallel writers
    lines = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())

    expected = [
        r["json"]
        for r in spark.read.parquet(f"{out}/data")
        .where(F.col("sink").isin("alb", "classic_lb"))
        .orderBy("conv_id", "turn_idx")
        .select("json")
        .collect()
    ]
    assert len(lines) > 0
    assert lines == expected
