"""Dead-letter diagnosis: byte-exact failed positions (reference
parse.rs:22-41 semantics) and vectorized fields_ok."""

from __future__ import annotations

import pyarrow as pa
import pytest
import regex as _regex

from elb_pipeline.deadletter import (
    diagnose_arrow,
    failed_position_bytes,
    fields_ok_arrow,
)
from elb_pipeline.dialects import ALB, CLASSIC
from elb_pipeline.goldens import ALB_GOLDENS, CLASSIC_GOLDENS


def _linear_dfa_walk(line: bytes, d) -> int:
    """Reference try_find_failed_position, transliterated: consume one
    byte at a time; first byte whose consumption kills all possible
    matches is the failed position; EOI death → len."""
    rx = _regex.compile(d.pattern.encode())
    for length in range(1, len(line) + 1):
        if rx.fullmatch(line, 0, length, partial=True) is None:
            return length - 1
    return len(line)


# the reference's own negative vectors (alb.rs:346-352, classic_lb.rs:180-186)
REF_NEGATIVES = [
    ("h2 2024-05-28T13:34:14.804475Z", ALB),
    ("2015-03-27T07:06:41.177907Z", CLASSIC),
]

CORRUPTIONS = [
    "garbage",
    "",
    "h2 2024-05-28T13:34:14.804475Z XXX bad",
    ALB_GOLDENS[0][0][:50] + "\x01" + ALB_GOLDENS[0][0][50:],
    ALB_GOLDENS[3][0].replace(" 200 ", " 2000 ", 1),
    CLASSIC_GOLDENS[0][0].replace("HTTP/1.1", "HTTQ/1.1"),
    CLASSIC_GOLDENS[1][0] + " trailing-junk",
]


@pytest.mark.parametrize("line,dialect", REF_NEGATIVES)
def test_reference_negatives_truncation_positions(line, dialect):
    # a truncated-but-consistent line dies at EOI → position == len,
    # exactly what the reference DFA walk returns (parse.rs:35-38)
    assert failed_position_bytes(line.encode(), dialect) == len(line.encode())


@pytest.mark.parametrize("line", [l for l, _ in REF_NEGATIVES] + CORRUPTIONS)
@pytest.mark.parametrize("dialect", [ALB, CLASSIC], ids=["alb", "classic"])
def test_bisection_equals_linear_dfa_walk(line, dialect):
    raw = line.encode()
    assert failed_position_bytes(raw, dialect) == _linear_dfa_walk(raw, dialect)


def test_fields_ok_vectorized_matches_per_row():
    lines = [l for l, _ in REF_NEGATIVES] + CORRUPTIONS + [None]
    arr = pa.array(lines, pa.string())
    for d in (ALB, CLASSIC):
        got = fields_ok_arrow(arr, d)
        for i, line in enumerate(lines):
            if line is None:
                assert got[i] == 0
                continue
            want = 0
            for k, rx in enumerate(d.prefix_regexes(), start=1):
                if rx.match(line):
                    want = k
                else:
                    break
            assert got[i] == want, (line[:40], d.name, got[i], want)


def test_diagnose_arrow_shape_and_tiebreak():
    arr = pa.array(["garbage", None, "h2 2024-05-28T13:34:14.804475Z"], pa.string())
    dialect, fields_ok, pos = diagnose_arrow(arr)
    # ties (both dialects 0 fields) resolve to alb — the CLI default dialect
    assert dialect[0].as_py() == "alb"
    assert dialect[1].as_py() is None and fields_ok[1].as_py() is None
    assert dialect[2].as_py() == "alb" and fields_ok[2].as_py() == 2
    assert pos[2].as_py() == len("h2 2024-05-28T13:34:14.804475Z")


def test_parse_view_positions_gate(spark):
    """Leaving failed_position out of ``emit`` skips the per-row bisection:
    same nearest_dialect/fields_ok columns, no failed_position column
    (VERDICT r3 #3 — the oracled diag query must not compute byte
    positions it discards)."""
    from elb_pipeline.dialects import SINK_MALFORMED
    from elb_pipeline.parse import DIAG_COLS, parse_view

    df = spark.createDataFrame(
        [("garbage",), ("h2 2024-05-28T13:34:14.804475Z",)], "text string"
    )

    def diag(emit):
        return parse_view(df, ["text"], keep=(SINK_MALFORMED,), emit=emit)

    fast = diag(DIAG_COLS[:2])
    full = diag(DIAG_COLS).collect()
    assert "failed_position" not in fast.columns
    fast = fast.collect()
    assert {(r["text"], r["nearest_dialect"], r["fields_ok"]) for r in fast} == {
        (r["text"], r["nearest_dialect"], r["fields_ok"]) for r in full
    }
    assert len(fast) == 2
    assert any(r["failed_position"] is not None for r in full)
