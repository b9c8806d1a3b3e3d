"""Round-6 optimization guard: batch-level hash-consing (_dict_unique)
must be a pure evaluation-strategy change — the parse kernel's output on a
REDUNDANT batch (where the dictionary path engages) must equal its output
on the same rows evaluated one-by-one (where the 2× guard disables it),
for every (keep, emit) pair a call site uses. Covers the null-line
scatter slots explicitly (null take-index -> fill_null with the
operator's malformed/None value).
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from elb_pipeline.deadletter import diagnose_arrow
from elb_pipeline.dialects import SINK_ALB, SINK_CLASSIC, SINK_MALFORMED
from elb_pipeline.goldens import TEXT_POOL
from elb_pipeline.parse import (
    ALB_COLS,
    ALL_SINKS,
    CLB_COLS,
    DIAG_COLS,
    _dict_unique,
    parse_batch,
    route_json_arrow,
)

# 6 distinct lines (valid ALB + classic + malformed mix) repeated 50x,
# plus nulls sprinkled in -> redundancy far past the 2x engage threshold
_LINES = [TEXT_POOL[(i * 7 + 3) % len(TEXT_POOL)] for i in range(6)]
_BATCH = ([None] + _LINES * 50 + [None, _LINES[0]])

_JOB = ("sink", "json", "mal_text", *DIAG_COLS)
# every (keep, emit) pair a parse_view call site uses
CALL_SITES = {
    "route": (ALL_SINKS, ("sink",)),
    "route_json": (ALL_SINKS, ("sink", "json")),
    "job": (ALL_SINKS, _JOB),
    "job_no_positions": (ALL_SINKS, _JOB[:-1]),
    "alb_fields": ((SINK_ALB,), tuple(ALB_COLS)),
    "alb_latency": ((SINK_ALB,), ("alb_elb_status_code", "alb_target_processing_time")),
    "alb_url": ((SINK_ALB,), ("alb_url",)),
    "classic_fields": ((SINK_CLASSIC,), tuple(CLB_COLS)),
    "alb_json": ((SINK_ALB,), ("json",)),
    "classic_json": ((SINK_CLASSIC,), ("json",)),
    "both_json": ((SINK_ALB, SINK_CLASSIC), ("json",)),
    "dead_letter_rows": ((SINK_MALFORMED,), ()),
    "dead_letter_diag": ((SINK_MALFORMED,), ("nearest_dialect", "fields_ok")),
}


def _redundant() -> pa.Array:
    return pa.array(_BATCH, pa.string())


def _one_by_one(fn, outputs=1):
    """Evaluate fn on each row alone (singleton batches never engage the
    dictionary path: 1 unique * 2 >= 1 row)."""
    per_row = [fn(pa.array([v], pa.string())) for v in _BATCH]
    if outputs == 1:
        return [r.to_pylist()[0] if hasattr(r, "to_pylist") else r[0] for r in per_row]
    return [
        [col.to_pylist()[0] for col in r] for r in per_row
    ]


def _sink(text: pa.Array) -> pa.Array:
    return parse_batch(text)[1][0]


def _mask(sink: str):
    return lambda text: parse_batch(text, keep=(sink,), emit=())[0]


def test_dict_unique_engages_on_redundant_batch():
    idx, uniq = _dict_unique(_redundant())
    assert idx is not None
    assert len(uniq) == 6  # nulls get null indices, not dictionary slots


def test_dict_unique_disengages_on_unique_batch():
    idx, uniq = _dict_unique(pa.array([f"line-{i}" for i in range(100)]))
    assert idx is None


def test_route_sink_hash_consed_equals_per_row():
    batched = _sink(_redundant()).to_pylist()
    assert batched == _one_by_one(_sink)
    assert batched[0] == SINK_MALFORMED  # null line


def test_route_json_hash_consed_equals_per_row():
    sink, js = route_json_arrow(_redundant())
    per_row = _one_by_one(lambda a: route_json_arrow(a)[1])
    assert js.to_pylist() == per_row
    assert sink.to_pylist() == _one_by_one(lambda a: route_json_arrow(a)[0])


@pytest.mark.parametrize("sink", [SINK_ALB, SINK_CLASSIC, SINK_MALFORMED])
def test_sink_mask_hash_consed_equals_per_row(sink):
    batched = _mask(sink)(_redundant()).to_pylist()
    assert batched == _one_by_one(_mask(sink))
    # null line: malformed True, dialect masks False — never null
    assert batched[0] is (sink == SINK_MALFORMED)
    assert None not in batched


@pytest.mark.parametrize("site", list(CALL_SITES))
def test_kernel_hash_consed_equals_per_row(site):
    """The kept rows and every emitted column of a redundant batch equal
    the concatenation of the singleton evaluations."""
    keep, emit = CALL_SITES[site]
    mask, cols = parse_batch(_redundant(), keep=keep, emit=emit)
    assert _dict_unique(_redundant())[0] is not None
    assert (mask is None) == (set(keep) == set(ALL_SINKS))
    want_mask, want = [], [[] for _ in emit]
    for v in _BATCH:
        m1, c1 = parse_batch(pa.array([v], pa.string()), keep=keep, emit=emit)
        kept = True if m1 is None else m1[0].as_py()
        want_mask.append(kept)
        for w, c in zip(want, c1):
            assert len(c) == int(kept)
            w.extend(c.to_pylist())
    if mask is not None:
        assert mask.null_count == 0
        assert mask.to_pylist() == want_mask
    assert [c.to_pylist() for c in cols] == want
    if "sink" in emit:
        assert None not in cols[emit.index("sink")].to_pylist()


@pytest.mark.parametrize("site", list(CALL_SITES))
def test_kernel_on_sliced_batch(site):
    """All-distinct lines (no dictionary path) fed as a slice with a
    non-zero offset: every emitted column is valid Arrow and equals the
    unsliced batch's."""
    keep, emit = CALL_SITES[site]
    lines = [*_LINES, None]
    sliced = pa.array(["pad", *lines], pa.string()).slice(1)
    assert _dict_unique(sliced)[0] is None
    mask, cols = parse_batch(sliced, keep=keep, emit=emit)
    want_mask, want = parse_batch(pa.array(lines, pa.string()), keep=keep, emit=emit)
    for c in cols:
        c.validate(full=True)
    assert (mask is None) == (want_mask is None)
    if mask is not None:
        assert mask.to_pylist() == want_mask.to_pylist()
    assert [c.to_pylist() for c in cols] == [c.to_pylist() for c in want]


def test_extract_children_hash_consed_equal_per_row():
    # extraction on routed (valid, non-null) rows only
    for cols, sink in ((ALB_COLS, SINK_ALB), (CLB_COLS, SINK_CLASSIC)):
        rows = pa.array(
            [l for l in _LINES if _mask(sink)(pa.array([l]))[0].as_py()] * 40
        )

        def extract(text, cols=cols, sink=sink):
            return parse_batch(text, keep=(sink,), emit=cols)[1]

        batched = [c.to_pylist() for c in extract(rows)]
        singles = [
            [c.to_pylist()[0] for c in extract(rows.slice(i, 1))]
            for i in range(len(rows))
        ]
        assert [list(col) for col in zip(*singles)] == batched


def test_diagnose_hash_consed_equals_per_row():
    mal = pa.array(
        [None] + [l.replace("3", "#").replace("7", "@") for l in _LINES] * 40
    )
    batched = [c.to_pylist() for c in diagnose_arrow(mal, positions=True)]
    singles = [
        [c.to_pylist()[0] for c in diagnose_arrow(mal.slice(i, 1), positions=True)]
        for i in range(len(mal))
    ]
    assert [list(col) for col in zip(*singles)] == batched
    assert batched[0][0] is None and batched[1][0] is None  # null line row
