"""Match-then-span extraction: what makes skipping work safe.

- NDJSON assembly escapes and control-checks only each dialect's declared
  free-text fields (``Dialect.free_text``). That is sound only if no other
  field of a valid line can hold ``"``, ``\\`` or a byte below 0x20; the
  mutation test below inserts those bytes into every other field of every
  golden line.
- ``with_dialect_struct`` extracts from rows that were never routed, so
  ALB extraction must still give all-null fields for Classic, malformed
  and null rows.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from elb_pipeline.dialects import ALB, CLASSIC, SINK_MALFORMED, parse_line
from elb_pipeline.goldens import ALB_GOLDENS, CLASSIC_GOLDENS, MALFORMED_GOLDENS
from elb_pipeline.parse import (
    ALB_COLS,
    CLB_COLS,
    _extract_alb_children,
    _extract_clb_children,
    route_sink_arrow,
    with_dialect_struct,
)

_ESCAPE_BYTES = ('"', "\\", "\t")


@pytest.mark.parametrize(
    "dialect,goldens", [(ALB, ALB_GOLDENS), (CLASSIC, CLASSIC_GOLDENS)],
    ids=["alb", "classic"],
)
def test_fields_outside_free_text_reject_escape_bytes(dialect, goldens):
    """Insert each escape byte at every position of every non-free-text
    field value. The mutated line must be malformed, or, where the grammar
    re-splits the line around the new byte (a lazy url absorbing an
    ``HTTP/x`` version before the optional trailing space), the byte must
    land in a free-text field."""
    mutated, where = [], []
    for line, _ in goldens:
        m = dialect.regex.fullmatch(line)
        for g, name in enumerate(dialect.fields, 1):
            if name in dialect.free_text or m.start(g) < 0:
                continue
            for pos in range(m.start(g), m.end(g) + 1):
                for ch in _ESCAPE_BYTES:
                    mutated.append(line[:pos] + ch + line[pos:])
                    where.append(name)
    sinks = route_sink_arrow(pa.array(mutated)).to_pylist()
    resplit = set()
    for line, sink, name in zip(mutated, sinks, where):
        if sink == SINK_MALFORMED:
            continue
        resplit.add(name)
        _, fields = parse_line(line)
        for f, v in fields.items():
            if f not in dialect.free_text and v is not None:
                assert not any(c in v for c in _ESCAPE_BYTES), (f, line)
    assert resplit <= {"http_version"}
    assert sinks.count(SINK_MALFORMED) > 0.99 * len(sinks)


def _mixed() -> pa.Array:
    alb = [ALB_GOLDENS[0][0], ALB_GOLDENS[8][0]]
    clb = [CLASSIC_GOLDENS[0][0]]
    return pa.array([alb[0], clb[0], None, MALFORMED_GOLDENS[0], alb[1], "", clb[0]])


def _expected(text: pa.Array, dialect) -> list[list[str | None]]:
    rows = []
    for line in text.to_pylist():
        sink, fields = parse_line(line) if line is not None else (None, None)
        rows.append([fields[f] if sink == dialect.name else None for f in dialect.fields])
    return [list(col) for col in zip(*rows)]


@pytest.mark.parametrize(
    "extract,dialect",
    [(_extract_alb_children, ALB), (_extract_clb_children, CLASSIC)],
    ids=["alb", "classic"],
)
def test_extract_children_null_on_other_rows(extract, dialect):
    text = _mixed()
    want = _expected(text, dialect)
    assert [c.to_pylist() for c in extract(text)] == want
    # sliced input, and the hash-consed path (repeated lines)
    assert [c.to_pylist() for c in extract(text.slice(1, 5))] == [
        col[1:6] for col in want
    ]
    doubled = pa.concat_arrays([text] * 4)
    assert [c.to_pylist() for c in extract(doubled)] == [col * 4 for col in want]


@pytest.mark.parametrize("dialect,cols", [(ALB, ALB_COLS), (CLASSIC, CLB_COLS)],
                         ids=["alb", "classic"])
def test_with_dialect_struct_mixed_batch(spark, dialect, cols):
    text = _mixed()
    df = spark.createDataFrame([(i, t) for i, t in enumerate(text.to_pylist())],
                               "id INT, text STRING")
    rows = with_dialect_struct(df, dialect.name).orderBy("id").collect()
    got = [[r["parsed"][c] if r["parsed"] else None for r in rows] for c in cols]
    assert got == _expected(text, dialect)
