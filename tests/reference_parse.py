"""Reference parse implementations the production operator is tested
against (not used by the pipeline).

- ``parse_arrow_text`` / ``with_parsed``: full RE2 capture extraction of
  both dialects into one 52-field ``parsed`` struct.
- ``parse_route_batch`` / ``with_parsed_pandas``: the same struct from
  Python ``re`` in a pandas UDF, engine-independent.
- ``alb_json`` / ``classic_json``: JVM ``to_json`` over that struct.
  Spark's ``to_json(struct(...))`` (Jackson) produces the reference's
  compact form with the same standard JSON string escaping;
  ``ignoreNullFields`` handles the tid omission — safe because every
  other ALB field is non-null whenever the line routed to the alb sink.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elb_pipeline.dialects import (
    ALB,
    ALB_FIELDS,
    ALB_NAMED_PATTERN,
    CLASSIC,
    CLASSIC_FIELDS,
    CLASSIC_NAMED_PATTERN,
    SINK_ALB,
    SINK_CLASSIC,
    SINK_MALFORMED,
)
from elb_pipeline.parse import ALB_COLS, CLB_COLS, _as_string_array, _pin_worker_pools

PARSED_FIELDS = ["sink", *ALB_COLS, *CLB_COLS]
PARSED_SCHEMA = T.StructType(
    [T.StructField(name, T.StringType(), True) for name in PARSED_FIELDS]
)

_NULL_STR = pa.scalar(None, pa.string())


def parse_arrow_text(text: pa.Array) -> tuple[pa.Array, pa.StructArray]:
    """(sink, full 52-field parsed struct) for one Arrow string array."""
    text = _as_string_array(text)
    alb = pc.extract_regex(text, pattern=ALB_NAMED_PATTERN)
    clb = pc.extract_regex(text, pattern=CLASSIC_NAMED_PATTERN)
    alb_ok = pc.is_valid(alb)
    clb_ok = pc.and_(pc.is_valid(clb), pc.invert(alb_ok))

    sink = pc.if_else(
        alb_ok,
        pa.scalar(SINK_ALB),
        pc.if_else(clb_ok, pa.scalar(SINK_CLASSIC), pa.scalar(SINK_MALFORMED)),
    )

    alb_children = list(alb.flatten())
    tid_i = len(ALB_FIELDS) - 1
    alb_children[tid_i] = pc.if_else(
        pc.equal(alb_children[tid_i], pa.scalar("")), _NULL_STR, alb_children[tid_i]
    )
    # enforce routing precedence on the classic side (disjoint grammars,
    # but null-out classic fields for rows already routed to alb)
    clb_children = [pc.if_else(alb_ok, _NULL_STR, c) for c in clb.flatten()]

    children = [sink, *alb_children, *clb_children]
    children = [
        c.cast(pa.string()) if c.type != pa.string() else c for c in children
    ]
    return sink, pa.StructArray.from_arrays(children, names=PARSED_FIELDS)


def with_parsed(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add full ``parsed`` struct (both dialects) + top-level ``sink``."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("parsed", PARSED_SCHEMA, True),
            T.StructField("sink", T.StringType(), True),
        ]
    )

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _pin_worker_pools()
        for batch in batches:
            idx = batch.schema.get_field_index(text_col)
            sink, parsed = parse_arrow_text(batch.column(idx))
            yield pa.RecordBatch.from_arrays(
                [*batch.columns, parsed, sink],
                names=[*batch.schema.names, "parsed", "sink"],
            )

    return df.mapInArrow(gen, out_schema)


# ---------------------------------------------------------------------------
# pandas path (engine-independent reference implementation)
# ---------------------------------------------------------------------------

_N_ALB = len(ALB_FIELDS)
_N_CLB = len(CLASSIC_FIELDS)
_N_COLS = 1 + _N_ALB + _N_CLB
_ALB_SLICE = slice(1, 1 + _N_ALB)
_CLB_SLICE = slice(1 + _N_ALB, _N_COLS)


def parse_route_batch(text: pd.Series) -> pd.DataFrame:
    """Parse + route one batch with Python ``re`` (pure pandas).

    ``rx.match(...).groups()`` in a tight loop measures ~20× faster than
    ``Series.str.extract`` for these 33-group patterns, but per-row
    PyObject churn collapses under full-machine parallelism (57k →
    18k rows/s/core at 32 workers); kept as the reference implementation
    the Arrow path is asserted against, and for pandas-level unit tests.
    """
    # fullmatch, not match: Python's $ also matches before a trailing
    # newline — fullmatch keeps the Python path byte-agreeing with RE2
    # (Arrow path, DuckDB oracle) on "line\n\n" inputs.
    alb_match = ALB.regex.fullmatch
    clb_match = CLASSIC.regex.fullmatch
    n = len(text)
    sinks = np.empty(n, dtype=object)
    alb_pos: list[int] = []
    alb_groups: list[tuple] = []
    clb_pos: list[int] = []
    clb_groups: list[tuple] = []
    for i, x in enumerate(text):
        m = alb_match(x) if isinstance(x, str) else None
        if m is not None:
            sinks[i] = SINK_ALB
            alb_pos.append(i)
            alb_groups.append(m.groups())
            continue
        m = clb_match(x) if isinstance(x, str) else None
        if m is not None:
            sinks[i] = SINK_CLASSIC
            clb_pos.append(i)
            clb_groups.append(m.groups())
        else:
            sinks[i] = SINK_MALFORMED
    arr = np.full((n, _N_COLS), None, dtype=object)
    arr[:, 0] = sinks
    if alb_pos:
        arr[np.asarray(alb_pos), _ALB_SLICE] = np.array(alb_groups, dtype=object)
    if clb_pos:
        arr[np.asarray(clb_pos), _CLB_SLICE] = np.array(clb_groups, dtype=object)
    return pd.DataFrame(arr, columns=PARSED_FIELDS, index=text.index)


_parse_udf = F.pandas_udf(parse_route_batch, PARSED_SCHEMA)


def with_parsed_pandas(df: DataFrame, text_col: str = "text") -> DataFrame:
    """pandas-UDF variant of :func:`with_parsed` (for benchmarks/tests)."""
    return df.withColumn("parsed", _parse_udf(F.col(text_col))).withColumn(
        "sink", F.col("parsed.sink")
    )


def alb_json(parsed_col: str = "parsed") -> Column:
    """Compact JSON for an alb-routed row (33 keys, tid omitted if null)."""
    cols = [F.col(f"{parsed_col}.alb_{f}").alias(f) for f in ALB_FIELDS]
    return F.to_json(F.struct(*cols), {"ignoreNullFields": "true"})


def classic_json(parsed_col: str = "parsed") -> Column:
    """Compact JSON for a classic_lb-routed row (18 keys, never null)."""
    cols = [F.col(f"{parsed_col}.clb_{f}").alias(f) for f in CLASSIC_FIELDS]
    return F.to_json(F.struct(*cols), {"ignoreNullFields": "true"})
