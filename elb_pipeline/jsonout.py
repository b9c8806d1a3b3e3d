"""NDJSON serialization — byte-identical to the reference's serde output.

The reference emits one compact JSON object per parsed line with keys in
struct declaration order (serde derive, alb.rs:8-86 / classic_lb.rs:8-46)
and omits the optional ``tid`` key when absent (alb.rs:81-85). Spark's
``to_json(struct(...))`` (Jackson) produces the same compact form with the
same standard JSON string escaping (``\\`` → ``\\\\``, ``"`` → ``\\"``),
verified byte-for-byte against every reference golden vector in
tests/test_golden_vectors.py. ``ignoreNullFields`` handles the tid
omission — safe because every other ALB field is non-null by construction
whenever the line routed to the alb sink.
"""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F

from elb_pipeline.dialects import ALB_FIELDS, CLASSIC_FIELDS, DIALECTS


def alb_json(parsed_col: str = "parsed") -> Column:
    """Compact JSON for an alb-routed row (33 keys, tid omitted if null)."""
    cols = [F.col(f"{parsed_col}.alb_{f}").alias(f) for f in ALB_FIELDS]
    return F.to_json(F.struct(*cols), {"ignoreNullFields": "true"})


def classic_json(parsed_col: str = "parsed") -> Column:
    """Compact JSON for a classic_lb-routed row (18 keys, never null)."""
    cols = [F.col(f"{parsed_col}.clb_{f}").alias(f) for f in CLASSIC_FIELDS]
    return F.to_json(F.struct(*cols), {"ignoreNullFields": "true"})


# ---------------------------------------------------------------------------
# Arrow-side NDJSON assembly (the hot sink path)
#
# Building the JSON line inside the Arrow batch means only ONE string column
# crosses back to the JVM instead of 33 — measured, that boundary crossing
# (Arrow→UnsafeRow conversion) dominates the sink write at scale. Escaping
# is serde_json-compatible: `\` → `\\`, `"` → `\"`; control characters
# (which the grammars admit inside quoted fields, e.g. a literal TAB in a
# user agent) are rare and routed through a per-row ``json.dumps`` fallback
# so the fast path never emits invalid JSON. Only a dialect's free-text
# fields (``Dialect.free_text``) are escaped and control-checked: no other
# field's grammar admits those bytes. Byte-equality with the reference's
# serde output is asserted on every golden vector.
# ---------------------------------------------------------------------------

_CONTROL_RE = "[\\x00-\\x1f]"


def _value_bytes(arr: pa.Array) -> np.ndarray:
    """Zero-copy view of a string array's value bytes."""
    _, obuf, dbuf = arr.buffers()
    if dbuf is None:
        return np.empty(0, np.uint8)
    offs = np.frombuffer(obuf, np.int32, len(arr) + 1, arr.offset * 4)
    return np.frombuffer(dbuf, np.uint8)[offs[0] : offs[-1]]


def _escape(arr: pa.Array) -> pa.Array:
    b = _value_bytes(arr)
    if not ((b == ord("\\")) | (b == ord('"'))).any():
        return arr
    arr = pc.replace_substring(arr, pattern="\\", replacement="\\\\")
    return pc.replace_substring(arr, pattern='"', replacement='\\"')


def _fallback_rows(
    fields: list[str], children: list[pa.Array], idx: list[int]
) -> dict[int, str]:
    out = {}
    for i in idx:
        d = {}
        for name, col in zip(fields, children):
            v = col[i].as_py()
            if v is not None:
                d[name] = v
        out[i] = json.dumps(d, separators=(",", ":"), ensure_ascii=False)
    return out


def _free_text(fields: list[str]) -> frozenset[str]:
    """The fields to escape: the free-text set of the dialect whose field
    list this is, else every field."""
    for d in DIALECTS:
        if tuple(fields) == d.fields:
            return d.free_text
    return frozenset(fields)


def arrow_ndjson(
    fields: list[str],
    children: list[pa.Array],
    optional_last: bool = False,
) -> pa.Array:
    """Compact NDJSON per row from parallel string arrays (C++-side).

    ``optional_last``: the final field (ALB tid) is omitted when null.
    All other fields must be non-null (true for routed rows by grammar).
    """
    free = _free_text(fields)
    escaped = [_escape(c) if f in free else c for f, c in zip(fields, children)]
    base_fields, base_children = fields, escaped
    suffix = pa.scalar("}")
    if optional_last:
        base_fields, base_children = fields[:-1], escaped[:-1]
        tid = escaped[-1]
        with_tid = pc.binary_join_element_wise(
            pa.scalar(',"tid":"'), tid, pa.scalar('"}'), pa.scalar("")
        )
        suffix = pc.if_else(pc.is_valid(tid), with_tid, suffix)

    parts: list = []
    for k, (name, col) in enumerate(zip(base_fields, base_children)):
        parts.append(pa.scalar(('{"' if k == 0 else '","') + f'{name}":"'))
        parts.append(col)
    out = pc.binary_join_element_wise(
        *parts, pa.scalar('"'), suffix, pa.scalar("")
    )

    # control-char rows (valid per grammar, need \uXXXX escapes) → fallback
    has_ctl = pa.array(np.zeros(len(out), bool))
    for name, col in zip(fields, children):
        if name in free and (_value_bytes(col) < 0x20).any():
            m = pc.match_substring_regex(col, pattern=_CONTROL_RE)
            has_ctl = pc.or_(has_ctl, pc.fill_null(m, False))
    if pc.any(has_ctl).as_py():
        idx = [i for i, v in enumerate(has_ctl.to_pylist()) if v]
        patched = _fallback_rows(fields, children, idx)
        vals = out.to_pylist()
        for i, s in patched.items():
            vals[i] = s
        out = pa.array(vals, pa.string())
    return out
