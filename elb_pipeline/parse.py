"""Vectorized parse + route stage: ONE pure-Arrow operator, ``parse_view``.

The reference parses row-at-a-time with a compiled linear-time regex and
reused capture buffers (alb.rs:199-243, classic_lb.rs:109-139), one parser
per dialect feeding one route (main.rs:194-245). The Spark-native
equivalent here is a single ``mapInArrow`` operator — zero Python objects
per row, field values living in Arrow buffers end to end — whose callers
differ only in which sinks' rows they ``keep`` and which columns they
``emit``. It works match-then-span:

- ALB validity is a capture-free anchored match under pyarrow's C++ RE2
  (its DFA path; RE2 is the same linear-time engine family as Rust's
  ``regex``);
- ALB fields are then cut from the matching rows' UTF-8 buffer by a
  vectorized delimiter tokenizer (:mod:`elb_pipeline.albspan`), the
  analog of the reference's struct of borrowed byte slices. Asking RE2
  for the 33 capture groups would drop it to its NFA at ~20× the cost;
- Classic validity is tested on the non-ALB rows only: one 18-group RE2
  extract when Classic fields or JSON are emitted (it is also their
  validity test), a plain match otherwise;
- dead-letter diagnosis (:mod:`elb_pipeline.deadletter`) runs on the
  malformed rows only, and only when a diagnosis column is emitted.

The declared ``emit`` list matters because Catalyst cannot column-prune
through a Python map operator: whatever the operator emits is materialized
into JVM rows. A pipeline that only routes/aggregates emits one column;
the raw text crosses back only when the caller passes it through.

All fields stay strings with "-"/"-1" sentinels verbatim, exactly like
the reference (it never converts types — README.md:28).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elb_pipeline.albspan import alb_children
from elb_pipeline.deadletter import diagnose_arrow
from elb_pipeline.dialects import (
    ALB_FIELDS,
    ALB_NAMED_PATTERN,
    CLASSIC_FIELDS,
    CLASSIC_NAMED_PATTERN,
    SINK_ALB,
    SINK_CLASSIC,
    SINK_MALFORMED,
)
from elb_pipeline.jsonout import arrow_ndjson

TEXT_COL = "text"
ALL_SINKS = (SINK_ALB, SINK_CLASSIC, SINK_MALFORMED)
ALB_COLS = [f"alb_{f}" for f in ALB_FIELDS]
CLB_COLS = [f"clb_{f}" for f in CLASSIC_FIELDS]
DIAG_COLS = ["nearest_dialect", "fields_ok", "failed_position"]
EMITTABLE = ["sink", "json", "mal_text", *DIAG_COLS, *ALB_COLS, *CLB_COLS]

class ParseAbort(RuntimeError):
    """Raised inside the fused operator in fail-fast mode on the first
    malformed line — the reference's ParseLogError::InvalidLogFormat
    (parse.rs:7-10) surfaced through a failing Spark task."""


# Machine-matchable sentinel embedded in every ParseAbort message: job.py
# recognizes the abort inside the py4j-wrapped task-failure text by this
# token (robust to traceback formatting changes), not by the human prefix.
PARSE_ABORT_SENTINEL = "ELB_PARSE_ABORT::"


_POOLS_PINNED = False


def _pin_worker_pools() -> None:
    """Pin per-worker native thread pools to 1.

    Every Spark task slot runs its own Python worker; if each worker also
    spins up pyarrow's default CPU/IO pools (= machine cores each), a
    32-slot executor explodes into ~32×32 runnable threads and the Arrow
    kernels start context-switch-thrashing instead of computing. One
    worker == one core is the contract here; parallelism is Spark's job.
    """
    global _POOLS_PINNED
    if _POOLS_PINNED:
        return
    try:
        pa.set_cpu_count(1)
        pa.set_io_thread_count(1)
    except Exception:
        pass
    try:
        # Keep jemalloc from handing freed batch memory back to the kernel
        # between Arrow batches: with 32 workers munmap'ing ~30MB per batch,
        # the TLB-shootdown IPIs put every core into ~90% system time
        # (measured via vmstat on this box). Retaining the pool turns that
        # into cheap in-process reuse.
        pa.jemalloc_set_decay_ms(-1)
    except Exception:
        pass
    import os

    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    _POOLS_PINNED = True


def _as_string_array(text: pa.Array) -> pa.Array:
    if isinstance(text, pa.ChunkedArray):
        text = text.combine_chunks()
    if text.type != pa.string():
        text = text.cast(pa.string())
    return text


def _dict_unique(text: pa.Array) -> tuple[pa.Array | None, pa.Array]:
    """Batch-level hash-consing of the input lines: ``(indices, uniques)``
    when the batch carries real redundancy, else ``(None, text)``.

    Routing/extraction/serialization are pure per-line functions, so a
    batch with repeated lines only needs each DISTINCT line parsed once —
    ``dictionary_encode`` is a single C++ hash pass (~2% of the extract
    cost), and ``take`` scatters the per-unique results back. Real log
    corpora repeat lines heavily (health checks, retries, templated
    requests), and the deterministic golden-pool fixtures are an extreme
    case; on an all-unique batch the 2× guard below skips the machinery,
    so the worst case costs one hash pass. Null lines get a null index —
    callers fill the scattered result's nulls with the malformed/None
    value for their operator."""
    enc = text.dictionary_encode()
    uniq = enc.dictionary
    if len(uniq) * 2 >= len(text):
        return None, text
    return enc.indices, uniq


def _scatter(kept: pa.Array, mask: pa.BooleanArray) -> pa.Array:
    """Scatter ``kept`` (len == mask.sum()) back to full length, null where
    mask is false. take() with null indices is the Arrow-native scatter."""
    m = pc.fill_null(mask, False).to_numpy(zero_copy_only=False)
    pos = np.cumsum(m) - 1
    idx = pa.array(np.where(m, pos, 0), pa.int64(), mask=~m)
    return kept.take(idx)


def _alb_match(text: pa.Array) -> pa.Array:
    """Capture-free anchored ALB match (RE2's DFA path) — the only ALB
    validity test; null text → False."""
    return pc.fill_null(
        pc.match_substring_regex(text, pattern=ALB_NAMED_PATTERN), False
    )


# ---------------------------------------------------------------------------
# the kernel: one batch of lines → keep mask + emitted columns
# ---------------------------------------------------------------------------


def _parse_unique(
    text: pa.Array, keep: tuple[str, ...], emit: tuple[str, ...], fail_fast: bool
) -> tuple[pa.Array | None, pa.Array | None, dict[str, pa.Array]]:
    """(keep mask, malformed mask, emitted columns) aligned to ``text`` —
    the per-distinct-line body of :func:`parse_batch`. Each step runs only
    when ``keep``/``emit``/``fail_fast`` need it; the malformed mask is None
    when no Classic test was needed."""
    n = len(text)
    want = set(emit)
    json = "json" in want
    alb_in, clb_in = SINK_ALB in keep, SINK_CLASSIC in keep
    alb_want = [c for c in emit if c in ALB_COLS]
    clb_want = [c for c in emit if c in CLB_COLS]
    clb_extract = clb_in and (json or bool(clb_want))
    alb_ok = _alb_match(text)
    cols: dict[str, pa.Array] = {}

    mal = None
    if (
        clb_extract
        or fail_fast
        or want & {"sink", "mal_text", *DIAG_COLS}
        or clb_in != (SINK_MALFORMED in keep)
    ):
        rest = pc.invert(alb_ok)
        if clb_extract:
            clb_ext = pc.extract_regex(
                text.filter(rest), pattern=CLASSIC_NAMED_PATTERN
            )
            ok_rest = pc.is_valid(clb_ext)
        else:
            ok_rest = pc.fill_null(
                pc.match_substring_regex(
                    text.filter(rest), pattern=CLASSIC_NAMED_PATTERN
                ),
                False,
            )
        clb_ok = pc.fill_null(_scatter(ok_rest, rest), False)
        mal = pc.invert(pc.or_(alb_ok, clb_ok))
        cols["sink"] = pc.if_else(
            alb_ok,
            pa.scalar(SINK_ALB),
            pc.if_else(clb_ok, pa.scalar(SINK_CLASSIC), pa.scalar(SINK_MALFORMED)),
        )

    if set(keep) == set(ALL_SINKS):
        keep_mask = None
    elif mal is None:  # keep is (alb,) or (classic_lb, malformed)
        keep_mask = alb_ok if alb_in else pc.invert(alb_ok)
    else:
        by_sink = {SINK_ALB: alb_ok, SINK_CLASSIC: clb_ok, SINK_MALFORMED: mal}
        keep_mask = by_sink[keep[0]]
        for s in keep[1:]:
            keep_mask = pc.or_(keep_mask, by_sink[s])

    # dead letters first: diagnosis temporaries are freed before the field
    # and JSON arrays below are built, which lowers a batch's peak memory
    nulls = pa.nulls(n, pa.string())
    if "mal_text" in want:
        # a null ARRAY, not a null scalar: pyarrow's if_else with a scalar
        # null writes invalid offsets when ``text`` is a slice
        cols["mal_text"] = pc.if_else(mal, text, nulls)
    if want & set(DIAG_COLS):
        diag = diagnose_arrow(text.filter(mal), positions="failed_position" in want)
        for c, arr in zip(DIAG_COLS, diag):
            if c in want:
                cols[c] = _scatter(arr, mal)

    # fields and JSON only for the dialects whose rows are kept
    if alb_in and (json or alb_want):
        alb = alb_children(text.filter(alb_ok))
    for c in alb_want:
        cols[c] = _scatter(alb[ALB_COLS.index(c)], alb_ok) if alb_in else nulls
    if clb_in and clb_want:
        clb_fields = clb_ext.flatten()  # null on non-Classic rows
    for c in clb_want:
        cols[c] = _scatter(clb_fields[CLB_COLS.index(c)], rest) if clb_in else nulls
    if json:
        js = nulls
        if alb_in and pc.any(alb_ok).as_py():
            alb_js = arrow_ndjson(list(ALB_FIELDS), alb, optional_last=True)
            js = pc.if_else(alb_ok, _scatter(alb_js, alb_ok), js)
        if clb_extract and pc.any(ok_rest).as_py():
            kept = clb_ext.filter(ok_rest)
            clb_js = arrow_ndjson(list(CLASSIC_FIELDS), list(kept.flatten()))
            js = pc.if_else(clb_ok, _scatter(clb_js, clb_ok), js)
        cols["json"] = js
    return keep_mask, mal, cols


def parse_batch(
    text: pa.Array,
    keep: Sequence[str] = ALL_SINKS,
    emit: Sequence[str] = ("sink",),
    fail_fast: bool = False,
) -> tuple[pa.Array | None, list[pa.Array]]:
    """The operator's per-batch kernel: ``(mask, columns)`` where ``mask``
    marks the rows routed to a sink in ``keep`` (None when every sink is
    kept; never null) and ``columns`` are the ``emit`` columns of those
    rows, in ``emit`` order.

    Repeated lines are parsed ONCE per batch (:func:`_dict_unique`) and
    the results taken back to every row; null lines route to malformed
    with null fields. ``fail_fast`` raises :class:`ParseAbort` on the
    batch's first malformed line."""
    keep, emit = tuple(keep), tuple(emit)
    text = _as_string_array(text)
    idx, uniq = _dict_unique(text)
    keep_u, mal_u, cols = _parse_unique(uniq, keep, emit, fail_fast)
    if fail_fast:
        mal = mal_u if idx is None else pc.fill_null(mal_u.take(idx), True)
        if pc.any(mal).as_py():
            # reference strict semantics: abort at the FIRST malformed
            # line mid-stream (main.rs:194-203), with the reference's
            # error text (parse.rs:8). Earlier batches' output may
            # already be emitted — exactly like the CLI, which has
            # already written parsed lines to stdout when it aborts.
            first = text.filter(mal)[0].as_py()
            raise ParseAbort(f"{PARSE_ABORT_SENTINEL}Invalid log line: {first}")
    out = [cols[c] for c in emit]
    if idx is None:
        mask = keep_u
        if mask is not None:
            out = [c.filter(mask) for c in out]
        return mask, out
    mask = None
    if keep_u is not None:
        mask = pc.fill_null(keep_u.take(idx), SINK_MALFORMED in keep)
        idx = idx.filter(mask)
    out = [c.take(idx) for c in out]
    if "sink" in emit:  # null lines: null index → malformed
        i = emit.index("sink")
        out[i] = pc.fill_null(out[i], pa.scalar(SINK_MALFORMED))
    return mask, out


def route_json_arrow(text: pa.Array) -> tuple[pa.Array, pa.Array]:
    """(sink, json) for one Arrow string array, both dialects, one pass —
    the ``run_job`` kernel without its dead-letter columns. json is null
    for malformed rows."""
    return tuple(parse_batch(text, emit=("sink", "json"))[1])


def parse_view(
    df: DataFrame,
    passthrough: Sequence[str] | None = None,
    *,
    keep: Sequence[str] = ALL_SINKS,
    emit: Sequence[str] = ("sink",),
    fail_fast: bool = False,
) -> DataFrame:
    """Route every ``text`` line, keep the rows of the sinks in ``keep``
    (filtered INSIDE the Arrow batch, so other rows never cross back to the
    JVM) and emit ``passthrough + emit`` — one ``mapInArrow`` stage.

    ``passthrough`` (default: every column but ``text``) is selected
    BEFORE the Python map — Catalyst cannot prune through it — so the scan
    reads only those columns plus ``text``; the text itself crosses back
    only when listed there. ``emit`` names the computed columns:

    - ``sink``: 'alb' | 'classic_lb' | 'malformed' (null text → malformed);
    - ``json``: the reference-exact NDJSON line (null when malformed);
    - ``mal_text``: the raw line for malformed rows, else null;
    - ``nearest_dialect``, ``fields_ok``, ``failed_position``: dead-letter
      diagnosis (deadletter.py), computed on ONLY the malformed rows — the
      reference's error fast-path asymmetry (alb.rs:199-203); the per-row
      byte bisection runs only when ``failed_position`` is emitted;
    - ``alb_<field>`` / ``clb_<field>``: one parsed field, null on rows of
      any other sink (read them with :func:`alb_field` /
      :func:`classic_field`).

    ``fail_fast`` aborts the task at the first malformed line
    (:class:`ParseAbort`)."""
    keep, emit = tuple(keep), tuple(emit)
    if not keep or not set(keep) <= set(ALL_SINKS):
        raise ValueError(f"keep must be a non-empty subset of {ALL_SINKS}: {keep}")
    unknown = [c for c in emit if c not in EMITTABLE]
    if unknown:
        raise ValueError(f"cannot emit {unknown}")
    cols = (
        [c for c in df.columns if c != TEXT_COL]
        if passthrough is None
        else list(passthrough)
    )
    src = df.select(*cols) if TEXT_COL in cols else df.select(*cols, TEXT_COL)
    text_idx = src.columns.index(TEXT_COL)
    n_pass = len(cols)
    int_cols = {"fields_ok", "failed_position"}
    out_schema = T.StructType(
        [src.schema[c] for c in cols]
        + [
            T.StructField(
                c, T.IntegerType() if c in int_cols else T.StringType(), c != "sink"
            )
            for c in emit
        ]
    )
    names = [*cols, *emit]

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _pin_worker_pools()
        for batch in batches:
            mask, out = parse_batch(batch.column(text_idx), keep, emit, fail_fast)
            passed = batch.columns[:n_pass]
            if mask is not None:
                passed = [c.filter(mask) for c in passed]
            yield pa.RecordBatch.from_arrays([*passed, *out], names=names)

    return src.mapInArrow(gen, out_schema)


def alb_field(name: str) -> Column:
    return F.col(f"alb_{name}").alias(name)


def classic_field(name: str) -> Column:
    return F.col(f"clb_{name}").alias(name)
