"""Seeded input generators for the benchmark, with the expectations the
output checks compare against.

Every generator takes the seed as an argument, writes parquet under the
work directory and caches it under a content key (seed, sizes and a digest
of this file and the golden pool), so the same seed always yields the same
bytes and a rerun with that seed skips generation.

- ``transcripts(kind="pool")``: rows drawn from the 27-line golden pool
  (17 ALB / 5 Classic / 5 malformed templates, each used n/27 times in a
  seeded order), 20% of rows on two hot conversations, as
  ``synth.synth_transcripts`` does. Batch hash-consing collapses every
  20k-row batch to the 27 templates.
- ``transcripts(kind="entropy")``: the same template per row, but the
  digits of the first timestamp's microseconds and of the client port are
  replaced by a per-template bijection of the row's rank, so every line of
  a template is distinct. Substitution keeps the line length, the sink,
  the JSON byte length and the dead-letter diagnosis of its template:
  every substituted position is checked against the reference parser
  (``dialects.parse_line``) and the diagnosis for all ten digits.
- ``documents``: Zipf-distributed words over a few-thousand-word
  vocabulary, ``doc_id`` below ``dedup.EXACT_OFFSET``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from elb_pipeline import dialects
from elb_pipeline.dedup import EXACT_OFFSET
from elb_pipeline.enrich import ROLES, TOOLS
from elb_pipeline.goldens import ALB_GOLDENS, CLASSIC_GOLDENS, POOL_SINKS, TEXT_POOL

BATCH_ROWS = 20_000  # spark.sql.execution.arrow.maxRecordsPerBatch in get_spark
N_CONVS = 10_000
HOT_SHARE = 0.2
N_FILES = 8
EPOCH_US = 1_667_260_800_000_000  # 2022-11-01T00:00:00Z
GOLDEN_JSON = [j for _, j in ALB_GOLDENS] + [j for _, j in CLASSIC_GOLDENS]
MIN_DISTINCT = 0.99
WARM_UP_SHARE = 4  # the warm-up call reads rows with turn_idx < rows // 4


def _code_key(*parts) -> str:
    h = hashlib.sha256(open(__file__, "rb").read())
    h.update(repr(TEXT_POOL).encode())
    for p in parts:
        h.update(repr(p).encode())
    return h.hexdigest()[:16]


def _cached(path: str, build) -> dict:
    """Run ``build(tmp_dir)`` once per path; the meta JSON marks completion."""
    meta_path = os.path.join(path, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    tmp = f"{path}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    meta = build(tmp)
    with open(os.path.join(tmp, "_meta.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, path)
    return meta


# ---------------------------------------------------------------------------
# high-entropy substitution plan (per template, seed-independent)
# ---------------------------------------------------------------------------

_TS_MICROS = re.compile(r"\.([0-9]{6})Z")
_PORT = re.compile(r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}:([0-9]{1,5})")


def _candidate_positions(line: str) -> list[int]:
    pos: list[int] = []
    for rx in (_TS_MICROS, _PORT):
        m = rx.search(line)
        if m:
            pos.extend(range(m.start(1), m.end(1)))
    return pos


def _diagnose(lines: list[str]) -> list[tuple]:
    from elb_pipeline.deadletter import diagnose_arrow

    cols = diagnose_arrow(pa.array(lines, pa.string()), positions=True)
    return list(zip(*[c.to_pylist() for c in cols]))


def substitution_plan() -> list[list[int]]:
    """Line positions whose digit may be replaced by any digit without
    changing the template's sink, its other fields, or (for malformed
    templates) its diagnosis; checked for all ten digits per position."""
    plan: list[list[int]] = []
    for t, line in enumerate(TEXT_POOL):
        sink, fields = dialects.parse_line(line)
        assert sink == POOL_SINKS[t], (t, sink)
        cands = _candidate_positions(line)
        base_diag = _diagnose([line])[0] if fields is None else None
        safe = []
        for p in cands:
            variants = [line[:p] + str(d) + line[p + 1:] for d in range(10)]
            ok = True
            for v in variants:
                v_sink, v_fields = dialects.parse_line(v)
                if v_sink != sink:
                    ok = False
                elif fields is not None:
                    diff = [k for k in fields if fields[k] != v_fields[k]]
                    ok = ok and set(diff) <= {"time", "client_port"}
            if ok and fields is None:
                ok = all(d == base_diag for d in _diagnose(variants))
            if ok:
                safe.append(p)
        if len(safe) < 6:
            raise AssertionError(f"template {t}: only {len(safe)} safe digits")
        plan.append(safe)
    return plan


def _json_positions(t: int, positions: list[int]) -> list[int]:
    """Where each substituted line digit lands in the golden JSON (only
    the verbatim, escape-free ``time``/``client_port`` values are hit)."""
    line = TEXT_POOL[t]
    d = dialects.ALB if POOL_SINKS[t] == dialects.SINK_ALB else dialects.CLASSIC
    m = d.regex.fullmatch(line)
    golden = GOLDEN_JSON[t]
    out = []
    for p in positions:
        for name in ("time", "client_port"):
            gi = d.fields.index(name) + 1
            if m.start(gi) <= p < m.end(gi):
                key = golden.index(f'"{name}":"') + len(name) + 4
                out.append(key + p - m.start(gi))
                break
        else:
            raise AssertionError(f"template {t}: position {p} outside time/port")
    for p, q in zip(positions, out):
        assert golden[q] == line[p], (t, p, q)
    return out


# ---------------------------------------------------------------------------
# transcripts
# ---------------------------------------------------------------------------


def _entropy_params(rng: np.random.Generator, k: int) -> tuple[int, int]:
    """(a, b) of the rank bijection r -> (a*r + b) mod 10^k: a is odd and
    not a multiple of 5, so it is a unit mod 10^k."""
    while True:
        a = int(rng.integers(1, 10**k))
        if a % 2 and a % 5:
            return a, int(rng.integers(0, 10**k))


def _substituted(t: int, ranks: np.ndarray, plan: list[int], ab) -> np.ndarray:
    """(len(ranks), len(line)) uint8 rows of template t, the plan's digits
    set to those of the rank's image under the bijection."""
    line = np.frombuffer(TEXT_POOL[t].encode(), dtype=np.uint8)
    k = len(plan)
    a, b = ab
    assert k <= 11 and len(ranks) < 10**7  # a*r + b stays below 2**63
    v = (ranks.astype(np.int64) * a + b) % (10**k)
    mat = np.repeat(line[None, :], len(ranks), axis=0)
    for j, p in enumerate(plan):
        mat[:, p] = 48 + (v // 10 ** (k - 1 - j)) % 10
    return mat


def _text_column(tmpl: np.ndarray, kind: str, rng, plan) -> pa.Array:
    n = len(tmpl)
    if kind == "pool":
        return pa.array(TEXT_POOL, pa.string()).take(pa.array(tmpl))
    # Build each template's rows contiguously, then interleave with take().
    order = np.argsort(tmpl, kind="stable")
    chunks, lens = [], []
    for t in range(len(TEXT_POOL)):
        rows = order[tmpl[order] == t]
        ab = _entropy_params(rng, len(plan[t]))
        mat = _substituted(t, np.arange(len(rows)), plan[t], ab)
        chunks.append(mat.tobytes())
        lens.append(np.full(len(rows), mat.shape[1], dtype=np.int64))
    all_lens = np.concatenate(lens)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(all_lens, out=offsets[1:])
    grouped = pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets.tobytes()), pa.py_buffer(b"".join(chunks))
    )
    # grouped row g holds the row order[g]; invert to input order
    inv = np.empty(n, dtype=np.int64)
    inv[order] = np.arange(n)
    return grouped.take(pa.array(inv))


def batch_distinct_ratios(text: pa.Array) -> list[float]:
    return [
        pc.count_distinct(text.slice(i, BATCH_ROWS)).as_py()
        / len(text.slice(i, BATCH_ROWS))
        for i in range(0, len(text), BATCH_ROWS)
    ]


def transcripts(work: str, kind: str, n_rows: int, seed: int) -> dict:
    """Write seeded transcripts parquet; return meta with the path,
    per-sink expectations and sample rows (expected JSON byte strings)."""
    key = _code_key("transcripts", kind, n_rows, seed)
    path = os.path.join(work, "inputs", f"transcripts-{kind}-{n_rows}-s{seed}-{key}")

    def build(tmp: str) -> dict:
        rng = np.random.default_rng([seed, 1 if kind == "pool" else 2])
        n_t = len(TEXT_POOL)
        tmpl = rng.permutation(np.arange(n_rows) % n_t)
        plan = substitution_plan() if kind == "entropy" else None
        text = _text_column(tmpl, kind, rng, plan)
        hot = rng.random(n_rows) < HOT_SHARE
        conv = np.where(hot, rng.integers(0, 2, n_rows), rng.integers(0, N_CONVS, n_rows))
        ts = EPOCH_US + rng.integers(0, 3 * 86_400 * 10**6, n_rows)
        table = pa.table(
            {
                "conv_id": pa.array([f"conv-{c:06d}" for c in conv.tolist()]),
                "turn_idx": pa.array(np.arange(n_rows, dtype=np.int32)),
                "role": pa.array(ROLES, pa.string()).take(
                    pa.array(rng.integers(0, len(ROLES), n_rows))
                ),
                "text": text,
                "tool": pa.array(TOOLS, pa.string()).take(
                    pa.array(rng.integers(0, len(TOOLS), n_rows))
                ),
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            }
        )
        ratios = batch_distinct_ratios(text)
        if kind == "entropy" and min(ratios) < MIN_DISTINCT:
            raise AssertionError(f"distinct ratio {min(ratios):.4f} < {MIN_DISTINCT}")
        step = -(-n_rows // N_FILES)
        for i in range(N_FILES):
            pq.write_table(
                table.slice(i * step, step), os.path.join(tmp, f"part-{i:03d}.parquet")
            )
        counts = np.bincount(tmpl, minlength=n_t)
        warm_counts = np.bincount(tmpl[: n_rows // WARM_UP_SHARE], minlength=n_t)
        exp_counts = {s: 0 for s in dialects.SINKS}
        exp_json = {s: 0 for s in dialects.SINKS}
        mal_bytes = 0
        for t in range(n_t):
            s = POOL_SINKS[t]
            exp_counts[s] += int(counts[t])
            if s == dialects.SINK_MALFORMED:
                mal_bytes += int(counts[t]) * len(TEXT_POOL[t].encode())
            else:
                exp_json[s] += int(counts[t]) * len(GOLDEN_JSON[t].encode())
        # sample: two rows per template, expected output derived from the
        # golden vectors (valid) or the input line itself (malformed)
        sample = []
        for t in range(n_t):
            rows = np.flatnonzero(tmpl == t)[:2]
            for r in rows.tolist():
                line = text[r].as_py()
                if POOL_SINKS[t] == dialects.SINK_MALFORMED:
                    expected = None
                else:
                    expected = GOLDEN_JSON[t]
                    if kind == "entropy":
                        js = list(expected)
                        for p, q in zip(plan[t], _json_positions(t, plan[t])):
                            js[q] = line[p]
                        expected = "".join(js)
                sample.append(
                    {"turn_idx": r, "template": t, "sink": POOL_SINKS[t],
                     "json": expected, "text": line}
                )
        return {
            "rows": n_rows,
            "kind": kind,
            "seed": seed,
            "sink_counts": exp_counts,
            "warm_up_rows": n_rows // WARM_UP_SHARE,
            "warm_up_sink_counts": {
                sk: int(sum(warm_counts[t] for t in range(n_t) if POOL_SINKS[t] == sk))
                for sk in dialects.SINKS
            },
            "json_bytes": exp_json,
            "malformed_text_bytes": mal_bytes,
            "distinct_ratio_mean": float(np.mean(ratios)),
            "sample": sample,
        }

    meta = _cached(path, build)
    meta["path"] = path
    return meta


def read_text_batch(meta: dict, n: int = BATCH_ROWS) -> pa.Array:
    """The first ``n`` input lines, as the kernel would see one batch."""
    t = pq.read_table(meta["path"], columns=["text"])
    return t.column("text").slice(0, n).combine_chunks()


# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------

_SYLLABLES = [
    "ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu",
    "fe", "do", "gi", "ha", "ju", "be", "co", "ry", "wu",
]


def documents(work: str, n_docs: int, seed: int, vocab: int = 3000) -> dict:
    key = _code_key("documents", n_docs, vocab, seed)
    path = os.path.join(work, "inputs", f"documents-{n_docs}-s{seed}-{key}")

    def build(tmp: str) -> dict:
        rng = np.random.default_rng([seed, 3])
        words: set[str] = set()
        while len(words) < vocab:
            k = int(rng.integers(2, 5))
            words.add("".join(rng.choice(_SYLLABLES, k)))
        words_arr = np.array(sorted(words))
        rng.shuffle(words_arr)
        p = 1.0 / np.arange(1, vocab + 1) ** 1.05
        p /= p.sum()
        lens = rng.integers(30, 90, n_docs)
        draws = rng.choice(vocab, int(lens.sum()), p=p)
        texts, o = [], 0
        for n in lens.tolist():
            texts.append(" ".join(words_arr[draws[o:o + n]].tolist()))
            o += n
        # contiguous ids: every seed plants the same number of exact (id % 11)
        # and near (id % 13) duplicates, so seeds differ in text, not in size
        ids = int(rng.integers(1, EXACT_OFFSET - n_docs)) + np.arange(n_docs)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
            os.path.join(tmp, "part-000.parquet"),
        )
        return {"docs": n_docs, "vocab": vocab, "seed": seed}

    meta = _cached(path, build)
    meta["path"] = path
    return meta
