"""ALB field extraction by span: match first, then cut the line at its
delimiters.

The anchored ALB pattern (``dialects.ALB_PATTERN``) decides validity with a
capture-free RE2 match, which runs on RE2's DFA. Asking RE2 for the 33
capture groups instead drops it to its NFA, at about 20× the cost per line.
Once a line is known to match, every field boundary is a delimiter the
grammar fixes, so the fields can be cut straight out of the Arrow string
buffer with vectorized numpy — the analog of the reference's struct of
borrowed byte slices (alb.rs:8-86).

Every boundary is a "next delimiter at or after p" lookup
(``np.searchsorted``) over the sorted positions of the batch's spaces and of
its *unescaped* quotes (a quote after an even run of backslashes). The
grammar rules the spans reproduce:

- fields 1-13 and the method hold no space or quote, so the first 13
  spaces of a line end them, and ``client_ip:client_port`` splits at the
  last ``:`` (the port is 1-5 digits);
- url, user_agent, redirect_url, trace_id and chosen_cert_arn admit
  quotes only as ``\\"`` escapes, which the parity rule excludes, so each
  ends at the next unescaped quote; the quoted fields after trace_id hold
  no other quote, so their 20 quotes are consecutive in that array;
- url is lazy, so the version is the longest valid
  `` (-|HTTP/[0-9.]+)? ?"`` suffix before the request's closing quote;
- domain_name drops one leading space;
- target_group_arn ends at the next space, even if it holds a ``"``;
- request_creation_time is a fixed 27-byte timestamp;
- tid is optional and null when absent, and one trailing ``\\n`` belongs
  to no field.

Every field comes out of one ``take`` over an array that views the input's
data buffer through interleaved (field, gap) offsets, so no per-byte index
is built. ``tests/test_properties.py`` checks the spans against RE2's
captures on adversarial valid lines.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from elb_pipeline.dialects import ALB_FIELDS

_SP, _QUOTE, _BSLASH, _NL, _DASH, _DOT = 32, 34, 92, 10, 45, 46
_HTTP = np.frombuffer(b"HTTP/", np.uint8)
_N_FIELDS = len(ALB_FIELDS)
_TIMESTAMP_LEN = len("2022-11-01T23:50:27.904000Z")


def _unescaped_quotes(data: np.ndarray, lo: int, hi: int) -> np.ndarray:
    """Sorted positions in ``data[lo:hi]`` of quotes that follow an even
    run of backslashes."""
    q = np.flatnonzero(data[lo:hi] == _QUOTE) + lo
    odd = np.zeros(len(q), bool)
    cand = np.arange(len(q))
    pos = q - 1
    while len(cand):
        back = (pos >= lo) & (data[np.maximum(pos, lo)] == _BSLASH)
        cand, pos = cand[back], pos[back]
        odd[cand] ^= True
        pos = pos - 1
    return q[~odd]


def _http_version(data: np.ndarray, v0: np.ndarray, v1: np.ndarray) -> np.ndarray:
    """Which spans ``data[v0:v1]`` match ``HTTP/[0-9.]+``."""
    ok = v1 - v0 >= len(_HTTP) + 1
    for i, c in enumerate(_HTTP):
        ok &= data[np.where(ok, v0 + i, 0)] == c
    rows = np.flatnonzero(ok)
    lens = v1[rows] - v0[rows] - len(_HTTP)
    first = np.cumsum(lens) - lens
    byte = data[np.repeat(v0[rows] + len(_HTTP) - first, lens) + np.arange(lens.sum())]
    bad = (byte != _DOT) & ((byte < 48) | (byte > 57))
    if len(rows):
        ok[rows] = np.add.reduceat(bad, first) == 0
    return ok


def alb_children(text: pa.Array) -> list[pa.Array]:
    """The 33 ALB field arrays, in ``ALB_FIELDS`` order, of a string array
    whose every line matches ``ALB_PATTERN`` (no nulls). ``tid`` is null
    where the line has none. Lines that do not match give undefined spans:
    callers match first."""
    n = len(text)
    if n == 0:
        return [pa.array([], pa.string()) for _ in ALB_FIELDS]
    _, obuf, dbuf = text.buffers()
    offs = np.frombuffer(obuf, np.int32, n + 1, text.offset * 4).astype(np.int64)
    data = np.frombuffer(dbuf, np.uint8)
    lo, hi = int(offs[0]), int(offs[-1])
    row0, row1 = offs[:-1], offs[1:]
    row1 = row1 - (data[row1 - 1] == _NL)
    sp = np.flatnonzero(data[lo:hi] == _SP) + lo
    uq = _unescaped_quotes(data, lo, hi)

    # type .. sent_bytes, then the method: the line's first 13 spaces
    s = sp[np.searchsorted(sp, row0)[:, None] + np.arange(13)].T
    colon = s[3] - 2
    for _ in range(4):  # client_port is 1-5 digits
        colon -= data[colon] != ord(":")
    # request: its open quote and close, then the user agent's two quotes
    rq, ua0, ua1 = uq[np.searchsorted(uq, s[11] + 1)[:, None] + np.arange(1, 4)].T
    u0 = s[12] + 1
    trail = data[rq - 1] == _SP
    ve = rq - trail
    sv = sp[np.searchsorted(sp, ve) - 1]
    http = (sv >= u0) & _http_version(data, sv + 1, ve)
    dash = (data[ve - 1] == _DASH) & (data[ve - 2] == _SP) & (ve - 2 >= u0)
    blank = trail & (data[rq - 2] == _SP) & (rq - 2 >= u0)
    url1 = np.where(http, sv, np.where(dash, ve - 2, np.where(blank, rq - 2, rq - 1)))
    ver1 = np.where(http | dash, ve, url1 + 1)
    # ssl_cipher, ssl_protocol, target_group_arn: the 3 spaces after the UA
    c = sp[np.searchsorted(sp, ua1)[:, None] + np.arange(1, 4)].T
    # trace_id .. classification_reason: 10 quoted fields, 20 quotes
    t = uq[np.searchsorted(uq, c[2] + 1)[:, None] + np.arange(20)].T
    dom0 = t[2] + 1 + (data[t[2] + 1] == _SP)
    tid0 = np.minimum(t[19] + 2, row1)

    spans = [
        (row0, s[0]), (s[0] + 1, s[1]), (s[1] + 1, s[2]),
        (s[2] + 1, colon), (colon + 1, s[3]),
        *[(s[k] + 1, s[k + 1]) for k in range(3, 11)],
        (s[11] + 2, s[12]), (u0, url1), (url1 + 1, ver1), (ua0 + 1, ua1),
        (ua1 + 2, c[0]), (c[0] + 1, c[1]), (c[1] + 1, c[2]),
        (t[0] + 1, t[1]), (dom0, t[3]), (t[4] + 1, t[5]),
        (t[5] + 2, t[6] - _TIMESTAMP_LEN - 2), (t[6] - _TIMESTAMP_LEN - 1, t[6] - 1),
        *[(t[k] + 1, t[k + 1]) for k in range(6, 20, 2)],
        (tid0, row1),
    ]
    assert len(spans) == _N_FIELDS
    # row-major (start, end) pairs: the offsets of a string array whose even
    # values are the fields and odd values the gaps between them
    bounds = np.empty((n, _N_FIELDS, 2), np.int32)
    for f, (a, b) in enumerate(spans):
        bounds[:, f, 0] = a
        bounds[:, f, 1] = b
    inter_offs = np.append(bounds.ravel(), bounds[-1, -1, 1])
    if (np.diff(inter_offs) < 0).any():  # would make take() read out of bounds
        raise ValueError("ALB spans out of order: a line does not match ALB_PATTERN")
    inter = pa.Array.from_buffers(
        pa.string(), len(inter_offs) - 1, [None, pa.py_buffer(inter_offs), dbuf]
    )
    # field-major take: field f of row i is value 2 * (33 * i + f)
    pick = 2 * (np.arange(_N_FIELDS, dtype=np.int32)[:, None]
                + _N_FIELDS * np.arange(n, dtype=np.int32))
    no_tid = np.zeros(pick.shape, bool)
    no_tid[-1] = tid0 == row1
    flat = inter.take(pa.array(pick.ravel(), mask=no_tid.ravel()))
    return [flat.slice(f * n, n) for f in range(_N_FIELDS)]
