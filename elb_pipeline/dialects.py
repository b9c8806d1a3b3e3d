"""Dialect grammars for the two load-balancer log formats.

Each dialect is a faithful re-expression of the reference parser's anchored
regex grammar (reference: /root/reference/src/alb.rs:100-191 for ALB,
/root/reference/src/classic_lb.rs:60-101 for Classic-LB), rebuilt as a
*compact* (non-verbose) pattern so the identical pattern string runs under:

- Python ``re`` (the vectorized pandas-UDF parse path),
- DuckDB's RE2 (``regexp_full_match`` / ``regexp_extract`` — the correctness
  oracle; RE2 has no free-spacing mode, hence compact), and
- Spark's JVM regex (``rlike``), if ever needed for a JVM-only routing path.

The grammars keep every real-world quirk the reference encodes:

- ALB http_version may be empty, with an optional undocumented trailing
  space inside the quoted request (alb.rs:133-135).
- ALB domain_name strips one optional leading space (alb.rs:148).
- ALB actions_executed may be the empty string (alb.rs:160).
- ALB optional trailing TID field, omitted from JSON when absent
  (alb.rs:188, alb.rs:81-85).
- Classic ``http_version`` of a null request captures the literal "- "
  WITH its trailing space (classic_lb.rs:91, test classic_lb.rs:165-167).
- Classic backend_status_code allows 1-3 digits, so "0" is valid
  (classic_lb.rs:80).
- Both grammars tolerate one optional trailing newline (alb.rs:189,
  classic_lb.rs:99).

All extracted fields are strings; sentinel "-" / "-1" values are kept
verbatim, exactly as the reference does (it never converts types).

Patterns are assembled from ordered per-field parts lists so the
dead-letter diagnostics can build cumulative prefix patterns — the
field-granular analog of the reference's try_find_failed_position DFA
walk (parse.rs:22-41).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Shared fragments
# ---------------------------------------------------------------------------

_TIMESTAMP = r"[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}.[0-9]{6}Z"
_IP = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
_IP_PORT = _IP + r":[0-9]{1,5}"
_PROC_TIME = r"[0-9]+\.[0-9]+|-1"
# Quoted-string body grammar used by ALB url / user_agent / redirect_url
# (alb.rs:131,138,163): raw chars, \" and \\ escapes, and \xHH or \xHHHHHHHH
# hex escapes (2 or 8 hex digits, any case).
_ALB_ESCAPED = r'(?:[^\n\\"]|\\"|\\\\|\\x[0-9a-fA-F]{2}(?:[0-9a-fA-F]{6})?)'
# Classic-LB variant: \xhhhhhhhh only — exactly 8 LOWERCASE hex digits
# (classic_lb.rs:89).
_CLB_ESCAPED = r'(?:[^\n\\"]|\\"|\\\\|\\x[0-9a-f]{8})'
_ACTION = r"(?:authenticate|fixed-response|forward|redirect|waf|waf-failed)"

# ---------------------------------------------------------------------------
# ALB grammar — 33 capture groups, schema order (alb.rs:100-191, 208-242).
# Each part = (leading separator +) one capture group, one part per field.
# ---------------------------------------------------------------------------

ALB_PARTS: list[str] = [
    r"(http|https|h2|grpcs|ws|wss)",  # 1 type
    r"\x20(" + _TIMESTAMP + r")",  # 2 time
    r"\x20([a-zA-Z0-9](?:[/a-zA-Z0-9-]*[a-zA-Z0-9])?)",  # 3 elb (allows /)
    r"\x20(" + _IP + r")",  # 4 client_ip
    r":([0-9]{1,5})",  # 5 client_port
    r"\x20(" + _IP_PORT + r"|-)",  # 6 target_ip_port
    r"\x20(" + _PROC_TIME + r")",  # 7 request_processing_time
    r"\x20(" + _PROC_TIME + r")",  # 8 target_processing_time
    r"\x20(" + _PROC_TIME + r")",  # 9 response_processing_time
    r"\x20([0-9]{3}|-)",  # 10 elb_status_code
    r"\x20([0-9]{3}|-)",  # 11 target_status_code
    r"\x20([0-9]+)",  # 12 received_bytes
    r"\x20([0-9]+)",  # 13 sent_bytes
    # 14 http_method — the trailing '-_' in the class are literals (verified
    # identical interpretation under Python re and RE2): '-'/'--location' ok
    r'\x20"([0-9A-Za-z-_]+)',
    r"\x20(" + _ALB_ESCAPED + r"*?)",  # 15 url (non-greedy)
    # 16 http_version — may be EMPTY (alb.rs:133-134), plus an undocumented
    # optional trailing space before the closing quote (alb.rs:135)
    r'\x20((?:-|HTTP/[0-9.]+)?)\x20?"',
    r'\x20"(' + _ALB_ESCAPED + r'*)"',  # 17 user_agent
    r"\x20([0-9A-Z-_]+)",  # 18 ssl_cipher
    r"\x20(TLSv[0-9.]+|-)",  # 19 ssl_protocol
    r"\x20(arn:[^\x20]*|-)",  # 20 target_group_arn
    r'\x20"((?:[^\\"]|\\")*)"',  # 21 trace_id
    r'\x20"\x20?([0-9A-Za-z.\-\*:_]*)"',  # 22 domain_name (strips one leading space)
    r'\x20"(arn:(?:[^\\"]|\\")*|session-reused|-)"',  # 23 chosen_cert_arn
    r"\x20([0-9]{1,5}|-1|-)",  # 24 matched_rule_priority
    r"\x20(" + _TIMESTAMP + r")",  # 25 request_creation_time
    # 26 actions_executed — may be empty "" (alb.rs:160)
    r'\x20"(' + _ACTION + r"(?:," + _ACTION + r')*|-?)"',
    r'\x20"(' + _ALB_ESCAPED + r'*|-)"',  # 27 redirect_url
    r'\x20"([a-zA-Z]+|-)"',  # 28 error_reason
    r'\x20"((?:' + _IP_PORT + r"(?:\x20" + _IP_PORT + r')*)|-)"',  # 29 target_ip_port_list
    r'\x20"((?:[0-9]{3}(?:\x20[0-9]{3})*)|-)"',  # 30 target_status_code_list
    r'\x20"(Acceptable|Ambiguous|Severe|-)"',  # 31 classification
    r'\x20"([a-zA-Z]+|-)"',  # 32 classification_reason
    r"(?:\x20(TID_[a-zA-Z0-9]{32}|-))?",  # 33 tid (optional, May 2024)
]

ALB_PATTERN = "^" + "".join(ALB_PARTS) + r"\x0A?$"

# Schema order == serde struct declaration order (alb.rs:8-86); JSON key
# order must match exactly for byte-identical output.
ALB_FIELDS: list[str] = [
    "type",
    "time",
    "elb",
    "client_ip",
    "client_port",
    "target_ip_port",
    "request_processing_time",
    "target_processing_time",
    "response_processing_time",
    "elb_status_code",
    "target_status_code",
    "received_bytes",
    "sent_bytes",
    "http_method",
    "url",
    "http_version",
    "user_agent",
    "ssl_cipher",
    "ssl_protocol",
    "target_group_arn",
    "trace_id",
    "domain_name",
    "chosen_cert_arn",
    "matched_rule_priority",
    "request_creation_time",
    "actions_executed",
    "redirect_url",
    "error_reason",
    "target_ip_port_list",
    "target_status_code_list",
    "classification",
    "classification_reason",
    "tid",  # optional — omitted from JSON when absent
]

# ---------------------------------------------------------------------------
# Classic-LB grammar — 18 capture groups (classic_lb.rs:60-101)
# ---------------------------------------------------------------------------

CLASSIC_PARTS: list[str] = [
    r"(" + _TIMESTAMP + r")",  # 1 time
    r"\x20([a-zA-Z0-9](?:[a-zA-Z0-9-]*[a-zA-Z0-9])?)",  # 2 elb (NO / — unlike ALB)
    r"\x20(" + _IP + r")",  # 3 client_ip
    r":([0-9]{1,5})",  # 4 client_port
    r"\x20(" + _IP_PORT + r"|-)",  # 5 backend_ip_port
    r"\x20(" + _PROC_TIME + r")",  # 6 request_processing_time
    r"\x20(" + _PROC_TIME + r")",  # 7 backend_processing_time
    r"\x20(" + _PROC_TIME + r")",  # 8 response_processing_time
    r"\x20([0-9]{3}|-)",  # 9 elb_status_code
    r"\x20([0-9]{1,3}|-)",  # 10 backend_status_code (1-3 digits: "0" valid)
    r"\x20([0-9]+)",  # 11 received_bytes
    r"\x20([0-9]+)",  # 12 sent_bytes
    r'\x20"(-|[A-Z]+)',  # 13 http_method (stricter than ALB)
    r"\x20(" + _CLB_ESCAPED + r"*)",  # 14 url
    r'\x20(-\x20|HTTP/[0-9.]+)"',  # 15 http_version — "- " captures the SPACE
    r'\x20"(' + _CLB_ESCAPED + r'*)"',  # 16 user_agent
    r"\x20([0-9A-Z-]+)",  # 17 ssl_cipher (no _ — unlike ALB)
    r"\x20(TLSv[0-9.]+|-)",  # 18 ssl_protocol
]

CLASSIC_PATTERN = "^" + "".join(CLASSIC_PARTS) + r"\x0A?$"

CLASSIC_FIELDS: list[str] = [
    "time",
    "elb",
    "client_ip",
    "client_port",
    "backend_ip_port",
    "request_processing_time",
    "backend_processing_time",
    "response_processing_time",
    "elb_status_code",
    "backend_status_code",
    "received_bytes",
    "sent_bytes",
    "http_method",
    "url",
    "http_version",
    "user_agent",
    "ssl_cipher",
    "ssl_protocol",
]

# ---------------------------------------------------------------------------
# Dialect registry — the pluggable analog of the reference's LBLogParser
# trait (parse.rs:12-42): {name, extension, pattern, ordered fields}.
# ---------------------------------------------------------------------------

SINK_ALB = "alb"
SINK_CLASSIC = "classic_lb"
SINK_MALFORMED = "malformed"
SINKS = [SINK_ALB, SINK_CLASSIC, SINK_MALFORMED]


@dataclass(frozen=True)
class Dialect:
    name: str
    ext: str  # file-corpus extension association (main.rs:120-123)
    pattern: str  # compact anchored regex, engine-portable
    parts: tuple[str, ...]  # per-field chunks, for prefix diagnostics
    fields: tuple[str, ...]
    optional_fields: frozenset[str] = field(default_factory=frozenset)
    # fields whose grammar admits '"', '\\' or bytes below 0x20: the only
    # ones NDJSON output has to escape (jsonout.arrow_ndjson)
    free_text: frozenset[str] = field(default_factory=frozenset)

    @property
    def regex(self) -> re.Pattern[str]:
        return _compiled(self.pattern)

    def prefix_regexes(self) -> list[re.Pattern[str]]:
        """Cumulative unanchored-tail prefixes: prefix k matches lines whose
        first k fields are well-formed. Used only for dead-letter
        failed-position diagnostics (cf. parse.rs:22-41)."""
        return [
            _compiled("^" + "".join(self.parts[:k]))
            for k in range(1, len(self.parts) + 1)
        ]


def named_pattern(pattern: str, fields: list[str] | tuple[str, ...]) -> str:
    """Rewrite unnamed capture groups to named groups ``(?P<field>...)``.

    RE2's ``extract_regex`` (the pyarrow C++ fast path) requires named
    groups; ``(?P<...>)`` is accepted identically by Python ``re`` and RE2,
    so the named pattern stays engine-portable. Group order must equal
    ``fields`` order.
    """
    it = iter(fields)
    out: list[str] = []
    j = 0
    while j < len(pattern):
        c = pattern[j]
        if c == "\\":  # escaped char (incl. \( ) — copy verbatim
            out.append(pattern[j : j + 2])
            j += 2
            continue
        if c == "(" and pattern[j + 1 : j + 2] != "?":
            out.append(f"(?P<{next(it)}>")
            j += 1
            continue
        out.append(c)
        j += 1
    remaining = list(it)
    if remaining:
        raise ValueError(f"pattern has fewer groups than fields: {remaining}")
    return "".join(out)


ALB_NAMED_PATTERN = None  # filled below, after field lists exist
CLASSIC_NAMED_PATTERN = None

_COMPILE_CACHE: dict[str, re.Pattern[str]] = {}


def _compiled(pattern: str) -> re.Pattern[str]:
    # Compile once per process (executor) and reuse across Arrow batches —
    # the analog of the reference's amortized CaptureLocations (alb.rs:90).
    rx = _COMPILE_CACHE.get(pattern)
    if rx is None:
        rx = _COMPILE_CACHE[pattern] = re.compile(pattern)
    return rx


ALB = Dialect(
    name=SINK_ALB,
    ext=".log.gz",
    pattern=ALB_PATTERN,
    parts=tuple(ALB_PARTS),
    fields=tuple(ALB_FIELDS),
    optional_fields=frozenset({"tid"}),
    free_text=frozenset({
        "url", "user_agent", "redirect_url", "trace_id", "chosen_cert_arn",
        "target_group_arn",
    }),
)
CLASSIC = Dialect(
    name=SINK_CLASSIC,
    ext=".log",
    pattern=CLASSIC_PATTERN,
    parts=tuple(CLASSIC_PARTS),
    fields=tuple(CLASSIC_FIELDS),
    free_text=frozenset({"url", "user_agent"}),
)

ALB_NAMED_PATTERN = named_pattern(ALB_PATTERN, ALB_FIELDS)
CLASSIC_NAMED_PATTERN = named_pattern(CLASSIC_PATTERN, CLASSIC_FIELDS)

# Routing precedence: try ALB first, then Classic (grammars are disjoint —
# ALB lines start with a scheme token alb.rs:102, Classic with a timestamp
# classic_lb.rs:62 — so precedence order cannot change results; tested).
DIALECTS: list[Dialect] = [ALB, CLASSIC]


def parse_line(text: str) -> tuple[str, dict[str, str | None] | None]:
    """Pure-Python single-line parse → (sink, fields dict | None).

    This is the row-at-a-time oracle used by tests, mirroring the
    reference's parse-or-reject (alb.rs:199-203, classic_lb.rs:109-113).
    The Spark path never calls this per row — it uses the vectorized
    pandas UDF in parse.py.
    """
    for d in DIALECTS:
        # fullmatch, not match: Python's $ also matches just before a
        # trailing newline, so "line\n\n" would pass under match() while
        # RE2 (the Arrow production path and the DuckDB oracle) rejects
        # it. fullmatch closes that engine-divergence hole; the \x0A?$
        # anchors stay harmless.
        m = d.regex.fullmatch(text)
        if m:
            return d.name, dict(zip(d.fields, m.groups()))
    return SINK_MALFORMED, None
