"""Grok-style regex extraction as a reusable DataFrame operator — the
north rule's 'grok/regex parse' surface generalized beyond the GC
grammar (core.py): named %{PATTERN:field:type} templates compile to ONE
regex whose fields project out as typed codegen ``regexp_extract``
columns.  No Python in the hot path — the compiled pattern runs inside
whole-stage codegen exactly like the hand-built parsers, so a grok
stage costs one pruned column scan at any corpus size.

Cross-engine note: the compiled regex is deliberately restricted to
the syntax common to java.util.regex (Spark) and RE2 (DuckDB) —
non-capturing groups, bounded repeats, classes — so an oracle can run
the SAME compiled regex; the oracle parity gate (`gc_grok_access`)
exercises that across both engines.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: base patterns (grok-core subset, RE2-safe: no backrefs, no lookarounds)
GROK_PATTERNS: dict[str, str] = {
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "IP": r"\d{1,3}(?:\.\d{1,3}){3}",
    "TIMESTAMP_ISO8601": (
        r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d{1,6})?"
    ),
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|WARN|ERROR|FATAL)",
}

#: grok type suffix → Spark SQL cast type
GROK_TYPES: dict[str, str] = {
    "int": "bigint",
    "float": "double",
    "ts": "timestamp",
    "str": "string",
}

_FIELD_RE = re.compile(
    r"%\{([A-Z0-9_]+)(?::([A-Za-z_]\w*))?(?::(int|float|ts|str))?\}"
)


def grok_compile(pattern: str) -> tuple[str, list[tuple[str, str]]]:
    """Compile a grok template to ``(regex, [(field, sql_type), ...])``.
    Fields appear as capturing groups in template order (group i+1);
    un-named %{PAT} terms compile to non-capturing groups.  Literal
    text between terms is regex-escaped."""
    fields: list[tuple[str, str]] = []
    out: list[str] = []
    pos = 0
    for m in _FIELD_RE.finditer(pattern):
        out.append(re.escape(pattern[pos:m.start()]))
        base, name, typ = m.group(1), m.group(2), m.group(3)
        if base not in GROK_PATTERNS:
            raise ValueError(f"unknown grok pattern %{{{base}}}")
        body = GROK_PATTERNS[base]
        if name:
            fields.append((name, GROK_TYPES[typ or "str"]))
            out.append(f"({body})")
        else:
            out.append(f"(?:{body})")
        pos = m.end()
    out.append(re.escape(pattern[pos:]))
    return "".join(out), fields


def grok_parse(df: DataFrame, col: str, pattern: str) -> DataFrame:
    """Project the grok template's typed fields out of ``col``.

    Every field is a guarded codegen expression: the cast only runs on
    rows the full regex matched (``rlike``), and a garbage line is
    dropped instead of raising an ANSI
    cast error poisoning the scan — the IgnoredLine discipline of the
    GC parser (core.py) applied to arbitrary templates."""
    regex, fields = grok_compile(pattern)
    if not fields:
        raise ValueError("pattern binds no named fields")
    matched = F.col(col).rlike(regex)
    exprs = []
    for i, (name, typ) in enumerate(fields):
        raw = F.regexp_extract(F.col(col), regex, i + 1)
        val = F.when(matched, raw)
        if typ == "timestamp":
            val = F.when(matched, F.to_timestamp(raw))
        elif typ != "string":
            val = F.when(matched, raw.cast(typ))
        exprs.append(val.alias(name))
    return df.where(matched).select(*exprs)


#: the access-log-shaped demo template the contract query round-trips
ACCESS_PATTERN = (
    '%{INT:uid:int} - %{WORD:etype} [%{TIMESTAMP_ISO8601:ets:ts}] '
    '"%{DATA:req}" %{INT:cents:int}'
)
