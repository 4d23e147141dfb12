"""From-scratch GC-log event extraction core.

This module re-expresses the *semantics* of the reference grammar
(`/root/reference/src/main/scala/io/github/binaryfoo/gclog/Parser.scala`)
as a small regex scanner over plain Python strings.  It is NOT a port of
the fastparse combinators: the reference runs recursive descent with
backtracking over the whole log; here a cheap line classifier splits the
log into candidate event blocks (see ``classify_line`` /
``split_blocks``) and each block is scanned once, left to right.

The functions here are deliberately dependency-free (stdlib only) so the
same code runs:

* inside Arrow-batched ``applyInPandas`` / ``mapInPandas`` stages on
  Spark executors (gclog_parser_spark.operators.parse), and
* directly in fast pytest golden tests against the oracle values pinned
  by the reference test-suite (``ParserTest.scala``,
  ``RateCalculatorTest.scala``, ``OutputFormatTest.scala``).

Event model (one dict per event; cf. SURVEY.md §1.2):

``gc_class``  'basic' | 'cms' | 'app_stopped'; detailed events are
              'basic' events with non-empty ``regions``.
``time``      aware ``datetime`` with the *original* log offset
              preserved (Parser.scala:8 ``withOffsetParsed()``), or None.
``age``       jvmAgeSeconds (float).
``gc_type``   e.g. 'GC', 'Full GC', 'GC--', 'CMS-concurrent-mark',
              'AppStopped' (AppPausedEvent.scala:8).
``gc_cause``  parenthesised cause or None.
``heap``      (before, after, capacity) raw strings like '66048K', or None.
``generations``  list of (name, before, after, capacity) raw strings.
``pause``     pauseSeconds (float).
``tenuring``  (desired_survivor_size, new_threshold) strings or None.
``regions``   list of (name, used_before, used_after, cap_before,
              cap_after) raw strings — only for -XX:+PrintHeapAtGC mode
              (DetailedGCEvent.scala:40).
``stopped`` / ``to_stop``  AppStopped seconds (floats).
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta, timezone
from decimal import ROUND_HALF_UP, Decimal

# ---------------------------------------------------------------------------
# Shared lexical pieces (Parser.scala:8-20)
# ---------------------------------------------------------------------------

TS_PAT = r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}[+-]\d{4}"
AGE_PAT = r"\d+\.\d+"
# The grammar accepts K or M as a size suffix (Parser.scala:16-17) but the
# byte expander only handles K and % (SuffixExpander.scala:4-10).  We accept
# K/M/G and expand the full ladder — a documented superset (SURVEY.md §1.2).
SIZE_PAT = r"\d+[KMG]"
SIZE_RE = re.compile(r"(\d+)([KMG%])")

_TS_RE = re.compile(TS_PAT)
# GcLine prefix: optional timestamp ': ' then mandatory jvm age ': '
# (Parser.scala:66).
_PREFIX_RE = re.compile(rf"(?:({TS_PAT}): )?({AGE_PAT}): ")
_SIZESTATS_RE = re.compile(rf"({SIZE_PAT})->({SIZE_PAT})\(({SIZE_PAT})\)")
# GcType: letters/dash/space run, trimmed (Parser.scala:32).  '--' after the
# type is therefore part of the type itself ('GC--', ParserTest.scala:83-89).
_GCTYPE_RE = re.compile(r"[A-Za-z\- ]*")
# GcCause: parenthesised letters/spaces, then any trailing spaces
# (Parser.scala:33).  Superset: digits allowed after the first letter so
# G1 causes parse too ('G1 Evacuation Pause', 'G1 Humongous Allocation');
# every reference-era cause is letters/spaces and unaffected.
_GCCAUSE_RE = re.compile(r"\(([A-Za-z][A-Za-z0-9 ]*)\) *")
# -XX:+PrintTenuringDistribution block (Parser.scala:22-26): the '(max N)'
# tail and every '- age ...' line are consumed and dropped.
_TENURING_RE = re.compile(
    r"\nDesired survivor size (\d+) bytes, new threshold (\d+) \([^\n]*\n"
    r"(?:- age[^\n]*\n)*"
)
# GenerationStats (Parser.scala:28-31): optional 'N.N: ' prefix, bracketed
# name, optional embedded tenuring block, ': ', A->B(C), optional
# ', N.N secs' (inner ParNew pause — discarded; outer pause wins,
# ParserTest.scala:170-180).
_GEN_OPEN_RE = re.compile(rf"(?:{AGE_PAT}: )?\[([A-Za-z0-9 \-]*)")
_GEN_BODY_RE = re.compile(
    rf": ({SIZE_PAT})->({SIZE_PAT})\(({SIZE_PAT})\)(?:, {AGE_PAT} secs)?\]"
)
# Trailing ', N.N secs]' of a basic event (Parser.scala:35).
_PAUSE_TAIL_RE = re.compile(rf", ({AGE_PAT}) secs\]")
# Optional second age stamp (and space) before a basic event's first item.
_BASIC_LEAD_RE = re.compile(rf"(?:{AGE_PAT}: )? ?")
# CMS wall-clock pause: first ' real=N.N secs]' anywhere after the type —
# may live in the '[Times: ...]' block (Parser.scala:48; pause==real time,
# ParserTest.scala:55-64).
_CMS_REAL_RE = re.compile(rf" real=({AGE_PAT}) secs\]")

#: G1 phase tags after the cause (superset — the reference grammar has
#: no G1 support; format per -XX:+UseG1GC -verbose:gc output):
#: '[GC pause (G1 Evacuation Pause) (young) (initial-mark) A->B(C), T secs]'
_G1_TAG_RE = re.compile(
    r"\((young|mixed|initial-mark|to-space exhausted)\) *"
)
# JDK 9+ unified logging (-Xlog:gc) — SUPERSET, the reference predates
# it.  Default decorations: '[uptime][level][tags]', optionally preceded
# by '[ISO-8601 time]'.  Body: 'GC(n) Pause Young (Normal) (G1
# Evacuation Pause) 24M->4M(256M) 3.523ms' / 'GC(n) Concurrent Mark
# Cycle' etc.
UNIFIED_START_RE = re.compile(
    rf"^(?:\[({TS_PAT})\])?\[(\d+\.\d+)s\](?:\[[^\]]+\])*"
    rf"\[gc((?:,[a-z]+)*)\] +GC\(\d+\) "
)
#: unified tag sets that ARE events: the [gc] summary line and the
#: [gc,marking] concurrent phases.  Everything else ([gc,start] begin
#: markers, [gc,heap] region transitions, [gc,metaspace], [gc,cpu],
#: [gc,phases] sub-phases …) is per-event metadata — IgnoredLine, like
#: the reference discards inner ParNew pauses (Parser.scala:28-31) and
#: non-event lines (Parser.scala:60).
UNIFIED_EVENT_TAGS = {"", ",marking"}
_UNIFIED_PAREN_RE = re.compile(r"\(([^()]*(?:\(\))?)\) *")
_UNIFIED_HEAP_RE = re.compile(
    rf"({SIZE_PAT})->({SIZE_PAT})\(({SIZE_PAT})\)"
)
_UNIFIED_MS_RE = re.compile(r"(\d+\.\d+)ms\s*$")
#: ZGC percent-occupancy heap transition '104M(10%)->88M(9%)' — no
#: capacity in the summary line, so heap max stays NULL.
_UNIFIED_ZHEAP_RE = re.compile(
    rf"({SIZE_PAT})\(\d+%\)->({SIZE_PAT})\(\d+%\)\s*$"
)
#: generational-ZGC trailing seconds ('… 0.521s'); cannot collide with
#: the ms suffix — 'ms' has a letter, not a digit, before the final 's'
_UNIFIED_SEC_RE = re.compile(r"(\d+\.\d+)s\s*$")

# -XX:+PrintGCApplicationStoppedTime, long form only: the short form
# without 'Stopping threads took' is NOT an event (Parser.scala:60;
# fragment.txt lines 1/24 are ignored, ParserTest.scala:261-263).
_APPSTOP_RE = re.compile(
    rf"Total time for which application threads were stopped: ({AGE_PAT}) "
    rf"seconds, Stopping threads took: ({AGE_PAT}) seconds"
)

# Heap-at-GC region lines (Parser.scala:78-97).
_HEAPSTAT_RE = re.compile(
    rf"^ *([A-Za-z][A-Za-z\- ]*?) +total ({SIZE_PAT}), used ({SIZE_PAT})"
)
_SUBSPACE_RE = re.compile(
    rf"^ *([a-zA-Z]+) +space +({SIZE_PAT}), +(\d+%) used"
)
_METASPACE_RE = re.compile(
    rf"^ *([A-Za-z][A-Za-z\- ]*?) +used ({SIZE_PAT}), capacity ({SIZE_PAT})"
)
HEAP_HDR_RE = re.compile(r"^\{?Heap (before|after)")

# Line-classification anchors (used by split_blocks here; their patterns
# are also the window stitch's Spark rlike predicates in operators/parse.py).
GC_START_RE = re.compile(rf"^(?:{TS_PAT}: )?{AGE_PAT}: \[")
APPSTOP_START_RE = re.compile(
    rf"^(?:{TS_PAT}: )?{AGE_PAT}: Total time for which application threads "
    rf"were stopped: {AGE_PAT} seconds, Stopping threads took:"
)
HEAP_BLOCK_OPEN_RE = re.compile(r"^\{Heap before")
# Candidate continuation lines in GcLine mode: tenuring header, tenuring age
# table, and the stitched tail of a multi-line event (': A->B(C)...' or
# ' [Gen: ...').  Anything else between events is web filler and can be
# dropped before the shuffle.
CONTINUATION_RE = re.compile(
    rf"^(?:Desired survivor size \d+ bytes,|- age |: {SIZE_PAT}->| ?\[[A-Za-z0-9 \-]+: )"
)


def to_bytes(v: str) -> int:
    """'3K' → 3072; '99%' → 99 (SuffixExpander.scala:4-10, the % hack).

    Superset: the reference would MatchError on 'M'; we expand the full
    K/M/G ladder (SURVEY.md §1.2 'suffix semantics').
    """
    suffix = v[-1]
    n = int(v[:-1])
    if suffix == "K":
        return n * 1024
    if suffix == "M":
        return n * 1024 * 1024
    if suffix == "G":
        return n * 1024 * 1024 * 1024
    if suffix == "%":
        return n
    raise ValueError(f"unknown size suffix in {v!r}")


_TZ_CACHE: dict[str, timezone] = {}


def _tz_of(off: str) -> timezone:
    """Memoized fixed-offset timezone for '+1100'-style suffixes (a log
    contains a handful of distinct offsets; building timezone objects
    per event was a parse hotspot)."""
    tz = _TZ_CACHE.get(off)
    if tz is None:
        sign = 1 if off[0] == "+" else -1
        tz = timezone(
            sign * timedelta(hours=int(off[1:3]), minutes=int(off[3:5]))
        )
        _TZ_CACHE[off] = tz
    return tz


def parse_timestamp(s: str) -> datetime:
    """'2015-12-04T16:07:12.422+1100' with the offset preserved
    (Parser.scala:8 withOffsetParsed).  The format is fixed-width
    (anchored by the TIMESTAMP grammar, Parser.scala:8-12), so direct
    slicing replaces strptime — strptime's locale machinery was ~25 %
    of total parse CPU."""
    return datetime(
        int(s[0:4]),
        int(s[5:7]),
        int(s[8:10]),
        int(s[11:13]),
        int(s[14:16]),
        int(s[17:19]),
        int(s[20:23]) * 1000,
        tzinfo=_tz_of(s[23:28]),
    )


_TZ_STR_CACHE: dict = {}


def tz_offset_str(dt: datetime | None) -> str | None:
    if dt is None or dt.tzinfo is None:
        return None
    cached = _TZ_STR_CACHE.get(dt.tzinfo)
    if cached is not None:
        return cached
    off = dt.utcoffset()
    total = int(off.total_seconds()) // 60
    sign = "+" if total >= 0 else "-"
    total = abs(total)
    out = f"{sign}{total // 60:02d}{total % 60:02d}"
    _TZ_STR_CACHE[dt.tzinfo] = out
    return out


# ---------------------------------------------------------------------------
# Event-block scanning
# ---------------------------------------------------------------------------

class _Scanner:
    """Single left-to-right cursor over one stitched event block."""

    __slots__ = ("s", "pos")

    def __init__(self, s: str, pos: int = 0):
        self.s = s
        self.pos = pos

    def take(self, rx: re.Pattern):
        m = rx.match(self.s, self.pos)
        if m:
            self.pos = m.end()
        return m

    def lit(self, text: str) -> bool:
        if self.s.startswith(text, self.pos):
            self.pos += len(text)
            return True
        return False

    def peek(self, text: str) -> bool:
        return self.s.startswith(text, self.pos)


def _scan_tenuring(sc: _Scanner):
    m = sc.take(_TENURING_RE)
    return (m.group(1), m.group(2)) if m else None


def _scan_generation(sc: _Scanner):
    """One '[Name[: tenuring]: A->B(C)[, t secs]]' group.

    Returns ((name, before, after, cap), stray_tenuring) or None, leaving
    the cursor untouched on failure (mirrors fastparse backtracking).
    """
    start = sc.pos
    m = sc.take(_GEN_OPEN_RE)
    if not m:
        return None
    name = m.group(1).strip()
    tenuring = _scan_tenuring(sc)
    body = sc.take(_GEN_BODY_RE)
    if not body:
        sc.pos = start
        return None
    return (name, body.group(1), body.group(2), body.group(3)), tenuring


def _scan_basic_event(sc: _Scanner, gc_type, gc_cause, tenuring):
    """BasicEvent (Parser.scala:35-47): rep of (generation | bare A->B(C))
    separated by ' '/', '/nothing, closed by ', T secs]'.  The heap delta is
    the first *bare* size triple; absence fails the parse (the reference's
    `.get`, Parser.scala:37)."""
    sc.take(_BASIC_LEAD_RE)
    heap = None
    generations = []
    stray = None
    last_good = sc.pos
    while True:
        gen = _scan_generation(sc)
        if gen is not None:
            (name, b, a, c), t = gen
            generations.append((name, b, a, c))
            if t is not None and stray is None:
                stray = t
        else:
            m = sc.take(_SIZESTATS_RE)
            if m is None:
                sc.pos = last_good
                break
            if heap is None:
                heap = (m.group(1), m.group(2), m.group(3))
        last_good = sc.pos
        # separator: ', ' must not be confused with the ', T secs]' tail —
        # backtrack to last_good when no further item follows.
        if sc.lit(", ") or sc.lit(" "):
            continue
    tail = sc.take(_PAUSE_TAIL_RE)
    if tail is None or heap is None:
        return None
    return {
        "gc_class": "basic",
        "gc_type": gc_type,
        "gc_cause": gc_cause,
        "heap": heap,
        "generations": generations,
        "pause": float(tail.group(1)),
        "tenuring": tenuring if tenuring is not None else stray,
        "regions": [],
    }


def _scan_collection(sc: _Scanner):
    """CollectionStats (Parser.scala:55-59): '[' Type Cause? '--'? Tenuring?
    then CMS vs basic dispatch."""
    if not sc.lit("["):
        return None
    gc_type = sc.take(_GCTYPE_RE).group(0).strip()
    # a G1 phase tag at this position is NOT a cause ('[GC pause (young) …'
    # has no cause; the tag loop below owns it)
    if _G1_TAG_RE.match(sc.s, sc.pos):
        gc_cause = None
    else:
        cause_m = sc.take(_GCCAUSE_RE)
        gc_cause = cause_m.group(1) if cause_m else None
    flag = sc.lit("--")
    tenuring = _scan_tenuring(sc)

    # --- G1 superset (absent from the reference, north-star required) ---
    g1_tags = []
    while True:
        m = sc.take(_G1_TAG_RE)
        if m is None:
            break
        g1_tags.append(m.group(1))
    if g1_tags:
        gc_type = gc_type + " " + " ".join(f"({t})" for t in g1_tags)

    if gc_type.startswith("GC concurrent") or gc_type == "GC remark":
        # G1 concurrent phases ('[GC concurrent-mark-start]' /
        # '-end, T secs]') and the remark pause (inner sub-phase
        # brackets, outer ', T secs]' tail wins — same rule as the CMS
        # real-time tail).  gc_class 'g1' = G1 phase without heap.
        if sc.peek("]"):
            pause = 0.0
        else:
            last = None
            for m in _PAUSE_TAIL_RE.finditer(sc.s, sc.pos):
                last = m
            if last is None:
                return None
            pause = float(last.group(1))
        return {
            "gc_class": "g1",
            "gc_type": gc_type,
            "gc_cause": gc_cause,
            "heap": None,
            "generations": [],
            "pause": pause,
            "tenuring": None,
            "regions": [],
        }

    cms = (gc_cause is None and gc_type.startswith("CMS")) or (
        gc_cause is not None and gc_cause.startswith("CMS")
    )
    if cms:
        if sc.peek("]"):
            pause = 0.0
        else:
            m = _CMS_REAL_RE.search(sc.s, sc.pos)
            if m is None:
                return None
            pause = float(m.group(1))
        return {
            "gc_class": "cms",
            "gc_type": gc_type,
            "gc_cause": gc_cause,
            "heap": None,
            "generations": [],
            "pause": pause,
            "tenuring": None,
            "regions": [],
        }
    return _scan_basic_event(
        sc, gc_type + ("--" if flag else ""), gc_cause, tenuring
    )


def parse_unified_line(line: str):
    """One '-Xlog:gc' unified-logging line → event dict (superset; the
    reference grammar predates JDK 9).  'Pause …' lines with a heap
    triple are structurally basic events; 'Concurrent …' cycle lines
    and heap-less pauses are phase events (gc_class 'g1').  The last
    parenthesised group is the cause; earlier ones (Normal / Mixed /
    Concurrent Start …) fold into the type, like the legacy G1 tags."""
    line = line.split("\n", 1)[0]  # unified events are single-line
    m = UNIFIED_START_RE.match(line)
    if m is None:
        return None
    if m.group(3) not in UNIFIED_EVENT_TAGS:
        return None  # metadata tag set ([gc,heap], [gc,cpu], …)
    ts = parse_timestamp(m.group(1)) if m.group(1) else None
    age = float(m.group(2))
    body = line[m.end():]

    ms = _UNIFIED_MS_RE.search(body)
    pause = float(ms.group(1)) / 1000.0 if ms else 0.0
    if ms:
        body = body[: ms.start()]
    else:
        sec = _UNIFIED_SEC_RE.search(body)  # generational-ZGC suffix
        if sec:
            pause = float(sec.group(1))
            body = body[: sec.start()]
    hm = _UNIFIED_HEAP_RE.search(body)
    heap = (hm.group(1), hm.group(2), hm.group(3)) if hm else None
    if hm:
        body = body[: hm.start()]
    else:
        zm = _UNIFIED_ZHEAP_RE.search(body)  # ZGC percent heap, no max
        if zm:
            heap = (zm.group(1), zm.group(2), None)
            body = body[: zm.start()]

    parens = _UNIFIED_PAREN_RE.findall(body)
    head = _UNIFIED_PAREN_RE.sub("", body).strip()
    if not head:
        return None
    gc_cause = parens[-1] if parens else None
    tags = parens[:-1] if parens else []
    gc_type = head + "".join(f" ({t})" for t in tags)

    ev = {
        "gc_class": "basic" if heap is not None else "g1",
        "gc_type": gc_type,
        "gc_cause": gc_cause,
        "heap": heap,
        "generations": [],
        "pause": pause,
        "tenuring": None,
        "regions": [],
        "time": ts,
        "age": age,
    }
    return ev


#: unified-logging heap-region transition ('-Xlog:gc+heap=info'):
#: 'GC(n) Eden regions: 24->0(153)' — before/after REGION COUNTS with
#: an optional parenthesised target (Old/Humongous/Archive omit it).
#: The unified twin of the legacy '{Heap before/after}' region stats
#: (Parser.scala:78-97); SUPERSET, the reference predates JDK 9.
UNIFIED_HEAP_LINE_RE = re.compile(
    r"^(?:\[[^\]]*\])*\[gc,heap\] GC\((\d+)\)"
    r" ([A-Za-z]+) regions: (\d+)->(\d+)(?:\((\d+)\))?\s*$"
)


def parse_unified_heap_line(line: str):
    """One '[gc,heap]' region line → (gc_id, region_name,
    regions_before, regions_after, target_regions|None), or None.
    Reference parity anchor for the columnar operator
    (operators/enrich.unified_region_deltas) and its DuckDB oracle."""
    m = UNIFIED_HEAP_LINE_RE.match(line.split("\n", 1)[0])
    if m is None:
        return None
    return (
        int(m.group(1)),
        m.group(2),
        int(m.group(3)),
        int(m.group(4)),
        int(m.group(5)) if m.group(5) else None,
    )


def parse_gc_line(block: str):
    """GcLine (Parser.scala:66-73): '[ts: ] age: ' then collection stats or
    the long-form app-stopped message.  Returns an event dict or None.
    Unified-logging lines (JDK 9+) are dispatched on their decoration
    prefix — a superset branch."""
    if block[:1] == "[":
        return parse_unified_line(block)
    sc = _Scanner(block)
    pm = sc.take(_PREFIX_RE)
    if pm is None:
        return None
    ts = parse_timestamp(pm.group(1)) if pm.group(1) else None
    age = float(pm.group(2))
    if sc.peek("["):
        ev = _scan_collection(sc)
        if ev is None:
            return None
    else:
        m = sc.take(_APPSTOP_RE)
        if m is None:
            return None
        ev = {
            "gc_class": "app_stopped",
            "gc_type": "AppStopped",
            "gc_cause": None,
            "heap": None,
            "generations": [],
            "pause": None,
            "tenuring": None,
            "regions": [],
            "stopped": float(m.group(1)),
            "to_stop": float(m.group(2)),
        }
    ev["time"] = ts
    ev["age"] = age
    return ev


# ---------------------------------------------------------------------------
# -XX:+PrintHeapAtGC region blocks (Parser.scala:78-111)
# ---------------------------------------------------------------------------

def _scan_regions(lines: list[str], i: int):
    """Parse consecutive HeapStat/MetaspaceStat region groups starting at
    ``lines[i]``; returns (regions, next_index).  Each region is
    (name, capacity, used, [(sub_name, sub_cap, sub_used), ...])."""
    regions = []
    n = len(lines)
    while i < n:
        m = _HEAPSTAT_RE.match(lines[i])
        if m:
            name, cap, used = m.group(1).strip(), m.group(2), m.group(3)
            i += 1
            subs = []
            while i < n:
                sm = _SUBSPACE_RE.match(lines[i])
                if not sm:
                    break
                # 'object' sub-space excluded (Parser.scala:86-89)
                if sm.group(1) != "object":
                    subs.append((sm.group(1), sm.group(2), sm.group(3)))
                i += 1
            regions.append((name, cap, used, subs))
            continue
        m = _METASPACE_RE.match(lines[i])
        if m:
            # first used/capacity line is the parent, the rest subspaces
            # (Parser.scala:91-97; ParserTest.scala:201-211)
            parent = (m.group(1).strip(), m.group(3), m.group(2))
            i += 1
            subs = []
            while i < n:
                sm = _METASPACE_RE.match(lines[i])
                if not sm:
                    break
                subs.append((sm.group(1).strip(), sm.group(3), sm.group(2)))
                i += 1
            regions.append((*parent, subs))
            continue
        break
    return regions, i


def parse_heap_block(block: str):
    """DetailedEvent (Parser.scala:98-111): '{Heap before' regions, the
    GcLine, optionally one ignored line, 'Heap after' regions, '}'.
    Region deltas zip before/after (and their subspaces) positionally;
    mismatched names raise, like the reference's MatchError."""
    lines = block.split("\n")
    if not HEAP_HDR_RE.match(lines[0]):
        return None
    before, i = _scan_regions(lines, 1)
    # the GcLine may span multiple lines (tenuring); hand the rest of the
    # block to the line scanner, which consumes what the grammar would.
    rest = "\n".join(lines[i:])
    ev = parse_gc_line(rest)
    if ev is None or ev["gc_class"] != "basic":
        return None
    # find the 'Heap after' header; the grammar allows one ignored line
    # between the GcLine tail and it (Parser.scala:99).
    j = i
    while j < len(lines) and not HEAP_HDR_RE.match(lines[j]):
        j += 1
    if j >= len(lines):
        return None
    after, k = _scan_regions(lines, j + 1)
    deltas = []
    for b, a in zip(before, after):
        pairs = [(b, a)] + [
            ((sn, scap, sused, []), (an, acap, aused, []))
            for (sn, scap, sused), (an, acap, aused) in zip(b[3], a[3])
        ]
        for (bn, bcap, bused, _), (an, acap, aused, _) in pairs:
            if bn != an:
                raise ValueError(f"region name mismatch: {bn!r} vs {an!r}")
            deltas.append((bn, bused, aused, bcap, acap))
    ev["regions"] = deltas
    return ev


# ---------------------------------------------------------------------------
# Whole-log parsing (block splitting mirrors the columnar classifier)
# ---------------------------------------------------------------------------

#: first characters that can begin a non-filler line: digits (timestamp
#: or jvm-age prefixes), 'D'esired-survivor, '-' age-table, ':' inner
#: size, ' '/'[' generation brackets, '{'/'H' heap headers, '}' close.
_CANDIDATE_FIRST = frozenset("0123456789D-: [{H}")


def classify_line(line: str, heap_stats: bool) -> str:
    """'start' | 'open' (heap-block open) | 'close' | 'cont' | 'filler'.

    The window stitch in operators/parse.py runs the same regex
    patterns columnar (native Spark rlike).  The first-char gate
    skips the regex battery for web filler (the overwhelming majority
    of lines at the Common-Crawl design point).
    """
    c = line[:1]
    if c not in _CANDIDATE_FIRST:
        return "filler"
    if heap_stats and HEAP_BLOCK_OPEN_RE.match(line):
        return "open"
    if heap_stats and line.rstrip() == "}":
        return "close"
    if c.isdigit() and (
        GC_START_RE.match(line) or APPSTOP_START_RE.match(line)
    ):
        return "start"
    if c == "[" and UNIFIED_START_RE.match(line):
        return "start"
    if CONTINUATION_RE.match(line) or (
        heap_stats and (c == " " or HEAP_HDR_RE.match(line))
    ):
        return "cont"
    return "filler"


def split_blocks_pos(text: str, heap_stats: bool):
    """Group lines into candidate event blocks.

    GcLine mode: a block starts at each start-shaped line.  Heap-stats
    mode: '{Heap before' opens a brace block that runs to the matching
    '}' line; start-shaped lines outside a brace block are their own
    blocks.  Returns [(start_line_no, block_string)].
    """
    blocks = []
    current: list[str] | None = None
    start_no = 0
    depth = 0
    for no, line in enumerate(text.split("\n")):
        cls = classify_line(line, heap_stats)
        if depth > 0:
            current.append(line)
            if cls == "close":
                depth = 0
                blocks.append((start_no, "\n".join(current)))
                current = None
            continue
        if cls == "open":
            if current is not None:
                blocks.append((start_no, "\n".join(current)))
            current, start_no = [line], no
            depth = 1
        elif cls == "start":
            if current is not None:
                blocks.append((start_no, "\n".join(current)))
            current, start_no = [line], no
        elif current is not None:
            current.append(line)
    if current is not None:
        blocks.append((start_no, "\n".join(current)))
    return blocks


def split_blocks(text: str, heap_stats: bool):
    return [b for _, b in split_blocks_pos(text, heap_stats)]


def parse_log(text: str):
    """Reference ``Parser.parseLog`` (Parser.scala:119-122): every GcLine in
    input order; unparseable lines vanish (Parser.scala:75).  The erased
    type parameter filters nothing (SURVEY.md §2.2 P21) — callers filter by
    ``gc_class`` explicitly."""
    events = []
    for block in split_blocks(text, heap_stats=False):
        ev = parse_gc_line(block)
        if ev is not None:
            events.append(ev)
    return events


def parse_with_heap_stats(text: str):
    """Reference ``Parser.parseWithHeapStats`` (Parser.scala:124-132):
    '{Heap before ...}' detailed events plus standalone long-form
    app-stopped lines."""
    events = []
    for block in split_blocks(text, heap_stats=True):
        if block.startswith("{"):
            ev = parse_heap_block(block)
        else:
            ev = parse_gc_line(block)
            if ev is not None and ev["gc_class"] != "app_stopped":
                ev = None
        if ev is not None:
            events.append(ev)
    return events


# ---------------------------------------------------------------------------
# Derivations (SURVEY.md §2.3)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Incremental (pull-based) consumption — Parser.scala:134-151
# ---------------------------------------------------------------------------

GC_EVENT_PARSED = "parsed"
NEED_ANOTHER_LINE = "need_more"
SKIP_LINE = "skip"


def incremental_parse(lines):
    """Reference ``Parser.incrementalParse`` (Parser.scala:134-151): the
    caller accumulates lines and re-offers the buffer; the reply is a
    tri-state ``(status, event)``:

    * ``(GC_EVENT_PARSED, ev)`` — the buffer is one complete event;
      caller emits it and resets the buffer.
    * ``(NEED_ANOTHER_LINE, None)`` — the buffer starts like an event
      but is incomplete; caller appends the next line and re-offers.
    * ``(SKIP_LINE, None)`` — the first line can never start an event
      (the reference's failed-within-half-of-first-line heuristic,
      Parser.scala:139-143, re-expressed via the line classifier).

    This is the plain-GC-line mode; heap blocks are skipped.  The
    distributed pipeline never calls this (pages arrive whole);
    it exists for API parity with the reference's streaming consumers.
    """
    if not lines:
        return (NEED_ANOTHER_LINE, None)
    if classify_line(lines[0], False) != "start":
        return (SKIP_LINE, None)
    ev = parse_gc_line("\n".join(lines))
    if ev is not None:
        return (GC_EVENT_PARSED, ev)
    return (NEED_ANOTHER_LINE, None)


def reclaimed_bytes(delta) -> int:
    """start - end; may be negative (BasicGCEvent.scala:80-84)."""
    return to_bytes(delta[0]) - to_bytes(delta[1])


def jvm_age_millis(age_seconds: float) -> int:
    """(seconds*1000) truncated (BasicGCEvent.scala:52)."""
    return int(age_seconds * 1000)


def half_up(x: float, places: int) -> float:
    """``x`` rounded HALF_UP at ``places`` decimals over the double's
    shortest decimal repr: the algorithm of Spark's ``round``
    (BigDecimal.valueOf → setScale HALF_UP) and DuckDB's ``round``.
    Python's ``round`` rounds half to even and differs on exact halves."""
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP)
    )


def to_ticks(seconds: float) -> int:
    """Seconds as exact 0.1 µs ticks (the batch ``rates.pause_ticks``)."""
    return int(half_up(seconds * 10_000_000, 0))


def calculate_rates(events):
    """Reference ``RateCalculator`` (RateCalculator.scala:5-43) as a pure
    scan, for golden tests and export parity.  The distributed equivalent is
    the ``last(..., ignoreNulls)`` window in operators/rates.py.

    Returns one (bytes_allocated, millis, alloc_rate, promo_rate) tuple per
    event.  AppStopped events yield (0,0,0,0) and do NOT advance
    ``previous`` (RateCalculator.scala:15); events without heap (CMS) do
    advance it but contribute 0 allocated bytes (RateCalculator.scala:34-41).
    Rates use truncating integer division (GCEventWithRates.scala:26-46).
    """
    out = []
    previous = (None, None)
    for ev in events:
        heap = ev["heap"]
        rates, previous = rate_step(
            previous,
            jvm_age_millis(ev["age"]),
            to_bytes(heap[0]) if heap else None,
            to_bytes(heap[1]) if heap else None,
            promoted_bytes(ev),
            ev["gc_class"] == "app_stopped",
        )
        out.append(rates)
    return out


def rate_step(previous, age_ms, heap_before, heap_after, promoted, stopped):
    """One ``RateCalculator`` step, shared by :func:`calculate_rates` and
    the streaming twin (streaming/stateful.py).  ``previous`` is the
    (jvm age ms, heap-after bytes) of the last non-AppStopped event,
    ``(None, None)`` before the first; byte arguments are ``None`` for
    events without heap / promotion.

    Returns ((allocated, millis, alloc_rate, promo_rate), previous')."""
    if stopped:
        return (0, 0, 0, 0), previous
    prev_age_ms, prev_heap_after = previous
    if prev_age_ms is None:
        allocated = heap_before if heap_before is not None else 0
        millis = age_ms
    else:
        if heap_before is not None and prev_heap_after is not None:
            allocated = heap_before - prev_heap_after
        else:
            allocated = 0
        millis = age_ms - prev_age_ms
    alloc_rate = 0 if millis == 0 else _tdiv(allocated, millis)
    promo_rate = (
        _tdiv(promoted, millis)
        if (promoted is not None and millis != 0)
        else 0
    )
    return (allocated, millis, alloc_rate, promo_rate), (age_ms, heap_after)


def _tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero (JVM semantics)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def promoted_bytes(ev) -> int | None:
    """Minor-GC promotion: first generation's reclaimed minus whole-heap
    reclaimed, only when gcType=='GC' (BasicGCEvent.scala:57-70; the
    `generation("young")` lookup returns the first delta whose name is not
    literally 'young', i.e. the head in practice)."""
    if ev["gc_class"] != "basic" or ev["gc_type"] != "GC" or ev["heap"] is None:
        return None
    gens = [g for g in ev["generations"] if g[0].lower() != "young"]
    if not gens:
        return None
    g = gens[0]
    gen_reclaimed = to_bytes(g[1]) - to_bytes(g[2])
    return gen_reclaimed - reclaimed_bytes(ev["heap"])
