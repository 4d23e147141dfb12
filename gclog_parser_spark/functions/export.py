"""Dynamic-column export + byte-identical string formatting.

Reproduces the reference's export layer exactly:

* ``to_export_pairs`` — the ordered, schema-dynamic (name, value) list of
  ``GCEvent.toExport`` (BasicGCEvent.scala:20-45, CmsGcEvent.scala:17-25,
  AppPausedEvent.scala:16-24, DetailedGCEvent.scala:13-21 incl. its
  ``distinct`` dedup of exact pairs).
* ``to_seq_pairs`` — the stringified form of ``GCEvent.toSeq``
  (GCEvent.scala:16-21): datetimes as 'yyyy-MM-dd HH:mm:ss.SSS' in the
  log's original offset, doubles in Java shortest-roundtrip form.
* ``tsv_lines`` / ``graphite_lines`` — the two output formats
  (output/OutputFormat.scala:9-36).

These run driver-side in tests and inside pandas UDFs in the Spark export
operators; they are pure functions over the core event dicts.
"""

from __future__ import annotations

from gclog_parser_spark.core import (
    jvm_age_millis,
    promoted_bytes,
    reclaimed_bytes,
    to_bytes,
)


def fmt_double(x: float) -> str:
    """Java ``Double.toString`` compatible rendering for the value ranges a
    GC log produces (|x| in [1e-3, 1e7): plain shortest round-trip decimal,
    trailing zeros stripped, at least one fractional digit).  Python's
    ``repr`` implements the same shortest-roundtrip rule in that range."""
    return repr(float(x))


def fmt_datetime(ev) -> str:
    """'yyyy-MM-dd HH:mm:ss.SSS' rendered in the parsed offset
    (GCEvent.scala:18; golden 'datetime,2015-12-04 16:07:12.422' for +1100
    at ParserTest.scala:26)."""
    t = ev["time"]
    return t.strftime("%Y-%m-%d %H:%M:%S.") + f"{t.microsecond // 1000:03d}"


def epoch_seconds(ev) -> int:
    """``time.getMillis / 1000`` (output/OutputFormat.scala:28)."""
    t = ev["time"]
    return int(t.timestamp())


def to_export_pairs(ev, rates=None):
    """Ordered (name, python-value) pairs for one event dict.

    ``rates`` is an optional (bytes_allocated, millis, alloc_rate,
    promo_rate) tuple appended as in GCEventWithRates.scala:13-19.
    """
    pairs = []
    cls = ev["gc_class"]
    if ev["time"] is not None:
        pairs.append(("datetime", fmt_datetime(ev)))
    pairs.append(("age", ev["age"]))
    pairs.append(("type", ev["gc_type"]))
    if cls == "app_stopped":
        # AppPausedEvent.scala:21-22: '%f' (6dp) formatting
        pairs.append(("stoppedSeconds", "%f" % ev["stopped"]))
        pairs.append(("secondsToStop", "%f" % ev["to_stop"]))
    else:
        if ev["gc_cause"] is not None:
            pairs.append(("cause", ev["gc_cause"]))
        pairs.append(("pause", ev["pause"]))
        if cls == "basic":
            heap = ev["heap"]
            pairs.append(("heapBefore", to_bytes(heap[0])))
            pairs.append(("heapAfter", to_bytes(heap[1])))
            pairs.append(("heapReclaimed", reclaimed_bytes(heap)))
            if heap[2] is not None:  # absent on ZGC summary lines
                pairs.append(("heapMax", to_bytes(heap[2])))
            for name, b, a, c in ev["generations"]:
                pairs.append((f"{name}Before", to_bytes(b)))
                pairs.append((f"{name}After", to_bytes(a)))
                pairs.append((f"{name}Reclaimed", to_bytes(b) - to_bytes(a)))
                pairs.append((f"{name}Max", to_bytes(c)))
            promoted = promoted_bytes(ev)
            if promoted is not None:
                pairs.append(("promoted", promoted))
            if ev["tenuring"] is not None:
                desired, threshold = ev["tenuring"]
                pairs.append(("desiredSurvivorSize", desired))
                pairs.append(("newThreshold", threshold))
            for name, ub, ua, cb, ca in ev["regions"]:
                pairs.append((f"{name}Before", to_bytes(ub)))
                pairs.append((f"{name}After", to_bytes(ua)))
                pairs.append((f"{name}CapacityBefore", to_bytes(cb)))
                pairs.append((f"{name}CapacityAfter", to_bytes(ca)))
            if ev["regions"]:
                # DetailedGCEvent.scala:21 dedups exact (name, value) pairs
                # keeping first occurrence; the golden at
                # ParserTest.scala:271-308 depends on this.
                seen = set()
                deduped = []
                for p in pairs:
                    if p not in seen:
                        seen.add(p)
                        deduped.append(p)
                pairs = deduped
    if rates is not None:
        allocated, _, alloc_rate, promo_rate = rates
        pairs.append(("heapAllocated", allocated))
        pairs.append(("heapAllocationRate", alloc_rate))
        pairs.append(("promotionRate", promo_rate))
    return pairs


def to_seq_pairs(ev, rates=None):
    """Stringified export pairs (GCEvent.scala:16-21)."""
    out = []
    for name, value in to_export_pairs(ev, rates):
        if isinstance(value, float):
            out.append((name, fmt_double(value)))
        else:
            out.append((name, str(value)))
    return out


def row_export_pairs(row: dict):
    """Ordered (name, string) export pairs from one **events-schema row**
    (the Spark-side twin of ``to_seq_pairs``; same byte-identical output,
    reconstructed from the fixed superset schema instead of the raw parse
    dict).  ``row`` is a plain dict of the EVENTS_SCHEMA columns, with
    ``event_time`` UTC-naive and ``tz_offset`` like '+1100'/None, plus
    optional rate columns from ``with_rates``.
    """
    import datetime as _dt

    def _null(v):
        # Arrow/pandas hands nullable longs as NaN floats inside UDFs
        if v is None:
            return True
        try:
            return v != v
        except Exception:
            return False

    def _i(v):
        return str(int(v))

    pairs = []
    cls = row["gc_class"]
    t = row.get("event_time")
    if not _null(t):  # None driver-side, NaT inside pandas UDFs
        off = row.get("tz_offset")
        if off:
            sign = 1 if off[0] == "+" else -1
            delta = _dt.timedelta(
                hours=int(off[1:3]), minutes=int(off[3:5])
            )
            t = t + sign * delta
        pairs.append(
            (
                "datetime",
                t.strftime("%Y-%m-%d %H:%M:%S.")
                + f"{t.microsecond // 1000:03d}",
            )
        )
    pairs.append(("age", fmt_double(row["jvm_age_seconds"])))
    pairs.append(("type", row["gc_type"]))
    if cls == "app_stopped":
        pairs.append(("stoppedSeconds", "%f" % row["stopped_seconds"]))
        pairs.append(("secondsToStop", "%f" % row["seconds_to_stop"]))
    else:
        if not _null(row.get("gc_cause")):
            pairs.append(("cause", row["gc_cause"]))
        pairs.append(("pause", fmt_double(row["pause_seconds"])))
        if cls in ("basic", "detailed"):
            pairs.append(("heapBefore", _i(row["heap_before_bytes"])))
            pairs.append(("heapAfter", _i(row["heap_after_bytes"])))
            pairs.append(
                ("heapReclaimed", _i(row["heap_reclaimed_bytes"]))
            )
            if not _null(row.get("heap_max_bytes")):  # ZGC: no max
                pairs.append(("heapMax", _i(row["heap_max_bytes"])))
            gens = row.get("generations")
            for g in (gens if gens is not None else []):
                n, b, a, c = (
                    g["name"],
                    g["before_bytes"],
                    g["after_bytes"],
                    g["capacity_bytes"],
                )
                pairs.append((f"{n}Before", _i(b)))
                pairs.append((f"{n}After", _i(a)))
                pairs.append((f"{n}Reclaimed", _i(b - a)))
                pairs.append((f"{n}Max", _i(c)))
            if not _null(row.get("promoted_bytes")):
                pairs.append(("promoted", _i(row["promoted_bytes"])))
            if not _null(row.get("desired_survivor_size")):
                pairs.append(
                    ("desiredSurvivorSize", _i(row["desired_survivor_size"]))
                )
                pairs.append(("newThreshold", _i(row["new_threshold"])))
            regions = row.get("regions")
            regions = regions if regions is not None else []
            for r in regions:
                n = r["name"]
                pairs.append((f"{n}Before", str(to_bytes(r["used_before"]))))
                pairs.append((f"{n}After", str(to_bytes(r["used_after"]))))
                pairs.append(
                    (
                        f"{n}CapacityBefore",
                        str(to_bytes(r["capacity_before"])),
                    )
                )
                pairs.append(
                    (
                        f"{n}CapacityAfter",
                        str(to_bytes(r["capacity_after"])),
                    )
                )
            if len(regions) > 0:
                seen = set()
                deduped = []
                for p in pairs:
                    if p not in seen:
                        seen.add(p)
                        deduped.append(p)
                pairs = deduped
    if not _null(row.get("bytes_allocated_since_last")):
        pairs.append(
            ("heapAllocated", _i(row["bytes_allocated_since_last"]))
        )
        pairs.append(
            ("heapAllocationRate", _i(row["heap_allocation_rate"]))
        )
        pairs.append(("promotionRate", _i(row["promotion_rate"])))
    return pairs


def tsv_lines(events, rates_list):
    """TsvOutputFormat (output/OutputFormat.scala:9-22) with the tab
    delimiter: header from the *first* event's keys, then one
    tab-delimited row per event, ``rates_list[i]`` the RateCalculator
    rates of ``events[i]``.  (Later events
    with different shapes silently misalign — reference behavior kept for
    parity; the Spark export view uses the fixed superset schema instead.)
    """
    lines = []
    if events:
        first = to_seq_pairs(events[0], rates_list[0])
        lines.append("\t".join(k for k, _ in first))
    for ev, rates in zip(events, rates_list):
        lines.append("\t".join(v for _, v in to_seq_pairs(ev, rates)))
    return lines


def graphite_lines(events, rates_list):
    """GraphiteOutputFormat (output/OutputFormat.scala:24-36): unpivot to
    'gc.<metric> <value> <epochSeconds>' lines, excluding the
    'datetime' key, ``rates_list[i]`` the rates of ``events[i]``.
    Requires event time (the reference NPEs otherwise)."""
    lines = []
    for ev, rates in zip(events, rates_list):
        ts = epoch_seconds(ev)
        for name, value in to_seq_pairs(ev, rates):
            if name != "datetime":
                lines.append(f"gc.{name} {value} {ts}")
    return lines
