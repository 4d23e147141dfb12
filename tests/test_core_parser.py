"""Golden tests for the core parser, ported oracle-for-oracle from the
reference suite (`/root/reference/src/test/scala/.../ParserTest.scala`,
`RateCalculatorTest.scala`, `OutputFormatTest.scala`,
`SuffixExpanderTest.scala`).  Pure Python — no Spark session needed."""

from datetime import datetime, timedelta, timezone
from pathlib import Path

import pytest

from gclog_parser_spark.core import (
    calculate_rates,
    parse_gc_line,
    parse_log,
    parse_with_heap_stats,
    parse_timestamp,
    promoted_bytes,
    to_bytes,
)
from gclog_parser_spark.functions.export import (
    graphite_lines,
    to_seq_pairs,
    tsv_lines,
)

RES = Path(__file__).parent.parent / "gclog_parser_spark" / "resources"

PLUS11 = timezone(timedelta(hours=11))

FULL_GC_LINE = (
    "2015-12-04T16:07:12.422+1100: 6994.482: [Full GC [PSYoungGen: "
    "14194K->0K(1376448K)] [ParOldGen: 2788303K->1802287K(2796224K)] "
    "2802498K->1802287K(4172672K) [PSPermGen: 66560K->66131K(132736K)], "
    "3.8232380 secs] [Times: user=10.81 sys=0.06, real=3.83 secs]"
)


def fixture(name: str) -> str:
    return (RES / name).read_text()


def seq_str(ev, rates=None):
    return "\n".join(f"({k},{v})" for k, v in to_seq_pairs(ev, rates))


# --- SuffixExpanderTest.scala:8 -------------------------------------------

def test_to_bytes():
    assert to_bytes("3K") == 3072
    assert to_bytes("99%") == 99
    # superset ladder (SURVEY.md §1.2)
    assert to_bytes("2M") == 2 * 1024 * 1024
    assert to_bytes("1G") == 1024**3


# --- ParserTest.scala:11-20 ------------------------------------------------

def test_full_gc_parsed():
    ev = parse_gc_line(FULL_GC_LINE)
    assert ev["time"] == datetime(2015, 12, 4, 16, 7, 12, 422000, PLUS11)
    assert ev["age"] == 6994.482
    assert ev["gc_type"] == "Full GC"
    assert ev["heap"] == ("2802498K", "1802287K", "4172672K")
    assert ev["pause"] == 3.823238


# --- ParserTest.scala:22-46 (golden toSeq dump) ----------------------------

def test_full_gc_to_seq():
    ev = parse_gc_line(FULL_GC_LINE)
    assert seq_str(ev) == """(datetime,2015-12-04 16:07:12.422)
(age,6994.482)
(type,Full GC)
(pause,3.823238)
(heapBefore,2869757952)
(heapAfter,1845541888)
(heapReclaimed,1024216064)
(heapMax,4272816128)
(PSYoungGenBefore,14534656)
(PSYoungGenAfter,0)
(PSYoungGenReclaimed,14534656)
(PSYoungGenMax,1409482752)
(ParOldGenBefore,2855222272)
(ParOldGenAfter,1845541888)
(ParOldGenReclaimed,1009680384)
(ParOldGenMax,2863333376)
(PSPermGenBefore,68157440)
(PSPermGenAfter,67718144)
(PSPermGenReclaimed,439296)
(PSPermGenMax,135921664)"""


# --- ParserTest.scala:48-53 ------------------------------------------------

def test_minor_collection_promoted():
    line = (
        "2015-12-28T13:50:37.116-1000: 0.251: [GC (Allocation Failure) "
        "[PSYoungGen: 65536K->10736K(76288K)] 65536K->57253K(251392K), "
        "0.0217970 secs] [Times: user=0.09 sys=0.06, real=0.02 secs]"
    )
    ev = parse_gc_line(line)
    assert "(promoted,47633408)" in seq_str(ev)


# --- ParserTest.scala:55-64 (CMS pause = real time) -------------------------

def test_cms_final_remark_to_seq():
    line = (
        "2015-05-26T16:23:08.447-0200: 65.550: [GC (CMS Final Remark) "
        "[YG occupancy: 387920 K (613440 K)]65.550: [Rescan (parallel) , "
        "0.0085125 secs]65.559: [weak refs processing, 0.0000243 secs]"
        "65.559: [class unloading, 0.0013120 secs]65.560: [scrub symbol "
        "table, 0.0008345 secs]65.561: [scrub string table, 0.0001759 secs]"
        "[1 CMS-remark: 10812086K(11901376K)] 11200006K(12514816K), "
        "0.0110730 secs] [Times: user=0.06 sys=0.00, real=0.01 secs]"
    )
    ev = parse_gc_line(line)
    assert seq_str(ev) == """(datetime,2015-05-26 16:23:08.447)
(age,65.55)
(type,GC)
(cause,CMS Final Remark)
(pause,0.01)"""


# --- ParserTest.scala:66-75 ------------------------------------------------

def test_timestamp_and_size_stats():
    t = parse_timestamp("2015-12-04T16:07:12.422+1100")
    assert t == datetime(2015, 12, 4, 16, 7, 12, 422000, PLUS11)


# --- ParserTest.scala:83-89 / 512-519 (promotion failure, both forms) -------

def test_promotion_failure_dashes_in_type():
    line = (
        "2015-12-10T15:42:08.076+1100: 523890.136: [GC-- [PSYoungGen: "
        "1275256K->1275256K(1275264K)] 4007798K->4071477K(4071488K), "
        "0.3913740 secs] [Times: user=0.54 sys=0.00, real=0.39 secs]"
    )
    ev = parse_gc_line(line)
    assert ev["gc_type"] == "GC--"
    assert ev["pause"] == 0.391374


def test_promotion_failure_java8_flag():
    line = (
        "2016-01-28T16:20:24.390+1100: 94045.178: [GC (Allocation Failure) "
        "--[PSYoungGen: 1256250K->1256250K(1256448K)] "
        "4037337K->4052791K(4052992K), 0.4414726 secs] "
        "[Times: user=0.51 sys=0.00, real=0.45 secs]"
    )
    events = parse_log(line)
    assert events[0]["gc_type"] == "GC--"
    assert events[0]["gc_cause"] == "Allocation Failure"
    assert events[0]["pause"] == 0.4414726


# --- ParserTest.scala:91-102 (multi-line tenuring) ---------------------------

def test_multiline_young_gen():
    lines = (
        "2015-12-10T15:43:18.274+1100: 523960.334: [GC\n"
        "Desired survivor size 129368064 bytes, new threshold 3 (max 15)\n"
        " [PSYoungGen: 1220800K->88639K(1260480K)] "
        "3440993K->2372792K(4056704K), 0.1104060 secs] "
        "[Times: user=0.24 sys=0.01, real=0.12 secs]\n"
    )
    ev = parse_gc_line(lines)
    assert ev["time"] == datetime(2015, 12, 10, 15, 43, 18, 274000, PLUS11)
    assert ev["heap"] == ("3440993K", "2372792K", "4056704K")
    assert ev["generations"] == [
        ("PSYoungGen", "1220800K", "88639K", "1260480K")
    ]
    assert ev["pause"] == 0.110406


# --- ParserTest.scala:104-111 ------------------------------------------------

def test_fragment_multiple_events():
    events = parse_log(fixture("fragment.txt"))
    assert events[0]["time"] == datetime(
        2015, 12, 10, 15, 46, 54, 299000, PLUS11
    )
    assert events[0]["gc_type"] == "GC"
    assert events[1]["time"] == datetime(
        2015, 12, 10, 15, 46, 54, 493000, PLUS11
    )
    assert events[1]["gc_type"] == "Full GC"
    assert len(events) == 2


# --- ParserTest.scala:113-121 ------------------------------------------------

def test_gc_cause():
    ev = parse_gc_line(
        "0.235: [GC (Allocation Failure)  65536K->57255K(251392K), "
        "0.0222615 secs]"
    )
    assert ev["gc_cause"] == "Allocation Failure"
    assert ev["time"] is None


# --- ParserTest.scala:123-126 (Metaspace generation) -------------------------

def test_metaspace_generation():
    ev = parse_gc_line(
        "2015-12-28T13:50:37.214-1000: 0.349: [Full GC (Ergonomics) "
        "[PSYoungGen: 10720K->0K(141824K)] [ParOldGen: "
        "109101K->117471K(290816K)] 119821K->117471K(432640K), "
        "[Metaspace: 4082K->4082K(1056768K)], 0.2284721 secs] "
        "[Times: user=1.42 sys=0.02, real=0.23 secs]"
    )
    gens = {g[0]: g for g in ev["generations"]}
    assert gens["Metaspace"] == ("Metaspace", "4082K", "4082K", "1056768K")


# --- ParserTest.scala:128-168 (fixture corpora counts) -----------------------

@pytest.mark.parametrize(
    "name,count",
    [
        ("basic-java7-gc.log", 7),
        ("basic-java8-gc.log", 7),
        ("details-java7-gc.log", 7),
        ("details-java8-gc.log", 7),
        ("heap-java7-gc.log", 7),
        ("heap-java8-gc.log", 7),
    ],
)
def test_fixture_counts(name, count):
    assert len(parse_log(fixture(name))) == count


def test_basic_java7_fields():
    events = parse_log(fixture("basic-java7-gc.log"))
    assert events[0]["age"] == 0.263
    assert events[0]["pause"] == 0.022292
    assert events[6]["age"] == 2.832
    assert events[6]["pause"] == 0.022377


def test_basic_java8_fields():
    events = parse_log(fixture("basic-java8-gc.log"))
    assert events[0]["age"] == 0.235
    assert events[0]["pause"] == 0.0222615
    assert events[6]["age"] == 2.232
    assert events[6]["pause"] == 0.0209706


def test_heap_logs_last_age():
    assert parse_log(fixture("heap-java7-gc.log"))[-1]["age"] == 2.86
    assert parse_log(fixture("heap-java8-gc.log"))[-1]["age"] == 2.198


# --- ParserTest.scala:170-180 (ParNew tenuring, outer pause wins) ------------

def test_parnew_tenuring():
    text = (
        "7.524: [GC (Allocation Failure) 7.524: [ParNew\n"
        "Desired survivor size 53673984 bytes, new threshold 6 (max 6)\n"
        "- age   1:    5714984 bytes,    5714984 total\n"
        ": 838848K->5616K(943680K), 0.0118666 secs] "
        "838848K->5616K(943744K), 0.0119520 secs] "
        "[Times: user=0.01 sys=0.01, real=0.01 secs]\n"
    )
    events = parse_log(text)
    assert events[0]["age"] == 7.524
    assert events[0]["pause"] == 0.011952


# --- ParserTest.scala:182-189 (CMS Full GC via basic path) -------------------

def test_cms_full_gc():
    text = (
        "29517.100: [Full GC (Allocation Failure) 29517.100: [CMS: "
        "819199K->819199K(819200K), 3.2809595 secs] "
        "1762879K->1762879K(1762880K), [Metaspace: "
        "21995K->21995K(1069056K)], 3.2810538 secs] "
        "[Times: user=3.28 sys=0.00, real=3.28 secs]"
    )
    events = parse_log(text)
    assert events[0]["age"] == 29517.1
    assert events[0]["pause"] == 3.2810538
    assert events[0]["generations"][0] == (
        "CMS", "819199K", "819199K", "819200K"
    )


# --- ParserTest.scala:261-309 (detailed events, golden export) ---------------

def test_fragment_heap_stats():
    events = parse_with_heap_stats(fixture("fragment.txt"))
    assert len(events) == 2
    assert events[0]["regions"] == [
        ("PSYoungGen", "1070376K", "76319K", "1070400K", "1155840K"),
        ("eden", "100%", "0%", "910272K", "900992K"),
        ("from", "99%", "29%", "160128K", "254848K"),
        ("to", "0%", "0%", "254848K", "242240K"),
        ("ParOldGen", "2590524K", "2731841K", "2796224K", "2796224K"),
        ("PSPermGen", "67601K", "67601K", "67648K", "67648K"),
    ]
    assert seq_str(events[1]) == """(datetime,2015-12-10 15:46:54.493)
(age,524176.553)
(type,Full GC)
(pause,2.324499)
(heapBefore,2875555840)
(heapAfter,2122715136)
(heapReclaimed,752840704)
(heapMax,4046913536)
(PSYoungGenBefore,78150656)
(PSYoungGenAfter,0)
(PSYoungGenReclaimed,78150656)
(PSYoungGenMax,1183580160)
(ParOldGenBefore,2797405184)
(ParOldGenAfter,2122715136)
(ParOldGenReclaimed,674690048)
(ParOldGenMax,2863333376)
(PSPermGenBefore,69223424)
(PSPermGenAfter,69223424)
(PSPermGenReclaimed,0)
(PSPermGenMax,69271552)
(PSYoungGenCapacityBefore,1183580160)
(PSYoungGenCapacityAfter,1183580160)
(edenBefore,0)
(edenAfter,0)
(edenCapacityBefore,922615808)
(edenCapacityAfter,922615808)
(fromBefore,29)
(fromAfter,0)
(fromCapacityBefore,260964352)
(fromCapacityAfter,260964352)
(toBefore,0)
(toAfter,0)
(toCapacityBefore,248053760)
(toCapacityAfter,248053760)
(ParOldGenCapacityBefore,2863333376)
(ParOldGenCapacityAfter,2863333376)
(PSPermGenCapacityBefore,69271552)
(PSPermGenCapacityAfter,69271552)"""


# --- ParserTest.scala:311-321 ------------------------------------------------

def test_cms_fragment_heap_stats():
    events = parse_with_heap_stats(fixture("cms-fragment.txt"))
    assert len(events) == 1
    assert events[0]["regions"] == [
        ("par new generation", "838848K", "5616K", "943680K", "943680K"),
        ("eden", "100%", "0%", "838848K", "838848K"),
        ("from", "0%", "5%", "104832K", "104832K"),
        ("to", "0%", "0%", "104832K", "104832K"),
        (
            "concurrent mark-sweep generation",
            "0K", "0K", "64K", "64K",
        ),
        ("Metaspace", "12441K", "12441K", "12616K", "12616K"),
        ("class space", "1488K", "1488K", "1562K", "1562K"),
    ]


# --- ParserTest.scala:365-406 (first fragment event, golden export) ----------

def test_fragment_first_event_detailed_export():
    events = parse_with_heap_stats(fixture("fragment.txt"))
    assert seq_str(events[0]) == """(datetime,2015-12-10 15:46:54.299)
(age,524176.359)
(type,GC)
(pause,0.18402)
(heapBefore,3748762624)
(heapAfter,2875555840)
(heapReclaimed,873206784)
(heapMax,4046913536)
(PSYoungGenBefore,1096065024)
(PSYoungGenAfter,78150656)
(PSYoungGenReclaimed,1017914368)
(PSYoungGenMax,1183580160)
(promoted,144707584)
(desiredSurvivorSize,248053760)
(newThreshold,1)
(PSYoungGenCapacityBefore,1096089600)
(PSYoungGenCapacityAfter,1183580160)
(edenBefore,100)
(edenAfter,0)
(edenCapacityBefore,932118528)
(edenCapacityAfter,922615808)
(fromBefore,99)
(fromAfter,29)
(fromCapacityBefore,163971072)
(fromCapacityAfter,260964352)
(toBefore,0)
(toAfter,0)
(toCapacityBefore,260964352)
(toCapacityAfter,248053760)
(ParOldGenBefore,2652696576)
(ParOldGenAfter,2797405184)
(ParOldGenCapacityBefore,2863333376)
(ParOldGenCapacityAfter,2863333376)
(PSPermGenBefore,69223424)
(PSPermGenAfter,69223424)
(PSPermGenCapacityBefore,69271552)
(PSPermGenCapacityAfter,69271552)"""


# --- ParserTest.scala:408-418 (inline CMS allocation failures) ---------------

def test_cms_allocation_failure_generations():
    line = (
        "28892.707: [GC (Allocation Failure) 28892.707: [ParNew: "
        "943680K->943680K(943680K), 0.0000217 secs]28892.708: [CMS: "
        "745269K->789117K(819200K), 2.5351516 secs] "
        "1688949K->789117K(1762880K), [Metaspace: 21984K->21984K(1069056K)],"
        " 2.5433119 secs] [Times: user=2.23 sys=0.01, real=2.54 secs]"
    )
    ev = parse_gc_line(line)
    assert ("CMS", "745269K", "789117K", "819200K") in ev["generations"]


def test_cms_full_gc_allocation_failure():
    line = (
        "28960.533: [Full GC (Allocation Failure) 28960.533: [CMS: "
        "819199K->819199K(819200K), 3.5242634 secs] "
        "1762879K->1538758K(1762880K), [Metaspace: 21984K->21984K(1069056K)]"
        ", 3.5243652 secs] [Times: user=3.52 sys=0.00, real=3.52 secs] "
    )
    ev = parse_gc_line(line)
    assert ("CMS", "819199K", "819199K", "819200K") in ev["generations"]


# --- ParserTest.scala:430-466 (plumbr.eu handbook examples) ------------------

def test_plumbr_serial():
    text = (
        "2015-05-26T14:45:37.987-0200: 151.126: [GC (Allocation Failure) "
        "151.126: [DefNew: 629119K->69888K(629120K), 0.0584157 secs] "
        "1619346K->1273247K(2027264K), 0.0585007 secs] "
        "[Times: user=0.06 sys=0.00, real=0.06 secs]\n"
        "2015-05-26T14:45:59.690-0200: 172.829: [GC (Allocation Failure) "
        "172.829: [DefNew: 629120K->629120K(629120K), 0.0000372 secs]"
        "172.829: [Tenured: 1203359K->755802K(1398144K), 0.1855567 secs] "
        "1832479K->755802K(2027264K), [Metaspace: 6741K->6741K(1056768K)], "
        "0.1856954 secs] [Times: user=0.18 sys=0.00, real=0.18 secs]"
    )
    events = parse_log(text)
    assert events[0]["age"] == 151.126
    assert events[0]["pause"] == 0.0585007
    assert events[0]["heap"] == ("1619346K", "1273247K", "2027264K")
    assert len(events[0]["generations"]) == 1
    assert events[1]["age"] == 172.829
    assert events[1]["pause"] == 0.1856954
    assert events[1]["heap"] == ("1832479K", "755802K", "2027264K")
    assert [g[0] for g in events[1]["generations"]] == [
        "DefNew", "Tenured", "Metaspace",
    ]
    assert len(events) == 2


def test_plumbr_parallel():
    text = (
        "2015-05-26T14:27:40.915-0200: 116.115: [GC (Allocation Failure) "
        "[PSYoungGen: 2694440K->1305132K(2796544K)] "
        "9556775K->8438926K(11185152K), 0.2406675 secs] "
        "[Times: user=1.77 sys=0.01, real=0.24 secs]\n"
        "2015-05-26T14:27:41.155-0200: 116.356: [Full GC (Ergonomics) "
        "[PSYoungGen: 1305132K->0K(2796544K)] [ParOldGen: "
        "7133794K->6597672K(8388608K)] 8438926K->6597672K(11185152K), "
        "[Metaspace: 6745K->6745K(1056768K)], 0.9158801 secs] "
        "[Times: user=4.49 sys=0.64, real=0.92 secs]"
    )
    events = parse_log(text)
    assert events[0]["gc_type"] == "GC"
    assert events[0]["gc_cause"] == "Allocation Failure"
    assert events[0]["pause"] == 0.2406675
    assert promoted_bytes(events[0]) == 271459 * 1024
    assert events[1]["gc_type"] == "Full GC"
    assert events[1]["gc_cause"] == "Ergonomics"
    assert [g[0] for g in events[1]["generations"]] == [
        "PSYoungGen", "ParOldGen", "Metaspace",
    ]
    assert events[1]["pause"] == 0.9158801
    assert len(events) == 2


# --- ParserTest.scala:468-510 (CMS cycle) ------------------------------------

CMS_CYCLE = """2015-05-26T16:23:07.321-0200: 64.425: [GC (CMS Initial Mark) [1 CMS-initial-mark: 10812086K(11901376K)] 10887844K(12514816K), 0.0001997 secs] [Times: user=0.00 sys=0.00, real=0.00 secs]
2015-05-26T16:23:07.321-0200: 64.425: [CMS-concurrent-mark-start]
2015-05-26T16:23:07.357-0200: 64.460: [CMS-concurrent-mark: 0.035/0.035 secs] [Times: user=0.07 sys=0.00, real=0.03 secs]
2015-05-26T16:23:07.357-0200: 64.460: [CMS-concurrent-preclean-start]
2015-05-26T16:23:07.373-0200: 64.476: [CMS-concurrent-preclean: 0.016/0.016 secs] [Times: user=0.02 sys=0.00, real=0.02 secs]
2015-05-26T16:23:07.373-0200: 64.476: [CMS-concurrent-abortable-preclean-start]
2015-05-26T16:23:08.446-0200: 65.550: [CMS-concurrent-abortable-preclean: 0.167/1.074 secs] [Times: user=0.20 sys=0.00, real=1.07 secs]
2015-05-26T16:23:08.447-0200: 65.550: [GC (CMS Final Remark) [YG occupancy: 387920 K (613440 K)]65.550: [Rescan (parallel) , 0.0085125 secs]65.559: [weak refs processing, 0.0000243 secs]65.559: [class unloading, 0.0013120 secs]65.560: [scrub symbol table, 0.0008345 secs]65.561: [scrub string table, 0.0001759 secs][1 CMS-remark: 10812086K(11901376K)] 11200006K(12514816K), 0.0110730 secs] [Times: user=0.06 sys=0.00, real=0.01 secs]
2015-05-26T16:23:08.458-0200: 65.561: [CMS-concurrent-sweep-start]
2015-05-26T16:23:08.485-0200: 65.588: [CMS-concurrent-sweep: 0.027/0.027 secs] [Times: user=0.03 sys=0.00, real=0.03 secs]
2015-05-26T16:23:08.485-0200: 65.589: [CMS-concurrent-reset-start]
2015-05-26T16:23:08.497-0200: 65.601: [CMS-concurrent-reset: 0.012/0.012 secs] [Times: user=0.01 sys=0.00, real=0.01 secs]"""


def test_cms_initial_mark():
    events = parse_log(
        "2015-05-26T16:23:07.321-0200: 64.425: [GC (CMS Initial Mark) "
        "[1 CMS-initial-mark: 10812086K(11901376K)] 10887844K(12514816K), "
        "0.0001997 secs] [Times: user=0.00 sys=0.00, real=0.00 secs]"
    )
    assert events[0]["gc_type"] == "GC"
    assert events[0]["gc_cause"] == "CMS Initial Mark"
    assert events[0]["pause"] == 0.0
    assert events[0]["gc_class"] == "cms"


def test_cms_concurrent_mark_start():
    events = parse_log(
        "2015-05-26T16:23:07.321-0200: 64.425: [CMS-concurrent-mark-start]"
    )
    assert events[0]["gc_type"] == "CMS-concurrent-mark-start"
    assert events[0]["pause"] == 0.0


def test_cms_concurrent_mark():
    events = parse_log(
        "2015-05-26T16:23:07.357-0200: 64.460: [CMS-concurrent-mark: "
        "0.035/0.035 secs] [Times: user=0.07 sys=0.00, real=0.03 secs]"
    )
    assert events[0]["gc_type"] == "CMS-concurrent-mark"
    assert events[0]["pause"] == 0.03


def test_cms_cycle():
    # NB the reference's parseLog[CmsGcEvent] type filter is erased
    # (SURVEY.md §2.2 P21) — all 12 events come back, including type 'GC'.
    events = parse_log(CMS_CYCLE)
    assert events[0]["gc_type"] == "GC"
    assert events[0]["gc_cause"] == "CMS Initial Mark"
    assert events[0]["pause"] == 0.0
    assert events[11]["gc_type"] == "CMS-concurrent-reset"
    assert events[11]["pause"] == 0.01
    assert len(events) == 12


# --- ParserTest.scala:521-525 ------------------------------------------------

def test_tenuring_from_fragment():
    events = parse_with_heap_stats(fixture("fragment.txt"))
    assert events[0]["tenuring"] == ("248053760", "1")


# --- ParserTest.scala:527-556 (AppStopped) -----------------------------------

def test_app_stopped_gc_line_mode():
    events = parse_log(fixture("fragment-with-wait-times.txt"))
    assert events[0]["time"] == datetime(
        2016, 11, 10, 15, 42, 24, 41000, PLUS11
    )
    assert events[0]["gc_type"] == "AppStopped"
    assert events[0]["stopped"] == 0.0001057
    assert events[0]["to_stop"] == 0.0000176
    assert events[15]["time"] == datetime(
        2016, 11, 10, 15, 42, 25, 967000, PLUS11
    )
    assert events[15]["gc_type"] == "GC"
    assert len(events) == 16


def test_app_stopped_heap_stats_mode():
    events = parse_with_heap_stats(fixture("fragment-with-wait-times.txt"))
    assert events[0]["gc_type"] == "AppStopped"
    assert events[15]["gc_type"] == "GC"
    assert len(events) == 16


def test_app_stopped_single_line():
    ev = parse_gc_line(
        "2016-11-10T15:42:24.041+1100: 0.119: Total time for which "
        "application threads were stopped: 0.0001057 seconds, Stopping "
        "threads took: 0.0000176 seconds"
    )
    assert ev["time"] == datetime(2016, 11, 10, 15, 42, 24, 41000, PLUS11)
    assert ev["gc_type"] == "AppStopped"


def test_short_form_app_stopped_ignored():
    # fragment.txt short-form lines (no 'Stopping threads took') are not
    # events (Parser.scala:60; count stays 2 at ParserTest.scala:104-111)
    assert parse_log(
        "Total time for which application threads were stopped: "
        "0.0121560 seconds\n"
    ) == []


# --- RateCalculatorTest.scala -------------------------------------------------

def test_rates_basic_java7():
    events = parse_log(fixture("basic-java7-gc.log"))
    rates = calculate_rates(events)
    assert rates[0][0] == 66048 * 1024
    assert rates[0][1] == 263
    assert rates[0][2] == (66048 * 1024) // 263
    assert rates[1][0] == 125156 * 1024 - 59108 * 1024
    assert rates[1][1] == 341 - 263
    assert rates[1][2] == (125156 * 1024 - 59108 * 1024) // (341 - 263)
    assert rates[2][0] == 0
    assert rates[2][1] == 371 - 341
    assert rates[3][0] == 251862 * 1024 - 119766 * 1024
    assert rates[3][1] == 727 - 371


def test_rates_export():
    events = parse_log(fixture("basic-java8-gc.log"))
    rates = calculate_rates(events)
    assert seq_str(events[1], rates[1]) == """(age,0.299)
(type,GC)
(cause,Allocation Failure)
(pause,0.0292072)
(heapBefore,125737984)
(heapAfter,122723328)
(heapReclaimed,3014656)
(heapMax,324534272)
(heapAllocated,67108864)
(heapAllocationRate,1048576)
(promotionRate,0)"""


def test_rates_heap_stats():
    events = parse_with_heap_stats(fixture("heap-java7-gc.log"))
    rates = calculate_rates(events)
    assert rates[0][0] == 66048 * 1024
    assert rates[1][0] == 125149 * 1024 - 59101 * 1024


def test_promotion_rate():
    events = parse_log(fixture("details-java7-gc.log"))
    rates = calculate_rates(events)
    assert rates[0][3] == ((66048 - 10736) - (66048 - 59099)) * 1024 // 266
    assert rates[1][3] == ((76784 - 10720) - (125147 - 122163)) * 1024 // (
        348 - 266
    )
    assert rates[2][3] == 0
    assert events[2]["gc_type"] == "Full GC"
    assert "(promotionRate,787730)" in seq_str(events[1], rates[1])


def test_promotion_rate_heap_stats():
    events = parse_with_heap_stats(fixture("heap-java7-gc.log"))
    rates = calculate_rates(events)
    assert rates[1][3] == ((76784 - 10720) - (125149 - 122157)) * 1024 // (
        342 - 261
    )
    assert "(promotionRate,797354)" in seq_str(events[1], rates[1])


# --- OutputFormatTest.scala:14-28 (graphite golden) ---------------------------

def test_graphite_format():
    events = parse_log(fixture("fragment.txt"))
    # no rates: the export pairs of the event alone
    assert graphite_lines(events[:1], [None]) == [
        "gc.age 524176.359 1449722814",
        "gc.type GC 1449722814",
        "gc.pause 0.18402 1449722814",
        "gc.heapBefore 3748762624 1449722814",
        "gc.heapAfter 2875555840 1449722814",
        "gc.heapReclaimed 873206784 1449722814",
        "gc.heapMax 4046913536 1449722814",
        "gc.PSYoungGenBefore 1096065024 1449722814",
        "gc.PSYoungGenAfter 78150656 1449722814",
        "gc.PSYoungGenReclaimed 1017914368 1449722814",
        "gc.PSYoungGenMax 1183580160 1449722814",
        "gc.promoted 144707584 1449722814",
        "gc.desiredSurvivorSize 248053760 1449722814",
        "gc.newThreshold 1 1449722814",
    ]


# --- TSV output sanity (output/OutputFormat.scala:9-22) -----------------------

def test_tsv_header_from_first_event():
    events = parse_log(fixture("basic-java7-gc.log"))
    lines = tsv_lines(events, [None] * len(events))
    assert lines[0] == "age\ttype\tpause\theapBefore\theapAfter\theapReclaimed\theapMax"
    assert lines[1].split("\t")[0] == "0.263"
    assert len(lines) == 8
