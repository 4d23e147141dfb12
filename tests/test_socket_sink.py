"""SocketSink parity (S4): the distributed socket writer delivers the
exact graphite lines the reference would send, against a real in-process
TCP server."""

from __future__ import annotations

import socketserver
import threading

from gclog_parser_spark.core import calculate_rates, parse_log
from gclog_parser_spark.fixtures import fixture_text
from gclog_parser_spark.functions.export import graphite_lines
from gclog_parser_spark.operators.export import graphite_export
from gclog_parser_spark.operators.parse import parse_events
from gclog_parser_spark.operators.rates import with_rates
from gclog_parser_spark.sources.pages import read_gc_logs
from gclog_parser_spark.sources.sinks import _send_partition, write_socket


class _Collector(socketserver.StreamRequestHandler):
    def handle(self):
        data = self.rfile.read().decode()
        with self.server.lock:
            self.server.received.extend(
                l for l in data.split("\n") if l
            )


def _server():
    srv = socketserver.ThreadingTCPServer(
        ("127.0.0.1", 0), _Collector
    )
    srv.received = []
    srv.lock = threading.Lock()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]


def test_socket_sink_delivers_reference_graphite_lines(spark, tmp_path):
    name = "details7"
    p = tmp_path / f"{name}.log"
    p.write_text(fixture_text(name))

    evs = parse_log(fixture_text(name))
    want = graphite_lines(evs, calculate_rates(evs))

    srv, port = _server()
    try:
        events = with_rates(
            parse_events(read_gc_logs(spark, str(p)), require_marker=False)
        )
        lines = graphite_export(events)
        write_socket(lines, "127.0.0.1", port)
        got = list(srv.received)
    finally:
        srv.shutdown()
        srv.server_close()

    assert got == want  # one log → one partition → exact order too

    # the sender batches 500 lines per send; 7 per send splits this log
    # across many sends, and every line must survive the seams
    rows = lines.orderBy("line_no").collect()
    srv, port = _server()
    try:
        _send_partition("127.0.0.1", port, 7)(iter(rows))
    finally:
        srv.shutdown()
        srv.server_close()
    assert len(want) > 7 and srv.received == want


def test_stream_to_socket_restart_and_replay(spark, sf_dir, tmp_path):
    """Exactly-once vs at-least-once, pinned end-to-end against a real
    TCP server:

    1. availableNow run (3 files of graphite lines, 1 file/trigger)
       delivers exactly the batch pipeline's line multiset;
    2. restart on the same checkpoint delivers NOTHING (committed
       batches are never re-sent);
    3. deleting the last offset commit (crash between send and commit)
       replays exactly that batch — at-least-once transport whose
       line-identity dedup (graphite (metric, value, ts) overwrite)
       restores the exact expected set.
    """
    import collections
    import os

    import pyspark.sql.functions as F

    from gclog_parser_spark.datagen import pages_from_documents
    from gclog_parser_spark.sources.sinks import stream_to_socket

    # the stream carries graphite lines: formatting them needs windows,
    # which a streaming DataFrame rejects, so they are built batch-side
    # and streamed from parquet, one file per trigger
    inp = str(tmp_path / "lines")
    ckpt = str(tmp_path / "ckpt")
    pages = pages_from_documents(spark, sf_dir)
    ev = parse_events(pages, stitch="narrow").where(
        F.col("event_time").isNotNull()
    )
    lines = graphite_export(ev)
    lines.repartition(3, "url").write.parquet(inp)

    want = collections.Counter(r["line"] for r in lines.collect())
    assert sum(want.values()) > 0

    def lines_stream():
        return (
            spark.readStream.schema(lines.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(inp)
        )

    srv, port = _server()
    try:
        q = stream_to_socket(
            lines_stream(), "127.0.0.1", port, checkpoint=ckpt
        )
        assert q.awaitTermination(300)
        with srv.lock:
            assert collections.Counter(srv.received) == want
            n_first = len(srv.received)

        # restart, same checkpoint: all offsets committed → no resend
        q2 = stream_to_socket(
            lines_stream(), "127.0.0.1", port, checkpoint=ckpt
        )
        assert q2.awaitTermination(300)
        with srv.lock:
            assert len(srv.received) == n_first

        # crash window: batch sent but its offset commit lost → the
        # restart REPLAYS that one batch (at-least-once), and the
        # line-identity view equals the expected set (idempotent sink)
        commits = sorted(
            f
            for f in os.listdir(f"{ckpt}/commits")
            if not f.startswith(".")
        )
        os.remove(f"{ckpt}/commits/{commits[-1]}")
        crc = f"{ckpt}/commits/.{commits[-1]}.crc"
        if os.path.exists(crc):
            os.remove(crc)
        q3 = stream_to_socket(
            lines_stream(), "127.0.0.1", port, checkpoint=ckpt
        )
        assert q3.awaitTermination(300)
        with srv.lock:
            got = collections.Counter(srv.received)
        assert len(got) > 0
        assert sum(got.values()) > n_first  # the batch WAS re-sent
        assert set(got) == set(want)  # dedup by line identity == exact
        # exactly ONE batch replayed: each line is sent at most twice
        # its expected multiplicity, never more
        assert all(want[l] <= got[l] <= 2 * want[l] for l in got)
    finally:
        srv.shutdown()
        srv.server_close()
