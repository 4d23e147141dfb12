"""Network line sinks (SURVEY.md §2.1 S4: ``SocketSink`` — the
reference writes graphite line protocol to ``host:port`` from a single
thread, output/OutputSink.scala:18-36).

Distributed analogue: each partition of the formatted-lines DataFrame
opens its own TCP connection (``foreachPartition``), so a 1000-executor
job fans into the graphite relay tier in parallel.  Lines within one
log stay ordered because the lines DataFrame is clustered and sorted by
(url, line_no) before sending; cross-log order is unordered, as with
any parallel producer.

For Structured Streaming use ``stream_to_socket`` (foreachBatch over
the same writer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

DEFAULT_GRAPHITE_PORT = 2003  # output/OutputSink.scala:19


def _send_partition(host: str, port: int, batch_size: int):
    def send(rows) -> None:
        import socket

        buf = []
        sock = None
        try:
            for row in rows:
                if sock is None:  # connect lazily: empty partitions free
                    sock = socket.create_connection((host, port), timeout=30)
                buf.append(row["line"])
                if len(buf) >= batch_size:
                    sock.sendall(("\n".join(buf) + "\n").encode())
                    buf = []
            if sock is not None and buf:
                sock.sendall(("\n".join(buf) + "\n").encode())
        finally:
            if sock is not None:
                sock.close()

    return send


def write_socket(
    lines: DataFrame,
    host: str,
    port: int = DEFAULT_GRAPHITE_PORT,
) -> None:
    """Send a (url, line_no, line) DataFrame to ``host:port``, one
    connection per partition, 500 lines per send, per-log line order
    preserved."""
    (
        lines.repartition("url")
        .sortWithinPartitions("url", "line_no")
        .foreachPartition(_send_partition(host, port, 500))
    )


def stream_to_socket(
    lines_stream: DataFrame,
    host: str,
    port: int = DEFAULT_GRAPHITE_PORT,
    checkpoint: str | None = None,
):
    """Streaming variant of the socket sink over a (url, line_no,
    line) stream.

    Delivery semantics (documented, test-pinned in
    tests/test_socket_sink.py): **at-least-once per micro-batch**.  The
    checkpoint commits a batch's offsets only AFTER its socket write
    returns, so a crash inside the window between send and commit
    replays the whole batch on restart — a socket has no transaction to
    make that atomic.  Replays are benign for the graphite line
    protocol because a line is fully identified by
    ``(metric_path, value, timestamp)``: the receiver overwrites the
    same datapoint, so delivery is idempotent at the sink even though
    the transport is at-least-once (the reference's single-threaded
    SocketSink, output/OutputSink.scala:18-36, has the same property
    one process at a time).  A cleanly-committed batch is never re-sent
    on restart."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_socket(batch_df, host, port)

    writer = lines_stream.writeStream.foreachBatch(write_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()
