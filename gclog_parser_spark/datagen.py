"""Deterministic Common-Crawl-style pages generator (FIXTURES.md §1).

Two generators, both fully deterministic (no RNG — every value is an
arithmetic function of the row id, so the DuckDB oracle can rebuild the
identical table in pure SQL):

* ``pages_from_documents(spark, sf_dir)`` — derives pages from the
  driver-provided ``documents`` parquet: the document text becomes web
  filler, one GC-log fixture (class = ``doc_id % 10``) is embedded
  verbatim between markers.  Used by the driver correctness gate.
* ``synth_pages(spark, n)`` — standalone ``spark.range``-based generator
  for the throughput benchmark at arbitrary scale; same layout, native
  expressions only, so datagen itself is distributed and never a
  bottleneck.

Skew by construction: 70 % of pages land in warc hour 4 (``doc_id % 100
< 70``) to exercise the salted-hour aggregation (SURVEY.md §4).

The fixture bodies are attached via a **broadcast join** on the class id
— the same enrich pattern the pipeline uses for its dims — keeping the
page-building plan fully columnar.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from gclog_parser_spark.fixtures import all_classes

#: Markers bracketing the embedded log.  Extraction takes the bytes
#: strictly between them → byte-identical to the fixture (the per-row
#: invariant in BASELINE.json input_hint).
OPEN_MARK = '<pre class="gclog">'
CLOSE_MARK = "</pre><!--gclog-->"

BASE_TS = "2016-11-10 00:00:00"

_FILLER = [
    "the quick crawl fetched another page about spark and hadoop clusters",
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod",
    "breaking news markets rally as tech stocks surge in afternoon trading",
    "recipe instructions preheat the oven and whisk the eggs with sugar",
    "forum reply thanks that fixed my issue with the garbage collector logs",
]


def fixture_dim(spark):
    """Broadcast dim: (class_id, class_name, fixture_text)."""
    rows = [(cid, name, text) for cid, name, text, _, _ in all_classes()]
    return spark.createDataFrame(
        rows, "class_id int, class_name string, fixture_text string"
    )


def _page_cols(doc_id_col, filler_col, lang_col):
    """Shared column expressions (mirrored 1:1 in the DuckDB oracle SQL —
    see __spark_entry__._oracle_pages_cte)."""
    url = F.concat(
        F.lit("https://logs.example/"),
        F.col("class_name"),
        F.lit("/"),
        doc_id_col.cast("string"),
    )
    hour = F.when(doc_id_col % 100 < 70, F.lit(4)).otherwise(
        (doc_id_col % 24).cast("int")
    )
    warc_ts = F.to_timestamp(F.lit(BASE_TS)) + F.make_interval(
        hours=hour, mins=(doc_id_col % 60).cast("int")
    )
    text = F.concat(
        filler_col,
        F.lit("\n" + OPEN_MARK + "\n"),
        F.col("fixture_text"),
        F.lit(CLOSE_MARK + "\n"),
        filler_col,
    )
    html = F.encode(
        F.concat(F.lit("<html><body>"), text, F.lit("</body></html>")),
        "utf-8",
    )
    return [
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        text.alias("text"),
        lang_col.alias("lang"),
    ]


def pages_from_documents(spark, sf_dir: str):
    """Pages table derived deterministically from ``{sf_dir}/documents``:
    the PAGES_SCHEMA columns; each url names its fixture class
    (``https://logs.example/<class>/<doc_id>``)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    joined = docs.withColumn(
        "class_id", (F.col("doc_id") % 10).cast("int")
    ).join(F.broadcast(fixture_dim(spark)), "class_id")
    return joined.select(
        *_page_cols(F.col("doc_id"), F.col("text"), F.col("lang"))
    )


def synth_pages(spark, n: int, parallelism: int | None = None):
    """Standalone deterministic pages table of ``n`` rows for benchmarks."""
    rng = spark.range(n, numPartitions=parallelism)
    filler = F.concat_ws(
        " ",
        *[
            F.element_at(
                F.array(*[F.lit(s) for s in _FILLER]),
                ((F.col("id") + i) % len(_FILLER) + 1).cast("int"),
            )
            for i in range(3)
        ],
    )
    joined = rng.withColumn(
        "class_id", (F.col("id") % 10).cast("int")
    ).join(F.broadcast(fixture_dim(spark)), "class_id")
    return joined.select(*_page_cols(F.col("id"), filler, F.lit("en")))


MEDIA_SCHEMA = "url string, payload binary, doc_id long"


def media_pages(spark, sf_dir: str):
    """Deterministic multimodal corpus derived from ``documents``: one
    payload per document, cycling PNG / WAV / HTML by ``doc_id % 3``.

    Every byte is an arithmetic function of ``doc_id`` (closed forms
    below, mirrored in the DuckDB oracles), and the PNG/WAV payloads
    are REAL files produced by the stdlib encoders in
    ``operators.mediacodec`` — so decoding them back exercises real
    zlib inflate + scanline unfilter / RIFF parsing, checked against
    ground truth the oracle recomputes without any codec:

    * PNG (``doc_id % 3 == 0``): ``w = 4 + doc_id % 13``,
      ``h = 3 + doc_id % 7``, channels ``1`` if doc_id even else
      ``3``, pixel ``i`` = ``(doc_id·31 + i) % 256`` (row-major,
      channel-interleaved), per-row filter type ``(doc_id + y) % 5``
      — the corpus exercises ALL FIVE unfilter branches.  zlib level
      0 ⇒ file size is the closed form ``68 + h·(w·ch + 1)``.
    * WAV (``doc_id % 3 == 1``): mono 16-bit PCM,
      ``n_frames = 16 + doc_id % 50``, rate
      ``8000 + (doc_id % 4)·4000``, sample ``i`` =
      ``(doc_id·131 + i·7) % 65536 − 32768``; size ``44 + 2·n``.
    * HTML (``doc_id % 3 == 2``): utf-8 of
      ``<html><body>media doc {doc_id}</body></html>`` — routes to the
      documented stub, proving the fallback lane stays.

    Generation runs as Arrow-batched ``mapInPandas`` over the pruned
    (doc_id) scan — distributed, shuffle-free, deterministic."""
    import pandas as pd

    from gclog_parser_spark.operators.mediacodec import (
        png_encode,
        wav_encode,
    )

    def fn(batches):
        for pdf in batches:
            recs = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                kind = d % 3
                if kind == 0:
                    ch = 1 if d % 2 == 0 else 3
                    w, h = 4 + d % 13, 3 + d % 7
                    px = bytes(
                        (d * 31 + i) % 256 for i in range(w * h * ch)
                    )
                    payload = png_encode(
                        w, h, px, channels=ch,
                        filters=[(d + y) % 5 for y in range(h)],
                    )
                    ext = "png"
                elif kind == 1:
                    n = 16 + d % 50
                    payload = wav_encode(
                        [((d * 131 + i * 7) % 65536) - 32768
                         for i in range(n)],
                        framerate=8000 + (d % 4) * 4000,
                    )
                    ext = "wav"
                else:
                    payload = (
                        f"<html><body>media doc {d}</body></html>"
                    ).encode()
                    ext = "html"
                recs.append(
                    {
                        "url": f"media://{d:08d}.{ext}",
                        "payload": payload,
                        "doc_id": d,
                    }
                )
            yield pd.DataFrame.from_records(
                recs, columns=["url", "payload", "doc_id"]
            )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id"
    )
    return docs.mapInPandas(fn, MEDIA_SCHEMA)
