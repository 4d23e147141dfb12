"""Multimodal column plumbing: treat image/audio/video payloads as
opaque ``binary`` columns with typed metadata.

Every media operator here is ONE Arrow-batched ``mapInPandas`` pass,
``_map_payloads``: pruned ``(url, payload)`` scan, bytes in, typed
feature rows out, zero shuffle — the shape of a 100 TB media
feature-extraction pass.  An operator supplies only its per-payload
body.  The *decode* step is REAL for the formats the standard library
can decode — PNG (zlib inflate + scanline unfilter) and WAV (the
``wave`` module), see ``operators.mediacodec`` — and a deterministic
stub (``decode_stub``) for formats that genuinely need codecs (JPEG,
MP4; no PIL/ffmpeg in this image).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from gclog_parser_spark.operators.dedup import _hamming_pairs
from gclog_parser_spark.operators.mediacodec import (
    decode_media,
    value_digest,
)

DECODE_AVAILABLE = ("png", "wav")  # stdlib-decodable; others stub

META_SCHEMA = (
    "url string, n_bytes long, magic string, kind string, "
    "width int, height int, content_digest string, decoder string"
)

_MAGICS = {
    b"\x89PNG": ("png", "image"),
    b"\xff\xd8\xff": ("jpeg", "image"),
    b"RIFF": ("riff", "audio"),
    b"<htm": ("html", "text"),
    b"<HTM": ("html", "text"),
}


def decode_stub(payload: bytes):
    """Deterministic fake 'decode' — stands in for the codecs the
    image lacks (JPEG, MP4, ...).  PNG/WAV never reach this: they
    route to the REAL stdlib decoders in ``mediacodec``.

    A real deployment swaps this single function for the codec call;
    the Spark plumbing around it is unchanged.
    """
    d = hashlib.md5(payload[:64]).digest()
    return {"fake_width": 16 + d[0] % 64, "fake_height": 16 + d[1] % 64}


def _sniff(payload: bytes):
    for magic, (name, kind) in _MAGICS.items():
        if payload[: len(magic)] == magic:
            return name, kind
    return "bin", "unknown"


def _stub_resize_digest(payload: bytes, target_w: int, target_h: int):
    """The documented resize stub: md5 of the decoded text + 'WxH'."""
    text = payload.decode("utf-8", errors="replace")
    return hashlib.md5((text + f"{target_w}x{target_h}").encode()).hexdigest()


def _codepoints(text: str) -> np.ndarray:
    """The stub decode's 'pixels': the text's code points as int64."""
    return np.frombuffer(
        text.encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)


def _average_hash(vals, bits: int) -> int:
    """``bits``-bit average hash of ``n ≥ 1`` integer values: position
    ``i`` falls in block ``i·bits div n`` and bit j (MSB first) is set
    when the block is non-empty and block_sum·n ≥ total·block_len.
    The sums are exact int64 prefix sums and the comparison is exact
    integer cross-multiplication, so empty blocks (n < bits) and
    negative (WAV) values need no special case."""
    arr = np.asarray(vals, dtype=np.int64)
    n = len(arr)
    # block j spans positions [ceil(j·n/bits), ceil((j+1)·n/bits))
    bounds = (np.arange(bits + 1, dtype=np.int64) * n + bits - 1) // bits
    csum = np.concatenate(([0], np.cumsum(arr)))
    block_sum = csum[bounds[1:]] - csum[bounds[:-1]]
    block_len = np.diff(bounds)
    total = int(csum[-1])
    h = 0
    for j in range(bits):
        if block_len[j] and int(block_sum[j]) * n >= total * int(
            block_len[j]
        ):
            h |= 1 << (bits - 1 - j)
    return h


def _map_payloads(
    pages: DataFrame, payload_col: str, schema: str, rows
) -> DataFrame:
    """The one per-payload pass: Arrow batches of the pruned
    ``(url, payload_col)`` columns, NULL payloads skipped, and
    ``rows(payload_bytes)`` yields 0..n tuples of the ``schema``
    columns after ``url``.  No shuffle."""
    columns = [field.split()[0] for field in schema.split(",")]

    def fn(batches):
        for pdf in batches:
            yield pd.DataFrame.from_records(
                [
                    (url, *row)
                    for url, payload in zip(pdf["url"], pdf[payload_col])
                    if payload is not None
                    for row in rows(bytes(payload))
                ],
                columns=columns,
            )

    return pages.select("url", payload_col).mapInPandas(fn, schema)


def extract_media_meta(pages: DataFrame, payload_col: str = "html"):
    """binary column → one typed metadata row per non-NULL payload.

    PNG payloads get REAL width/height (stdlib inflate + unfilter);
    WAV payloads decode for real too (dims are NULL — not an image);
    everything else gets the documented stub dims.  ``content_digest``
    is the dedup identity: the digest of the DECODED values for
    decodable formats (same pixels re-compressed ⇒ same digest — the
    identity an image-dedup pass actually wants) and of the raw bytes
    otherwise.  ``decoder`` says which path produced the row.
    """

    def rows(b):
        magic, kind = _sniff(b)
        dec = decode_media(b)
        if dec is not None:
            width, height = dec["width"], dec["height"]
            digest = value_digest(dec["values"])
            decoder = dec["codec"]
        else:
            fake = decode_stub(b)
            width, height = fake["fake_width"], fake["fake_height"]
            digest = hashlib.md5(b).hexdigest()
            decoder = "stub"
        yield len(b), magic, kind, width, height, digest, decoder

    return _map_payloads(pages, payload_col, META_SCHEMA, rows)


RESIZE_SCHEMA = (
    "url string, kind string, target_w int, target_h int, "
    "resized_digest string"
)


def resize_media(pages: DataFrame) -> DataFrame:
    """Fake-resize every ``html`` payload to 16×16: one feature row per
    payload, the shape a real thumbnailer uses.

    The pixel work is the documented stub (no codecs in this image):
    the 'resized' artifact is a deterministic digest of
    ``decoded_text + '<w>x<h>'`` so the DuckDB oracle can verify the
    plumbing value-for-value.  A real deployment replaces ONLY the
    digest line with the codec + resample call."""

    def rows(b):
        yield _sniff(b)[1], 16, 16, _stub_resize_digest(b, 16, 16)

    return _map_payloads(pages, "html", RESIZE_SCHEMA, rows)


FRAMES_SCHEMA = "url string, frame_idx int, frame_digest string"
FRAME_CHARS = 4096  # fake 'frame' = 4 KiB character window


def sample_frames(pages: DataFrame) -> DataFrame:
    """Fake video frame sampling: one input row fans out to one row per
    sampled frame — the real shape of a frame-extraction pass (row
    explosion inside ``mapInPandas``, still shuffle-free; a 100 TB
    video corpus maps to billions of frame rows without a single
    exchange).

    Frames are consecutive ``FRAME_CHARS`` windows of the decoded
    ``html`` payload; every 2nd window is 'decoded' (deterministic
    digest stub, same contract as ``decode_stub``)."""

    def rows(b):
        text = b.decode("utf-8", errors="replace")
        n_frames = (len(text) + FRAME_CHARS - 1) // FRAME_CHARS
        for i in range(0, n_frames, 2):
            chunk = text[i * FRAME_CHARS: (i + 1) * FRAME_CHARS]
            yield i, hashlib.md5(chunk.encode()).hexdigest()

    return _map_payloads(pages, "html", FRAMES_SCHEMA, rows)


PHASH_BITS = 60  # fits BIGINT positive; bands must divide it
PHASH_SCHEMA = "url string, n_cp long, phash long"


def media_phash(pages: DataFrame) -> DataFrame:
    """Perceptual-style average-hash of every ``html`` payload — the
    image-dedup signature (pHash family): split the decoded payload
    into ``PHASH_BITS`` contiguous blocks, bit_i = (block mean >= global
    mean), compared with EXACT integer cross-multiplication
    (block_sum·n >= total_sum·block_len) so both engines derive the
    same bits.  Decode is the documented codec stub (no PIL/ffmpeg in
    this image): 'pixels' are the utf-8 codepoints, vectorized per row
    via numpy over the utf-32 view — a real deployment swaps ONLY the
    decode line for the codec + DCT/resample call.

    Returns (url, n_cp, phash) — phash is a ``PHASH_BITS``-bit BIGINT;
    near-duplicate payloads land within small Hamming distance.
    Empty payloads drop."""

    def rows(b):
        text = b.decode("utf-8", errors="replace")
        if text:
            yield len(text), _average_hash(_codepoints(text), PHASH_BITS)

    return _map_payloads(pages, "html", PHASH_SCHEMA, rows)


def media_phash_pairs(
    pages: DataFrame,
    max_hamming: int = 12,
    bands: int = 15,
) -> DataFrame:
    """Near-duplicate media pairs by phash Hamming distance — the
    image-dedup join, same pigeonhole banding as ``simhash_pairs``:
    two hashes within Hamming ``max_hamming`` (< bands) must agree
    exactly on at least one of ``bands`` equal segments, so candidates
    come from band equi-joins (shuffle ∝ payloads×bands, per-bucket
    fan-out bounded by segment cardinality 2^(PHASH_BITS/bands)) and verify
    with one popcount — never an all-pairs scan.  Production images
    use wider hashes (256-bit pHash, 8-bit segments) for colder
    buckets; the 60-bit default matches the stub decode.

    Returns (url_a, url_b, hamming), url_a < url_b."""
    return _hamming_pairs(
        media_phash(pages), "url", "phash", PHASH_BITS,
        max_hamming, bands, ("url_a", "url_b"),
    )


EMBED_DIM = 8
EMBED_LANE_OFFSET = 1 << 23  # 24-bit lanes, signed around zero


def media_embed(pages: DataFrame) -> DataFrame:
    """Deterministic stand-in ``html`` payload embedder — the
    model-inference pass of a multimodal pipeline in its real Spark
    shape: (url, ``array<long>``) embedding relation, zero shuffle.  A real
    deployment swaps ONLY the per-payload function for the
    CLIP/encoder forward pass (GPU-batched over exactly these Arrow
    batches); everything downstream — storage schema, similarity
    joins, dedup — is unchanged.

    The stand-in is content-determined: lane j = signed 24-bit integer
    from ``md5(payload_text || ':' || j)``.  24-bit lanes keep every
    downstream dot product exact BIGINT (dim · 2^46 ≪ 2^63), so the
    similarity queries built on top are bit-checkable cross-engine.
    Identical payloads ⇒ identical vectors, which is precisely the
    property embedding-dedup relies on."""

    def rows(b):
        text = b.decode("utf-8", errors="replace")
        yield ([
            int(hashlib.md5((text + f":{j}").encode()).hexdigest()[:6], 16)
            - EMBED_LANE_OFFSET
            for j in range(EMBED_DIM)
        ],)

    return _map_payloads(pages, "html", "url string, emb array<long>", rows)


def media_neighbor_topk(pages: DataFrame) -> DataFrame:
    """Embedding-space top-10 nearest neighbors of one probe page — the
    multimodal→ANN composition: binary payload → embedding relation →
    exact-BIGINT dot-product top-k.  The probe is the keeper of the
    LARGEST exact-duplicate payload group (deterministic: count DESC,
    url ASC), so the expected top neighbors are its re-crawled copies
    at the maximum attainable score — embedding dedup finding what
    byte-dedup finds, the cross-modality sanity check a production
    media pipeline runs before trusting the encoder.

    Scale shape: the embedding pass is shuffle-free; the probe row
    broadcasts; the scan computes EMBED_DIM multiplies per vector; top-k is
    a bounded TakeOrdered — no global sort materializes."""
    emb = media_embed(pages)
    probe_url = (
        pages.groupBy(F.md5("html"))
        .agg(F.count("*").alias("n"), F.min("url").alias("url"))
        .orderBy(F.desc("n"), F.asc("url"))
        .limit(1)
        .select("url")
    )
    probe = emb.join(
        F.broadcast(probe_url), "url"
    ).select(F.col("url").alias("probe_url"), F.col("emb").alias("pemb"))
    dot = F.aggregate(
        F.zip_with("pemb", "emb", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        emb.crossJoin(F.broadcast(probe))
        .where(F.col("url") != F.col("probe_url"))
        .select("probe_url", "url", dot.alias("dot"))
        .orderBy(F.desc("dot"), F.asc("url"))
        .limit(10)
    )


DECODE_SCHEMA = (
    "url string, codec string, width int, height int, "
    "n_channels int, sample_rate int, n_values long, "
    "value_digest string"
)


def decode_media_features(pages: DataFrame):
    """REAL media decode of the ``payload`` column as a feature
    relation: PNG → zlib inflate + scanline unfilter (all five PNG
    filter types), WAV → RIFF/PCM via the stdlib ``wave`` module;
    anything else routes to the documented stub (codec='stub', stub
    dims, NULL values).  See ``operators.mediacodec``.

    ``value_digest`` is md5 over the ','-joined decimal decoded values
    (pixels row-major channel-interleaved / signed PCM samples) — the
    full-fidelity, text-safe form the DuckDB oracle recomputes from
    the generator's closed form (``datagen.media_pages``), so this
    query proves the encode→decode round trip against ground truth."""

    def rows(b):
        dec = decode_media(b)
        if dec is None:
            fake = decode_stub(b)
            yield (
                "stub", fake["fake_width"], fake["fake_height"],
                None, None, None, None,
            )
            return
        vals = dec["values"]
        yield (
            dec["codec"], dec["width"], dec["height"], dec["n_channels"],
            dec["sample_rate"], len(vals), value_digest(vals),
        )

    return _map_payloads(pages, "payload", DECODE_SCHEMA, rows)


RESIZE_REAL_SCHEMA = (
    "url string, decoder string, target_w int, target_h int, "
    "resized_digest string"
)


def resize_media_real(pages: DataFrame) -> DataFrame:
    """Real 8×6 thumbnailing of the ``payload`` column for the
    stdlib-decodable formats: PNG resizes by nearest-neighbor
    (out(ty,tx,c) = src(ty·h div 6, tx·w div 8, c) — integer index
    math, exactly re-derivable in SQL), WAV downsamples the waveform
    to a 48-point sketch (out(j) = sample(j·n div 48)); other payloads
    keep the documented
    stub digest of :func:`resize_media` (md5 of text + 'WxH').
    ``resized_digest`` digests the resized values the same way
    ``value_digest`` does, so the oracle verifies REAL resampled
    pixels, not plumbing alone."""
    tw, th = 8, 6

    def rows(b):
        dec = decode_media(b)
        if dec is None:
            yield "stub", tw, th, _stub_resize_digest(b, tw, th)
            return
        src = dec["values"]
        if dec["codec"] == "png":
            w, h, ch = dec["width"], dec["height"], dec["n_channels"]
            out = [
                src[((ty * h // th) * w + (tx * w // tw)) * ch + c]
                for ty in range(th)
                for tx in range(tw)
                for c in range(ch)
            ]
        else:  # wav: 1-D waveform sketch
            n = len(src)
            out = [src[j * n // (tw * th)] for j in range(tw * th)]
        yield dec["codec"], tw, th, value_digest(out)

    return _map_payloads(pages, "payload", RESIZE_REAL_SCHEMA, rows)


PHASH_REAL_SCHEMA = "url string, decoder string, n_vals long, phash long"


def media_phash_real(pages: DataFrame) -> DataFrame:
    """Average-hash over the REAL decoded ``payload`` values (round-5):
    PNG pixel bytes / WAV PCM samples from the stdlib decoders — the
    honest upgrade of :func:`media_phash`, whose 'pixels' are codepoint
    stand-ins; undecodable payloads keep exactly that codepoint lane
    (``decoder='stub'``), so one relation covers the mixed corpus.

    The same average hash as ``media_phash`` (position ``i`` → block
    ``i·PHASH_BITS div n``, exact integer cross-multiplication), so WAV's
    negative samples compare exactly too."""

    def rows(b):
        dec = decode_media(b)
        if dec is not None:
            vals, decoder = dec["values"], dec["codec"]
        else:
            vals = _codepoints(b.decode("utf-8", errors="replace"))
            decoder = "stub"
        if len(vals):
            yield decoder, len(vals), _average_hash(vals, PHASH_BITS)

    return _map_payloads(pages, "payload", PHASH_REAL_SCHEMA, rows)


AUDIO_FEATURES_SCHEMA = (
    "url string, n_samples long, sample_rate int, sum_sq long, "
    "peak_abs int, zero_crossings long"
)


def media_audio_features(pages: DataFrame) -> DataFrame:
    """REAL audio feature extraction over decoded WAV ``payload``
    samples — the audio-quality gate of a multimodal training pipeline
    (silence / clipping / DC-stuck detection before paying for
    transcription or an audio encoder).  Everything is EXACT integers
    so the DuckDB oracle reproduces it from the generator closed form
    bit-for-bit:

    * ``sum_sq`` — Σ s² (BIGINT; RMS = sqrt(sum_sq/n) is left to the
      reader precisely because sqrt is float) — silence ≈ 0;
    * ``peak_abs`` — max |s| — clipping sits at 32767/32768;
    * ``zero_crossings`` — #{i : s_i·s_{i+1} < 0} — a crude but
      classic pitch/noisiness signal.

    Non-WAV payloads drop (this is the audio lane; the mixed-corpus
    meta lives in ``extract_media_meta``)."""

    def rows(b):
        dec = decode_media(b)
        if dec is None or dec["codec"] != "wav":
            return
        s = np.asarray(dec["values"], dtype=np.int64)
        yield (
            len(s),
            dec["sample_rate"],
            int((s * s).sum()),
            int(np.abs(s).max()) if len(s) else 0,
            int(((s[:-1] * s[1:]) < 0).sum()) if len(s) > 1 else 0,
        )

    return _map_payloads(pages, "payload", AUDIO_FEATURES_SCHEMA, rows)


IMAGE_STATS_SCHEMA = (
    "url string, width int, height int, n_channels int, "
    "sum_px long, min_px int, max_px int, n_distinct int"
)


def media_image_stats(pages: DataFrame) -> DataFrame:
    """REAL image statistics over decoded PNG ``payload`` pixels — the
    image-DQ gate (all-black / blown-out / low-entropy screenshots) run before
    an image encoder sees the corpus.  Exact integers only (sum, min,
    max, distinct pixel values), so the oracle recomputes them from
    the generator closed form.  Non-PNG payloads drop (image lane)."""

    def rows(b):
        dec = decode_media(b)
        if dec is None or dec["codec"] != "png":
            return
        px = np.asarray(dec["values"], dtype=np.int64)
        yield (
            dec["width"],
            dec["height"],
            dec["n_channels"],
            int(px.sum()),
            int(px.min()),
            int(px.max()),
            int(len(np.unique(px))),
        )

    return _map_payloads(pages, "payload", IMAGE_STATS_SCHEMA, rows)
