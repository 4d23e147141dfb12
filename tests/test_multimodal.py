"""Media phash dedup: bit-rule correctness, banding completeness vs
the all-pairs scan, and the small-payload fallback path."""

from __future__ import annotations

import pytest

from gclog_parser_spark.operators.multimodal import (
    PHASH_BITS,
    media_phash,
    media_phash_pairs,
)


def _pages(spark, payloads):
    rows = [
        (f"u{i:03d}", t.encode("utf-8")) for i, t in enumerate(payloads)
    ]
    return spark.createDataFrame(rows, "url string, html binary")


def _ref_phash(text: str, bits: int = PHASH_BITS) -> int:
    """Independent reference implementation of the documented rule."""
    return _ref_average_hash([ord(c) for c in text], bits)


def _ref_average_hash(vals, bits: int = PHASH_BITS) -> int:
    """Brute-force loop over the values: position → block, exact sums."""
    n = len(vals)
    total = sum(vals)
    bs = [0] * bits
    bn = [0] * bits
    for pos, c in enumerate(vals):
        b = pos * bits // n
        bs[b] += c
        bn[b] += 1
    h = 0
    for i in range(bits):
        if bn[i] and bs[i] * n >= total * bn[i]:
            h |= 1 << (bits - 1 - i)
    return h


def test_phash_matches_reference_rule(spark):
    texts = [
        "a" * 50 + "z" * 50,
        "hello world " * 40,
        "x" * 30,  # n < bits: some blocks empty
        "abc",
        "xy" * 30,  # n == bits: one value per block
    ]
    got = {
        r.url: (r.n_cp, r.phash)
        for r in media_phash(_pages(spark, texts)).collect()
    }
    for i, t in enumerate(texts):
        assert got[f"u{i:03d}"] == (len(t), _ref_phash(t)), t[:20]

    # the one average hash media_phash and media_phash_real share, on
    # signed (WAV-like) values: n < bits, n == bits, n > bits
    import random

    from gclog_parser_spark.operators.multimodal import _average_hash

    rng = random.Random(5)
    for n in (1, 7, PHASH_BITS - 1, PHASH_BITS, PHASH_BITS + 1, 997):
        vals = [rng.randint(-32768, 32767) for _ in range(n)]
        assert _average_hash(vals, PHASH_BITS) == _ref_average_hash(vals), n


def test_phash_identical_payloads_collide_at_zero(spark):
    t = "the same payload " * 30
    pairs = media_phash_pairs(
        _pages(spark, [t, t, "completely different " * 40]),
        max_hamming=3,
        bands=5,
    ).collect()
    assert [(p.url_a, p.url_b, p.hamming) for p in pairs] == [
        ("u000", "u001", 0)
    ]


def test_phash_banding_complete_vs_bruteforce(spark):
    """Every pair within the Hamming threshold must survive banding
    (pigeonhole guarantee) — checked against the all-pairs scan."""
    import itertools

    base = "lorem ipsum dolor sit amet " * 20
    texts = [base[:i] + base[i] * 3 + base[i:] for i in range(0, 60, 4)]
    hs = {i: _ref_phash(t) for i, t in enumerate(texts)}
    want = sorted(
        (f"u{a:03d}", f"u{b:03d}", bin(hs[a] ^ hs[b]).count("1"))
        for a, b in itertools.combinations(hs, 2)
        if bin(hs[a] ^ hs[b]).count("1") <= 12
    )
    got = sorted(
        (p.url_a, p.url_b, p.hamming)
        for p in media_phash_pairs(
            _pages(spark, texts), max_hamming=12, bands=15
        ).collect()
    )
    assert got == want
    assert len(got) >= 1  # the corpus actually produced near-dups


def test_phash_pairs_param_validation(spark):
    pages = _pages(spark, ["abc def " * 20])
    with pytest.raises(ValueError, match="pigeonhole"):
        media_phash_pairs(pages, max_hamming=5, bands=5)
    with pytest.raises(ValueError, match="divide"):
        media_phash_pairs(pages, max_hamming=3, bands=7)


# ---------------------------------------------------------------------------
# real stdlib codecs (round-5): PNG inflate+unfilter, WAV PCM
# ---------------------------------------------------------------------------


def test_paeth_predictor_spec_vectors():
    """Paeth predictor pinned against the public PNG spec §9.4 rule
    (nearest of a/b/c to p = a + b − c, ties a then b then c)."""
    from gclog_parser_spark.operators.mediacodec import _paeth

    assert _paeth(0, 0, 0) == 0
    assert _paeth(10, 20, 5) == 20   # p=25: |25-10|=15,|25-20|=5 -> b
    assert _paeth(20, 10, 5) == 20   # p=25 -> a wins the tie-break
    assert _paeth(5, 5, 5) == 5      # all tie -> a first
    assert _paeth(100, 3, 80) == 3   # p=23 -> closest is b
    assert _paeth(7, 9, 8) == 8      # p=8: pc=0 beats pa=pb=1 -> c

    # exhaustive agreement with a literal transcription of the spec
    # pseudocode over a value grid (independent re-derivation)
    def spec(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    grid = [0, 1, 7, 127, 128, 200, 255]
    for a in grid:
        for b in grid:
            for c in grid:
                assert _paeth(a, b, c) == spec(a, b, c)


def test_png_roundtrip_all_filters_grey_and_rgb():
    """Encode with every scanline filter type (0..4), decode back:
    pixels must be byte-identical.  Filtering and unfiltering are
    separate code paths, so a broken unfilter branch fails here."""
    from gclog_parser_spark.operators.mediacodec import (
        png_decode,
        png_encode,
    )

    for ch in (1, 3):
        w, h = 7, 5
        px = bytes((31 * 3 + i * (2 + ch)) % 256 for i in range(w * h * ch))
        for base in range(5):  # rotate so every filter leads a row
            filters = [(base + y) % 5 for y in range(h)]
            b = png_encode(w, h, px, channels=ch, filters=filters)
            d = png_decode(b)
            assert (d["width"], d["height"], d["n_channels"]) == (w, h, ch)
            assert bytes(d["values"]) == px, (ch, base)


def test_png_closed_form_byte_length_and_pinned_digest():
    """Level-0 zlib keeps the PNG file length the closed form
    68 + h·(w·ch + 1); the decoded pixel digest for the doc_id=6
    fixture is pinned (regression anchor for the oracle's closed
    form)."""
    from gclog_parser_spark.operators.mediacodec import (
        png_decode,
        png_encode,
        value_digest,
    )

    d = 6
    w, h, ch = 4 + d % 13, 3 + d % 7, 1
    px = bytes((d * 31 + i) % 256 for i in range(w * h * ch))
    b = png_encode(
        w, h, px, channels=ch, filters=[(d + y) % 5 for y in range(h)]
    )
    assert len(b) == 68 + h * (w * ch + 1) == 167
    dec = png_decode(b)
    assert (dec["width"], dec["height"]) == (10, 9)
    assert value_digest(dec["values"]) == (
        "68b2fbf44e99a61782136f962afde8ff"
    )


def test_wav_roundtrip_and_pinned_digest():
    from gclog_parser_spark.operators.mediacodec import (
        value_digest,
        wav_decode,
        wav_encode,
    )

    d = 7
    samp = [((d * 131 + i * 7) % 65536) - 32768 for i in range(16 + d % 50)]
    b = wav_encode(samp, framerate=8000 + (d % 4) * 4000)
    assert len(b) == 44 + 2 * len(samp) == 90
    dec = wav_decode(b)
    assert dec["values"] == samp
    assert dec["sample_rate"] == 20000 and dec["n_channels"] == 1
    assert value_digest(dec["values"]) == (
        "ec95bc57432732ab2def3d6a5af43957"
    )
    # 8-bit lane: unsigned storage, signed values out
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes(s + 128 for s in [-128, -1, 0, 1, 127]))
    assert wav_decode(buf.getvalue())["values"] == [-128, -1, 0, 1, 127]


def test_wav_encode_rejects_out_of_range_samples_at_both_widths():
    """The 16-bit encoder does not wrap a sample it cannot store (it
    used to raise struct.error); 8-bit WAVs are decoded, not encoded."""
    import pytest

    from gclog_parser_spark.operators.mediacodec import wav_encode

    for bad in (32768, -32769):
        with pytest.raises(ValueError):
            wav_encode([0, bad])


def test_decode_media_dispatch_and_guards():
    """Dispatch: PNG/WAV decode for real, anything else returns None
    (caller falls back to the stub); malformed decodable payloads fail
    LOUDLY, never silently fake."""
    import pytest

    from gclog_parser_spark.operators.mediacodec import (
        decode_media,
        png_decode,
        png_encode,
    )

    assert decode_media(b"<html><body>x</body></html>") is None
    assert decode_media(b"\xff\xd8\xffjpegdata") is None  # jpeg -> stub
    png = png_encode(2, 2, bytes(range(4)))
    assert decode_media(png)["codec"] == "png"
    # truncated PNG raises
    with pytest.raises(Exception):
        png_decode(png[:20])
    # interlace flag rejected (last IHDR byte)
    bad = bytearray(png)
    ihdr_off = 8 + 8  # sig + len/tag
    bad[ihdr_off + 12] = 1  # interlace=1
    with pytest.raises(ValueError, match="interlace"):
        png_decode(bytes(bad))


def test_media_corpus_real_decode_e2e(spark, sf_dir):
    """datagen.media_pages → decode_media_features: every PNG row gets
    REAL dims matching the generator's closed form, every WAV row the
    real sample rate; html rows route to the stub lane."""
    from gclog_parser_spark.datagen import media_pages
    from gclog_parser_spark.operators.multimodal import (
        decode_media_features,
    )

    pages = media_pages(spark, sf_dir)
    out = decode_media_features(pages).collect()
    assert out
    for r in out:
        d = int(r["url"].split("/")[-1].split(".")[0])
        if r["url"].endswith(".png"):
            assert r["codec"] == "png"
            assert r["width"] == 4 + d % 13
            assert r["height"] == 3 + d % 7
            assert r["n_channels"] == (1 if d % 2 == 0 else 3)
            assert r["n_values"] == r["width"] * r["height"] * r["n_channels"]
            assert r["value_digest"]
        elif r["url"].endswith(".wav"):
            assert r["codec"] == "wav"
            assert r["sample_rate"] == 8000 + (d % 4) * 4000
            assert r["n_values"] == 16 + d % 50
        else:
            assert r["codec"] == "stub" and r["value_digest"] is None


def test_phash_real_is_compression_invariant(spark):
    """The point of hashing DECODED pixels: the same image stored with
    different scanline filters (different file bytes!) must produce
    the SAME phash, while the byte-level md5 differs — codepoint-stub
    hashing can't give this property."""
    import hashlib as hl

    from gclog_parser_spark.operators.mediacodec import png_encode
    from gclog_parser_spark.operators.multimodal import media_phash_real

    w, h = 9, 7
    px = bytes((i * 37 + 11) % 256 for i in range(w * h))
    a = png_encode(w, h, px, filters=[0] * h)
    b = png_encode(w, h, px, filters=[(y + 1) % 5 for y in range(h)])
    assert a != b and hl.md5(a).hexdigest() != hl.md5(b).hexdigest()
    pages = spark.createDataFrame(
        [("m://a.png", bytearray(a)), ("m://b.png", bytearray(b))],
        "url string, payload binary",
    )
    rows = {r["url"]: r for r in media_phash_real(pages).collect()}
    assert rows["m://a.png"]["phash"] == rows["m://b.png"]["phash"]
    assert rows["m://a.png"]["decoder"] == "png"
    assert rows["m://a.png"]["n_vals"] == w * h


def test_audio_features_silence_clipping_and_crossings(spark):
    """The DQ edge cases the audio gate exists for: silence (zero
    energy, zero crossings), full-scale clipping (peak at 32767), and
    a maximally-alternating signal (n-1 crossings)."""
    from gclog_parser_spark.operators.mediacodec import wav_encode
    from gclog_parser_spark.operators.multimodal import (
        media_audio_features,
    )

    silence = wav_encode([0] * 50)
    clipped = wav_encode([32767, -32768] * 10)
    alt = wav_encode([100, -100] * 8)
    pages = spark.createDataFrame(
        [("m://sil.wav", bytearray(silence)),
         ("m://clip.wav", bytearray(clipped)),
         ("m://alt.wav", bytearray(alt)),
         ("m://not-audio", b"<html>x</html>")],
        "url string, payload binary",
    )
    rows = {r["url"]: r for r in media_audio_features(pages).collect()}
    assert set(rows) == {"m://sil.wav", "m://clip.wav", "m://alt.wav"}
    s = rows["m://sil.wav"]
    assert (s["sum_sq"], s["peak_abs"], s["zero_crossings"]) == (0, 0, 0)
    c = rows["m://clip.wav"]
    assert c["peak_abs"] == 32768 and c["zero_crossings"] == 19
    a = rows["m://alt.wav"]
    assert a["sum_sq"] == 16 * 100 * 100
    assert a["zero_crossings"] == 15


def test_image_stats_flat_vs_gradient(spark):
    """All-black flags as degenerate (n_distinct=1, sum 0); a gradient
    reports exact sum/min/max/distinct."""
    from gclog_parser_spark.operators.mediacodec import png_encode
    from gclog_parser_spark.operators.multimodal import (
        media_image_stats,
    )

    black = png_encode(8, 4, bytes(32))
    grad = png_encode(8, 4, bytes(range(32)))
    pages = spark.createDataFrame(
        [("m://black.png", bytearray(black)),
         ("m://grad.png", bytearray(grad))],
        "url string, payload binary",
    )
    rows = {r["url"]: r for r in media_image_stats(pages).collect()}
    b = rows["m://black.png"]
    assert (b["sum_px"], b["min_px"], b["max_px"], b["n_distinct"]) == (
        0, 0, 0, 1
    )
    g = rows["m://grad.png"]
    assert (g["sum_px"], g["min_px"], g["max_px"], g["n_distinct"]) == (
        sum(range(32)), 0, 31, 32
    )


def _recompress_idat(png: bytes, level: int) -> bytes:
    """``png`` with its IDAT zlib stream recompressed at ``level`` (the
    encoder writes stored blocks), so the decoder also sees deflate."""
    import struct
    import zlib

    out, pos = [png[:8]], 8
    while pos < len(png):
        (n,) = struct.unpack(">I", png[pos:pos + 4])
        tag, data = png[pos + 4:pos + 8], png[pos + 8:pos + 8 + n]
        if tag == b"IDAT":
            data = zlib.compress(zlib.decompress(data), level)
        out.append(struct.pack(">I", len(data)) + tag + data + struct.pack(
            ">I", zlib.crc32(tag + data) & 0xFFFFFFFF))
        pos += 12 + n
    return b"".join(out)


def test_png_roundtrip_property_fuzz():
    """Property fuzz (no Spark): ANY 8-bit grey/RGB image with ANY
    per-row filter assignment must round-trip byte-identically through
    the stdlib codec pair, at any zlib level."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gclog_parser_spark.operators.mediacodec import (
        png_decode,
        png_encode,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 16),
        ch=st.sampled_from([1, 3]),
        seed=st.integers(0, 2**31),
        level=st.sampled_from([0, 6]),
        data=st.data(),
    )
    def _case(w, h, ch, seed, level, data):
        px = bytes((seed + i * 17) % 256 for i in range(w * h * ch))
        filters = data.draw(
            st.lists(st.integers(0, 4), min_size=h, max_size=h)
        )
        b = png_encode(w, h, px, channels=ch, filters=filters)
        if level:
            b = _recompress_idat(b, level)
        dec = png_decode(b)
        assert (dec["width"], dec["height"], dec["n_channels"]) == (
            w, h, ch
        )
        assert bytes(dec["values"]) == px

    _case()


def test_wav_roundtrip_property_fuzz():
    """Any int16 sample sequence and rate round-trips exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gclog_parser_spark.operators.mediacodec import (
        wav_decode,
        wav_encode,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        samples=st.lists(
            st.integers(-32768, 32767), min_size=1, max_size=200
        ),
        rate=st.integers(1000, 96000),
    )
    def _case(samples, rate):
        dec = wav_decode(wav_encode(samples, framerate=rate))
        assert dec["values"] == samples
        assert dec["sample_rate"] == rate
        assert dec["n_frames"] == len(samples)

    _case()
