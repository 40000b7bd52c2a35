"""The multimodal tier: byte-payload plumbing and the real image
decoders behind the certified `mm_decode_*` ops (PNM, PNG with every
color type, depth and interlace, palette lookup, block-mean resize),
plus the average-hash contract.

The oracle gate value-checks the ops end to end; these tests pin the
decoder/hash CONTRACTS independently (header grammar, error taxonomy,
integer threshold math, known-answer dup structure) so a refactor can't
weaken them while the fixture happens to pass. PNG payloads are built by
a test-side writer that follows the spec, independent of the engine's
own encoders."""

from __future__ import annotations

import hashlib
import struct
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from emdrive_spark import registry
from emdrive_spark.operators import multimodal as mm
from emdrive_spark.operators.multimodal import _DP_SHIFT, ahash64, decode_image

from .conftest import SF_SMOKE


def test_decode_stub_is_marked():
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x89PNG")


def test_fake_features_deterministic():
    assert mm.fake_features(b"abc") == mm.fake_features(b"abc")
    n, feat = mm.fake_features(b"abcd")
    assert n == 4
    assert feat == (4 * 2654435761) % 1_000_003


def test_fake_features_null_safe():
    # a nullable payload column delivers None in production batches;
    # the extractor must propagate the null, not raise (r4 review)
    assert mm.fake_features(None) == (None, None)


def test_payload_hash_parity_non_ascii():
    """The phash/content oracles hash DuckDB md5(text); Spark hashes
    md5(encode(text, 'UTF-8')). These must agree BYTE-for-byte on
    non-ASCII input — the old oracle hashed the blob's escaped VARCHAR
    rendering and silently diverged (r4 review)."""
    import duckdb

    for text in ("café", "naïve — ❄", "plain ascii"):
        duck = duckdb.sql("select md5(?)", params=[text]).fetchone()[0]
        raw = hashlib.md5(text.encode("utf-8")).hexdigest()
        assert duck == raw, text


def test_mapinpandas_binary_plumbing(spark):
    out = mm.mm_features(spark, SF_SMOKE)
    assert dict(out.dtypes) == {
        "doc_id": "bigint",
        "byte_len": "bigint",
        "feat": "bigint",
        "content_pref": "bigint",
    }
    rows = out.orderBy("doc_id").limit(3).collect()
    assert all(r["byte_len"] > 0 for r in rows)


# ------------------------------------------------ test-side PNG writer

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(
        ">I", zlib.crc32(ctype + data)
    )


def _ihdr(w=1, h=1, depth=8, color=0, inter=0) -> bytes:
    return _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, inter))


def _filter_sub(px, height, stride, bpp, filters):
    """Spec filtering of one (sub-)image, independent of the engine's
    _filter_scanlines — per-byte predictor arithmetic."""
    out = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = px[y * stride : (y + 1) * stride]
        f = filters[y]
        out.append(f)
        for i in range(stride):
            left = row[i - bpp] if i >= bpp else 0
            ul = prev[i - bpp] if i >= bpp else 0
            pred = (0, left, prev[i], (left + prev[i]) // 2, mm._paeth(left, prev[i], ul))[f]
            out.append((row[i] - pred) & 255)
        prev = row
    return bytes(out)


def _png_encode(w, h, color, depth, interlace, samples, filters, plte=None):
    """PNG writer covering every supported shape: sub-byte/8/16 bit,
    sequential or Adam7, palette or direct color, explicit per-row
    filter choices — so the decoder is checked against the SPEC, not
    against its sibling encoder. ``samples`` is one int per (pixel,
    channel) in raster order (palette: one index per pixel);
    ``filters`` is drawn per scanline across all passes. Sub-byte rows
    pack MSB-first with zero padding (spec 7.2)."""
    ch = 1 if color == 3 else mm._PNG_CHANNELS[color]

    def rowbytes(coords):
        if depth >= 8:
            sb = depth // 8
            return b"".join(
                samples[(y * w + x) * ch + c].to_bytes(sb, "big")
                for x, y in coords
                for c in range(ch)
            )
        acc = bytearray((len(coords) * depth + 7) // 8)
        for i, (x, y) in enumerate(coords):
            bit = i * depth
            acc[bit >> 3] |= samples[y * w + x] << (8 - depth - (bit & 7))
        return bytes(acc)

    bpp = max(1, ch * (depth // 8))
    raw = bytearray()
    fi = 0
    if interlace:
        for x0, y0, dx, dy, pw, ph in mm._adam7_passes(w, h):
            rows = [
                rowbytes([(x0 + i * dx, y0 + j * dy) for i in range(pw)])
                for j in range(ph)
            ]
            raw += _filter_sub(b"".join(rows), ph, len(rows[0]), bpp, filters[fi : fi + ph])
            fi += ph
    else:
        rows = [rowbytes([(x, y) for x in range(w)]) for y in range(h)]
        raw += _filter_sub(b"".join(rows), h, len(rows[0]), bpp, filters)
    body = _SIG + _ihdr(w, h, depth, color, interlace)
    if color == 3:
        body += _chunk(b"PLTE", plte)
    return body + _chunk(b"IDAT", zlib.compress(bytes(raw))) + _chunk(b"IEND", b"")


def _expected_rgb(color, px):
    """The decoder's RGB for one-byte samples of a direct-color type."""
    if color == 0:
        return bytes(g for g in px for _ in range(3))
    if color == 2:
        return bytes(px)
    if color == 4:
        return bytes(px[i] for i in range(0, len(px), 2) for _ in range(3))
    return bytes(b for i in range(0, len(px), 4) for b in px[i : i + 3])


def _idat(payload: bytes) -> bytes:
    """The inflated concatenation of a PNG's IDAT chunks."""
    pos = 8
    idat = b""
    while pos + 12 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        if payload[pos + 4 : pos + 8] == b"IDAT":
            idat += payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
    return zlib.decompress(idat)


def _ahash_closed_form(gray):
    """The oracle's threshold math over 64 cell values."""
    s = sum(gray)
    hi = lo = 0
    for i, v in enumerate(gray):
        bit = 1 if v * 64 > s else 0
        if i < 32:
            hi |= bit << (31 - i)
        else:
            lo |= bit << (63 - i)
    return hi, lo


# ------------------------------------------------ PNM decoder grammar


def test_decode_p6_roundtrip():
    w, h, rgb = decode_image(b"P6\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60]))
    assert (w, h) == (2, 1)
    assert rgb == bytes([10, 20, 30, 40, 50, 60])


def test_decode_p5_expands_gray_to_rgb():
    w, h, rgb = decode_image(b"P5\n1 2\n255\n" + bytes([7, 200]))
    assert (w, h) == (1, 2)
    assert rgb == bytes([7, 7, 7, 200, 200, 200])


def test_decode_header_comments_and_multiline_whitespace():
    # comments between any tokens, tokens split across lines — the PNM
    # grammar a real file in the wild uses.
    payload = b"P6 # magic comment\n# full line\n 2\t1 # dims\n255\n" + bytes(6)
    w, h, rgb = decode_image(payload)
    assert (w, h, rgb) == (2, 1, bytes(6))


def test_decode_error_taxonomy():
    # the PNG signature routes to the real PNG decoder, so a garbage
    # body behind it is CORRUPTION (ValueError), not an unsupported
    # format; JPEG remains the unsupported-magic case.
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n" + bytes(16))
    with pytest.raises(NotImplementedError, match="unsupported magic"):
        decode_image(b"\xff\xd8\xff\xe0" + bytes(16))  # JPEG/JFIF
    with pytest.raises(ValueError, match="truncated"):
        decode_image(b"P6\n2 2\n255\n" + bytes(5))  # need 12
    with pytest.raises(ValueError, match="maxval"):
        decode_image(b"P6\n1 1\n65535\n" + bytes(3))
    with pytest.raises(ValueError, match="expected integer"):
        decode_image(b"P6\nx 1\n255\n" + bytes(3))
    with pytest.raises(ValueError, match="empty or truncated"):
        decode_image(b"")


@pytest.mark.slow
def test_decode_roundtrip_property():
    """Hypothesis roundtrip across all four PNM variants: any
    (w, h, raster) encodes to a P2/P3/P5/P6 that decodes back exactly;
    gray rasters expand channel-faithfully. Catches off-by-ones in
    header token/raster boundary handling that a fixed fixture can
    miss, and pins binary/ASCII raster equivalence."""

    @settings(max_examples=200, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 40),
        data=st.data(),
        gray=st.booleans(),
        ascii_form=st.booleans(),
    )
    def check(w, h, data, gray, ascii_form):
        ch = 1 if gray else 3
        raster = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch
                )
            )
        )
        if ascii_form:
            magic = b"P2" if gray else b"P3"
            body = " ".join(str(s) for s in raster).encode()
        else:
            magic = b"P5" if gray else b"P6"
            body = raster
        payload = magic + f"\n{w} {h}\n255\n".encode() + body
        dw, dh, rgb = decode_image(payload)
        assert (dw, dh) == (w, h)
        if gray:
            assert rgb == bytes(g for g in raster for _ in range(3))
        else:
            assert rgb == raster

    check()


def test_decode_ascii_variants_known_case():
    # P3 with comments inside the raster (legal PNM), P2 gray expansion,
    # over-maxval sample rejection.
    w, h, rgb = decode_image(b"P3\n2 1\n255\n10 20 30 # mid-raster\n40 50 60")
    assert (w, h, rgb) == (2, 1, bytes([10, 20, 30, 40, 50, 60]))
    w, h, rgb = decode_image(b"P2\n1 2\n200\n7\n200")
    assert (w, h, rgb) == (1, 2, bytes([7, 7, 7, 200, 200, 200]))
    with pytest.raises(ValueError, match="exceeds declared maxval"):
        decode_image(b"P2\n1 1\n100\n101")
    with pytest.raises(ValueError, match="expected integer"):
        decode_image(b"P3\n2 1\n255\n10 20 30")  # truncated ASCII raster


def test_decode_junk_never_miscategorizes():
    """Arbitrary bytes must raise NotImplementedError (unknown magic)
    or ValueError (malformed PNM) — never decode garbage into pixels,
    never escape with an unrelated exception type (an IndexError here
    would kill a whole Arrow batch in production)."""

    @settings(max_examples=300, deadline=None)
    @given(payload=st.binary(max_size=200))
    def check(payload):
        try:
            w, h, rgb = decode_image(payload)
        except (NotImplementedError, ValueError):
            return
        # a successful decode of random bytes must be a genuine PNM —
        # any of the four magics (ASCII P2/P3 are legitimately
        # decodable, e.g. b"P2 1 1 1 0"; r10 ADVICE) — and the decoded
        # raster is always packed RGB regardless of source form.
        assert bytes(payload[:2]) in (b"P2", b"P3", b"P5", b"P6")
        assert len(rgb) == w * h * 3

    check()


# ------------------------------------------------ ahash contract


def test_ahash64_known_tiny_case():
    # 8x8 image, pixel (0,0) bright, everything else dark: exactly one
    # cell exceeds the global mean -> single MSB set in hi, lo empty.
    rgb = bytes([255, 255, 255] + [0] * (63 * 3))
    assert ahash64(8, 8, rgb) == (1 << 31, 0)


def test_ahash64_block_mean_downsample():
    # 16x8 image (2x1-pixel cells): left half bright, right half dark —
    # the 8x8 grid sees 4 bright columns -> bits 0-3 of each row.
    row = bytes([200] * 8 * 3 + [0] * 8 * 3)
    hi, lo = ahash64(16, 8, row * 8)
    row_bits = 0b11110000
    expect = 0
    for r in range(4):
        expect = (expect << 8) | row_bits
    assert (hi, lo) == (expect, expect)


def test_ahash64_rejects_non_divisible_dims():
    with pytest.raises(ValueError, match="8-divisible"):
        ahash64(10, 8, bytes(10 * 8 * 3))


def test_ahash_matches_fixture_closed_form():
    # The decode->hash path must equal the oracle's analytic form:
    # gray(idx) = byte idx%16 of md5(f"{text}:{idx//16}").
    text = "round ten fixture"
    gray = [
        b for k in range(4) for b in hashlib.md5(f"{text}:{k}".encode()).digest()
    ]
    assert ahash64(*decode_image(mm.encode_ppm_fixture(text))) == _ahash_closed_form(gray)


def test_perturbed_fixture_lands_nonzero_hamming():
    text = "perturb me"
    hi, lo = ahash64(*decode_image(mm.encode_ppm_fixture(text)))
    phi, plo = ahash64(*decode_image(mm.encode_ppm_fixture(text, perturb=True)))
    ham = bin((hi ^ phi) | ((lo ^ plo) << 64)).count("1")
    assert ham > 0  # a genuinely different image, not a byte copy


# ------------------------------------------------ fixtures of the certified ops


@pytest.mark.parametrize(
    "encode",
    [mm.encode_png_fixture, mm.encode_png_palette_fixture, mm.encode_png_deep_fixture],
    ids=["png", "palette", "deep"],
)
def test_fixture_parity_with_ppm(encode):
    """Every PNG fixture (RGB, palette, 16-bit Adam7) must decode to the
    SAME pixels and hash as the PPM fixture — that identity is what lets
    all the container fixtures share one closed-form oracle (for the
    deep fixture: pass geometry, sample alignment and the MSB reduction
    are all on the path)."""
    for text in ("hello", "", "emdrive ünicøde", "x" * 500):
        for perturb in (False, True):
            ppm = decode_image(mm.encode_ppm_fixture(text, perturb))
            png = decode_image(encode(text, perturb))
            assert ppm == png
            assert ahash64(*ppm) == ahash64(*png)


@pytest.mark.parametrize(
    "encode, stride",
    [(mm.encode_png_fixture, 8 * 3), (mm.encode_png_palette_fixture, 8)],
    ids=["png", "palette"],
)
def test_fixture_exercises_all_five_filters(encode, stride):
    """Row y of the fixture is filtered with type y % 5 — all five
    unfilter paths are load-bearing in the certified op. Parse the
    actual IDAT stream to prove it (a future 'optimization' that
    switches to all-type-0 would silently stop testing Sub/Up/Avg/
    Paeth). Palette rows carry one index byte per pixel."""
    raw = _idat(encode("filter coverage probe"))
    assert [raw[y * (stride + 1)] for y in range(8)] == [0, 1, 2, 3, 4, 0, 1, 2]


def test_deep_fixture_filters_span_all_passes():
    """The running row counter cycles all five filter types across the
    seven passes (15 scanlines at 8x8) — parse the IDAT to prove every
    type appears."""
    raw = _idat(mm.encode_png_deep_fixture("filter span probe"))
    seen = []
    off = 0
    bpp = 2
    for _, _, _, _, pw, ph in mm._adam7_passes(8, 8):
        for j in range(ph):
            seen.append(raw[off])
            off += 1 + pw * bpp
    assert off == len(raw)
    assert seen == [(i % 5) for i in range(len(seen))]
    assert set(seen) == {0, 1, 2, 3, 4}


def test_palette_permutation_is_load_bearing():
    """A decoder that skips the PLTE lookup (treats raster indices as
    gray) must produce a DIFFERENT hash: the multiplicative index
    permutation destroys the global-shift symmetry an additive one
    could leave ahash blind to."""
    text = "permutation probe"
    gray = b"".join(hashlib.md5(f"{text}:{k}".encode()).digest() for k in range(4))
    idx = bytes((g * 37 + 11) % 256 for g in gray)
    identity = bytes(b for i in range(256) for b in (i, i, i))
    skipped = mm._png_pack(8, 8, 3, idx, palette=identity)  # lookup skipped
    real = mm.encode_png_palette_fixture(text)
    assert ahash64(*decode_image(skipped)) != ahash64(*decode_image(real))


def test_deep_fixture_low_byte_is_junk():
    """Each 16-bit sample's low byte differs from its high byte (no
    constant offset), so keeping the wrong byte or averaging flips the
    decoded pixels — the reduction is load-bearing, not cosmetic."""
    text = "low byte probe"
    gray = b"".join(hashlib.md5(f"{text}:{k}".encode()).digest() for k in range(4))
    low = bytes((g * 7 + 13) % 256 for g in gray)
    assert low != gray
    w, h, rgb = decode_image(mm.encode_png_deep_fixture(text))
    assert bytes(rgb[0::3]) == gray  # high bytes, not low


def test_gray16_fixture_matches_closed_form_through_resize():
    """The certified op's exact math, end to end in-process: decode the
    16x16 grayscale PNG fixture, block-mean 2x, hash — must equal the
    oracle's closed form (md5 bytes -> sum//4 cells -> threshold)."""
    for text, perturb in (("round eleven", False), ("round eleven", True)):
        w, h, rgb = decode_image(mm.encode_png_gray16_fixture(text, perturb))
        assert (w, h) == (16, 16)
        got = ahash64(*mm.resize_block_mean(w, h, rgb, 2))
        gray = [
            b for k in range(16) for b in hashlib.md5(f"{text}:{k}".encode()).digest()
        ]
        if perturb:
            gray[0] = (gray[0] + 128) % 256
        cells = [0] * 64
        for idx, g in enumerate(gray):
            cells[((idx // 16) // 2) * 8 + ((idx % 16) // 2)] += g
        cells = [v // 4 for v in cells]
        assert got == _ahash_closed_form(cells)


# ------------------------------------------------ PNG decoder


def test_png_color_type_semantics():
    """Gray expands to RGB; gray+alpha and RGBA drop alpha (hash runs
    on color content, alpha is opacity not content)."""
    w, h, rgb = decode_image(_png_encode(2, 1, 0, 8, 0, bytes([9, 250]), [0]))
    assert (w, h, rgb) == (2, 1, bytes([9, 9, 9, 250, 250, 250]))
    w, h, rgb = decode_image(_png_encode(1, 1, 4, 8, 0, bytes([77, 5]), [0]))
    assert rgb == bytes([77, 77, 77])
    w, h, rgb = decode_image(_png_encode(1, 1, 6, 8, 0, bytes([1, 2, 3, 200]), [0]))
    assert rgb == bytes([1, 2, 3])


def test_png_error_taxonomy():
    """Spec-valid-but-unsupported -> NotImplementedError; corruption ->
    ValueError; never garbage pixels, never a foreign exception type."""
    with pytest.raises(ValueError, match="interlace"):
        decode_image(_SIG + _ihdr(inter=2))  # 0/1 are the only methods
    # the FULL spec matrix decodes (palette, 16-bit, sub-byte, Adam7) —
    # taxonomy pinned in test_depth_taxonomy; an ILLEGAL (color, depth)
    # pairing is corruption, and for PNG no NotImplementedError remains
    # (JPEG is the only codec-gated format)
    with pytest.raises(ValueError, match="bit depth"):
        decode_image(_SIG + _ihdr(depth=4, color=2))  # truecolor is 8/16 only
    with pytest.raises(ValueError, match="color type"):
        decode_image(_SIG + _ihdr(color=7))
    with pytest.raises(ValueError, match="dimensions"):
        decode_image(_SIG + _ihdr(w=0))
    with pytest.raises(ValueError, match="first chunk must be IHDR"):
        decode_image(_SIG + _chunk(b"IDAT", b"x"))
    with pytest.raises(ValueError, match="no IEND"):
        decode_image(_SIG + _ihdr())  # valid IHDR, stream just stops
    with pytest.raises(ValueError, match="no IDAT"):
        decode_image(_SIG + _ihdr() + _chunk(b"IEND", b""))
    # flipped bit anywhere in a chunk body -> CRC mismatch
    good = mm.encode_png_fixture("crc probe")
    bad = bytearray(good)
    bad[40] ^= 1
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_image(bytes(bad))
    # inflate garbage behind a correct CRC -> inflate failure
    broken = _SIG + _ihdr() + _chunk(b"IDAT", b"not zlib") + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="inflate failed"):
        decode_image(broken)
    # wrong inflated length (1x1 gray needs 2 bytes: filter + sample)
    short = _SIG + _ihdr() + _chunk(b"IDAT", zlib.compress(b"\x00")) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="inflated bytes"):
        decode_image(short)
    # unknown filter type in an otherwise valid stream
    uf = _SIG + _ihdr() + _chunk(b"IDAT", zlib.compress(b"\x07\x00")) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="unknown filter"):
        decode_image(uf)


def test_png_roundtrip_property():
    """Hypothesis roundtrip: any (w, h, color type, pixels, per-row
    filter choices) encodes via the spec-side writer and decodes back
    to the exact expected RGB — Sub/Up/Average/Paeth reconstruction is
    exact for arbitrary content, not just the fixture's."""

    @settings(max_examples=120, deadline=None)
    @given(data=st.data())
    def check(data):
        w = data.draw(st.integers(1, 9))
        h = data.draw(st.integers(1, 9))
        color = data.draw(st.sampled_from([0, 2, 4, 6]))
        n = w * h * mm._PNG_CHANNELS[color]
        px = bytes(data.draw(st.lists(st.integers(0, 255), min_size=n, max_size=n)))
        filters = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))
        got = decode_image(_png_encode(w, h, color, 8, 0, px, filters))
        assert got == (w, h, _expected_rgb(color, px))

    check()


def test_png_junk_body_property():
    """Arbitrary bytes behind the PNG signature must raise ValueError
    or NotImplementedError — never decode, never escape with a foreign
    exception (an IndexError would kill a whole Arrow batch)."""

    @settings(max_examples=300, deadline=None)
    @given(body=st.binary(max_size=120))
    def check(body):
        with pytest.raises((ValueError, NotImplementedError)):
            decode_image(b"\x89PNG\r\n\x1a\n" + body)

    check()


def test_palette_lookup_known_values():
    """Indices map through PLTE to arbitrary (non-gray) RGB triples;
    the same index may repeat; entries beyond the used range are
    legal."""
    plte = bytes([10, 20, 30, 200, 100, 0, 7, 7, 7])
    w, h, rgb = decode_image(_png_encode(2, 2, 3, 8, 0, bytes([2, 0, 1, 2]), [0, 0], plte))
    assert (w, h) == (2, 2)
    assert rgb == bytes([7, 7, 7, 10, 20, 30, 200, 100, 0, 7, 7, 7])


def test_palette_roundtrip_property():
    """Hypothesis roundtrip for color type 3: any (dims, palette size,
    indices within range, per-row filters) encodes via the spec-side
    writer and decodes to the palette-expanded RGB."""

    @settings(max_examples=80, deadline=None)
    @given(data=st.data())
    def check(data):
        w = data.draw(st.integers(1, 9))
        h = data.draw(st.integers(1, 9))
        n_entries = data.draw(st.integers(1, 256))
        plte = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255), min_size=3 * n_entries, max_size=3 * n_entries
                )
            )
        )
        idx = bytes(
            data.draw(
                st.lists(st.integers(0, n_entries - 1), min_size=w * h, max_size=w * h)
            )
        )
        filters = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))
        got = decode_image(_png_encode(w, h, 3, 8, 0, idx, filters, plte))
        want = b"".join(plte[3 * i : 3 * i + 3] for i in idx)
        assert got == (w, h, want)

    check()


def test_palette_error_taxonomy():
    """PLTE grammar: mandatory for color 3, at most one, before IDAT,
    length a positive multiple of 3 up to 768, indices in range,
    forbidden for grayscale types — every violation a ValueError,
    never garbage pixels, never a foreign exception."""
    raster = zlib.compress(b"\x00\x00")  # 1x1, filter 0, index 0
    plte = _chunk(b"PLTE", b"\x01\x02\x03")
    with pytest.raises(ValueError, match="no PLTE"):
        decode_image(_SIG + _ihdr(color=3) + _chunk(b"IDAT", raster) + _chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="duplicate PLTE"):
        decode_image(
            _SIG + _ihdr(color=3) + plte + plte + _chunk(b"IDAT", raster) + _chunk(b"IEND", b"")
        )
    with pytest.raises(ValueError, match="PLTE chunk after IDAT"):
        decode_image(
            _SIG + _ihdr(color=3) + _chunk(b"IDAT", raster) + plte + _chunk(b"IEND", b"")
        )
    for color in (0, 4):
        bpp = 1 if color == 0 else 2
        r = zlib.compress(b"\x00" + b"\x00" * bpp)
        with pytest.raises(ValueError, match="forbidden for grayscale"):
            decode_image(
                _SIG + _ihdr(color=color) + plte + _chunk(b"IDAT", r) + _chunk(b"IEND", b"")
            )
    for bad in (b"", b"\x01\x02", b"\x01" * 769):
        with pytest.raises(ValueError, match="PLTE"):
            decode_image(
                _SIG
                + _ihdr(color=3)
                + _chunk(b"PLTE", bad)
                + _chunk(b"IDAT", raster)
                + _chunk(b"IEND", b"")
            )
    with pytest.raises(ValueError, match="out of range"):
        decode_image(
            _SIG
            + _ihdr(color=3)
            + plte
            + _chunk(b"IDAT", zlib.compress(b"\x00\x05"))
            + _chunk(b"IEND", b"")
        )
    # PLTE is LEGAL (a suggested-quantization palette, ignored) for
    # truecolor types 2 and 6
    rgb_raster = zlib.compress(b"\x00\x09\x08\x07")
    assert decode_image(
        _SIG + _ihdr(color=2) + plte + _chunk(b"IDAT", rgb_raster) + _chunk(b"IEND", b"")
    ) == (1, 1, bytes([9, 8, 7]))


def test_chunk_order_taxonomy():
    """r11 ADVICE item 4: a second IHDR and a resumed IDAT run are
    malformed streams, not silently-tolerated ancillary data."""
    raster = zlib.compress(b"\x00\x00")
    with pytest.raises(ValueError, match="duplicate IHDR"):
        decode_image(_SIG + _ihdr() + _ihdr() + _chunk(b"IDAT", raster) + _chunk(b"IEND", b""))
    half = zlib.compress(b"\x00\x00\x00")
    with pytest.raises(ValueError, match="non-consecutive IDAT"):
        decode_image(
            _SIG
            + _ihdr(w=2)
            + _chunk(b"IDAT", half[:4])
            + _chunk(b"tEXt", b"interrupting")
            + _chunk(b"IDAT", half[4:])
            + _chunk(b"IEND", b"")
        )
    # split IDAT runs WITHOUT an interrupting chunk stay legal
    assert decode_image(
        _SIG
        + _ihdr(w=2)
        + _chunk(b"IDAT", half[:4])
        + _chunk(b"IDAT", half[4:])
        + _chunk(b"IEND", b"")
    ) == (2, 1, bytes(6))


def test_inflate_bounded_by_declared_raster():
    """r11 ADVICE item 3 (decompression bomb): a 1x1 header with an
    IDAT that inflates to 10 MB must be rejected by the max_length
    bound — quickly, and without materializing the 10 MB buffer."""
    import time

    bomb = (
        _SIG
        + _ihdr()
        + _chunk(b"IDAT", zlib.compress(b"\x00" * 10_000_000))
        + _chunk(b"IEND", b"")
    )
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="exceeds the declared"):
        decode_image(bomb)
    assert time.perf_counter() - t0 < 2.0
    # an exact-size stream still decodes (no false positive at the
    # boundary, where max_length == produced bytes and the trailer may
    # sit in unconsumed_tail)
    assert decode_image(
        _SIG + _ihdr() + _chunk(b"IDAT", zlib.compress(b"\x00\x42")) + _chunk(b"IEND", b"")
    ) == (1, 1, bytes([0x42, 0x42, 0x42]))


def test_png_full_shape_roundtrip_property():
    """Hypothesis roundtrip over the COMPLETE supported matrix: every
    legal (color type, depth) pairing x interlace, arbitrary content
    and per-scanline filters, via the independent test-side writer.
    16-bit decodes to the MSB, sub-byte gray scales to 0..255, palette
    indices look up PLTE, Adam7 scatters to position."""

    @settings(max_examples=150, deadline=None)
    @given(data=st.data())
    def check(data):
        w = data.draw(st.integers(1, 10))
        h = data.draw(st.integers(1, 10))
        color = data.draw(st.sampled_from([0, 2, 3, 4, 6]))
        depth = data.draw(
            st.sampled_from(
                {0: [1, 2, 4, 8, 16], 3: [1, 2, 4, 8]}.get(color, [8, 16])
            )
        )
        interlace = data.draw(st.sampled_from([0, 1]))
        ch = 1 if color == 3 else mm._PNG_CHANNELS[color]
        plte = None
        if color == 3:
            n_entries = data.draw(st.integers(1, min(256, 1 << depth)))
            plte = bytes(
                data.draw(
                    st.lists(st.integers(0, 255), min_size=3 * n_entries, max_size=3 * n_entries)
                )
            )
            hi = n_entries - 1
        else:
            hi = (1 << depth) - 1
        n = w * h * ch
        samples = data.draw(st.lists(st.integers(0, hi), min_size=n, max_size=n))
        n_rows = (
            sum(ph for *_, ph in mm._adam7_passes(w, h)) if interlace else h
        )
        filters = data.draw(st.lists(st.integers(0, 4), min_size=n_rows, max_size=n_rows))
        payload = _png_encode(w, h, color, depth, interlace, samples, filters, plte)
        got = decode_image(payload)
        # expected: normalize each sample to one byte, then expand
        if color == 3:
            want = b"".join(plte[3 * i : 3 * i + 3] for i in samples)
        else:
            if depth == 16:
                red = [v >> 8 for v in samples]
            elif depth < 8:
                red = [v * (255 // ((1 << depth) - 1)) for v in samples]
            else:
                red = samples
            want = _expected_rgb(color, red)
        assert got == (w, h, want)

    check()


def test_depth_taxonomy():
    """The FULL spec (color, depth) matrix decodes; every ILLEGAL
    pairing is corruption (ValueError) — 16-bit palette, sub-byte
    truecolor/alpha, non-power depths. No NotImplementedError remains
    anywhere in the PNG domain (JPEG is the only codec-gated format).
    Sub-byte grays scale to 0..255 exactly; a PLTE larger than the
    raster depth can address is rejected."""
    for depth, color in ((16, 3), (4, 2), (2, 4), (4, 6), (3, 0), (12, 2), (0, 0)):
        with pytest.raises(ValueError, match="bit depth"):
            decode_image(_SIG + _ihdr(color=color, depth=depth))
    # 2-bit gray decodes with exact 0..255 scaling (0,1,2,3 -> x85)
    p = (
        _SIG
        + _ihdr(w=4, h=1, depth=2)
        + _chunk(b"IDAT", zlib.compress(bytes([0, 0b00011011])))
        + _chunk(b"IEND", b"")
    )
    assert decode_image(p)[2][0::3] == bytes([0, 85, 170, 255])
    # 1-bit palette: indices address PLTE, not intensities
    p = (
        _SIG
        + _ihdr(w=2, h=1, depth=1, color=3)
        + _chunk(b"PLTE", bytes([1, 2, 3, 4, 5, 6]))
        + _chunk(b"IDAT", zlib.compress(bytes([0, 0b01000000])))
        + _chunk(b"IEND", b"")
    )
    assert decode_image(p)[2] == bytes([1, 2, 3, 4, 5, 6])
    # a 1-bit raster can address 2 entries; a 3-entry PLTE is invalid
    with pytest.raises(ValueError, match="exceed"):
        decode_image(
            _SIG
            + _ihdr(w=2, h=1, depth=1, color=3)
            + _chunk(b"PLTE", bytes(9))
            + _chunk(b"IDAT", zlib.compress(bytes([0, 0])))
            + _chunk(b"IEND", b"")
        )
    # truncated interlaced stream -> inflated-size ValueError
    short = (
        _SIG
        + _ihdr(w=8, h=8, inter=1)
        + _chunk(b"IDAT", zlib.compress(b"\x00\x00"))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="inflated bytes"):
        decode_image(short)


# ------------------------------------------------ block-mean resize


def test_resize_block_mean_known_values():
    # 2x2 -> 1x1: floor mean per channel, channels independent
    rgb = bytes(
        [10, 0, 255, 20, 0, 255,
         30, 1, 255, 43, 1, 255]
    )
    nw, nh, out = mm.resize_block_mean(2, 2, rgb, 2)
    assert (nw, nh) == (1, 1)
    assert out == bytes([(10 + 20 + 30 + 43) // 4, (0 + 0 + 1 + 1) // 4, 255])
    # factor 1 is the identity
    assert mm.resize_block_mean(2, 2, rgb, 1) == (2, 2, rgb)
    # non-divisible dims refuse (the fixture contract)
    with pytest.raises(ValueError, match="divisible"):
        mm.resize_block_mean(3, 2, bytes(3 * 2 * 3), 2)
    with pytest.raises(ValueError, match="divisible"):
        mm.resize_block_mean(2, 2, rgb, 0)


def test_resize_block_mean_block_geometry():
    """4x2 -> 2x1 with distinct quadrants: each output pixel must mean
    ITS OWN 2x2 block (catches x/y transposition and stride bugs)."""
    # rows: [A A B B] / [A A B B] with A=100, B=200 (gray)
    row = [100] * 6 + [200] * 6
    rgb = bytes(row * 2)
    nw, nh, out = mm.resize_block_mean(4, 2, rgb, 2)
    assert (nw, nh) == (2, 1)
    assert out == bytes([100, 100, 100, 200, 200, 200])


def test_resize_then_hash_is_not_direct_hash():
    """The floor division makes the resample load-bearing: pin a
    concrete fixture where hashing the resized grid differs from
    ahash64's own exact-sum block mean over the full 16x16 — i.e. the
    op certifies the RESIZE, not a no-op reshuffle of the same bits."""
    w, h, rgb = decode_image(mm.encode_png_gray16_fixture("probe8"))
    assert ahash64(16, 16, rgb) != ahash64(*mm.resize_block_mean(16, 16, rgb, 2))


# ------------------------------------------------ the certified ops


@pytest.mark.parametrize(
    "op, dims",
    [
        ("mm_decode_phash", (8, 8)),
        ("mm_decode_phash_png", (8, 8)),
        ("mm_decode_resize_phash", (16, 16)),
        ("mm_decode_phash_palette", (8, 8)),
        ("mm_decode_phash_deep", (8, 8)),
    ],
    ids=lambda v: v if isinstance(v, str) else "x".join(map(str, v)),
)
def test_mm_decode_known_answer(spark, op, dims):
    """Structure pins on top of the oracle's value hash: every base doc
    has its byte-identical copy at hamming 0 (dup_cnt >= 1 everywhere on
    the base+copy rows), the corpus triples the base, and every row
    reports the fixture's DECODED dims (any resize is internal) — i.e.
    the header really was parsed, through whichever container stack
    the op decodes."""
    rows = registry.queries()[op](spark, SF_SMOKE).collect()
    n_base = sum(1 for r in rows if r.doc_id < _DP_SHIFT)
    assert len(rows) == 3 * n_base > 0
    assert all((r.width, r.height) == dims for r in rows)
    for r in rows:
        if r.doc_id < 2 * _DP_SHIFT:  # base or exact copy
            assert r.dup_cnt >= 1, f"doc {r.doc_id} lost its exact twin"


@pytest.mark.parametrize(
    "op", ["mm_decode_phash_png", "mm_decode_phash_palette", "mm_decode_phash_deep"]
)
def test_decode_op_shares_oracle(op):
    """Every container front-end must carry the PPM op's IDENTICAL
    oracle string — the parity that value-checks each decode stack
    against the text-derived closed form."""
    registry.load_all()
    assert (
        registry.REGISTRY[op].oracle
        == registry.REGISTRY["mm_decode_phash"].oracle
        == registry.REGISTRY["mm_decode_phash_png"].oracle
    )
