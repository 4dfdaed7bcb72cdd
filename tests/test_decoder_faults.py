"""Fault-injection tests for the hand-rolled media/archive decoders
(ROUND9_PLAN item 3, started round 8): corrupt or truncated inputs
must RAISE with a diagnostic, or FLAG the damage in their output —
never silently decode a partial/garbage payload. A 100 TB crawl
contains every one of these shapes; silent partial decodes poison
downstream stats invisibly."""

from __future__ import annotations

import numpy as np
import pytest

from ecmm428_pycart_spark.datapipe import multimodal as M


def test_warc_truncated_payload_raises():
    w = M.warc_bytes([("response", "http://h0.example/a",
                       b"hello world")])
    with pytest.raises(ValueError, match="truncated WARC"):
        M.decode_warc_records(w[:-8])


def test_warc_garbage_and_missing_length_raise():
    with pytest.raises(ValueError, match="WARC version"):
        M.decode_warc_records(b"not a warc at all")
    w = M.warc_bytes([("response", "http://h0.example/x", b"payload")])
    with pytest.raises(ValueError, match="Content-Length"):
        M.decode_warc_records(
            w.replace(b"Content-Length", b"Content-Lengthx", 1))


def test_zip_corrupt_payload_is_flagged_not_silent():
    """The ZIP walk is manifest-first: a flipped payload byte must
    surface as crc_ok=False (quarantine), and the payload sizes stay
    the declared ones — damage is visible, not dropped."""
    z = M.zip_bytes_store([("a.txt", b"hello"), ("b.txt", b"world")])
    good = M.decode_zip_manifest(z)
    assert all(m["crc_ok"] for m in good)
    corrupt = bytearray(z)
    corrupt[35] ^= 0xFF             # inside a stored payload
    flagged = M.decode_zip_manifest(bytes(corrupt))
    assert any(not m["crc_ok"] for m in flagged)
    assert [m["name"] for m in flagged] == [m["name"] for m in good]


def test_zip_truncated_raises():
    z = M.zip_bytes_store([("a.txt", b"hello")])
    with pytest.raises(Exception):
        M.decode_zip_manifest(z[:-4])


def test_wav_truncated_data_chunk_raises():
    """The data chunk declares its byte size; a shorter buffer is a
    truncated capture. Before round 8 this silently decoded the
    partial tail (14 of 50 samples) — the one silent-loss case the
    fault sweep found."""
    w = M.wav_bytes_pcm(1, 8000, [0] * 50, 16)
    with pytest.raises(ValueError, match="truncated WAV: data chunk"):
        M.decode_wav_samples(w[:len(w) // 2])
    # well-formed decode still exact
    assert M.decode_wav_samples(w).shape == (50, 1)


def test_wav_truncated_fmt_chunk_raises():
    """A buffer cut mid-'fmt ' chunk (RIFF header present, fmt body
    missing) must raise the same diagnostic ValueError as a cut data
    chunk — not a bare struct.error from a short unpack slice (the
    round-9 ADVICE finding: the round-8 guard covered only data)."""
    w = M.wav_bytes_pcm(1, 8000, [0] * 50, 16)
    # RIFF(12) + fmt header(8) lands at byte 20; cut inside fmt body
    for cut in (21, 25, 30):
        with pytest.raises(ValueError, match="truncated WAV"):
            M.decode_wav_samples(w[:cut])


def test_image_codecs_raise_on_truncation():
    q = M.qoi_bytes_rgb(np.zeros((4, 4, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="QOI"):
        M.decode_qoi_pixels(q[:-6])
    p = M.png_bytes_rgb(np.zeros((4, 4, 3), dtype=np.uint8))
    with pytest.raises(ValueError, match="PNG"):
        M.decode_png_pixels(p[:len(p) // 2])
    t = M.tiff_bytes_gray(np.zeros((4, 4), dtype=np.uint8))
    with pytest.raises(Exception):
        M.decode_tiff_gray(t[:len(t) // 2])
    b = M.bmp_bytes_rgb(np.zeros((4, 4, 3), dtype=np.uint8))
    with pytest.raises(Exception):
        M.decode_bmp_pixels(b[:len(b) // 2])


def test_compression_codecs_raise_on_truncation():
    comp = M.lz4_compress_block(b"abcabcabcabc1234")
    with pytest.raises(ValueError, match="lz4"):
        M.lz4_decompress_block(comp[:-2])
    import zlib
    raw = zlib.compress(b"x" * 100)[2:-4]   # raw DEFLATE stream
    with pytest.raises(ValueError, match="deflate"):
        M.inflate(raw[:-3])


def test_media_dispatch_quarantines_unknown_bytes():
    """The sniff-and-dispatch path routes unrecognizable payloads to
    the 'unknown' bucket with zeroed stats — flagged, not decoded."""
    t, u, s = M._media_stats_row(b"\x00\x01\x02garbage payload")
    assert t == "unknown" and (u, s) == (0, 0)


def test_mp4_truncation_nulls_never_partial():
    """ISO-BMFF metadata walk under EVERY truncation offset: the row is
    either the full-file parse, the legitimate top-level-boundary
    prefix (a cut at a box boundary is indistinguishable from a
    complete shorter file — ISO-BMFF carries no total length), or
    ALL-None (damage flagged). Never a silently-partial track/sample
    count — the round-8 WAV lesson applied to the container walk."""
    import struct

    m = M.mp4_bytes(1000, 5000, 320, 240, [100, 200, 300], False)
    full = M._mp4_meta_one(m)
    assert full[0] == "isom" and full[5] == 1 and full[6] == 3
    (ftyp_len,) = struct.unpack(">I", m[:4])
    brand_only = M._mp4_meta_one(m[:ftyp_len])
    assert brand_only[0] == "isom" and brand_only[5] == 0
    for cut in range(12, len(m)):
        got = M._mp4_meta_one(m[:cut])
        if cut == ftyp_len:
            assert got == brand_only
        else:
            assert got == (None,) * 8, f"partial decode at cut={cut}: {got}"
    assert M._mp4_meta_one(m) == full  # intact decode unchanged


def test_mp4_undersized_leaf_boxes_null_the_row():
    """A corrupt leaf whose declared size is too small for its fields
    must not read the NEXT box's bytes as field values."""
    import struct

    m = bytearray(M.mp4_bytes(1000, 5000, 320, 240, [100], False))
    i = struct.unpack(">I", m[:4])[0]      # start of moov
    body = i + 8
    # shrink the first child (mvhd) to an 8-byte empty box; the walk
    # must flag damage (v0 mvhd needs 20 body bytes), not misparse
    assert m[body + 4:body + 8] == b"mvhd"
    m[body:body + 4] = struct.pack(">I", 8)
    assert M._mp4_meta_one(bytes(m)) == (None,) * 8


def test_safetensors_truncation_always_raises():
    """Every truncation offset must raise a diagnostic (ValueError or
    its JSONDecodeError subclass) — never struct.error, never a
    partial manifest."""
    t = M.safetensors_bytes([("a", np.arange(6, dtype=np.int32)),
                             ("b", np.ones((2, 2), dtype=np.int64))])
    assert len(M.decode_safetensors_manifest(t)) == 2
    for cut in range(0, len(t)):
        with pytest.raises(ValueError):
            M.decode_safetensors_manifest(t[:cut])


def test_tiff_gif_avi_every_offset_truncation_is_diagnostic():
    """Exhaustive every-offset truncation over the remaining container
    walks (both TIFF byte orders, single- and multi-frame GIF, MJPEG
    AVI): every cut must raise ValueError/NotImplementedError — never
    bare struct.error/IndexError, never a silent partial result. The
    multi-frame GIF case found a real silent-loss bug (a stream cut
    between frames returned the frames seen so far as a complete
    animation); decode now requires the 0x3B trailer."""
    arr = ((np.arange(48).reshape(6, 8) * 3) % 251).astype(np.uint8)
    jf = M.encode_jpeg_gray(
        ((np.arange(128).reshape(8, 16) * 3) % 251).astype(np.uint8))
    cases = [
        (M.tiff_bytes_gray(arr), M.decode_tiff_gray),
        (M.tiff_bytes_gray(arr, True), M.decode_tiff_gray),
        (M.gif_bytes_gray([list(r) for r in arr]), M.decode_gif_pixels),
        (M.gif_bytes_gray_frames([[list(r) for r in arr]] * 3),
         M.decode_gif_frames),
        (M.avi_bytes_mjpeg([jf, jf], 16, 8, 10),
         M.decode_avi_mjpeg_frames),
    ]
    for b, dec in cases:
        dec(b)                                    # intact decodes
        for cut in range(len(b)):
            with pytest.raises((ValueError, NotImplementedError)):
                dec(b[:cut])


def test_gif_missing_trailer_raises_even_with_complete_image_data():
    """The sharpest corner: cut ONLY the trailer byte — all pixel data
    is present and decodable, but the capture is damaged and must say
    so."""
    arr = ((np.arange(48).reshape(6, 8) * 3) % 251).astype(np.uint8)
    g1 = M.gif_bytes_gray([list(r) for r in arr])
    with pytest.raises(ValueError, match="missing trailer"):
        M.decode_gif_pixels(g1[:-1])
    g3 = M.gif_bytes_gray_frames([[list(r) for r in arr]] * 3)
    with pytest.raises(ValueError, match="missing trailer"):
        M.decode_gif_frames(g3[:-1])


def test_bit_flip_corruption_is_decoded_or_diagnostic():
    """Every single-bit flip over TIFF/GIF/QOI/WAV/MP4/protobuf
    fixtures must either decode (a flipped DATA byte is just different
    valid data) or raise ValueError/NotImplementedError — never a bare
    KeyError/IndexError/struct.error, and never seconds of CPU. Found
    in round 9: a flipped GIF min-code-size byte (0x08→0x18) allocated
    a 2^24-entry LZW base table (~2s + RAM per corrupt doc — a DoS
    vector over a crawl corpus), TIFF KeyError'd on corrupt tag ids,
    QOI IndexError'd on corrupt op bytes."""
    import time

    import zlib

    arr = ((np.arange(24).reshape(4, 6) * 3) % 251).astype(np.uint8)
    jarr = ((np.arange(128).reshape(8, 16) * 3) % 251).astype(np.uint8)
    y = ((np.arange(256).reshape(16, 16) * 3) % 251).astype(np.uint8)
    cb = (np.arange(64).reshape(8, 8) % 151).astype(np.uint8) + 100
    cr = (np.arange(64).reshape(8, 8)[::-1] % 151).astype(np.uint8) + 50
    cases = [
        (M.tiff_bytes_gray(arr), M.decode_tiff_gray),
        (M.gif_bytes_gray([list(r) for r in arr]), M.decode_gif_pixels),
        (M.qoi_bytes_rgb(np.arange(48, dtype=np.uint8).reshape(4, 4, 3)),
         M.decode_qoi_pixels),
        (M.wav_bytes_pcm(1, 8000, list(range(30)), 16),
         M.decode_wav_samples),
        (M.mp4_bytes(1000, 5000, 320, 240, [100, 200], False),
         M._mp4_meta_one),
        (M.pb_message_bytes(12345, "en", "web", 678), M.decode_pb_fields),
        # round-9 second wave: PNG leaked zlib.error, JPEG leaked
        # KeyError/IndexError/OverflowError from corrupt tables
        (M.png_bytes_rgb(np.arange(48, dtype=np.uint8).reshape(4, 4, 3)),
         M.decode_png_pixels),
        (M.encode_jpeg_gray(jarr), M.decode_jpeg_gray),
        (M.encode_jpeg_color(y, cb, cr), M.decode_jpeg_color),
        # minimal scans, where the JPEG payload bound is closest
        (M.encode_jpeg_gray(np.full((16, 16), 128, np.uint8)),
         M.decode_jpeg_gray),
        (M.encode_jpeg_color(*(np.full(s, 128, np.uint8)
                               for s in ((16, 16), (8, 8), (8, 8)))),
         M.decode_jpeg_color),
        (M.avi_bytes_mjpeg([M.encode_jpeg_gray(jarr)], 16, 8),
         M.decode_avi_mjpeg_frames),
        (M.lz4_compress_block(b"abcabcabcabc1234" * 8),
         M.lz4_decompress_block),
        (zlib.compress(b"the quick brown fox " * 10)[2:-4], M.inflate),
        (M.warc_bytes([("response", "http://h0.example/a",
                        b"hello world payload")]),
         M.decode_warc_records),
    ]
    for b, dec in cases:
        dec(b)                               # intact decodes
        t0 = time.time()
        for i in range(len(b)):
            for bit in range(8):
                c = bytearray(b)
                c[i] ^= (1 << bit)
                try:
                    dec(bytes(c))
                except (ValueError, NotImplementedError):
                    pass                     # diagnostic: fine
        # whole sweep (len*8 decodes) must stay fast — a single corrupt
        # doc costing seconds is a crawl-scale DoS
        assert time.time() - t0 < 30


def test_gif_invalid_min_code_size_raises_fast():
    arr = ((np.arange(24).reshape(4, 6) * 3) % 251).astype(np.uint8)
    b = bytearray(M.gif_bytes_gray([list(r) for r in arr]))
    mcs_at = 6 + 7 + 3 * 256 + 10   # header + LSD + GCT + descriptor
    assert b[mcs_at] == 8
    b[mcs_at] = 0x18                         # the flip that cost ~2s
    import time
    t0 = time.time()
    with pytest.raises(ValueError, match="min code size"):
        M.decode_gif_pixels(bytes(b))
    assert time.time() - t0 < 0.1


def test_qoi_header_beyond_payload_raises_fast():
    """A flipped high width bit turns a 4x4 QOI into a (2^31+4)x4
    header: 24 GiB of pixels from a 50-byte stream. The decoder must
    refuse the header before allocating (each op is >= 1 byte and
    yields <= 62 pixels), whatever the host's memory."""
    import time

    b = bytearray(M.qoi_bytes_rgb(
        np.arange(48, dtype=np.uint8).reshape(4, 4, 3)))
    assert b[4:8] == b"\x00\x00\x00\x04"
    b[4] ^= 0x80
    t0 = time.time()
    with pytest.raises(ValueError, match="QOI"):
        M.decode_qoi_pixels(bytes(b))
    assert time.time() - t0 < 0.1


def test_qoi_payload_bound_admits_62_pixels_per_op_byte():
    """The bound is tight, not lossy: a 62x4 image of the start pixel
    encodes as 4 full RUN bytes (248 = 62*4 pixels) and decodes."""
    arr = np.zeros((4, 62, 3), dtype=np.uint8)
    q = M.qoi_bytes_rgb(arr)
    assert len(q) == 14 + 4 + 8
    assert np.array_equal(M.decode_qoi_pixels(q), arr)


def test_adam7_png_header_beyond_payload_raises_fast():
    """The interlaced PNG path sized its (h, w, ch) buffer from IHDR
    before comparing the IDAT length: a flipped high width bit in an
    8x8 Adam7 palette PNG asked for 16 GiB. The per-pass length check
    now comes first."""
    import time

    idx = [[(3 * x + y) % 5 for x in range(8)] for y in range(8)]
    p = bytearray(M.png_bytes_palette(
        8, 8, [(40 + 11 * j,) * 3 for j in range(5)], idx, interlace=True))
    assert p[12:16] == b"IHDR" and p[16:20] == b"\x00\x00\x00\x08"
    p[16] ^= 0x80
    t0 = time.time()
    with pytest.raises(ValueError, match="IDAT length"):
        M.decode_png_pixels(bytes(p))
    assert time.time() - t0 < 0.1


def test_tga_header_beyond_payload_raises_fast():
    """A 26-byte TGA (one 1-pixel RLE packet) whose header says
    65535x4096 sized a 768 MiB buffer before reading a packet. Every
    packet is >= 4 bytes for <= 128 pixels and none crosses a row, so
    the header is refused against the payload first."""
    import struct
    import time

    b = bytearray(M.tga_bytes_rle(np.zeros((1, 1, 3), dtype=np.uint8)))
    assert len(b) == 22
    b[12:16] = struct.pack("<HH", 65535, 4096)
    b += bytes(4)
    t0 = time.time()
    with pytest.raises(ValueError, match="tga: header dimensions"):
        M.decode_tga_pixels(bytes(b))
    assert time.time() - t0 < 0.1


def test_tga_payload_bound_admits_128_pixels_per_packet():
    """The bound is tight, not lossy: a 256x3 image of one colour is
    two 4-byte RLE packets per row, exactly 4 * ceil(w / 128) bytes a
    row, and decodes."""
    arr = np.full((3, 256, 3), 7, dtype=np.uint8)
    t = M.tga_bytes_rle(arr, top_down=True)
    assert len(t) == 18 + 3 * 2 * 4
    px, n_rle, n_raw = M.decode_tga_pixels(t)
    assert np.array_equal(px, arr) and (n_rle, n_raw) == (6, 0)


def _sof_resized(b, height, width):
    """The JPEG ``b`` with its SOF0 height and width replaced."""
    import struct

    b = bytearray(b)
    at = b.index(b"\xFF\xC0") + 5
    b[at:at + 4] = struct.pack(">HH", height, width)
    return bytes(b)


def _raises_within(dec, b, match, peak_mib=4):
    """``dec(b)`` raises ValueError matching ``match`` fast and with a
    ``tracemalloc`` peak under ``peak_mib`` MiB."""
    import time
    import tracemalloc

    tracemalloc.start()
    t0 = time.time()
    try:
        with pytest.raises(ValueError, match=match):
            dec(b)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert time.time() - t0 < 0.1
    assert peak < peak_mib * 2 ** 20


def test_jpeg_gray_header_beyond_payload_raises_fast():
    """A ~340-byte gray JPEG whose SOF says 65535x65535 sized a 4 GiB
    buffer before it read the scan. Every huffman symbol is >= 1 bit
    and a block is >= 2 symbols, so the header is refused against the
    scan's bytes first."""
    jarr = ((np.arange(64).reshape(8, 8) * 3) % 251).astype(np.uint8)
    b = _sof_resized(M.encode_jpeg_gray(jarr), 65535, 65535)
    _raises_within(M.decode_jpeg_gray, b, "JPEG SOF 65535x65535")


def test_jpeg_color_header_beyond_payload_raises_fast():
    """The 4:2:0 decoder sized its three planes from SOF the same way;
    an MCU is 6 blocks, so >= 12 bits of scan."""
    y = ((np.arange(256).reshape(16, 16) * 3) % 251).astype(np.uint8)
    c = np.full((8, 8), 128, np.uint8)
    b = _sof_resized(M.encode_jpeg_color(y, c, c), 65520, 65520)
    _raises_within(M.decode_jpeg_color, b, "JPEG SOF 65520x65520")


def test_avi_mjpeg_frame_header_beyond_payload_raises_fast():
    """MJPEG frames decode through decode_jpeg_gray and inherit its
    bound."""
    jarr = ((np.arange(64).reshape(8, 8) * 3) % 251).astype(np.uint8)
    frame = _sof_resized(M.encode_jpeg_gray(jarr), 65535, 65535)
    _raises_within(M.decode_avi_mjpeg_frames,
                   M.avi_bytes_mjpeg([frame], 8, 8), "JPEG SOF")


def test_jpeg_payload_bound_admits_minimal_scans():
    """The bounds admit the most compressed legal scans: a flat image
    is one DC-category-0 code and one EOB per block (6 bits with the
    standard luminance tables), and decodes exactly."""
    flat = np.full((256, 256), 128, np.uint8)
    g = M.encode_jpeg_gray(flat)
    assert len(g) < 1024 * 2                     # ~6 bits per block
    assert np.array_equal(M.decode_jpeg_gray(g), flat)
    c = np.full((128, 128), 128, np.uint8)
    planes = M.decode_jpeg_color(M.encode_jpeg_color(flat, c, c))
    assert all(np.array_equal(p, e) for p, e in zip(planes, (flat, c, c)))


def test_gzip_and_protobuf_truncation_contracts():
    """Formats with NO top-level framing: a cut at a member/field
    boundary is indistinguishable from a complete shorter stream (the
    MP4 top-level-box rule) and parses as that prefix; every mid-unit
    cut raises a diagnostic."""
    import gzip as G

    buf = G.compress(b"hello world " * 10) + G.compress(b"second")
    full = M.decode_gzip_members(buf)
    assert len(full) == 2
    boundary = len(G.compress(b"hello world " * 10))
    for cut in range(1, len(buf)):
        if cut == boundary:
            assert len(M.decode_gzip_members(buf[:cut])) == 1
        else:
            with pytest.raises((ValueError, NotImplementedError)):
                M.decode_gzip_members(buf[:cut])

    pb = M.pb_message_bytes(12345, "en", "web", 678)
    full_fields = M.decode_pb_fields(pb)
    for cut in range(len(pb)):
        try:
            got = M.decode_pb_fields(pb[:cut])
        except ValueError:
            continue                          # mid-field cut: diagnostic
        # field-boundary prefix: valid protobuf with fewer fields
        assert got["n_fields"] < full_fields["n_fields"]


# ---------------------------------------------------------------------------
# Round-10 structural damage (VERDICT r9 next-6): multi-byte/structural
# corruption beyond single-bit flips and truncation — swapped PNG
# chunks, duplicated IFDs / IFD-chain cycles, overlapping MP4 boxes,
# WARC records whose Content-Length headers disagree. Contract
# unchanged: decode EXACTLY or raise/null with a diagnostic, in
# bounded time — never a silently-partial or ambiguous parse.
# ---------------------------------------------------------------------------

def _png_chunks(b):
    import struct
    i, out = 8, []
    while i + 8 <= len(b):
        (length,) = struct.unpack(">I", b[i:i + 4])
        out.append((b[i + 4:i + 8], b[i:i + 12 + length]))
        i += 12 + length
    return out


def test_png_swapped_chunks_decode_exactly_or_raise():
    """Chunk order is a spec MUST (IHDR first) but carries no pixel
    information: a reordered-chunk file must either decode to the
    exact original pixels or raise — never to different pixels."""
    arr = (np.arange(48).reshape(4, 4, 3) % 256).astype(np.uint8)
    p = M.png_bytes_rgb(arr)
    cs = _png_chunks(p)
    ihdr = next(c for t, c in cs if t == b"IHDR")
    idat = next(c for t, c in cs if t == b"IDAT")
    rest = b"".join(c for t, c in cs if t not in (b"IHDR", b"IDAT"))
    swapped = p[:8] + idat + ihdr + rest
    out = M.decode_png_pixels(swapped)
    assert np.array_equal(out, arr)


def test_png_duplicate_conflicting_ihdr_raises():
    """A second IHDR with different dimensions makes the geometry
    ambiguous; the decoder must notice (the IDAT byte count can't
    satisfy both) rather than pick one silently."""
    import struct
    arr = (np.arange(48).reshape(4, 4, 3) % 256).astype(np.uint8)
    p = M.png_bytes_rgb(arr)
    cs = _png_chunks(p)
    ihdr = next(c for t, c in cs if t == b"IHDR")
    idat = next(c for t, c in cs if t == b"IDAT")
    rest = b"".join(c for t, c in cs if t not in (b"IHDR", b"IDAT"))
    fake = struct.pack(">IIBBBBB", 8, 8, 8, 2, 0, 0, 0)
    ihdr2 = struct.pack(">I", len(fake)) + b"IHDR" + fake + b"\0\0\0\0"
    with pytest.raises(ValueError):
        M.decode_png_pixels(p[:8] + ihdr + ihdr2 + idat + rest)


def test_tiff_ifd_chain_cycle_is_bounded():
    """A next-IFD pointer looping back to the first IFD must not hang
    or recurse: the baseline decoder reads exactly one IFD, so the
    cycle is inert and the pixels still decode exactly. Pinned so a
    future multi-IFD extension inherits the cycle guard expectation."""
    import struct
    import time

    arr = (np.arange(16).reshape(4, 4) % 256).astype(np.uint8)
    for big_endian in (False, True):
        t = M.tiff_bytes_gray(arr, big_endian=big_endian)
        e = ">" if big_endian else "<"
        ifd_off = struct.unpack(e + "I", t[4:8])[0]
        n_tags = struct.unpack(e + "H", t[ifd_off:ifd_off + 2])[0]
        nxt = ifd_off + 2 + 12 * n_tags
        cyc = bytearray(t)
        cyc[nxt:nxt + 4] = struct.pack(e + "I", ifd_off)  # self-cycle
        t0 = time.time()
        px, n_strips = M.decode_tiff_gray(bytes(cyc))
        assert time.time() - t0 < 5.0
        assert np.array_equal(px, arr) and n_strips >= 1


def _mp4_find_box(b, tag, start=0, end=None):
    import struct
    end = len(b) if end is None else end
    i = start
    while i + 8 <= end:
        (size,) = struct.unpack(">I", b[i:i + 4])
        if b[i + 4:i + 8] == tag:
            return i, size
        i += size
    raise AssertionError(f"box {tag} not found")


def test_mp4_overlapping_boxes_null_or_exact():
    """Overlapping/oversized box declarations: a leaf whose declared
    size crosses its parent's span must null the row (the span check),
    and a container whose size is shrunk mid-child must null too (the
    walk would otherwise read child bytes as box headers). A sibling
    overlap that happens to re-align on valid child boxes may parse —
    but then it must parse to EXACTLY the undamaged metadata."""
    import struct

    m = M.mp4_bytes(600, 6000, 320, 240, [100, 200, 300], True)
    full = M._mp4_meta_one(m)
    assert full[0] == "isom" and full[5] == 2 and full[6] == 4

    mi, msize = _mp4_find_box(m, b"moov")
    ti, tsize = _mp4_find_box(m, b"trak", mi + 8, mi + msize)
    ki, _ = _mp4_find_box(m, b"tkhd", ti + 8, ti + tsize)

    # tkhd declared size inflated past its trak parent -> damaged row
    bad = bytearray(m)
    bad[ki:ki + 4] = struct.pack(">I", tsize)
    assert M._mp4_meta_one(bytes(bad)) == (None,) * 8

    # trak container shrunk so the moov walk lands mid-child -> damaged
    bad2 = bytearray(m)
    bad2[ti:ti + 4] = struct.pack(">I", 16)
    assert M._mp4_meta_one(bytes(bad2)) == (None,) * 8

    # mvhd sibling overlap that re-aligns on the tkhd boundary: the
    # walk absorbs the 8-byte trak header and still reads every leaf —
    # allowed ONLY because the result is byte-identical metadata
    vi, vsize = _mp4_find_box(m, b"mvhd", mi + 8, mi + msize)
    bad3 = bytearray(m)
    bad3[vi:vi + 4] = struct.pack(">I", vsize + 8)
    got = M._mp4_meta_one(bytes(bad3))
    assert got == full or got == (None,) * 8


def test_warc_conflicting_content_length_raises():
    """Two disagreeing Content-Length headers in one record make the
    framing ambiguous (different readers pick different values and
    desync). Before round 10 the parser silently kept the LAST header
    — the dangerous case, since last-wins framing still lands on a
    valid separator and nothing downstream notices."""
    w = M.warc_bytes([("response", "http://h0.example/a",
                       b"hello world")])
    # wrong value first, framing-correct value last: the silent shape
    w2 = w.replace(b"WARC/1.0\r\n",
                   b"WARC/1.0\r\nContent-Length: 3\r\n", 1)
    with pytest.raises(ValueError, match="conflicting WARC Content-Length"):
        M.decode_warc_records(w2)
    # duplicated but AGREEING headers stay acceptable (no ambiguity)
    w3 = w.replace(b"WARC/1.0\r\n",
                   b"WARC/1.0\r\nContent-Length: 11\r\n", 1)
    assert M.decode_warc_records(w3)[0]["payload"] == b"hello world"
