"""End-to-end ETL pipeline test mirroring the reference's main.py flow
(SURVEY.md §3 E3): GeoJSON ingest → CSV pop ingest + to_int clean →
running fill → semi/inner join → cartogram → sink."""

import os

import pytest
from pyspark.sql import functions as F

from ecmm428_pycart_spark import Cartogram
from ecmm428_pycart_spark.geometry import core
from ecmm428_pycart_spark.operators.relational import running_fill, semi_join
from ecmm428_pycart_spark.sources import read_geojson, read_pop_csv
from ecmm428_pycart_spark.sources.sinks import write_csv, write_parquet

FIX = os.path.join(os.path.dirname(__file__), "fixtures")


def test_etl_to_cartogram_pipeline(spark, tmp_path):
    # S1/S2: GeoJSON → (name, geometry WKB) with positional index
    geo = read_geojson(spark, f"{FIX}/squares.geojson", property_cols=["name"])
    geo = geo.select("feature_index", "name", "geometry")

    # S3 + R4: population CSV, thousands-separator clean
    pop = read_pop_csv(spark, f"{FIX}/squares_pop.csv")

    # R21: running fill of the most recent Region/Country name
    pop = running_fill(pop, "file_order",
                       F.col("Geography").isin("Region", "Country"),
                       "name", "parent")

    # R10 + R8: semi-join then inner merge (main.py:96-118)
    sub = semi_join(pop, geo.select(F.col("name")), "name")
    merged = geo.join(sub.select("name", "Population", "parent"), "name")
    assert merged.count() == 4

    # A2: non-contiguous cartogram on the joined table
    cart = Cartogram(merged, "Population", "name", idx_field="feature_index")
    out = cart.non_contiguous()
    scales = {r["name"]: r["scale"] for r in out.collect()}
    # BL's population is 1200 (cleaned from '1,200') → BL is the anchor
    assert abs(scales["BL"] - 1.0) < 1e-9
    assert scales["TR"] < 1.0 and scales["TL"] < scales["TR"]

    # A3: dorling over the same inputs
    circles = cart.dorling(iterations=2)
    assert circles.count() == 4
    g = core.loads(bytes(circles.collect()[0]["geometry"]))
    assert g[0] == "Polygon"

    # S6: sinks — CSV (WKB → WKT) and parquet round-trip
    csv_path = str(tmp_path / "out_csv")
    pq_path = str(tmp_path / "out_pq")
    write_csv(out, csv_path, single_file=True)
    write_parquet(out, pq_path)
    back = spark.read.option("header", "true").csv(csv_path)
    assert back.count() == 4
    assert "POLYGON" in back.collect()[0]["geometry"]
    assert spark.read.parquet(pq_path).count() == 4


def test_multimodal_resize_and_frames(spark):
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe.multimodal import (
        frame_sample, resize_image, synth_avi_payload,
        synth_png_gradient_min4_payload)
    from ecmm428_pycart_spark.session import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(20)

    # REAL resize: decode gradient PNGs (dims >= 4), box-filter to 4x4;
    # every output pixel has the closed form floor(base + mx + my + 0.5)
    payload = docs.select(
        "doc_id",
        synth_png_gradient_min4_payload(F.col("doc_id")).alias("payload"))
    resized = resize_image(payload, width=4, height=4).collect()
    assert len(resized) == 20
    for r in resized:
        i = r["doc_id"]
        w, h, base = i % 60 + 4, i % 28 + 4, i % 120
        got = bytes(r["pixels"])
        assert len(got) == 16
        for oy in range(4):
            for ox in range(4):
                x0, x1 = (ox * w) // 4, ((ox + 1) * w) // 4
                y0, y1 = (oy * h) // 4, ((oy + 1) * h) // 4
                exp = int((base + (x0 + x1 - 1) / 2.0
                           + (y0 + y1 - 1) / 2.0) + 0.5)
                assert got[oy * 4 + ox] == exp, (i, ox, oy)

    # REAL frame sampling (round 5): AVI walk + per-frame MJPEG decode,
    # every-2nd thinning capped at 4 — each sampled mean has the m19
    # closed form, and the sampled index set replays exactly
    avi = docs.select(
        "doc_id", synth_avi_payload(F.col("doc_id")).alias("payload"))
    frames = frame_sample(avi, every_n=2, max_frames=4).collect()
    by_doc = {}
    for r in frames:
        assert (r["width"], r["height"]) == (8, 8)
        assert r["frame_idx"] == 2 * r["sample_index"]
        exp = 16 + ((r["doc_id"] * 7 + r["frame_idx"] * 29) % 224)
        assert abs(r["mean"] - exp) < 1e-9, (r["doc_id"], r["frame_idx"])
        by_doc.setdefault(r["doc_id"], []).append(r["sample_index"])
    for doc_id, sidx in by_doc.items():
        nf = doc_id % 4 + 2
        assert sorted(sidx) == list(range(min(-(-nf // 2), 4)))
    assert len(by_doc) == 20

    # corrupt / non-AVI payloads contribute no rows (totality contract)
    junk = docs.select(
        "doc_id",
        F.encode(F.lit("not an avi stream"), "utf-8").alias("payload"))
    assert frame_sample(junk).count() == 0

    # ...but an UNSUPPORTED CODEC raises (stated contract: H.264-class
    # needs pyav; silent zero rows would look like corruption)
    import pytest as _pytest

    from ecmm428_pycart_spark.datapipe.multimodal import (
        avi_bytes_mjpeg, encode_jpeg_gray)
    import numpy as _np
    h264ish = avi_bytes_mjpeg(
        [encode_jpeg_gray(_np.full((8, 8), 50, dtype=_np.uint8))], 8, 8) \
        .replace(b"vidsMJPG", b"vidsH264")
    bad = spark.createDataFrame([(0, bytearray(h264ish))],
                                "doc_id long, payload binary")
    with _pytest.raises(Exception, match="MJPG"):
        frame_sample(bad).count()


def test_geojson_fixup_removal_union(spark):
    """main.py:56-69 E3 parity: drop removal codes from the base layer,
    then union replacement features from a v2 layer."""
    from ecmm428_pycart_spark.operators.relational import filter_isin

    base = read_geojson(spark, f"{FIX}/squares.geojson", property_cols=["name"])
    base = base.select("name", "geometry")
    removal = ["BL"]
    kept = filter_isin(base, "name", removal, negate=True)
    assert kept.count() == 3

    # v2 layer: re-use TR's geometry under the removed name (stand-in for
    # the Dec-2021 LAD replacement layer)
    v2 = (read_geojson(spark, f"{FIX}/squares.geojson", property_cols=["name"])
          .filter(F.col("name") == "TR")
          .select(F.lit("BL2").alias("name"), "geometry"))
    fixed = kept.unionByName(v2)
    assert fixed.count() == 4
    assert {r["name"] for r in fixed.collect()} == {"TL", "TR", "BR", "BL2"}


def test_cartogram_validates_columns(spark, squares_df=None):
    import pytest as _pytest
    from ecmm428_pycart_spark import Cartogram
    df = read_geojson(spark, f"{FIX}/squares.geojson", property_cols=["name"])
    with _pytest.raises(ValueError, match="not in DataFrame"):
        Cartogram(df, "Population", "name")  # no Population column here


def test_world_pipeline_full_chain(spark):
    """E3 world branch (main.py:125-251 shape): wide CSV → ISO3→ISO2
    mapping → join to geo with duplicate-ISO rows → per-ISO argmax dedup
    → non_contiguous cartogram."""
    from ecmm428_pycart_spark.operators.relational import (
        argmax_per_group, map_country_codes)
    from ecmm428_pycart_spark.sources import read_world_pop_wide
    from ecmm428_pycart_spark.geometry import core as gcore

    pop = read_world_pop_wide(spark, f"{FIX}/world_pop_wide.csv")
    pop = map_country_codes(pop, "ISO")  # GBR→GB, FRA→FR; WLD passthrough

    def sq(x0, y0, s):
        return gcore.dumps(gcore.wkt_loads(
            f"POLYGON (({x0} {y0}, {x0+s} {y0}, {x0+s} {y0+s}, "
            f"{x0} {y0+s}, {x0} {y0}))"))

    # geo with a duplicate ISO (two GB polygons, differing SHAPE_Area)
    geo = spark.createDataFrame(
        [("United Kingdom", "GB", 4.0, sq(0, 0, 2)),
         ("United Kingdom", "GB", 1.0, sq(5, 0, 1)),
         ("France", "FR", 9.0, sq(10, 0, 3))],
        "COUNTRY string, ISO string, SHAPE_Area double, geometry binary")

    merged = pop.join(geo, "ISO")  # inner join drops WLD/AND
    assert merged.count() == 3
    deduped = argmax_per_group(merged, "ISO", "SHAPE_Area")
    assert deduped.count() == 2

    cart = Cartogram(deduped, "Population", "ISO")
    out = {r["ISO"]: r for r in cart.non_contiguous().collect()}
    # FR: 67.5M over area 9 (7.5M/unit); GB: 67.3M over area 4
    # (16.8M/unit) → GB is the denser anchor
    assert out["GB"]["scale"] == pytest.approx(1.0)
    assert out["FR"]["scale"] < 1.0


def test_svg_figure_sink(spark, tmp_path):
    """S7 parity: render non_contiguous + dorling outputs to SVG."""
    from ecmm428_pycart_spark.viz import to_svg
    geo = read_geojson(spark, f"{FIX}/squares.geojson", property_cols=["name"])
    pop = read_pop_csv(spark, f"{FIX}/squares_pop.csv")
    merged = geo.select("feature_index", "name", "geometry") \
        .join(pop.select("name", "Population"), "name")
    cart = Cartogram(merged, "Population", "name", idx_field="feature_index")

    svg1 = to_svg(cart.non_contiguous(), str(tmp_path / "noncon.svg"),
                  label_col="name")
    assert svg1.count("<path") == 4 and "TL" in svg1

    svg2 = to_svg(cart.dorling(iterations=3), str(tmp_path / "dorling.svg"),
                  label_col="name")
    assert svg2.count("<path") == 4
    assert (tmp_path / "dorling.svg").exists()


def test_png_figure_sink(spark, tmp_path):
    """S7 PNG-format parity (round 4): the raster sink writes a real
    PNG that our OWN decoder reads back; fill correctness is checked
    with exact pixel geometry on a known square layout."""
    import numpy as np

    from ecmm428_pycart_spark.datapipe.multimodal import decode_png_pixels
    from ecmm428_pycart_spark.viz import _PALETTE, _hex_rgb, to_png

    geo = read_geojson(spark, f"{FIX}/squares.geojson", property_cols=["name"])
    png = to_png(geo.select("geometry"), str(tmp_path / "squares.png"),
                 width=120, height=120)
    px = decode_png_pixels(png)
    assert px.shape == (120, 120, 3)
    colors = {tuple(c) for c in px.reshape(-1, 3)}
    # background + every palette color used by the 4 squares is present
    assert (255, 255, 255) in colors
    used = [_hex_rgb(_PALETTE[i]) for i in range(4)]
    for c in used:
        assert c in colors, c
    # sample each square's centroid through the sink's own transform
    # and assert the pixel carries exactly that square's palette color
    from ecmm428_pycart_spark.geometry import core as gcore
    geoms = [gcore.loads(bytes(r["geometry"]))
             for r in geo.select("geometry").collect()]
    bxs = [gcore.bounds(g) for g in geoms]
    minx = min(b[0] for b in bxs)
    miny = min(b[1] for b in bxs)
    sc = min(100.0 / (max(b[2] for b in bxs) - minx),
             100.0 / (max(b[3] for b in bxs) - miny))
    for i, g in enumerate(geoms):
        cx, cy = gcore.centroid(g)
        dx = int(10 + (cx - minx) * sc)
        dy = int(120 - 10 - (cy - miny) * sc)
        assert tuple(px[dy, dx]) == used[i], (i, dx, dy)
    # file written and self-consistent
    assert (tmp_path / "squares.png").read_bytes() == png
    # round 6: the sink routes through the ADAPTIVE-filter encoder
    # (m49's png_encode_adaptive) — re-encoding the decoded raster
    # through it reproduces the emitted bytes exactly, pinning the
    # encoder identity (the per-row minimum-sum-of-abs heuristic is
    # deterministic; it does NOT always beat filter-0 on flat fills,
    # so no size assertion)
    from ecmm428_pycart_spark.datapipe.multimodal import (
        png_encode_adaptive)
    assert png_encode_adaptive(px) == png


def test_real_container_format_decoders(spark):
    """PNG/JPEG/GIF/WAV header parsers are REAL decoders (stdlib only):
    parse handcrafted bytes of each format and assert exact metadata."""
    from ecmm428_pycart_spark.datapipe import multimodal as mm

    assert mm._image_meta_one(mm.png_bytes(17, 9)) == ("png", 17, 9)
    assert mm._image_meta_one(mm.jpeg_bytes(640, 480)) == ("jpeg", 640, 480)
    import struct as _s
    gif = b"GIF89a" + _s.pack("<HH", 320, 200) + b"\x00\x00\x00"
    assert mm._image_meta_one(gif) == ("gif", 320, 200)
    assert mm._image_meta_one(b"\x00garbage") == (None, None, None)

    ch, rate, n, dur = mm._wav_meta_one(mm.wav_bytes(2, 16000, 101))
    assert (ch, rate, n) == (2, 16000, 101)
    assert abs(dur - 6.3125) < 1e-12
    assert mm._wav_meta_one(b"RIFFxxxxJUNK") == (None, None, None, None)

    # and through the Spark UDF path
    from pyspark.sql import functions as F
    df = spark.range(3).select(F.col("id").alias("doc_id"))
    out = (df.withColumn("p", mm.synth_png_payload(F.col("doc_id")))
           .withColumn("m", mm.parse_image_meta(F.col("p")))
           .select("doc_id", "m.width", "m.height").collect())
    assert {(r["doc_id"], r["width"], r["height"]) for r in out} == \
        {(0, 1, 1), (1, 2, 2), (2, 3, 3)}


def test_real_mp4_box_walk():
    """MP4/ISO-BMFF metadata parser is a REAL box walk (stdlib struct):
    round-trip handcrafted containers and assert every field, including
    the fixed-point tkhd resolution, multi-track sample totals, the
    64-bit largesize path, and truncation safety."""
    from ecmm428_pycart_spark.datapipe import multimodal as mm
    import struct as _s

    b = mm.mp4_bytes(timescale=600, duration=600 * 7, width=1280, height=720,
                     sample_sizes=[100, 150, 200], with_audio_track=False)
    brand, ts, dur, w, h, n_tracks, n_samples, media = mm._mp4_meta_one(b)
    assert (brand, ts, dur) == ("isom", 600, 7.0)
    assert (w, h, n_tracks) == (1280, 720, 1)
    assert (n_samples, media) == (3, 450)

    # audio track: zero-resolution tkhd must not override the visual one;
    # its stsz contributes to totals (len//2 samples of 64 bytes)
    b2 = mm.mp4_bytes(600, 1200, 640, 360, [10, 20, 30, 40],
                      with_audio_track=True)
    meta2 = mm._mp4_meta_one(b2)
    assert meta2[3:] == (640, 360, 2, 4 + 2, 100 + 2 * 64)

    # 64-bit largesize box header around moov parses identically
    i = b.index(b"moov") - 4
    (size32,) = _s.unpack(">I", b[i:i + 4])
    big = b[:i] + _s.pack(">I", 1) + b"moov" + _s.pack(">Q", size32 + 8) \
        + b[i + 8:]
    assert mm._mp4_meta_one(big) == (brand, ts, dur, w, h,
                                     n_tracks, n_samples, media)

    # mvhd version 1 (64-bit duration) takes the v1 offsets
    v1 = _s.pack(">B3xQQIQ", 1, 0, 0, 90000, 90000 * 3)
    v1 += b"\x00" * (108 - 8 - len(v1))
    moov = _s.pack(">I", 8 + len(v1) + 8) + b"moov" \
        + _s.pack(">I", 8 + len(v1)) + b"mvhd" + v1
    ftyp = _s.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
    meta3 = mm._mp4_meta_one(ftyp + moov)
    assert (meta3[1], meta3[2]) == (90000, 3.0)

    # garbage returns nulls without raising; detectable truncation
    # nulls the WHOLE row since round 9 (flagged, never silently
    # partial — the exhaustive sweep lives in test_decoder_faults);
    # a cut at a top-level box boundary parses as the prefix it is
    assert mm._mp4_meta_one(b"\x00" * 4 + b"junk") == (None,) * 8
    assert mm._mp4_meta_one(b[:40]) == (None,) * 8      # cut mid-moov
    (ftyp_len,) = _s.unpack(">I", b[:4])
    assert mm._mp4_meta_one(b[:ftyp_len])[0] == "isom"  # boundary prefix


def test_int8_quantization_error_bound(spark):
    """Dequantized values must be within scale/2 of the original (the
    defining property of symmetric round-to-nearest quantization)."""
    from ecmm428_pycart_spark.datapipe.similarity import quantize_int8
    from ecmm428_pycart_spark.session import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(50)
    q = quantize_int8(emb)
    joined = emb.join(q, "vec_id").collect()
    for r in joined:
        for orig, qi in zip(r["embedding"], r["qvec"]):
            assert abs(float(orig) - qi * r["scale"]) <= r["scale"] / 2 + 1e-12
            assert -127 <= qi <= 127


def test_multiprobe_recall_at_least_single_probe(spark):
    """Multi-probe candidates are a superset of the single bucket, so its
    top-k cosine floor must be >= single-probe's."""
    from ecmm428_pycart_spark.datapipe import similarity as sim
    from ecmm428_pycart_spark.session import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qv = sim.query_vector(emb, 0)
    single = [r["cos"] for r in sim.ann_sign_lsh_topk(emb, qv, k=5).collect()]
    multi = [r["cos"] for r in sim.ann_multiprobe_topk(emb, qv, k=5).collect()]
    assert min(multi) >= min(single)
    assert max(multi) >= max(single)


def test_auto_bits_tracks_corpus_size():
    """The sign-LSH width knob: constant expected bucket occupancy, so
    the per-bucket pair volume stays bounded as the corpus grows."""
    from ecmm428_pycart_spark.datapipe.similarity import auto_bits
    assert auto_bits(500) == 4                    # floor at min_bits
    assert auto_bits(1_000_000) == 10             # 2^10 buckets ≈ 1k occ
    assert auto_bits(1_000_000_000) == 20
    assert auto_bits(10**15) == 24                # ceiling at max_bits
    assert auto_bits(1_000_000, target_occupancy=128) == 13


def test_neardup_bits_knob_two_settings(spark):
    """cosine_neardup_pairs with the width knob at two settings: every
    reported pair is a true above-threshold pair (verify step is exact),
    and widening the key (more bits) can only DROP pairs (candidates are
    same-bucket pairs; more bits → finer buckets → fewer candidates)."""
    from ecmm428_pycart_spark.datapipe import similarity as sim
    from ecmm428_pycart_spark.session import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    narrow = sim.cosine_neardup_pairs(emb, threshold=0.30,
                                      bits=sim.auto_bits(n))          # 4
    wide = sim.cosine_neardup_pairs(emb, threshold=0.30,
                                    bits=sim.auto_bits(1_000_000))    # 10
    np_pairs = {(r["vec_a"], r["vec_b"], r["cos"]) for r in narrow.collect()}
    wd_pairs = {(r["vec_a"], r["vec_b"], r["cos"]) for r in wide.collect()}
    assert wd_pairs <= np_pairs
    assert len(np_pairs) > 0
    for _, _, cos in np_pairs:
        assert cos >= 0.30


def test_banded_neardup_supersets_single_bucket(spark):
    """The banded OR-construction's pairs must superset s05's single
    8-bit bucket (band 0 IS that bucket), with identical cosines on the
    shared pairs — the d06-style recall upgrade, verified."""
    from ecmm428_pycart_spark.datapipe import similarity as sim
    from ecmm428_pycart_spark.session import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    single = {(r["vec_a"], r["vec_b"]): r["cos"]
              for r in sim.cosine_neardup_pairs(emb, 0.30).collect()}
    banded = {(r["vec_a"], r["vec_b"]): r["cos"]
              for r in sim.cosine_neardup_pairs_banded(emb, 0.30).collect()}
    assert set(single) <= set(banded)
    for pair, cos in single.items():
        assert banded[pair] == cos


def test_png_decoder_hand_filtered_stream():
    """decode_png_pixels vs a HAND-ASSEMBLED filtered scanline stream —
    independent of png_bytes_gradient, so a complementary encode/decode
    bug cannot hide. Filtered bytes derived by hand from the PNG spec:
      row0 Sub:   pixels [10,20,30]  → f = [10, 20-10, 30-20] = [10,10,10]
      row1 Paeth: pixels [15,25,200] → preds are all 'up' (pb smallest):
                  f = [15-10, 25-20, 200-30] = [5, 5, 170]
      row2 Avg:   pixels [40,41,42]  → preds (0+15)//2, (40+25)//2,
                  (41+200)//2 = 7, 32, 120 → f = [33, 9, 42-120 mod 256]
    """
    import struct as _s
    import zlib as _z

    import numpy as np

    from ecmm428_pycart_spark.datapipe.multimodal import decode_png_pixels

    def chunk(tag, data):
        return (_s.pack(">I", len(data)) + tag + data
                + _s.pack(">I", _z.crc32(tag + data) & 0xFFFFFFFF))

    raw = (b"\x01\x0a\x0a\x0a"        # filter 1 (Sub)
           + b"\x04\x05\x05\xaa"      # filter 4 (Paeth), 0xaa = 170
           + b"\x03\x21\x09\xb2")     # filter 3 (Average), 0xb2 = 178
    ihdr = _s.pack(">IIBBBBB", 3, 3, 8, 0, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", _z.compress(raw)) + chunk(b"IEND", b""))
    px = decode_png_pixels(png)
    assert px.shape == (3, 3, 1)
    expected = np.array([[10, 20, 30], [15, 25, 200], [40, 41, 42]])
    assert (px[:, :, 0] == expected).all()


def test_png_palette_hand_stream():
    """Palette decode vs a HAND-ASSEMBLED stream (independent of
    png_bytes_palette): 2x2 indices [[0,1],[2,0]] with PLTE
    [(9,9,9), (20,30,40), (250,0,5)], filter 0 rows."""
    import struct as _s
    import zlib as _z

    import numpy as np

    from ecmm428_pycart_spark.datapipe.multimodal import decode_png_pixels

    def chunk(tag, data):
        return (_s.pack(">I", len(data)) + tag + data
                + _s.pack(">I", _z.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = _s.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes([9, 9, 9, 20, 30, 40, 250, 0, 5])
    raw = b"\x00\x00\x01" + b"\x00\x02\x00"
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"PLTE", plte)
           + chunk(b"IDAT", _z.compress(raw)) + chunk(b"IEND", b""))
    px = decode_png_pixels(png)
    assert px.shape == (2, 2, 3)
    expected = np.array([[[9, 9, 9], [20, 30, 40]],
                         [[250, 0, 5], [9, 9, 9]]])
    assert (px == expected).all()


def test_png_adam7_interlace_roundtrip():
    """Adam7 decode equals the sequential decode of the same pixel
    field, across sizes that exercise empty passes (1x1 has six empty
    passes) and partial passes; filters cycle within each pass."""
    import numpy as np

    from ecmm428_pycart_spark.datapipe.multimodal import (
        decode_png_pixels, png_bytes_palette)

    for (w, h) in [(1, 1), (2, 1), (1, 2), (3, 3), (8, 8), (9, 5),
                   (16, 16), (23, 13)]:
        k = 5
        palette = [(40 + 11 * j,) * 3 for j in range(k)]
        idx = [[(3 * x + y) % k for x in range(w)] for y in range(h)]
        seq = decode_png_pixels(
            png_bytes_palette(w, h, palette, idx, interlace=False))
        lace = decode_png_pixels(
            png_bytes_palette(w, h, palette, idx, interlace=True))
        assert seq.shape == (h, w, 3)
        assert (seq == lace).all(), (w, h)
        expected = np.array([[palette[idx[y][x]][0] for x in range(w)]
                             for y in range(h)])
        assert (seq[:, :, 0] == expected).all(), (w, h)


def test_png_16bit_hand_stream():
    """16-bit decode vs a HAND-ASSEMBLED stream: 2x2 gray16, row0
    filter 0 with big-endian samples [256, 515], row1 Sub (bpp=2!):
    pixels [770, 1029] → bytes [03 02, 04 05], f = [03 02, 01 03]
    (each byte minus the byte TWO back). A bpp=1 decoder would
    reconstruct the wrong second sample."""
    import struct as _s
    import zlib as _z

    import numpy as np

    from ecmm428_pycart_spark.datapipe.multimodal import decode_png_pixels

    def chunk(tag, data):
        return (_s.pack(">I", len(data)) + tag + data
                + _s.pack(">I", _z.crc32(tag + data) & 0xFFFFFFFF))

    raw = (b"\x00\x01\x00\x02\x03"      # filter 0: 256, 515
           + b"\x01\x03\x02\x01\x03")   # Sub bpp=2: 770, 1029
    ihdr = _s.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", _z.compress(raw)) + chunk(b"IEND", b""))
    px = decode_png_pixels(png)
    assert px.dtype == np.uint16 and px.shape == (2, 2, 1)
    assert px[:, :, 0].tolist() == [[256, 515], [770, 1029]]


def test_image_features_closed_form():
    """image_features over a gradient PNG matches the exact pixel
    population; raw (non-image) payloads fall back to byte stats."""
    import numpy as np

    from ecmm428_pycart_spark.datapipe.multimodal import (
        FEATURE_DIM, image_features, png_bytes_gradient)

    w, h, base = 12, 7, 100
    f = image_features(png_bytes_gradient(w, h, base))
    vals = np.array([[base + x + y for x in range(w)] for y in range(h)],
                    dtype=np.float64)
    assert len(f) == FEATURE_DIM
    assert f[0] == vals.mean() / 255.0
    assert f[1] == vals.std() / 255.0
    assert f[2] == base / 255.0 and f[3] == (base + w - 1 + h - 1) / 255.0
    assert abs(sum(f[4:]) - 1.0) < 1e-12
    assert f[4] == 0.0  # no gradient value below 64 (base = 100)

    raw = image_features(b"\x00\x00\xff\xff")
    assert raw[2] == 0.0 and raw[3] == 1.0 and raw[4] == 0.5 and raw[7] == 0.5


def test_image_features_color_jpeg_and_16bit():
    """The featurizer must route 3-component JPEGs to the color decoder
    (luma features) and rescale 16-bit PNG samples to the 8-bit range."""
    import numpy as np

    from ecmm428_pycart_spark.datapipe.multimodal import (
        encode_jpeg_color, image_features, png_bytes_gradient16)

    # constant-plane 4:2:0 color JPEG: luma 100 everywhere -> exact stats
    y = np.full((16, 16), 100, dtype=np.int64)
    c = np.full((8, 8), 128, dtype=np.int64)
    f = image_features(encode_jpeg_color(y, c, c))
    assert f[0] == 100 / 255.0 and f[1] == 0.0
    assert f[2] == f[3] == 100 / 255.0
    assert f[5] == 1.0  # all values in [64, 128)

    # 16-bit gradient: features match the decoded array scaled by 1/257
    vals = np.array([[500 + 171 * (x + yy) for x in range(4)]
                     for yy in range(4)], dtype=np.float64) / 257.0
    f16 = image_features(png_bytes_gradient16(4, 4, 500, 171))
    assert f16[0] == vals.mean() / 255.0
    assert f16[2] == vals.min() / 255.0 and f16[3] == vals.max() / 255.0


def test_wav_bitdepth_decode():
    """decode_wav_samples across 8/16/24/32-bit PCM: unsigned-8 rebase,
    24-bit sign extension (negative values!), int32 — values round-trip
    exactly through wav_bytes_pcm."""
    import numpy as np

    from ecmm428_pycart_spark.datapipe.multimodal import (
        decode_wav_samples, wav_bytes_pcm)

    cases = {
        8: [0, 1, -1, 127, -128],
        16: [0, 1, -1, 32767, -32768],
        24: [0, 1, -1, 8388607, -8388608, 65536, -65536],
        32: [0, 1, -1, 2147483647, -2147483648, 16777216],
    }
    for bits, vals in cases.items():
        got = decode_wav_samples(wav_bytes_pcm(1, 8000, vals, bits))
        assert got.shape == (len(vals), 1), bits
        assert [int(v) for v in got[:, 0]] == vals, bits
    # stereo interleave preserved
    st = decode_wav_samples(wav_bytes_pcm(2, 8000, [5, -6, 7, -8], 24))
    assert st.shape == (2, 2)
    assert st.tolist() == [[5, -6], [7, -8]]
    # non-PCM still raises
    import pytest as _pytest
    bad = wav_bytes_pcm(1, 8000, [0], 16).replace(
        b"\x01\x00\x01\x00", b"\x03\x00\x01\x00", 1)  # fmt 3 = float
    with _pytest.raises(NotImplementedError):
        decode_wav_samples(bad)
    assert np.issubdtype(got.dtype, np.integer)


def test_shingle_set_short_docs(spark):
    """Docs with fewer tokens than the shingle width must yield an EMPTY
    set, not an error: Spark's 2-arg sequence(1, 0) descends ([1, 0])
    and slice(t, 0, n) raises — the guard in shingle_set prevents it
    (same latent bug class review flagged for d26)."""
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe.dedup import shingle_set
    df = spark.createDataFrame(
        [(1, "a"), (2, "a b"), (3, "a b c"), (4, "a b c d")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r["sh"] for r in
            df.select("doc_id",
                      shingle_set(F.col("text"), 3).alias("sh")).collect()}
    assert rows[1] == [] and rows[2] == []
    assert rows[3] == ["a b c"]
    assert rows[4] == ["a b c", "b c d"]


def test_wav_sample_decoder():
    """decode_wav_samples on hand-assembled PCM: stereo interleaving,
    odd-size chunk word alignment, and non-PCM rejection."""
    import struct as _s

    import numpy as np
    import pytest as _pt

    from ecmm428_pycart_spark.datapipe.multimodal import (
        decode_wav_samples, wav_bytes)

    # stereo: L=[1,3], R=[2,4] interleaved little-endian
    data = _s.pack("<4h", 1, 2, 3, 4)
    fmt = _s.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body = (b"WAVEfmt " + _s.pack("<I", len(fmt)) + fmt
            + b"data" + _s.pack("<I", len(data)) + data)
    wav = b"RIFF" + _s.pack("<I", len(body)) + body
    s = decode_wav_samples(wav)
    assert s.shape == (2, 2)
    assert (s == np.array([[1, 2], [3, 4]])).all()
    # the synth helper's silent output decodes to zeros
    z = decode_wav_samples(wav_bytes(1, 8000, 5))
    assert z.shape == (5, 1) and (z == 0).all()
    # non-PCM format code rejected
    badfmt = _s.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # IEEE float
    body = (b"WAVEfmt " + _s.pack("<I", len(badfmt)) + badfmt
            + b"data" + _s.pack("<I", 0))
    with _pt.raises(NotImplementedError):
        decode_wav_samples(b"RIFF" + _s.pack("<I", len(body)) + body)


def test_container_parser_edge_cases():
    """JPEG restart markers skipped, WAV odd-size chunks word-aligned,
    truncated input safe."""
    import struct as _s

    from ecmm428_pycart_spark.datapipe import multimodal as mm

    # JPEG with RST + DHT segments before SOF0
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    dht = b"\x00" * 5
    sof0 = _s.pack(">BHHB", 8, 33, 44, 1) + b"\x01\x11\x00"
    jpg = (b"\xff\xd8" + b"\xff\xd0"          # RST marker, no length
           + b"\xff\xe0" + _s.pack(">H", len(app0) + 2) + app0
           + b"\xff\xc4" + _s.pack(">H", len(dht) + 2) + dht   # DHT: not SOF
           + b"\xff\xc0" + _s.pack(">H", len(sof0) + 2) + sof0 + b"\xff\xd9")
    assert mm._image_meta_one(jpg) == ("jpeg", 44, 33)

    # WAV with an odd-sized LIST chunk before fmt/data (word alignment)
    fmt = _s.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    data = b"\x00\x00" * 10
    body = (b"WAVE"
            + b"LIST" + _s.pack("<I", 3) + b"abc\x00"   # 3 bytes + pad
            + b"fmt " + _s.pack("<I", len(fmt)) + fmt
            + b"data" + _s.pack("<I", len(data)) + data)
    wav = b"RIFF" + _s.pack("<I", len(body)) + body
    ch, rate, n, _dur = mm._wav_meta_one(wav)
    assert (ch, rate, n) == (1, 8000, 10)

    # truncated inputs return None tuples, never raise
    assert mm._image_meta_one(b"\x89PNG\r\n\x1a")[0] is None
    assert mm._wav_meta_one(b"RI") == (None, None, None, None)


def test_real_jpeg_baseline_codec():
    """The JPEG decoder is a REAL baseline entropy decoder: DHT/DQT
    from the file, DC prediction across blocks (negative diffs), AC
    run-lengths incl. ZRL, exact round trip for block-constant images,
    and agreement with an independent IDCT for handcrafted coefficient
    blocks. Unsupported shapes (progressive, color) fail loudly."""
    import numpy as np

    from ecmm428_pycart_spark.datapipe import multimodal as mm

    # multi-block image, values chosen to force negative DC diffs and
    # multi-category magnitudes
    img = np.zeros((16, 24), dtype=np.uint8)
    vals = [200, 16, 239, 30, 128, 77]
    for b, v in enumerate(vals):
        by, bx = divmod(b, 3)
        img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = v
    out = mm.decode_jpeg_gray(mm.encode_jpeg_gray(img))
    assert np.array_equal(out, img)

    # handcrafted coefficients exercise AC runs + ZRL + end-of-block
    # tails; reference is an independent IDCT of the same coefficients
    zz = np.zeros(64, dtype=np.int64)
    zz[0], zz[1], zz[5], zz[40], zz[63] = 40, 12, -7, 3, -2
    dec = mm.decode_jpeg_gray(mm.write_jpeg_gray(zz.reshape(1, 64), 8, 8))
    inv = np.empty(64, dtype=np.int64)
    inv[mm._ZIGZAG] = np.arange(64)
    block = ((zz * mm._JPEG_QZZ)[inv]).reshape(8, 8).astype(float)
    ref = np.clip(np.round(mm._DCT_A.T @ block @ mm._DCT_A + 128),
                  0, 255).astype(np.uint8)
    assert np.array_equal(dec, ref)

    # synth payloads decode to the closed-form block values
    payload = bytes(mm.encode_jpeg_gray(
        np.full((8, 8), 99, dtype=np.uint8)))
    assert mm.decode_jpeg_gray(payload).mean() == 99.0

    # progressive (SOF2) and non-JPEG inputs are rejected, not garbled
    good = mm.encode_jpeg_gray(np.full((8, 8), 50, dtype=np.uint8))
    prog = good.replace(b"\xFF\xC0", b"\xFF\xC2", 1)
    with pytest.raises(ValueError):
        mm.decode_jpeg_gray(prog)
    with pytest.raises(ValueError):
        mm.decode_jpeg_gray(b"\x89PNG not a jpeg")


def test_real_color_jpeg_codec():
    """4:2:0 color path: exact round trip of block-constant planes,
    separate DC predictor chains per component, chroma tables selected
    from the file, BT.601 RGB conversion matches the spec formula, and
    unsupported layouts are rejected loudly."""
    import numpy as np

    from ecmm428_pycart_spark.datapipe import multimodal as mm

    y = np.zeros((32, 48), dtype=np.uint8)
    for b in range(24):
        by, bx = divmod(b, 6)
        y[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = (b * 37 + 19) % 256
    cb = np.zeros((16, 24), dtype=np.uint8)
    cr = np.zeros((16, 24), dtype=np.uint8)
    for b in range(6):
        by, bx = divmod(b, 3)
        cb[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = 70 + 23 * b
        cr[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = 200 - 19 * b
    data = mm.encode_jpeg_color(y, cb, cr)
    dy, dcb, dcr = mm.decode_jpeg_color(data)
    assert np.array_equal(dy, y)
    assert np.array_equal(dcb, cb) and np.array_equal(dcr, cr)

    # RGB conversion: spec formula, element-checked
    up_cb = np.repeat(np.repeat(dcb, 2, 0), 2, 1)
    up_cr = np.repeat(np.repeat(dcr, 2, 0), 2, 1)
    rgb = mm.ycbcr_to_rgb(dy, up_cb, up_cr)
    yy, cc, rr = float(dy[0, 0]), float(up_cb[0, 0]), float(up_cr[0, 0])
    assert rgb[0, 0, 0] == np.clip(np.round(yy + 1.402 * (rr - 128)), 0, 255)
    assert rgb[0, 0, 2] == np.clip(np.round(yy + 1.772 * (cc - 128)), 0, 255)

    # grayscale files route to decode_jpeg_gray, not the color path
    gray = mm.encode_jpeg_gray(np.full((8, 8), 77, dtype=np.uint8))
    with pytest.raises(ValueError):
        mm.decode_jpeg_color(gray)


def test_wav_frame_features_kernel(spark):
    """Frame features over the burst fixture: a doc with half=50 tone
    samples and 50 zeros at L=32 yields 3 full frames — pure tone
    (rms=A, zcr=1), boundary (k=18 tone samples), pure silence (0, 0)
    — and a clip shorter than one frame yields an empty array."""
    import math

    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe.multimodal import (
        synth_wav_burst_payload, wav_bytes, wav_frame_features)

    # doc_id=1000 -> amp=1, half=50, n=100 samples, 3 full frames
    df = spark.createDataFrame([(1000,)], "doc_id long").withColumn(
        "fr", wav_frame_features(synth_wav_burst_payload(F.col("doc_id"))))
    frames = df.select(F.explode("fr").alias("f")).collect()
    got = [(r["f"]["frame_idx"], round(r["f"]["rms"], 6),
            round(r["f"]["zcr"], 6)) for r in frames]
    k = 50 - 32          # tone samples in the boundary frame
    assert got == [
        (0, 1.0, 1.0),
        (1, round(math.sqrt(k / 32.0), 6), round((k - 1) / 31.0, 6)),
        (2, 0.0, 0.0),
    ]
    # sub-frame clip: empty feature list, not an error
    short = spark.createDataFrame([(1,)], "i int").withColumn(
        "fr", wav_frame_features(F.lit(wav_bytes(1, 8000, 7))))
    assert short.select(F.size("fr").alias("n")).first()["n"] == 0


def test_bloom_prefilter_no_false_negatives(spark):
    """Every true member of the key set must survive the Bloom
    prefilter (false negatives impossible), misses are mostly dropped,
    and the probe side's membership tests are broadcast joins — not a
    shuffle of the probe table."""
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe.dedup import (
        bloom_build, bloom_prefilter)

    keys = spark.range(0, 500).select(
        F.concat(F.lit("k"), F.col("id")).alias("g"))
    probe = spark.range(0, 2000).select(
        F.concat(F.lit("k"), F.col("id")).alias("g"))
    bloom = bloom_build(keys, "g", m_bits=1 << 16, k=3)
    kept = bloom_prefilter(probe, "g", bloom, m_bits=1 << 16, k=3)
    got = {r["g"] for r in kept.collect()}
    want = {f"k{i}" for i in range(500)}
    assert want <= got                      # no false negatives
    # false-positive rate at this sizing should be far below 20%
    assert len(got - want) < 300
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_image_dhash_near_dup_property(spark):
    """dHash locality: an image and a lightly-perturbed copy must land
    within a few Hamming bits, while a structurally different pattern
    must be far — the property that makes the hash a near-dup signal.
    Computed through the REAL PNG encode -> decode -> hash path."""
    import struct as _s
    import zlib as _z

    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe.multimodal import (
        DHASH_H, DHASH_W, _filter_rows, _png_chunk, image_dhash)

    def png_of(fn):
        rows = [[fn(x, y) for x in range(DHASH_W)] for y in range(DHASH_H)]
        ihdr = _s.pack(">IIBBBBB", DHASH_W, DHASH_H, 8, 0, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", _z.compress(_filter_rows(rows)))
                + _png_chunk(b"IEND", b""))

    base = png_of(lambda x, y: (3 * x + 2 * y) % 256)
    # light perturbation: +2 on one pixel — at most one cell average
    # moves by 1, so at most a couple of comparison bits can flip
    near = png_of(lambda x, y: min(255, (3 * x + 2 * y) % 256
                                   + (2 if (x, y) == (5, 5) else 0)))
    far = png_of(lambda x, y: (251 * x + 2 * y) % 256)

    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "i int, p binary")
    got = {r["i"]: (r["h"]["hash_hi"], r["h"]["hash_lo"])
           for r in df.select("i", image_dhash(F.col("p")).alias("h"))
           .collect()}

    def hamming(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    assert hamming(got[1], got[2]) <= 4
    assert hamming(got[1], got[3]) > 10


def test_gif_lzw_decoder_edges():
    """GIF LZW: the KwKwK case (a code referencing the entry being
    built) on a hand-packed 3-bit stream, roundtrip through the
    uncompressed writer across a clear-code boundary, and truncated /
    unsupported inputs raising per contract."""
    import numpy as np
    import pytest

    from ecmm428_pycart_spark.datapipe.multimodal import (
        _gif_lzw_decode, decode_gif_pixels, gif_bytes_gray)

    # mcs=2: clear=4, end=5. Stream [clear, 0, 6, end]: code 6 == next
    # table slot -> entry must be prev + prev[0] = (0, 0) -> pixels 0,0,0
    codes, width = [4, 0, 6, 5], 3
    acc = 0
    for j, c in enumerate(codes):
        acc |= c << (width * j)
    data = acc.to_bytes((width * len(codes) + 7) // 8, "little")
    assert _gif_lzw_decode(data, 2, 3).tolist() == [0, 0, 0]

    # a 512-pixel image crosses the uncompressed writer's clear-code
    # re-arm boundary (budget 254) twice; decode must be exact
    rows = [[(x * 31 + y * 7) % 256 for x in range(32)] for y in range(16)]
    px = decode_gif_pixels(gif_bytes_gray(rows))
    assert (px[:, :, 0] == np.array(rows)).all()
    assert (px[:, :, 1] == px[:, :, 0]).all()      # gray palette

    # truncated pixel stream raises, not garbage
    with pytest.raises(ValueError):
        _gif_lzw_decode(data[:1], 2, 100)
    with pytest.raises(ValueError):
        decode_gif_pixels(b"NOTGIF" + b"\x00" * 20)


def test_gif_multiframe_decode():
    """Animated GIF: every image block decodes (extension blocks
    skipped between frames), frame order preserved, sampling keeps
    frame 0 plus every Nth."""
    from ecmm428_pycart_spark.datapipe.multimodal import (
        decode_gif_frames, gif_bytes_gray_frames)

    g = gif_bytes_gray_frames(
        [[[v] * 8 for _ in range(8)] for v in (5, 15, 25, 35, 45)])
    fr = decode_gif_frames(g)
    assert [int(f[0, 0, 0]) for f in fr] == [5, 15, 25, 35, 45]
    assert all(f.shape == (8, 8, 3) for f in fr)


def test_gif_roundtrip_property():
    """Randomized (seeded) GIF encode->decode roundtrips: arbitrary
    byte patterns at several shapes survive the LZW stream exactly,
    including shapes whose pixel count straddles sub-block and
    clear-code boundaries."""
    import numpy as np

    from ecmm428_pycart_spark.datapipe.multimodal import (
        decode_gif_pixels, gif_bytes_gray)

    rng = np.random.RandomState(7)
    for h, w in [(1, 1), (3, 5), (16, 16), (13, 40), (7, 73)]:
        img = rng.randint(0, 256, size=(h, w))
        rows = img.tolist()
        px = decode_gif_pixels(gif_bytes_gray(rows))
        assert px.shape == (h, w, 3)
        assert (px[:, :, 0] == img).all(), (h, w)


def test_bloom_prefilter_property(spark):
    """Randomized (seeded) Bloom membership: across several m/k
    sizings, the prefilter NEVER drops a true member."""
    import random

    from ecmm428_pycart_spark.datapipe.dedup import (
        bloom_build, bloom_prefilter)

    rnd = random.Random(11)
    words = [f"w{rnd.randrange(10**9)}" for _ in range(300)]
    keys = spark.createDataFrame([(w,) for w in words[:120]], "g string")
    probe = spark.createDataFrame([(w,) for w in words], "g string")
    for m_bits, k in [(1 << 12, 2), (1 << 16, 3), (1 << 18, 5)]:
        bloom = bloom_build(keys, "g", m_bits=m_bits, k=k)
        kept = {r["g"] for r in bloom_prefilter(
            probe, "g", bloom, m_bits=m_bits, k=k).collect()}
        assert set(words[:120]) <= kept, (m_bits, k)


def test_avi_mjpeg_roundtrip():
    """MJPEG AVI: container walk finds every 00dc chunk (word-aligned
    odd-size frames included), frame count is checked against avih,
    and non-MJPEG streams / non-AVI RIFFs raise."""
    import struct as _s

    import numpy as np
    import pytest

    from ecmm428_pycart_spark.datapipe.multimodal import (
        avi_bytes_mjpeg, decode_avi_mjpeg_frames, encode_jpeg_gray)

    frames = [encode_jpeg_gray(np.full((8, 8), v, dtype=np.uint8))
              for v in (20, 120, 220)]
    avi = avi_bytes_mjpeg(frames, 8, 8)
    w, h, fr = decode_avi_mjpeg_frames(avi)
    assert (w, h, len(fr)) == (8, 8, 3)
    assert [float(f.mean()) for f in fr] == [20.0, 120.0, 220.0]
    with pytest.raises(ValueError):
        decode_avi_mjpeg_frames(b"RIFF" + _s.pack("<I", 4) + b"WAVE")
    # declare a different vids codec -> NotImplementedError
    bad = avi.replace(b"vidsMJPG", b"vidsH264", 1)
    with pytest.raises(NotImplementedError):
        decode_avi_mjpeg_frames(bad)


def test_dhash_neardup_pairs(spark):
    """Image near-dup pairs over dHash: a perturbed copy pairs with its
    original at small Hamming distance, a structurally different image
    does not, and the blocking is banded (no cartesian product)."""
    import struct as _s
    import zlib as _z

    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe.multimodal import (
        DHASH_H, DHASH_W, _filter_rows, _png_chunk, dhash_neardup_pairs,
        image_dhash)

    def png_of(fn):
        rows = [[fn(x, y) for x in range(DHASH_W)] for y in range(DHASH_H)]
        ihdr = _s.pack(">IIBBBBB", DHASH_W, DHASH_H, 8, 0, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
                + _png_chunk(b"IDAT", _z.compress(_filter_rows(rows)))
                + _png_chunk(b"IEND", b""))

    imgs = [
        (1, png_of(lambda x, y: (3 * x + 2 * y) % 256)),
        (2, png_of(lambda x, y: min(255, (3 * x + 2 * y) % 256
                                    + (2 if x == 5 else 0)))),
        (3, png_of(lambda x, y: (251 * x + 2 * y) % 256)),
    ]
    df = spark.createDataFrame(imgs, "doc_id int, p binary")
    hashes = df.select("doc_id", image_dhash(F.col("p")).alias("h")) \
        .select("doc_id", "h.hash_hi", "h.hash_lo")
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in dhash_neardup_pairs(hashes, max_hamming=6).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    assert (1, 3) not in pairs and (2, 3) not in pairs
    plan = dhash_neardup_pairs(hashes)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the pigeonhole recall bound is enforced, not silently violated
    import pytest as _pt
    with _pt.raises(ValueError):
        dhash_neardup_pairs(hashes, max_hamming=8)


def test_semdedup_matches_paper_rule(spark):
    """semdedup's keep set must equal a brute-force numpy replay of the
    paper's algorithm (rank by centroid-cos asc, prune on any earlier-
    ranked pairwise cos >= tau) on the SAME deterministic k-means
    assignment — verified end-to-end on the real embeddings table."""
    import numpy as np

    from ecmm428_pycart_spark.datapipe.kmeans import kmeans
    from ecmm428_pycart_spark.datapipe.similarity import semdedup
    from ecmm428_pycart_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    # max pairwise cosine on this table is ~0.479, p99 ~0.287 — 0.3
    # prunes a real but proper subset
    tau = 0.3
    out = semdedup(emb, k=4, iterations=2, threshold=tau)
    rows = {r["vec_id"]: r for r in out.collect()}
    assert len(rows) == emb.count()

    assigned, cents = kmeans(emb, k=4, iterations=2)
    adf = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    cmap = {r["cluster"]: np.array(r["centroid"]) for r in cents.collect()}
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}

    def cos(a, b):
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6)

    expect_keep = {}
    for cl in set(adf.values()):
        members = sorted((vid for vid, c in adf.items() if c == cl),
                         key=lambda v: (cos(vecs[v], cmap[cl]), v))
        for i, vid in enumerate(members):
            dup = any(cos(vecs[vid], vecs[e]) >= tau for e in members[:i])
            expect_keep[vid] = not dup
            assert rows[vid]["cluster"] == cl

    mismatches = {v: (rows[v]["keep"], expect_keep[v])
                  for v in vecs if rows[v]["keep"] != expect_keep[v]}
    assert not mismatches, f"keep-flag divergence: {mismatches}"
    # the pruning must actually bite at this threshold on this data
    n_pruned = sum(1 for v in rows.values() if not v["keep"])
    assert 0 < n_pruned < len(rows)


def test_semdedup_threshold_extremes(spark):
    """tau > 1 keeps everything; tau <= -1 keeps exactly the rank-1
    member of each cluster (every pair qualifies as a duplicate)."""
    from ecmm428_pycart_spark.datapipe.similarity import semdedup
    from ecmm428_pycart_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(64)
    all_keep = semdedup(emb, k=4, iterations=1, threshold=1.01)
    assert all_keep.filter("NOT keep").count() == 0
    one_per = semdedup(emb, k=4, iterations=1, threshold=-1.0)
    kept = one_per.filter("keep")
    assert kept.count() == kept.select("cluster").distinct().count()


def test_wav_spectrum_closed_forms(spark):
    """decode->rfft chain against the fixture's exact closed forms:
    peak_bin recovers the cycle count c = 2^(id%5) for every c,
    dc_mag is 0, and Parseval energy equals 64*A^2 exactly at 4dp."""
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe import multimodal as mm

    ids = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    out = (ids
           .withColumn("payload", mm.synth_wav_square_payload("doc_id"))
           .withColumn("s", mm.wav_spectrum_stats("payload"))
           .select("doc_id", "s.n_fft", "s.peak_bin",
                   F.round("s.dc_mag", 4).alias("dc_mag"),
                   F.round("s.spec_energy", 4).alias("spec_energy"))
           .collect())
    assert len(out) == 40
    seen_c = set()
    for r in out:
        i = r["doc_id"]
        amp = i % 100 + 1
        c = 1 << (i % 5)
        seen_c.add(c)
        assert r["n_fft"] == 64
        assert r["peak_bin"] == c, (i, r["peak_bin"], c)
        assert r["dc_mag"] == 0.0
        assert r["spec_energy"] == float(64 * amp * amp)
    assert seen_c == {1, 2, 4, 8, 16}


def test_wav_spectrum_null_and_empty():
    """Totality: null AND corrupt payloads -> null row fields (no
    task kill), matching the decode-totality contract of the other
    multimodal kernels."""
    import pandas as pd

    from ecmm428_pycart_spark.datapipe.multimodal import wav_spectrum_stats

    fn = wav_spectrum_stats.func
    res = fn(pd.Series([None, b"not a wav at all",
                        b"RIFF\x04\x00\x00\x00WAVE"]))
    assert res.isna().all().all()

    # a structurally valid WAV with a zero-length data chunk takes the
    # distinct n == 0 branch: n_fft 0, no peak/dc/energy
    from ecmm428_pycart_spark.datapipe.multimodal import wav_bytes_pcm
    empty = fn(pd.Series([wav_bytes_pcm(1, 8000, [], 16)])).iloc[0]
    assert empty["n_fft"] == 0
    assert empty[["peak_bin", "dc_mag", "spec_energy"]].isna().all()

    # a 1-sample clip has only the DC bin — peak_bin is None (the "no
    # peak" convention), never 0
    one = fn(pd.Series([wav_bytes_pcm(1, 8000, [5], 16)])).iloc[0]
    assert one["n_fft"] == 1
    assert one["peak_bin"] is None
    assert one["dc_mag"] == 5.0


def _undirected_both(spark, pairs):
    from pyspark.sql import functions as F
    rows = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    return spark.createDataFrame(rows, "src long, dst long")


def test_k_core_known_graph(spark):
    """Hand-built graph with known cores: K4 clique {0,1,2,3} (core 3),
    a triangle {4,5,6} bridged to it (core 2), and a pendant chain
    7-8-9 (core 1)."""
    from ecmm428_pycart_spark.datapipe.graph import core_numbers, k_core

    pairs = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),   # K4
             (4, 5), (4, 6), (5, 6),                            # triangle
             (3, 4),                                            # bridge
             (6, 7), (7, 8), (8, 9)]                            # chain
    e = _undirected_both(spark, pairs)

    assert {r["node"] for r in k_core(e, 3).collect()} == {0, 1, 2, 3}
    assert {r["node"] for r in k_core(e, 2).collect()} == \
        {0, 1, 2, 3, 4, 5, 6}
    assert {r["node"] for r in k_core(e, 1).collect()} == set(range(10))
    assert k_core(e, 4).isEmpty()

    cores = {r["node"]: r["core"] for r in core_numbers(e).collect()}
    assert cores == {0: 3, 1: 3, 2: 3, 3: 3, 4: 2, 5: 2, 6: 2,
                     7: 1, 8: 1, 9: 1}


def test_k_core_matches_bruteforce_on_borders_graph(spark):
    """core_numbers on the real queen-contiguity graph must equal a
    pure-Python peel replay; every k-core member must keep degree >= k
    inside the induced subgraph (the defining property)."""
    from ecmm428_pycart_spark.datapipe.graph import core_numbers
    from ecmm428_pycart_spark.operators.borders import get_borders
    from ecmm428_pycart_spark.benchmarks.geo_queries import _customer_grid

    grid = _customer_grid(spark, "/root/testdata/sf0.001").drop("value")
    borders, _ = get_borders(grid, "region_idx", "geometry",
                             idx_field="region_idx")
    e = borders.select(F.col("focal").alias("src"),
                       F.col("neighbor").alias("dst"))
    got = {r["node"]: r["core"] for r in core_numbers(e).collect()}

    adj = {}
    for r in e.collect():
        adj.setdefault(r["src"], set()).add(r["dst"])
    expect = {}
    k = 1
    alive = {n for n, nb in adj.items() if nb}
    while alive:
        cur = set(alive)
        while True:
            drop = {n for n in cur
                    if len(adj[n] & cur) < k}
            if not drop:
                break
            cur -= drop
        for n in cur:
            expect[n] = k
        alive = cur
        k += 1
        assert k < 20
    assert got == expect


def test_bigram_lm_score_matches_python_replay(spark):
    """Stupid Backoff scores must equal a pure-Python replay (same
    count tables, same rule) over a real 40-doc corpus. Note: scoring
    a corpus against its own counts can never hit the backoff branch
    (every bigram is by definition seen), so the branch arithmetic is
    pinned separately in test_bigram_lm_backoff_branch."""
    import math

    from ecmm428_pycart_spark.datapipe.text import bigram_lm_score
    from ecmm428_pycart_spark.session import load_table

    docs = (load_table(spark, "/root/testdata/sf0.001", "documents")
            .limit(40).select("doc_id", "text"))
    got = {r["doc_id"]: r["lm_bigram"]
           for r in bigram_lm_score(docs).collect()}

    rows = docs.collect()
    uni, bg = {}, {}
    for r in rows:
        ws = r["text"].split(" ")
        for w in ws:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ws, ws[1:]):
            bg[(a, b)] = bg.get((a, b), 0) + 1
    ctx = {}
    for (a, _b), c in bg.items():
        ctx[a] = ctx.get(a, 0) + c
    total = sum(uni.values())
    for r in rows:
        ws = r["text"].split(" ")
        if len(ws) < 2:
            assert got[r["doc_id"]] is None
            continue
        logs = []
        for a, b in zip(ws, ws[1:]):
            if (a, b) in bg:
                logs.append(math.log(bg[(a, b)] / ctx[a]))
            else:
                logs.append(math.log(0.4 * uni[b] / total))
        exp = round(sum(logs) / len(logs), 6)
        assert abs(got[r["doc_id"]] - exp) <= 1e-6, (r["doc_id"],
                                                     got[r["doc_id"]], exp)


def test_bigram_lm_backoff_branch(spark):
    """Both branches via a REFERENCE corpus (self-scoring can never
    back off — every bigram is seen in its own counts). Ref 'a b a b c'
    has bigrams ab:2, ba:1, bc:1 (ctx a:2, b:2), unigrams a:2 b:2 c:1
    (total 5). Scoring 'a c b' against it: (a,c) unseen -> backoff
    0.4*cu(c)/5; (c,b) unseen -> backoff 0.4*cu(b)/5. Scoring 'a z'
    -> (a,z) with z OOV -> NULL position -> NULL doc score; 1-token
    doc -> NULL."""
    import math

    from ecmm428_pycart_spark.datapipe.text import bigram_lm_score

    ref = spark.createDataFrame([(0, "a b a b c")],
                                "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "a b a c b"), (2, "a z"), (3, "solo")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["lm_bigram"]
           for r in bigram_lm_score(docs, ref=ref).collect()}
    # doc1 positions: (a,b) seen 2/2; (b,a) seen 1/2; (a,c) backoff
    # 0.4*1/5; (c,b) backoff 0.4*2/5
    exp1 = round((math.log(2 / 2) + math.log(1 / 2)
                  + math.log(0.4 * 1 / 5) + math.log(0.4 * 2 / 5)) / 4, 6)
    assert abs(got[1] - exp1) <= 1e-6
    assert got[2] is None     # OOV continuation -> strict NULL
    assert got[3] is None     # no bigram positions
    # alpha must actually matter when the backoff fires
    got2 = {r["doc_id"]: r["lm_bigram"]
            for r in bigram_lm_score(docs, ref=ref, alpha=0.1).collect()}
    assert got2[1] < got[1]
    # self-scoring mode: identical to before (backoff unreachable)
    self_scored = bigram_lm_score(docs).collect()
    assert len(self_scored) == 3


def test_truncated_rerank_recall_and_exactness(spark):
    """Phase-2 scores must be the exact full-dim cosines (equal to the
    brute-force values for every returned id); with shortlist = corpus
    size the result must equal cosine_topk exactly; with a small
    shortlist the coarse pass bounds recall but never corrupts scores."""
    from ecmm428_pycart_spark.datapipe import similarity as sim
    from ecmm428_pycart_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qv = sim.query_vector(emb, 0)
    brute = {r["vec_id"]: r["cos"]
             for r in sim.cosine_topk(emb, qv, k=500).collect()}

    full = sim.truncated_rerank_topk(emb, qv, k=10, coarse_dims=8,
                                     shortlist=500).collect()
    top = sim.cosine_topk(emb, qv, k=10).collect()
    assert [(r["vec_id"], r["cos"]) for r in full] == \
        [(r["vec_id"], r["cos"]) for r in top]

    small = sim.truncated_rerank_topk(emb, qv, k=10, coarse_dims=8,
                                      shortlist=40).collect()
    assert len(small) == 10
    for r in small:
        assert r["cos"] == brute[r["vec_id"]]
    # scores are sorted and the floor can only drop vs the exact top-k
    assert [r["cos"] for r in small] == \
        sorted((r["cos"] for r in small), reverse=True)
    assert small[-1]["cos"] <= top[-1]["cos"]


def test_semdedup_auto_k():
    from ecmm428_pycart_spark.datapipe.similarity import semdedup_auto_k
    assert semdedup_auto_k(500) == 4                      # floor
    assert semdedup_auto_k(1_000_000) == 977              # ~1k occupancy
    assert semdedup_auto_k(440_000_000,
                           target_cluster_size=8800) == 50_000  # the paper
    assert semdedup_auto_k(10**12, target_cluster_size=1) == 1 << 20  # cap


def test_bm25_matches_python_replay(spark):
    """BM25 scores must equal a pure-Python replay (Lucene idf form,
    same k1/b) over a real 60-doc corpus, including the top-k cut with
    id tiebreaks."""
    import math

    from ecmm428_pycart_spark.datapipe.text import bm25_topk
    from ecmm428_pycart_spark.session import load_table

    docs = (load_table(spark, "/root/testdata/sf0.001", "documents")
            .limit(60).select("doc_id", "text"))
    query = "table scan join"
    got = [(r["doc_id"], r["bm25"])
           for r in bm25_topk(docs, query, k=15).collect()]

    rows = docs.collect()
    n_docs = len(rows)
    lens = {r["doc_id"]: len(r["text"].split(" ")) for r in rows}
    avgdl = sum(lens.values()) / n_docs
    terms = sorted(set(query.split(" ")))
    tf = {}
    dfreq = {t: 0 for t in terms}
    for r in rows:
        ws = r["text"].split(" ")
        for t in terms:
            c = ws.count(t)
            if c:
                tf[(r["doc_id"], t)] = c
                dfreq[t] += 1
    scores = {}
    for (d, t), c in tf.items():
        idf = math.log(1 + (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
        part = idf * c * 2.2 / (c + 1.2 * (1 - 0.75 + 0.75 * lens[d] / avgdl))
        scores[d] = scores.get(d, 0.0) + part
    exp = sorted(((round(s, 6), d) for d, s in scores.items()),
                 key=lambda x: (-x[0], x[1]))[:15]
    assert got == [(d, s) for s, d in exp]
    assert len(got) == 15 and got[0][1] > got[-1][1]


def test_bm25_contracts(spark):
    """Empty query raises; duplicate query terms score once; docs
    without any term are absent."""
    import pytest as _pytest

    from ecmm428_pycart_spark.datapipe.text import bm25_topk

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a a a a"), (3, "z z z")],
        "doc_id long, text string")
    with _pytest.raises(ValueError):
        bm25_topk(docs, "")
    once = {r["doc_id"]: r["bm25"]
            for r in bm25_topk(docs, "a", k=10).collect()}
    twice = {r["doc_id"]: r["bm25"]
             for r in bm25_topk(docs, "a a", k=10).collect()}
    assert once == twice
    assert 3 not in once and set(once) == {1, 2}


def test_heavy_hitters_exact_vs_bruteforce(spark):
    """The sketch+confirm output must EQUAL the brute-force
    `count >= support * N` set (exact counts included) on the real
    corpus — the no-false-negatives theorem made testable; also pin a
    tiny-k stress where the sketch alone would be maximally lossy."""
    from ecmm428_pycart_spark.datapipe.text import heavy_hitter_tokens
    from ecmm428_pycart_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    toks = [w for r in docs.select("text").collect()
            for w in r["text"].split(" ")]
    n = len(toks)
    from collections import Counter
    cnt = Counter(toks)
    for support in (0.01, 0.03):
        expect = {w: c for w, c in cnt.items() if c >= support * n}
        got = {r["token"]: r["n_occurrences"]
               for r in heavy_hitter_tokens(docs, support=support).collect()}
        assert got == expect, (support, len(got), len(expect))
        assert got  # the corpus vocabulary is small; hitters must exist

    # k barely above the theorem floor still yields the exact set
    got = {r["token"]: r["n_occurrences"]
           for r in heavy_hitter_tokens(docs, support=0.02,
                                        k_counters=101).collect()}
    assert got == {w: c for w, c in cnt.items() if c >= 0.02 * n}


def test_heavy_hitters_support_validation(spark):
    import pytest as _pytest
    from ecmm428_pycart_spark.datapipe.text import heavy_hitter_tokens
    docs = spark.createDataFrame([(1, "a a b")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        heavy_hitter_tokens(docs, support=0.0)
    with _pytest.raises(ValueError):
        heavy_hitter_tokens(docs, support=1.5)


def test_rrf_fuse_hybrid_search(spark):
    """Fuse a real BM25 list and a real dense-cosine list (doc_id and
    vec_id share the 0..499 key space at sf0.001) and check against a
    pure-Python RRF replay; a doc in both lists must outrank one with
    a single equally-ranked appearance."""
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe import similarity as sim
    from ecmm428_pycart_spark.datapipe.text import bm25_topk
    from ecmm428_pycart_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    sparse = bm25_topk(docs, "table scan join", k=20)
    dense = (sim.cosine_topk(emb, sim.query_vector(emb, 0), k=20)
             .select(F.col("vec_id").alias("doc_id"), "cos"))
    got = [(r["doc_id"], r["rrf"])
           for r in sim.rrf_fuse([sparse, dense], k=15).collect()]

    def ranks(rows):
        ordered = sorted(rows, key=lambda x: (-x[1], x[0]))
        return {d: i + 1 for i, (d, _) in enumerate(ordered)}
    rs = ranks([(r["doc_id"], r["bm25"]) for r in sparse.collect()])
    rd = ranks([(r["doc_id"], r["cos"]) for r in dense.collect()])
    scores = {}
    for r in (rs, rd):
        for d, rk in r.items():
            scores[d] = scores.get(d, 0.0) + 1.0 / (60 + rk)
    exp = sorted(((round(s, 6), d) for d, s in scores.items()),
                 key=lambda x: (-x[0], x[1]))[:15]
    assert got == [(d, s) for s, d in exp]
    both = set(rs) & set(rd)
    only = set(rs) ^ set(rd)
    if both and only:
        best_both = max(scores[d] for d in both)
        assert best_both > 1.0 / 61  # beats any single first-place entry


def test_bpe_merges_match_sennrich_replay(spark):
    """learn_bpe_merges must reproduce the classic Sennrich reference
    algorithm exactly — merge list AND final word segmentations — on
    the real corpus, under the same (count desc, pair lexicographic)
    tiebreak."""
    from collections import Counter

    from ecmm428_pycart_spark.datapipe.text import learn_bpe_merges
    from ecmm428_pycart_spark.session import load_table

    docs = (load_table(spark, "/root/testdata/sf0.001", "documents")
            .limit(50).select("text"))
    merges, vocab = learn_bpe_merges(docs, n_merges=12)
    got_syms = {r["word"]: tuple(r["syms"]) for r in vocab.collect()}

    freqs = Counter(w for r in docs.collect()
                    for w in r["text"].split(" ") if w)
    vocab_py = {w: tuple(list(w) + ["</w>"]) for w in freqs}

    def stats():
        c = Counter()
        for w, syms in vocab_py.items():
            for pair in zip(syms, syms[1:]):
                c[pair] += freqs[w]
        return c

    def merge(pair):
        a, b = pair
        for w, syms in vocab_py.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            vocab_py[w] = tuple(out)

    exp_merges = []
    for _ in range(12):
        st = stats()
        if not st:
            break
        best = min(st.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        exp_merges.append(best[0])
        merge(best[0])

    assert merges == exp_merges, (merges, exp_merges)
    assert len(merges) == 12          # corpus is repetitive enough
    assert got_syms == vocab_py
    # at least one word actually got a multi-char symbol
    assert any(len(s) > 1 for syms in got_syms.values()
               for s in syms if s != "</w>")


def test_bpe_overlap_and_min_freq(spark):
    """Greedy left-first overlap ('a a a' -> 'aa a') and the min_freq
    early stop."""
    from ecmm428_pycart_spark.datapipe.text import learn_bpe_merges

    docs = spark.createDataFrame([("aaa aaa xyz",)], "text string")
    merges, vocab = learn_bpe_merges(docs, n_merges=10, min_freq=2)
    # (a,a) is the only pair with freq >= 2: count 4 from two 'aaa'
    # words (left-first: aa+a per word) -> after merge, ('aa','a')
    # has freq 2 -> merges again; then 'aaa</w>' pair freq 2 -> etc.
    assert merges[0] == ("a", "a")
    syms = {r["word"]: list(r["syms"]) for r in vocab.collect()}
    assert syms["xyz"] == ["x", "y", "z", "</w>"]  # hapax: untouched


def test_bpe_checkpoint_cadence_is_result_invariant(spark):
    """The r13 cadence lever: learn_bpe_merges' localCheckpoint every
    ``checkpoint_every`` merges (default 4, matching bpe_encode) is a
    pure materialization schedule — merge list AND final segmentations
    must be identical at cadence 1 (the old per-round behavior), the
    default, and a cadence larger than n_merges (never checkpoints
    mid-loop)."""
    from ecmm428_pycart_spark.datapipe.text import learn_bpe_merges
    from ecmm428_pycart_spark.session import load_table

    docs = (load_table(spark, "/root/testdata/sf0.001", "documents")
            .limit(80).select("text"))
    outs = {}
    for every in (1, 4, 99):
        merges, vocab = learn_bpe_merges(docs, n_merges=7,
                                         checkpoint_every=every)
        outs[every] = (merges,
                       sorted((r["word"], r["freq"], tuple(r["syms"]))
                              for r in vocab.collect()))
    assert outs[1] == outs[4] == outs[99]
    assert len(outs[1][0]) == 7


def test_k_core_converges_on_exact_round_budget(spark):
    """A peel that empties the graph on exactly the last budgeted round
    is convergence, not a RuntimeError (review finding)."""
    from ecmm428_pycart_spark.datapipe.graph import k_core

    e = _undirected_both(spark, [(0, 1), (1, 2)])   # chain 0-1-2
    assert k_core(e, 2, max_rounds=1).isEmpty()


def test_heavy_hitters_rejects_lossy_k(spark):
    """k_counters <= 1/support would break the no-false-negative
    guarantee — must raise, not silently drop hitters."""
    import pytest as _pytest
    from ecmm428_pycart_spark.datapipe.text import heavy_hitter_tokens
    docs = spark.createDataFrame([(1, "a a b")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="no-false-negative"):
        heavy_hitter_tokens(docs, support=0.02, k_counters=50)


def test_truncated_rerank_zero_prefix_vectors(spark):
    """Vectors whose leading coarse dims are all zero give a NaN coarse
    cosine; the nanvl guard must rank them BELOW real candidates, and
    phase-2 scores must stay exact full-dim cosines."""
    from pyspark.sql import functions as F
    from ecmm428_pycart_spark.datapipe import similarity as sim

    # ids 0..3: informative prefix; ids 100..149: zero prefix but
    # full-dim-identical to the query (the decoys that would flood the
    # shortlist if NaN sorted first)
    rows = [(0, [1.0] * 16), (1, [1.0] * 8 + [0.0] * 8),
            (2, [0.5] * 16), (3, [-1.0] * 16)]
    rows += [(100 + i, [0.0] * 8 + [1.0] * 8) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qv = sim.query_vector(emb, 0)
    out = sim.truncated_rerank_topk(emb, qv, k=3, coarse_dims=8,
                                    shortlist=4).collect()
    ids = [r["vec_id"] for r in out]
    # the 4 informative-prefix vectors own the shortlist; zero-prefix
    # decoys (NaN coarse) must not evict them
    assert set(ids) <= {0, 1, 2, 3}
    assert ids[0] == 0 and out[0]["cos"] == 1.0
    assert all(r["cos"] == r["cos"] for r in out)  # no NaN leaks


def test_hashing_tf_matches_python_replay(spark):
    """Dense hashed-TF vectors must equal a pure-Python replay (md5
    bucketing, collision-summed counts) on real docs; l2 mode must
    yield unit norms; idf must down-weight ubiquitous buckets."""
    import hashlib
    import math

    from ecmm428_pycart_spark.datapipe.text import hashing_tf
    from ecmm428_pycart_spark.session import load_table

    dim = 32
    docs = (load_table(spark, "/root/testdata/sf0.001", "documents")
            .limit(40).select("doc_id", "text"))
    got = {r["doc_id"]: list(r["embedding"])
           for r in hashing_tf(docs, dim=dim).collect()}

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % dim

    rows = docs.collect()
    for r in rows:
        vec = [0.0] * dim
        for w in r["text"].split(" "):
            if w:
                vec[bucket(w)] += 1.0
        assert got[r["doc_id"]] == vec, r["doc_id"]

    unit = hashing_tf(docs, dim=dim, l2_normalize=True).collect()
    for r in unit:
        n = math.sqrt(sum(x * x for x in r["embedding"]))
        assert abs(n - 1.0) < 1e-9

    plain = {r["doc_id"]: r["embedding"]
             for r in hashing_tf(docs, dim=dim).collect()}
    weighted = {r["doc_id"]: r["embedding"]
                for r in hashing_tf(docs, dim=dim, idf=True).collect()}
    # smoothed idf >= 1 always, == 1 only for buckets hit by every doc
    assert any(weighted[d][i] > plain[d][i]
               for d in plain for i in range(dim) if plain[d][i])


def test_hashing_tf_feeds_similarity_stack(spark):
    """The bridge contract: hashed doc vectors drop straight into
    cosine_topk, and a doc's nearest neighbor by hashed-TF cosine is
    itself."""
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe import similarity as sim
    from ecmm428_pycart_spark.datapipe.text import hashing_tf
    from ecmm428_pycart_spark.session import load_table

    docs = (load_table(spark, "/root/testdata/sf0.001", "documents")
            .limit(60).select("doc_id", "text"))
    emb = (hashing_tf(docs, dim=64, l2_normalize=True)
           .select(F.col("doc_id").alias("vec_id"), "embedding"))
    qv = sim.query_vector(emb, 5)
    top = sim.cosine_topk(emb, qv, k=3).collect()
    assert top[0]["vec_id"] == 5 and top[0]["cos"] == 1.0


def test_wav_mel_energies_replay_and_properties(spark):
    """Mel energies must equal a pure-numpy replay of the same
    decode->rfft->triangle-bank->log chain on the square-wave fixture;
    louder clips (same shape) must have >= energies bandwise, and
    corrupt payloads degrade to null."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe import multimodal as mm

    ids = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    out = (ids.withColumn("payload",
                          mm.synth_wav_square_payload("doc_id"))
           .withColumn("mel", mm.wav_mel_energies("payload"))
           .collect())
    assert len(out) == 12
    for r in out:
        i = r["doc_id"]
        amp = i % 100 + 1
        c = 1 << (i % 5)
        h = 32 // c
        s = np.array([amp if (j // h) % 2 == 0 else -amp
                      for j in range(64)], dtype=np.float64)
        power = np.abs(np.fft.rfft(s)) ** 2
        bank = mm.mel_filterbank(64, 8000, 8)
        exp = np.log10(1.0 + bank @ power)
        assert np.allclose(np.array(r["mel"]), exp, rtol=1e-12), i
        assert len(r["mel"]) == 8

    # amplitude monotonicity: scale the same clip 2x -> every band >=
    fn = mm.wav_mel_energies.func
    quiet = mm.wav_bytes_pcm(1, 8000, [10, -10] * 32, 16)
    loud = mm.wav_bytes_pcm(1, 8000, [20, -20] * 32, 16)
    q, l = fn(pd.Series([quiet, loud]))
    assert all(b >= a for a, b in zip(q, l))
    # totality
    bad = fn(pd.Series([None, b"junk"]))
    assert bad.iloc[0] is None and bad.iloc[1] is None


def test_augment_pixel_stats_closed_forms(spark):
    """Augmented-decode geometry against the gradient fixture's closed
    forms (pixel(x,y) = base + x + y): corners and dims per op, mean
    invariant under every op, plus involution (double flip == identity)
    and the unknown-op driver-side error."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe import multimodal as mm

    ids = spark.range(0, 16).select(F.col("id").alias("doc_id"))
    payload = ids.withColumn(
        "payload", mm.synth_png_gradient_payload("doc_id"))
    got = {}
    for op in ("identity", "flip_h", "flip_v", "rot90"):
        fn = mm.augment_pixel_stats(op)
        got[op] = {r["doc_id"]: r for r in
                   payload.withColumn("s", fn("payload"))
                   .select("doc_id", "s.*").collect()}
    for i in range(16):
        w, h, base = i % 64 + 1, i % 32 + 1, i % 128
        mean = base + (w - 1) / 2.0 + (h - 1) / 2.0
        ident = got["identity"][i]
        assert (ident["width"], ident["height"]) == (w, h)
        assert ident["first_px"] == base
        assert ident["last_px"] == base + (w - 1) + (h - 1)
        fh = got["flip_h"][i]
        assert fh["first_px"] == base + (w - 1)
        assert fh["last_px"] == base + (h - 1)
        fv = got["flip_v"][i]
        assert fv["first_px"] == base + (h - 1)
        assert fv["last_px"] == base + (w - 1)
        r90 = got["rot90"][i]
        assert (r90["width"], r90["height"]) == (h, w)
        # rot90 cw: out(0,0) = in(h-1, 0) -> base + (h-1)
        assert r90["first_px"] == base + (h - 1)
        for op in got:
            assert abs(got[op][i]["pixel_mean"] - mean) < 1e-9, op

    import numpy as np
    a = np.arange(12).reshape(3, 4)
    for op in ("flip_h", "flip_v"):
        assert (mm._augment_array(mm._augment_array(a, op), op) == a).all()
    assert (mm._augment_array(
        mm._augment_array(mm._augment_array(
            mm._augment_array(a, "rot90"), "rot90"), "rot90"),
        "rot90") == a).all()
    with _pytest.raises(ValueError, match="unknown augmentation"):
        mm.augment_pixel_stats("flip_x")


def test_bpe_encode_matches_python_replay(spark):
    """bpe_encode must produce EXACTLY the segmentation a pure-Python
    Sennrich-style encoder yields under the same learned merge list on
    the live corpus — order preserved, empty docs total."""
    from ecmm428_pycart_spark.datapipe.text import (bpe_encode,
                                                    learn_bpe_merges)
    from ecmm428_pycart_spark.session import load_table

    docs = (load_table(spark, "/root/testdata/sf0.001", "documents")
            .limit(50).select("doc_id", "text"))
    merges, _ = learn_bpe_merges(docs, n_merges=12)
    assert len(merges) == 12

    got = {r["doc_id"]: (list(r["tokens"]), r["n_subtokens"])
           for r in bpe_encode(docs, merges).collect()}

    def encode_word(w):
        syms = list(w) + ["</w>"]
        for a, b in merges:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        return syms

    exp = {}
    for r in docs.collect():
        toks = []
        for w in r["text"].split(" "):
            if w:
                toks.extend(encode_word(w))
        exp[r["doc_id"]] = (toks, len(toks))
    assert got == exp
    # the merges actually did something: some doc has a multi-char token
    assert any(len(t) > 1 and t != "</w>" for toks, _ in got.values()
               for t in toks)


def test_bpe_encode_edge_cases(spark):
    """Empty merge list = pure char split; tokenless docs keep a row
    with an empty array."""
    from ecmm428_pycart_spark.datapipe.text import bpe_encode

    docs = spark.createDataFrame(
        [(1, "ab ba"), (2, ""), (3, "a")],
        "doc_id long, text string")
    got = {r["doc_id"]: (list(r["tokens"]), r["n_subtokens"])
           for r in bpe_encode(docs, []).collect()}
    assert got[1] == (["a", "b", "</w>", "b", "a", "</w>"], 6)
    assert got[2] == ([], 0)
    assert got[3] == (["a", "</w>"], 2)
    # one merge chain: (a,b) then (ab,</w>)
    got2 = {r["doc_id"]: list(r["tokens"])
            for r in bpe_encode(docs, [("a", "b"), ("ab", "</w>")],
                                checkpoint_every=1).collect()}
    assert got2[1] == ["ab</w>", "b", "a", "</w>"]


@pytest.mark.slow
def test_clustering_coefficient_hand_graph(spark):
    """Known graph: K4 plus a pendant. K4 nodes touching the pendant
    keep coeff < 1; pure K4 nodes are fully connected (coeff 1.0);
    the pendant has degree 1 -> 0.0 by contract."""
    from ecmm428_pycart_spark.datapipe.graph import clustering_coefficient

    und = [(a, b) for a in range(4) for b in range(4) if a != b]
    und += [(0, 4), (4, 0)]
    e = spark.createDataFrame(und, "src long, dst long")
    got = {r["node"]: (r["degree"], r["n_triangles"], r["coeff"])
           for r in clustering_coefficient(e).collect()}
    # node 0: degree 4 (three K4 peers + pendant), 3 triangles ->
    # 2*3/(4*3) = 0.5
    assert got[0] == (4, 3, 0.5)
    for n in (1, 2, 3):
        assert got[n] == (3, 3, 1.0)
    assert got[4] == (1, 0, 0.0)


@pytest.mark.slow
def test_clustering_coefficient_matches_bruteforce_on_borders(spark):
    """On the real sf0.001 customer-grid contiguity graph, the oriented
    triangle pass must equal a pure-Python brute force over the same
    edge list."""
    from itertools import combinations

    from ecmm428_pycart_spark.benchmarks.geo_queries import _customer_grid
    from ecmm428_pycart_spark.datapipe.graph import clustering_coefficient
    from ecmm428_pycart_spark.operators.borders import get_borders

    grid = _customer_grid(spark, "/root/testdata/sf0.001").drop("value")
    borders, _ = get_borders(grid, "region_idx", "geometry",
                             idx_field="region_idx")
    und = borders.select("focal", "neighbor")
    edges = {(r["focal"], r["neighbor"]) for r in und.collect()}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    exp = {}
    for n, nbrs in adj.items():
        t = sum(1 for u, v in combinations(sorted(nbrs), 2)
                if (u, v) in edges)
        d = len(nbrs)
        exp[n] = (d, t, round(2.0 * t / (d * (d - 1)), 6) if d >= 2
                  else 0.0)
    got = {r["node"]: (r["degree"], r["n_triangles"], r["coeff"])
           for r in clustering_coefficient(
               und, "focal", "neighbor").collect()}
    assert got == exp


def test_perplexity_buckets_contracts(spark):
    """Tercile cuts on a hand corpus: every doc keeps a row, buckets
    partition by the exact cut points, short docs land in 'unscored',
    and fraction validation rejects bad input."""
    import pytest as _pytest

    from ecmm428_pycart_spark.datapipe.text import (bigram_lm_score,
                                                    perplexity_buckets)

    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat " * (i % 4 + 1)) for i in range(9)]
        + [(9, "solo")],
        "doc_id long, text string")
    out = perplexity_buckets(docs).collect()
    assert len(out) == 10
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r["lm_bigram"])
    assert by_bucket.pop("unscored") == [None]
    # ordering invariant: max(tail) < min(middle) <= max(middle) <
    # min(head) can tie at cut points but never cross
    if "tail" in by_bucket and "middle" in by_bucket:
        assert max(by_bucket["tail"]) <= min(by_bucket["middle"])
    if "middle" in by_bucket and "head" in by_bucket:
        assert max(by_bucket["middle"]) <= min(by_bucket["head"])
    # scores must be exactly the scorer's output (composition, not a
    # re-derivation)
    exp = {r["doc_id"]: r["lm_bigram"]
           for r in bigram_lm_score(docs).collect()}
    got = {r["doc_id"]: r["lm_bigram"] for r in out}
    assert got == exp
    with _pytest.raises(ValueError):
        perplexity_buckets(docs, fractions=(0.7, 0.3))


def test_pca_matches_numpy_replay(spark):
    """pca_fit/pca_project on the real embeddings table must match a
    single-node numpy PCA (same covariance rounding + sign convention)
    to the projection's rounding quantum."""
    import numpy as np

    from ecmm428_pycart_spark.datapipe.pca import pca_fit, pca_project
    from ecmm428_pycart_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    mean, comps, evar = pca_fit(emb, k=4)

    x = np.asarray([np.asarray(r["embedding"], dtype=np.float64)
                    for r in emb.select("embedding").collect()])
    mu = x.mean(axis=0)
    cov = np.round(np.cov(x.T, bias=True), 8)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:4]
    exp_comps = evecs[:, order].T
    for row in exp_comps:
        j = np.argmax(np.abs(row))
        if row[j] < 0:
            row *= -1

    assert np.allclose(mean, mu, atol=1e-9)
    assert np.allclose(evar, evals[order], atol=1e-7)
    assert np.allclose(comps, exp_comps, atol=1e-6)
    # explained variance sorted descending and positive
    assert all(evar[i] >= evar[i + 1] for i in range(3)) and evar[-1] > 0

    got = {r["vec_id"]: np.asarray(r["pca"]) for r in pca_project(
        emb, k=4, fitted=(mean, comps, evar)).collect()}
    exp_proj = np.round((x - mu) @ exp_comps.T, 6)
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    for i, vid in enumerate(ids):
        assert np.allclose(got[vid], exp_proj[i], atol=2e-6)


def test_pca_layout_determinism(spark):
    """The covariance-rounding contract: different partition layouts
    must produce IDENTICAL (not merely close) projections."""
    from ecmm428_pycart_spark.datapipe.pca import pca_fit, pca_project
    from ecmm428_pycart_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = {r["vec_id"]: tuple(r["pca"])
         for r in pca_project(emb.repartition(1), k=3).collect()}
    b = {r["vec_id"]: tuple(r["pca"])
         for r in pca_project(emb.repartition(13), k=3).collect()}
    assert a == b
    # k validation + empty input
    import pytest as _pytest
    with _pytest.raises(ValueError):
        pca_fit(emb, k=0)
    with _pytest.raises(ValueError):
        pca_fit(emb.filter("vec_id < 0"), k=2)


def test_pca_whiten_unit_variance(spark):
    """Whitened projections must have ~unit per-component variance on
    the fitting corpus (definition of whitening)."""
    import numpy as np

    from ecmm428_pycart_spark.datapipe.pca import pca_project
    from ecmm428_pycart_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    p = np.asarray([r["pca"] for r in
                    pca_project(emb, k=3, whiten=True).collect()])
    assert np.allclose(p.var(axis=0), 1.0, atol=1e-4)


def test_zipf_fit_known_distribution(spark):
    """Synthetic exact-Zipf corpus (freq = K / rank) must fit slope
    ~ -1 with r2 ~ 1; degenerate one-frequency head yields NULL
    slope/r2 (regr contracts)."""
    from ecmm428_pycart_spark.datapipe.text import zipf_fit

    rows = []
    # token t_r appears round(120/r) times, r = 1..12 -> ln f = ln 120
    # - ln r exactly (up to rounding of counts)
    words = []
    for r in range(1, 13):
        words += [f"t{r:02d}"] * max(1, round(120 / r))
    rows.append((0, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    row = zipf_fit(docs, top_n=12).collect()[0]
    assert row["n_fit"] == 12
    assert abs(row["slope"] + 1.0) < 0.05, row
    assert row["r2"] > 0.999
    deg = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    drow = zipf_fit(deg).collect()[0]
    # constant ln(freq): slope 0, intercept ln(1)=0, and BOTH engines
    # define r2 = 1.0 here (zero residual on a zero-variance target)
    assert (drow["n_fit"], drow["slope"], drow["intercept"],
            drow["r2"]) == (4, 0.0, 0.0, 1.0)


def test_mmr_topk_replay_and_contracts(spark):
    """MMR on the real embeddings: (a) lam=1 reduces to cosine_topk's
    ranking; (b) a pure-Python greedy replay under the same rounding
    and tiebreaks matches exactly; (c) diversification actually kicks
    in for small lam (selection differs from pure relevance)."""
    import numpy as np

    from ecmm428_pycart_spark.datapipe.similarity import (cosine_topk,
                                                          mmr_topk,
                                                          query_vector)
    from ecmm428_pycart_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = query_vector(emb, 0)

    pure = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    lam1 = [r["vec_id"] for r in
            mmr_topk(emb, q, k=10, shortlist=50, lam=1.0).collect()]
    assert lam1 == pure

    got = [(r["rank"], r["vec_id"], r["cos"], r["mmr"]) for r in
           mmr_topk(emb, q, k=8, shortlist=40, lam=0.4).collect()]

    # replay
    cand = sorted(
        ((r["vec_id"], r["cos"], np.asarray(r["embedding"], float))
         for r in emb.crossJoin(q.select("q")).selectExpr(
             "vec_id", "embedding",
             "round(aggregate(zip_with(embedding, q, (x, y) -> x * y),"
             " 0D, (a, x) -> a + x) / (sqrt(aggregate(embedding, 0D,"
             " (a, x) -> a + x * x)) * sqrt(aggregate(q, 0D, (a, x) ->"
             " a + x * x))), 6) AS cos").collect()),
        key=lambda t: (-t[1], t[0]))[:40]
    ids = [c[0] for c in cand]
    rel = np.array([c[1] for c in cand])
    x = np.array([c[2] for c in cand])
    xn = x / np.linalg.norm(x, axis=1)[:, None]
    sims = np.round(xn @ xn.T, 6)
    max_sim = np.full(len(cand), -np.inf)
    avail = np.ones(len(cand), bool)
    exp = []
    for rank in range(1, 9):
        mmr = (np.round(0.4 * rel - 0.6 * max_sim, 6)
               if rank > 1 else np.round(0.4 * rel, 6))
        mm = np.where(avail, mmr, -np.inf)
        ties = np.flatnonzero(mm == mm.max())
        j = min(ties, key=lambda i: ids[i])
        exp.append((rank, ids[j], float(rel[j]), float(mmr[j])))
        avail[j] = False
        max_sim = np.maximum(max_sim, sims[j])
    assert got == exp
    assert [g[1] for g in got] != pure[:8]  # diversification changed it


def test_hard_negatives_bruteforce_replay(spark):
    """Hard negatives on the real embeddings (anchors = first 10 ids)
    must equal a numpy brute force: top-5 cosine among different-label
    vectors, rounded-cosine ordering with id tiebreak."""
    import numpy as np

    from ecmm428_pycart_spark.datapipe.similarity import hard_negatives
    from ecmm428_pycart_spark.session import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    anchors = emb.filter(F.col("vec_id") < 10)
    got = [(r["q_id"], r["rank"], r["vec_id"], r["cos"], r["a_label"])
           for r in hard_negatives(emb, anchors, k=5).collect()]
    got.sort()

    rows = emb.select("vec_id", "label", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    labels = {r["vec_id"]: r["label"] for r in rows}
    x = np.asarray([np.asarray(r["embedding"], float) for r in rows])
    xn = x / np.linalg.norm(x, axis=1)[:, None]
    exp = []
    for a_i, a in enumerate(ids):
        if a >= 10:
            continue
        cos = np.round(xn @ xn[a_i], 6)
        cand = [(float(cos[i]), ids[i]) for i in range(len(ids))
                if ids[i] != a and labels[ids[i]] != labels[a]]
        cand.sort(key=lambda t: (-t[0], t[1]))
        for rk, (c, vid) in enumerate(cand[:5], 1):
            exp.append((a, rk, vid, c, labels[a]))
    exp.sort()
    assert got == exp


def test_temperature_mix_properties(spark):
    """alpha=1 gives every source the SAME rate (pure proportional);
    alpha<1 gives the smaller source a strictly higher rate; keeps are
    deterministic (re-run identical); budget validation."""
    import pytest as _pytest

    from ecmm428_pycart_spark.datapipe.text import temperature_mix

    rows = ([(i, "w " * 200, "big") for i in range(50)]
            + [(1000 + i, "w " * 20, "small") for i in range(10)])
    docs = spark.createDataFrame(
        [(i, t.strip(), s) for i, t, s in rows],
        "doc_id long, text string, source string")

    r1 = {r["source"]: r["rate"] for r in temperature_mix(
        docs, 2000, alpha=1.0).select("source", "rate").distinct().collect()}
    assert r1["big"] == r1["small"]

    r03 = {r["source"]: r["rate"] for r in temperature_mix(
        docs, 2000, alpha=0.3).select("source", "rate").distinct().collect()}
    assert r03["small"] > r03["big"]

    a = sorted((r["doc_id"], r["keep"]) for r in
               temperature_mix(docs, 2000).collect())
    b = sorted((r["doc_id"], r["keep"]) for r in
               temperature_mix(docs, 2000).collect())
    assert a == b and any(k for _, k in a) and not all(k for _, k in a)

    with _pytest.raises(ValueError):
        temperature_mix(docs, 0)


def test_leakage_safe_split_no_dup_straddle(spark):
    """Exact duplicates and token-reorderings of the same doc must land
    in the SAME split; fraction lands near test_frac; validation."""
    import pytest as _pytest

    from ecmm428_pycart_spark.datapipe.text import leakage_safe_split

    base = [(i, f"alpha beta w{i} gamma") for i in range(200)]
    dups = [(1000 + i, t) for i, t in base[:50]]          # exact copies
    reord = [(2000 + i, " ".join(reversed(t.split())))    # reorderings
             for i, t in base[:50]]
    docs = spark.createDataFrame(base + dups + reord,
                                 "doc_id long, text string")
    out = leakage_safe_split(docs, test_frac=0.25).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    for i in range(50):
        assert split_of[i] == split_of[1000 + i] == split_of[2000 + i]
    frac = sum(1 for r in out if r["split"] == "test") / len(out)
    assert 0.1 < frac < 0.4
    with _pytest.raises(ValueError):
        leakage_safe_split(docs, test_frac=1.5)


def test_temperature_mix_null_source_and_pca_whiten_guard(spark):
    """Review-pass regressions: NULL-source rows survive the rate join
    (null-safe equi-join) with a usable rate; whiten never emits NaN
    even when covariance rounding nudges a zero eigenvalue negative."""
    import math

    import numpy as np

    from ecmm428_pycart_spark.datapipe.pca import pca_project
    from ecmm428_pycart_spark.datapipe.text import temperature_mix

    docs = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, "d e f g", None), (3, "h i", None)],
        "doc_id long, text string, source string")
    out = temperature_mix(docs, 100).collect()
    assert len(out) == 3                       # nothing dropped
    null_rows = [r for r in out if r["source"] is None]
    assert len(null_rows) == 2
    assert all(r["rate"] is not None and not math.isnan(r["rate"])
               for r in out)

    # rank-deficient embeddings: 2 informative dims + 2 constant dims,
    # whiten with k up to the rank boundary must stay finite
    rows = [(i, [float(i % 7), float((3 * i) % 5), 1.0, 2.0])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    p = np.asarray([r["pca"] for r in
                    pca_project(emb, k=4, whiten=True).collect()])
    assert np.isfinite(p).all()


def test_source_contamination_planted_copy(spark):
    """Plant a full copy of one source inside another: containment of
    the copied pair ~1.0; unrelated sources stay below min_shared or
    score low; n validation."""
    import pytest as _pytest

    from ecmm428_pycart_spark.datapipe.dedup import source_contamination

    a_docs = [(i, f"alpha{i} beta{i} gamma{i} delta{i} eps{i}", "A")
              for i in range(30)]
    b_docs = [(100 + i, t, "B") for i, (_, t, _) in enumerate(a_docs)]
    c_docs = [(200 + i, f"x{i} y{i} z{i} w{i} v{i}", "C")
              for i in range(30)]
    df = spark.createDataFrame(a_docs + b_docs + c_docs,
                               "doc_id long, text string, source string")
    rows = {(r["src_a"], r["src_b"]): (r["n_shared"], r["containment"])
            for r in source_contamination(df, min_shared=5).collect()}
    assert rows[("A", "B")][1] == 1.0          # full copy detected
    assert ("A", "C") not in rows and ("B", "C") not in rows
    with _pytest.raises(ValueError):
        source_contamination(df, n=0)


def test_funnel_hand_cases(spark):
    """Hand-built event streams pin the matching semantics: in-order
    completes, out-of-order doesn't, same-timestamp steps do NOT chain
    (strict ordering), repeated steps use the earliest match, and a
    user missing step 1 contributes to no step."""
    from ecmm428_pycart_spark.datapipe.funnel import funnel

    def ev(eid, ts, uid, t):
        return (eid, f"2024-01-01 00:{ts:02d}:00", uid, t)

    rows = [
        # u1: clean in-order funnel
        ev(1, 1, 1, "view"), ev(2, 2, 1, "click"), ev(3, 3, 1, "purchase"),
        # u2: purchase BEFORE click -> depth 2 only
        ev(4, 1, 2, "view"), ev(5, 2, 2, "purchase"), ev(6, 3, 2, "click"),
        # u3: click at the SAME ts as view -> strict ordering blocks it
        ev(7, 1, 3, "view"), ev(8, 1, 3, "click"),
        # u4: no view at all -> depth 0
        ev(9, 1, 4, "click"), ev(10, 2, 4, "purchase"),
        # u5: early view matched greedily, later click+purchase chain
        ev(11, 1, 5, "view"), ev(12, 5, 5, "view"),
        ev(13, 6, 5, "click"), ev(14, 7, 5, "purchase"),
    ]
    df = spark.createDataFrame(
        [(e, ts, u, t) for e, ts, u, t in rows],
        "event_id long, ts string, user_id long, event_type string"
    ).selectExpr("event_id", "CAST(ts AS timestamp) ts", "user_id",
                 "event_type")
    got = {r["step_idx"]: r["n_users"]
           for r in funnel(df, ["view", "click", "purchase"]).collect()}
    # views: u1 u2 u3 u5 = 4; click-after-view: u1 u2 u5 = 3;
    # purchase-after-click: u1 u5 = 2
    assert got == {1: 4, 2: 3, 3: 2}

    import pytest as _pytest
    with _pytest.raises(ValueError):
        funnel(df, [])


def test_rfm_segments_hand_case(spark):
    """Tiny hand corpus pins the scoring directions: the user with the
    latest activity / most events / biggest purchases scores 1 on each
    axis; non-purchase values never count toward monetary."""
    from ecmm428_pycart_spark.datapipe.funnel import rfm_segments

    rows = [
        # u1: recent, busy, big spender
        (1, "2024-01-10 00:00:00", 1, "purchase", 100.0),
        (2, "2024-01-10 01:00:00", 1, "purchase", 100.0),
        (3, "2024-01-10 02:00:00", 1, "view", 999.0),
        # u2: stale, quiet, views only
        (4, "2024-01-01 00:00:00", 2, "view", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, "
              "event_type string, value double"
    ).selectExpr("event_id", "CAST(ts AS timestamp) ts", "user_id",
                 "event_type", "value")
    got = {r["user_id"]: r.asDict() for r in
           rfm_segments(df, quartiles=2).collect()}
    assert got[1]["recency_days"] == 0 and got[2]["recency_days"] == 9
    assert got[1]["frequency"] == 3 and got[2]["frequency"] == 1
    assert got[1]["monetary"] == 200.0 and got[2]["monetary"] == 0.0
    assert (got[1]["r"], got[1]["f"], got[1]["m"]) == (1, 1, 1)
    assert (got[2]["r"], got[2]["f"], got[2]["m"]) == (2, 2, 2)


def test_funnel_null_ts_and_single_pass_plan(spark):
    """Null-timestamp events never match a step (they would void the
    strict-ordering constraint and diverge from the min-ts SQL
    semantics), and the plan reads the events exactly once (no
    per-step union replication)."""
    from ecmm428_pycart_spark.datapipe.funnel import funnel

    rows = [(1, None, 1, "view"), (2, "2024-01-01 00:00:30", 1, "purchase"),
            (3, "2024-01-01 00:01:00", 1, "click"),
            (4, "2024-01-01 00:00:00", 2, "view"),
            (5, "2024-01-01 00:00:10", 2, "click")]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).selectExpr("event_id", "CAST(ts AS timestamp) ts", "user_id",
                 "event_type")
    got = {r["step_idx"]: r["n_users"]
           for r in funnel(df, ["view", "click", "purchase"]).collect()}
    # u1's null-ts view matches nothing -> depth 0; u2 completes 2 steps
    assert got == {1: 1, 2: 1, 3: 0}
    plan = funnel(df, ["view", "click", "purchase"]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 1
    assert "Union" not in plan


def test_rolling_active_users_hand_case(spark):
    """Hand case: u1 active on days 1 and 5, u2 on day 1 only. Day-5
    WAU (window days -1..5) counts both; day-1 stickiness is 1.0;
    gap days are absent; validation."""
    import datetime

    import pytest as _pytest

    from ecmm428_pycart_spark.datapipe.funnel import rolling_active_users

    rows = [(1, "2024-01-01 10:00:00", 1), (2, "2024-01-01 11:00:00", 2),
            (3, "2024-01-05 09:00:00", 1)]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long"
    ).selectExpr("event_id", "CAST(ts AS timestamp) ts", "user_id")
    got = {r["day"].isoformat(): (r["dau"], r["wau"], r["stickiness"])
           for r in rolling_active_users(df).collect()}
    assert got == {"2024-01-01": (2, 2, 1.0),
                   "2024-01-05": (1, 2, 0.5)}
    assert datetime.date(2024, 1, 3).isoformat() not in got
    with _pytest.raises(ValueError):
        rolling_active_users(df, window_days=0)


def test_funnel_conversion_stats_hand_case(spark):
    """Known durations: u1 converts in 120s, u5 in 2s (greedy earliest
    view); non-completers excluded; empty-completer frame yields a
    0-count row with null stats."""
    from ecmm428_pycart_spark.datapipe.funnel import funnel_conversion_stats

    rows = [
        (1, "2024-01-01 00:00:00", 1, "view"),
        (2, "2024-01-01 00:01:00", 1, "click"),
        (3, "2024-01-01 00:02:00", 1, "purchase"),
        (4, "2024-01-01 00:00:00", 2, "view"),      # never completes
        (11, "2024-01-01 00:00:00", 5, "view"),     # greedy first view
        (12, "2024-01-01 00:00:30", 5, "view"),
        (13, "2024-01-01 00:00:01", 5, "click"),
        (14, "2024-01-01 00:00:02", 5, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).selectExpr("event_id", "CAST(ts AS timestamp) ts", "user_id",
                 "event_type")
    r = funnel_conversion_stats(df, ["view", "click", "purchase"]).first()
    assert (r["n_converted"], r["min_seconds"], r["max_seconds"]) == (2, 2, 120)
    assert r["avg_seconds"] == 61.0
    empty = funnel_conversion_stats(
        df.filter("user_id = 2"), ["view", "click", "purchase"]).first()
    assert empty["n_converted"] == 0 and empty["avg_seconds"] is None


def test_perplexity_buckets_approx_mode(spark):
    """exact=False (the documented 100 TB path) must agree with the
    exact cuts everywhere except possibly AT the bucket edges — on a
    corpus of distinct scores, identical partitions."""
    from ecmm428_pycart_spark.datapipe.text import perplexity_buckets
    from ecmm428_pycart_spark.session import load_table

    docs = (load_table(spark, "/root/testdata/sf0.001", "documents")
            .limit(200).select("doc_id", "text"))
    exact = {r["doc_id"]: r["bucket"]
             for r in perplexity_buckets(docs).collect()}
    approx = {r["doc_id"]: r["bucket"]
              for r in perplexity_buckets(docs, exact=False).collect()}
    diff = [k for k in exact if exact[k] != approx[k]]
    # percentile_approx returns an ACTUAL data value (nearest rank, no
    # interpolation), so docs sitting exactly at a cut can flip bucket
    # even with zero rank error — bounded by the number of edges
    assert len(diff) <= 2, diff
    # and any flip is between ADJACENT buckets, never tail<->head
    order = {"tail": 0, "middle": 1, "head": 2}
    for k in diff:
        assert abs(order[exact[k]] - order[approx[k]]) == 1


def test_ann_knn_join_subset_of_exact(spark):
    """The bucketed batch k-NN returns a SUBSET of each query's
    bucket-restricted candidates, every returned neighbour shares the
    query's sign bucket, and results under-approximate (never
    contradict) the exact knn_join: any common (q, neighbour) pair has
    the same cosine."""
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe.similarity import (ann_knn_join,
                                                          knn_join,
                                                          sign_bucket)
    from ecmm428_pycart_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = (emb.filter(F.col("vec_id") < 10)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q")))
    approx = {(r["q_id"], r["vec_id"]): r["cos"]
              for r in ann_knn_join(emb, qs, k=5).collect()}
    exact = {(r["q_id"], r["vec_id"]): r["cos"]
             for r in knn_join(emb, qs, k=5).collect()}
    for pair, c in approx.items():
        if pair in exact:
            assert exact[pair] == c
    buckets = {r["vec_id"]: r["b"] for r in emb.select(
        "vec_id", sign_bucket("embedding", 8).alias("b")).collect()}
    for (q, v) in approx:
        assert buckets[q] == buckets[v]


def test_d48_backoff_branch_actually_fires(spark):
    """Guard against vacuous d48 oracle compares: the even/odd
    train/score split must leave genuinely unseen bigrams, so the
    summed backoff count is strictly positive at test scale."""
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe.text import bigram_lm_score
    from ecmm428_pycart_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = bigram_lm_score(docs.filter(F.col("doc_id") % 2 == 1),
                          ref=docs.filter(F.col("doc_id") % 2 == 0),
                          with_backoff_count=True)
    total = out.agg(F.sum("n_backoff")).first()[0]
    assert total and total > 0


def test_resample_linear_kernel():
    """factor=1 is identity; downsampling halves length; endpoints
    always preserved; empty input total."""
    import numpy as np

    from ecmm428_pycart_spark.datapipe.multimodal import resample_linear

    x = np.array([0.0, 1.0, 4.0, 9.0, 16.0])
    np.testing.assert_array_equal(resample_linear(x, 1.0), x)
    half = resample_linear(x, 0.5)
    np.testing.assert_array_equal(half, [0.0, 4.0, 16.0])
    up = resample_linear(x, 2.0)
    assert len(up) == 9 and up[0] == x[0] and up[-1] == x[-1]
    np.testing.assert_allclose(up[1], 0.5)   # midpoint interp
    assert len(resample_linear(x[:0], 2.0)) == 0


def test_wav_resample_corrupt_payload_nulls(spark):
    """Corrupt WAV bytes degrade to the null row, never an executor
    exception (the decode-totality contract)."""
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe.multimodal import wav_resample2_stats

    df = spark.createDataFrame(
        [(1, bytearray(b"RIFFgarbage")), (2, None)],
        "doc_id long, w binary")
    got = (df.withColumn("s", wav_resample2_stats(F.col("w")))
           .select("doc_id", "s.n_out").collect())
    assert {(r["doc_id"], r["n_out"]) for r in got} == {(1, None), (2, None)}


def test_resample_linear_fractional_factors():
    """The k = 0..floor((n-1)*factor) length contract holds for
    FRACTIONAL factors (the 44.1k->48k shape), with no clamped
    endpoint duplicate; factor <= 0 raises."""
    import numpy as np
    import pytest as _pytest

    from ecmm428_pycart_spark.datapipe.multimodal import resample_linear

    x = np.array([0.0, 1.0, 2.0, 3.0])
    up = resample_linear(x, 1.5)          # floor(3*1.5)=4 -> 5 samples
    assert len(up) == 5
    np.testing.assert_allclose(up, [0.0, 2/3, 4/3, 2.0, 8/3])
    down = resample_linear(x, 0.5)        # floor(3*0.5)=1 -> 2 samples
    np.testing.assert_array_equal(down, [0.0, 2.0])
    with _pytest.raises(ValueError):
        resample_linear(x, 0.0)
    with _pytest.raises(ValueError):
        resample_linear(x, -1.0)


def test_sessionize_hand_case(spark):
    """Gap semantics: exactly-30-min later CONTINUES the session
    (strict >), 30min+1s starts a new one; session ids are 1-based per
    user; null-ts events are excluded; stats roll up correctly."""
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe.funnel import (session_stats,
                                                      sessionize)
    rows = [
        # user 1: e1 @10:00, e2 @10:30:00 (exactly 30m -> same
        # session), e3 @11:00:01 (30m1s after e2 -> new session)
        (1, "2024-01-01 10:00:00", 1),
        (1, "2024-01-01 10:30:00", 2),
        (1, "2024-01-01 11:00:01", 3),
        # user 2: single event + a null-ts event (dropped)
        (2, "2024-01-01 09:00:00", 4),
        (2, None, 5),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string, event_id long") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    got = {(r["user_id"], r["event_id"]): r["session_id"]
           for r in sessionize(ev).collect()}
    assert got == {(1, 1): 1, (1, 2): 1, (1, 3): 2, (2, 4): 1}
    stats = {r["user_id"]: r for r in session_stats(ev).collect()}
    assert stats[1]["n_sessions"] == 2
    assert stats[1]["n_events"] == 3
    assert stats[1]["max_session_events"] == 2
    # sessions last 1800 s and 0 s -> mean 900
    assert stats[1]["avg_session_seconds"] == 900.0
    assert (stats[2]["n_sessions"], stats[2]["n_events"]) == (1, 1)

    import pytest as _pytest
    with _pytest.raises(ValueError):
        sessionize(ev, gap_minutes=0)


def test_normalize_embeddings_hand_case(spark):
    """z-scores against a numpy replay on a tiny corpus, including a
    zero-variance dimension (must map to z = 0, not a divide error)."""
    import numpy as np

    from ecmm428_pycart_spark.datapipe.similarity import (
        normalize_embeddings)
    vecs = [[1.0, 5.0, 2.0], [3.0, 5.0, 4.0], [5.0, 5.0, 9.0]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    got = {r["vec_id"]: list(r["zvec"])
           for r in normalize_embeddings(df).collect()}
    a = np.array(vecs)
    m = np.round(a.mean(axis=0), 6)
    s = np.round(a.std(axis=0), 6)
    for i, v in enumerate(vecs):
        for d in range(3):
            exp = 0.0 if s[d] == 0 else (v[d] - m[d]) / s[d]
            assert abs(got[i][d] - exp) < 1e-9, (i, d)
    assert all(got[i][1] == 0.0 for i in range(3))  # constant dim


def test_incremental_dedup_planted_duplicate(spark, tmp_path):
    """A new-batch doc that copies a stored doc's text must surface as
    a candidate against the persisted index; an unrelated doc must
    not. The batch never touches the corpus text — only the index."""
    from pyspark.sql import functions as F

    from ecmm428_pycart_spark.datapipe.dedup import (
        incremental_dup_candidates, save_band_index)
    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six seven")],
        "doc_id long, text string")
    save_band_index(corpus, str(tmp_path / "idx"))
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),   # full copy of 0
         (3, "totally unrelated words here now ok")],
        "doc_id long, text string")
    got = {(r["doc_id"], r["existing_id"])
           for r in incremental_dup_candidates(
               batch, str(tmp_path / "idx")).collect()}
    assert (1, 0) in got
    assert not any(d == 3 for d, _ in got)


def test_ivf_index_roundtrip_serves_identically(spark, tmp_path):
    """Serving from the LOADED index must equal serving from the
    freshly trained one — persistence is lossless for the query
    path."""
    from ecmm428_pycart_spark.datapipe.kmeans import kmeans
    from ecmm428_pycart_spark.datapipe.similarity import (
        ivf_topk_from_index, load_kmeans_index, query_vector,
        save_kmeans_index)
    from ecmm428_pycart_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    assigned, cents = kmeans(emb, k=4, iterations=3)
    fresh = [tuple(r) for r in ivf_topk_from_index(
        emb, assigned, cents, query_vector(emb, 0), k=5).collect()]
    save_kmeans_index(assigned, cents, str(tmp_path / "ivf"))
    a2, c2 = load_kmeans_index(spark, str(tmp_path / "ivf"))
    loaded = [tuple(r) for r in ivf_topk_from_index(
        emb, a2, c2, query_vector(emb, 0), k=5).collect()]
    assert fresh == loaded and len(fresh) == 5


def test_graph_loops_rows_and_job_count_pinned(spark):
    """Absolute pin on the Spark jobs of a k-core peel and three label
    propagation rounds plus their collects, read through a job group.
    Every loop checkpoint is lazy (``session.checkpoint``): the peel's
    checkpoint folds into its convergence count and the fixed rounds
    into the collect — 38 jobs, the same on every run measured; eager
    checkpoints ran 44. Rows against the hand-derived 2-core and the
    hand-replayed sync rounds (most frequent neighbour label, smallest
    label on ties)."""
    from pyspark.sql import Row

    from ecmm428_pycart_spark.datapipe.graph import k_core, label_propagation

    und = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (2, 4),
           (7, 8)]
    edges = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in und]
        + [Row(src=b, dst=a) for a, b in und])
    labels = spark.createDataFrame(
        [Row(node=n, label=n % 3) for n in range(1, 9)])

    sc = spark.sparkContext
    tag = "graph-jobs"
    sc.setJobGroup(tag, tag)
    try:
        core = sorted(r["node"] for r in k_core(edges, 2).collect())
        lab = sorted(tuple(r) for r in
                     label_propagation(edges, labels, rounds=3).collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(tag)) == 38
    assert core == [1, 2, 3, 4, 5, 6]     # the 7-8 edge peels off
    assert lab == [(1, 0), (2, 1), (3, 1), (4, 0), (5, 0), (6, 0),
                   (7, 2), (8, 1)]


def test_per_node_triangles_reads_input_once_per_branch(spark):
    """``per_node_triangles`` checkpoints its oriented edges (``dire``)
    eagerly because three subtrees of one job read them (the e1/e2
    self-join and the closing-edge probe). Counted by a stand-in
    source that adds its batch sizes to an accumulator: the input is
    read exactly twice — once by the degree aggregate (whose exchange
    both degree joins reuse) and once by the canonical-edge filter —
    and never again downstream of the checkpoint.

    The same count holds with ``dire`` made lazy (measured on this
    graph and on a 5,878-row one), so this pins the read count but
    does not show that the eager checkpoint is needed."""
    from pyspark.sql import Row

    from ecmm428_pycart_spark.datapipe.graph import per_node_triangles

    und = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (2, 4),
           (7, 8)]
    rows = ([Row(src=a, dst=b) for a, b in und]
            + [Row(src=b, dst=a) for a, b in und])
    base = spark.createDataFrame(rows)
    reads = spark.sparkContext.accumulator(0)

    def counted(batches):
        for pdf in batches:
            reads.add(len(pdf))
            yield pdf

    tris = {r["node"]: r["n_triangles"] for r in per_node_triangles(
        base.mapInPandas(counted, base.schema)).collect()}
    assert tris == {1: 1, 2: 2, 3: 2, 4: 2, 5: 1, 6: 1}
    assert reads.value == 2 * len(rows)
