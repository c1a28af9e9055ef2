"""Unit tests for operators/multimodal.py: binary payload plumbing,
JVM-side header parsing, Arrow-batched Python extraction, frame
sampling, resize planning, and the real-codec stub gate.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from kafkastreamsinteractivequeries_spark.operators.multimodal import (
    HEADER_BYTES,
    asset_manifest,
    assets_from_documents,
    audio_features,
    decode_image,
    image_features,
    resize_images,
    sample_video_frames,
)


@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        (0, "an image doc"),
        (1, "an audio doc with a longer body of text"),
        (2, "a video doc"),
        (3, "another image"),
        (4, "another audio"),
        (5, "another video"),
    ]
    return assets_from_documents(spark.createDataFrame(rows, ["doc_id", "text"]))


def _by_id(df):
    return {r["asset_id"]: r.asDict() for r in df.collect()}


def test_payload_layout(assets):
    out = _by_id(assets)
    assert {r["media_type"] for r in out.values()} == {"image", "audio", "video"}
    p0 = bytes(out[0]["payload"])
    assert p0[:4] == b"IMG0"
    assert int.from_bytes(p0[4:8], "big") == 64  # width for doc 0
    assert p0[HEADER_BYTES:] == b"an image doc"
    assert out[0]["duration_ms"] is None  # images are not timed media
    assert out[1]["duration_ms"] == 1000 + 37 % 60000


def test_manifest_parses_header_jvm_side(assets):
    m = _by_id(asset_manifest(assets))
    assert m[0]["magic"] == "IMG0" and m[0]["width"] == 64 and m[0]["sample_rate"] is None
    assert m[1]["magic"] == "AUD0" and m[1]["sample_rate"] == 12000 and m[1]["n_channels"] == 2
    assert m[1]["width"] is None
    body = "an audio doc with a longer body of text"
    assert m[1]["body_bytes"] == len(body.encode())
    assert m[1]["byte_len"] == HEADER_BYTES + len(body.encode())
    # checksum = md5 over uppercase-hex payload (portable across engines)
    raw = _by_id(assets)[1]["payload"]
    assert m[1]["checksum"] == hashlib.md5(bytes(raw).hex().upper().encode()).hexdigest()


def test_image_features_matches_manifest(assets):
    feats = _by_id(image_features(assets))
    manifest = _by_id(asset_manifest(assets))
    assert set(feats) == {0, 3}  # only image assets
    for aid, f in feats.items():
        m = manifest[aid]
        assert (f["width"], f["height"], f["body_bytes"], f["checksum"]) == (
            m["width"], m["height"], m["body_bytes"], m["checksum"]
        )
        assert f["aspect_ratio"] == (m["width"] * 1_000_000 // m["height"]) / 1e6


def test_frame_samples(assets):
    frames = sample_video_frames(assets, every_ms=1000).collect()
    by_asset = {}
    for r in frames:
        by_asset.setdefault(r["asset_id"], []).append((r["frame_idx"], r["frame_ms"]))
    assert set(by_asset) == {2, 5}
    for aid, fs in by_asset.items():
        dur = 1000 + aid * 37 % 60000
        assert len(fs) == dur // 1000 + 1
        assert fs[0] == (0, 0) and fs[-1] == (len(fs) - 1, (len(fs) - 1) * 1000)


def test_resize_plan(spark):
    # one small (no-op) and one large (downscale) image
    docs = spark.createDataFrame([(0, "x"), (960, "y")], ["doc_id", "text"])
    plan = _by_id(resize_images(assets_from_documents(docs), max_side=256))
    small = plan[0]  # 64 x 64
    assert small["scale"] == 1.0 and small["target_width"] == 64
    big = plan[960]  # width 64+960=1024, height 64+(960*7)%1024=640
    assert (big["width"], big["height"]) == (1024, 640)
    assert big["target_width"] == 256 and big["target_height"] == 160
    assert max(big["target_width"], big["target_height"]) <= 256


def test_audio_features(assets):
    a = _by_id(audio_features(assets))
    assert set(a) == {1, 4}
    r = a[1]  # sample_rate 12000, 2 channels
    assert r["n_samples"] == r["body_bytes"] // (2 * r["n_channels"])
    assert r["pcm_duration_ms"] == r["n_samples"] * 1000 // r["sample_rate"]


def test_decode_image_stub_clearly_gated():
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow present; stub not exercised")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="Pillow"):
        decode_image(b"IMG0" + b"\x00" * 8)


def test_video_frame_features(assets):
    import hashlib

    from kafkastreamsinteractivequeries_spark.operators.multimodal import (
        video_frame_features,
    )

    feats = video_frame_features(assets).collect()
    assert {r.asset_id for r in feats} == {2, 5}  # video assets only
    payloads = {r["asset_id"]: bytes(r["payload"]) for r in assets.collect()}
    for r in feats:
        want = hashlib.md5(
            (payloads[r.asset_id].hex().upper() + f":{r.frame_ms}").encode()
        ).hexdigest()
        assert r.frame_sig == want
        assert r.luma == int(want[:2], 16) and 0 <= r.luma <= 255


def test_corrupt_blobs_degrade_to_nulls_never_crash(spark):
    """At 100 TB some blobs WILL be truncated, null, or non-ASCII:
    header parsing (JVM) and feature extraction (Python worker) must
    yield null fields for those rows, never throw — a real PNG magic
    (\\x89PNG) previously killed the job with
    MALFORMED_CHARACTER_CODING and a short payload crashed the
    mapInPandas worker."""
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.multimodal import (
        asset_manifest,
        image_features,
    )

    rows = [
        (0, "image", bytearray(b"\x89PNG\r\n\x1a\n"), None),  # real PNG magic, truncated
        (1, "image", bytearray(b"xx"), None),
        (2, "image", None, None),
        (3, "audio", bytearray(b""), 5),
        (4, "image", bytearray(b"IMG0" + (64).to_bytes(4, "big") + (32).to_bytes(4, "big") + b"body"), None),
    ]
    assets = spark.createDataFrame(
        rows, "asset_id long, media_type string, payload binary, duration_ms long"
    )
    man = {r.asset_id: r for r in asset_manifest(assets).collect()}
    assert man[0].magic is None and man[0].width is None and man[0].body_bytes is None
    assert man[1].width is None and man[2].checksum is None
    assert man[3].sample_rate is None and man[3].body_bytes is None
    assert man[4].magic == "IMG0" and man[4].width == 64 and man[4].height == 32

    feats = {r.asset_id: r for r in image_features(assets).collect()}
    assert feats[0].width is None and feats[1].checksum is None
    assert feats[4].width == 64 and feats[4].aspect_ratio == 2.0


# ---------------------------------------------------------------------------
# JPEG marker-walk dimension parser
# ---------------------------------------------------------------------------


def test_jpeg_dimensions_parse_generated_assets(spark, sf_dir):
    from kafkastreamsinteractivequeries_spark.operators.multimodal import (
        jpeg_assets_from_documents,
        jpeg_manifest,
    )
    from kafkastreamsinteractivequeries_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    man = jpeg_manifest(jpeg_assets_from_documents(docs))
    bad = man.filter(
        (F.col("width") != 16 + (F.col("asset_id") * 5) % 2000)
        | (F.col("height") != 16 + (F.col("asset_id") * 11) % 1500)
        | (F.col("n_components") != 3)
        | (F.col("magic") != "JFIF")
        | (
            F.col("media_type")
            != F.when(F.col("asset_id") % 2 == 0, "jpeg_baseline").otherwise(
                "jpeg_progressive"
            )
        )
    ).count()
    assert bad == 0
    # map-only: the parse is a Column fold inside the scan stage
    plan = man._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
    assert "EvalPython" not in plan


def test_jpeg_dimensions_degrade_to_null_on_corrupt_payloads(spark):
    """Corrupt / non-JPEG / truncated / marker-less payloads must yield
    NULL dims, never a job failure (adversarial-input convention)."""
    from kafkastreamsinteractivequeries_spark.operators.multimodal import (
        jpeg_dimensions,
    )

    good = (
        "FFD8"
        "FFE000104A46494600010100000100010000"
        "FFC0001108" + "0040" + "0030" + "03012200021101031101" + "FFD9"
    )
    cases = [
        (1, good),  # control: parses 0x30 x 0x40
        (2, None),  # null payload
        (3, ""),  # empty
        (4, "DEADBEEF"),  # not a JPEG
        (5, "FFD8"),  # SOI only
        (6, "FFD8FFE000"),  # truncated inside segment length
        (7, "FFD8FFE000104A46494600010100000100010000FFD9"),  # no SOF
        (8, "FFD8FFDA000C03010002110311003F00FFC0001108004000300301"),  # SOS first
        (9, "FFD8" + "FFFE0004AAAA" * 20 + good[4:]),  # > max_segments
    ]
    df = spark.createDataFrame(cases, "id int, hexpayload string").select(
        "id", F.unhex("hexpayload").alias("payload")
    )
    out = {
        r["id"]: r
        for r in df.select("id", jpeg_dimensions(F.col("payload")).alias("d"))
        .select("id", "d.width", "d.height", "d.sof_marker")
        .collect()
    }
    # SOF layout: length, precision, HEIGHT u16, WIDTH u16
    assert out[1]["width"] == 0x30 and out[1]["height"] == 0x40
    assert out[1]["sof_marker"] == "FFC0"
    for i in (2, 3, 4, 5, 6, 7, 8, 9):
        assert out[i]["width"] is None and out[i]["height"] is None, i
    # a deeper budget rescues the many-segment file
    deep = (
        df.filter(F.col("id") == 9)
        .select(jpeg_dimensions(F.col("payload"), max_segments=32).alias("d"))
        .collect()[0]["d"]
    )
    assert deep["width"] == 0x30 and deep["height"] == 0x40


@pytest.mark.slow  # >10 s; runs in the full suite
def test_gif_bmp_little_endian_dimension_parse(spark, sf_dir):
    from kafkastreamsinteractivequeries_spark.operators.multimodal import (
        bmp_assets_from_documents,
        gif_assets_from_documents,
        gif_bmp_manifest,
    )
    from kafkastreamsinteractivequeries_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    man = gif_bmp_manifest(
        gif_assets_from_documents(docs), bmp_assets_from_documents(docs)
    )
    gif_bad = man.filter(
        F.col("media_type").startswith("gif")
        & (
            (F.col("width") != 16 + (F.col("asset_id") * 3) % 60000)
            | (F.col("height") != 16 + (F.col("asset_id") * 13) % 50000)
            | (
                F.col("media_type")
                != F.when(F.col("asset_id") % 4 == 0, "gif87a").otherwise("gif89a")
            )
        )
    ).count()
    assert gif_bad == 0
    bmp_bad = man.filter(
        F.col("media_type").startswith("bmp")
        & (
            (F.col("width") != 16 + (F.col("asset_id") * 3) % 30000)
            | (F.col("height") != 16 + (F.col("asset_id") * 7) % 20000)
            | (F.col("n_components") != 3)
            | (
                F.col("media_type")
                != F.when(F.col("asset_id") % 4 == 1, "bmp_topdown").otherwise("bmp")
            )
        )
    ).count()
    assert bmp_bad == 0
    # one row per doc, split by parity; map-only plan on both sides
    assert man.count() == docs.count()
    plan = man._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_gif_bmp_parsers_null_on_corrupt(spark):
    from kafkastreamsinteractivequeries_spark.operators.multimodal import (
        bmp_dimensions,
        gif_dimensions,
    )

    rows = [
        (1, "474946383961" + "1000" + "2000" + "7000003B"),  # GIF89a 16x32 LE
        (2, "474946"),  # truncated signature
        (3, "FFD8FFE0"),  # a JPEG, not a GIF/BMP
        (4, None),
        (5, "424D"),  # BM magic but truncated header
    ]
    df = spark.createDataFrame(rows, "id int, hx string").select(
        "id", F.unhex("hx").alias("payload")
    )
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            gif_dimensions(F.col("payload")).alias("g"),
            bmp_dimensions(F.col("payload")).alias("b"),
        )
        .select("id", "g.width", "g.height", "b.width", "b.height")
        .withColumnRenamed("width", "gw")
        .collect()
    }
    g1 = df.filter(F.col("id") == 1).select(
        gif_dimensions(F.col("payload")).alias("g")
    ).collect()[0]["g"]
    assert g1["width"] == 16 and g1["height"] == 32  # little-endian: 0x0010/0x0020
    assert g1["version"] == "GIF89a"
    for i in (2, 3, 4, 5):
        row = df.filter(F.col("id") == i).select(
            gif_dimensions(F.col("payload")).alias("g"),
            bmp_dimensions(F.col("payload")).alias("b"),
        ).collect()[0]
        assert row["g"]["width"] is None and row["b"]["width"] is None, i


def test_webp_tiff_manifest_parses_real_bytes(spark):
    """WebP (VP8/VP8L/VP8X) and TIFF (both byte orders, SHORT and LONG
    dim types) parse to the generation formulas; corrupt/truncated
    payloads degrade to NULL dims and NULL media_type, never error."""
    from pyspark.sql import functions as F

    from kafkastreamsinteractivequeries_spark.operators.multimodal import (
        tiff_assets_from_documents,
        webp_assets_from_documents,
        webp_tiff_manifest,
    )

    docs = spark.range(0, 60).select(F.col("id").alias("doc_id"))
    out = {
        r["asset_id"]: r
        for r in webp_tiff_manifest(
            webp_assets_from_documents(docs), tiff_assets_from_documents(docs)
        ).collect()
    }
    kinds = set()
    for did, r in out.items():
        if r["media_type"].startswith("webp"):
            assert r["width"] == 16 + (did * 5) % 16000
            assert r["height"] == 16 + (did * 9) % 12000
            assert r["magic"] == "RIFF" and r["n_components"] is None
        else:
            long_t = did % 4 == 3
            assert r["width"] == (
                70000 + (did * 3) % 100000 if long_t else 16 + (did * 3) % 40000
            )
            assert r["height"] == (
                70000 + (did * 11) % 90000 if long_t else 16 + (did * 11) % 30000
            )
            assert r["media_type"] == ("tiff_le" if did % 10 == 1 else "tiff_be")
            assert r["n_components"] == 1
        kinds.add(r["media_type"])
    assert kinds == {"webp_vp8", "webp_vp8l", "webp_vp8x", "tiff_le", "tiff_be"}

    bad = spark.createDataFrame(
        [
            (1, bytearray(b"RIFFxxxxWEBPVP8 junk-no-sync")),
            (2, bytearray(b"RIFFxxxxWAVEVP8 not-webp")),
            (3, bytearray(b"II*\x00trunc")),
            (4, bytearray(b"MM")),
            (5, bytearray(b"garbage")),
        ],
        "asset_id long, payload binary",
    )
    deg = {
        r["asset_id"]: r
        for r in webp_tiff_manifest(
            bad.filter("asset_id <= 2"), bad.filter("asset_id >= 3")
        ).collect()
    }
    for r in deg.values():
        assert r["width"] is None and r["height"] is None
    # 'II*\0' IS a well-formed TIFF header — truncation past it keeps
    # the type but degrades dims; headerless garbage loses both
    assert deg[3]["media_type"] == "tiff_le"
    for aid in (1, 2, 4, 5):
        assert deg[aid]["media_type"] is None

    # the whole manifest is map-only: no shuffle, no Python
    plan = (
        webp_tiff_manifest(
            webp_assets_from_documents(docs), tiff_assets_from_documents(docs)
        )._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_image_dhash_perceptual_property(spark):
    """dHash from real decoded pixels: re-encoding noise / small pixel
    edits keep most bits (small hamming), unrelated images differ in
    many; quarters pack the same bits big-endian."""
    import numpy as np

    from kafkastreamsinteractivequeries_spark.functions.codecs import encode_png
    from kafkastreamsinteractivequeries_spark.operators.multimodal import (
        image_dhash,
    )

    rng = np.random.RandomState(7)
    base = rng.randint(0, 256, size=(32, 32, 3)).astype(np.uint8)
    tweaked = base.copy()
    tweaked[5, 5] = [0, 0, 0]  # one-pixel edit
    other = rng.randint(0, 256, size=(32, 32, 3)).astype(np.uint8)
    assets = spark.createDataFrame(
        [
            (1, bytearray(encode_png(base))),
            (2, bytearray(encode_png(tweaked))),
            (3, bytearray(encode_png(other))),
        ],
        "asset_id long, payload binary",
    )
    out = {r["asset_id"]: r for r in image_dhash(assets).collect()}
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    assert len(out[1]["dhash"]) == 64 and set(out[1]["dhash"]) <= {"0", "1"}
    assert ham(out[1]["dhash"], out[2]["dhash"]) <= 4  # near-identical
    assert ham(out[1]["dhash"], out[3]["dhash"]) >= 16  # unrelated
    # quarters == the bit string, 16 bits big-endian each
    bits = out[1]["dhash"]
    for k, q in enumerate(("q0", "q1", "q2", "q3")):
        assert out[1][q] == int(bits[k * 16:(k + 1) * 16], 2)


def test_image_near_duplicates(spark):
    """dHash near-dup detection end-to-end: a one-pixel edit of a real
    image is found within the hamming bound, unrelated images are not;
    exact recall vs brute-force hamming (pigeonhole, max_hamming <
    chunks)."""
    import numpy as np

    from kafkastreamsinteractivequeries_spark.functions.codecs import encode_png
    from kafkastreamsinteractivequeries_spark.operators.multimodal import (
        image_dhash,
        image_near_duplicates,
    )

    rng = np.random.RandomState(11)
    imgs = {}
    base = rng.randint(0, 256, size=(24, 24, 3)).astype(np.uint8)
    imgs[1] = base
    tweak = base.copy(); tweak[3, 3] = [255, 255, 255]
    imgs[2] = tweak
    for i in range(3, 9):
        imgs[i] = rng.randint(0, 256, size=(24, 24, 3)).astype(np.uint8)
    assets = spark.createDataFrame(
        [(i, bytearray(encode_png(a))) for i, a in imgs.items()],
        "asset_id long, payload binary",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in image_near_duplicates(assets, max_hamming=6).collect()
    }
    assert (1, 2) in got and got[(1, 2)] <= 6
    # exact recall: brute-force hamming over all signature pairs
    sigs = {r["asset_id"]: r["dhash"] for r in image_dhash(assets).collect()}
    ids = sorted(sigs)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if sum(x != y for x, y in zip(sigs[a], sigs[b])) <= 6
    }
    assert set(got) == want


def test_mp3_flac_manifest_matches_python_reference(spark):
    """MP3 frame-header + FLAC STREAMINFO parsing: generate→parse
    round-trips pinned against independent Python byte construction
    (ISO 11172-3 tables, FLAC bit packing), checksums included;
    corrupt payloads degrade to nulls."""
    import hashlib

    from kafkastreamsinteractivequeries_spark.operators import multimodal as M

    docs = spark.range(0, 60).withColumnRenamed("id", "doc_id")

    def py_mp3(i):
        out = b""
        if i % 4 == 2:
            ts = i % 17
            out += b"ID3" + bytes([3, 0, 0, 0, 0, 0, ts]) + b"\x54" * ts
        br, sr_i, pad, ch = 1 + i % 14, i % 3, i % 2, i % 4
        out += bytes([0xFF, 0xFB, br * 16 + sr_i * 4 + pad * 2, ch * 64])
        return out + b"\xAA" * (1 + i % 7)

    def py_flac(i):
        rates = [8000, 16000, 22050, 24000, 32000, 44100, 48000]
        sr, ch = rates[i % 7], 1 + i % 2
        total = 1000 + (i * 31) % 100000
        packed = bytes(
            [sr >> 12, (sr >> 4) & 255, ((sr & 15) << 4) | ((ch - 1) << 1), 0xF0]
        )
        return (
            b"fLaC" + bytes([0x80, 0, 0, 0x22]) + (4096).to_bytes(2, "big") * 2
            + b"\x00" * 6 + packed + (total & 0xFFFFFFFF).to_bytes(4, "big")
            + b"\x00" * 16
        )

    BR = [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320]
    RT = [44100, 48000, 32000]
    mm = M.mp3_flac_manifest(
        M.mp3_assets_from_documents(docs), M.flac_assets_from_documents(docs)
    )
    rows = {(r["media_type"], r["asset_id"]): r for r in mm.collect()}
    assert len(rows) == 24
    for i in range(60):
        if i % 5 == 2:
            r, p = rows[("mp3", i)], py_mp3(i)
            br, sr = BR[i % 14], RT[i % 3]
            assert r["byte_len"] == len(p)
            assert r["body_bytes"] == 144000 * br // sr + i % 2
            assert r["sample_rate"] == sr
            assert r["n_channels"] == (1 if i % 4 == 3 else 2)
            assert r["duration_ms"] == 1152000 // sr
            assert r["magic"] == ("ID3" if i % 4 == 2 else "MPEG")
            assert r["checksum"] == hashlib.md5(p.hex().upper().encode()).hexdigest()
        if i % 5 == 3:
            r, p = rows[("flac", i)], py_flac(i)
            rates = [8000, 16000, 22050, 24000, 32000, 44100, 48000]
            sr, total = rates[i % 7], 1000 + (i * 31) % 100000
            assert r["byte_len"] == len(p)
            assert r["sample_rate"] == sr
            assert r["n_channels"] == 1 + i % 2
            assert r["duration_ms"] == total * 1000 // sr
            assert r["n_samples"] == total
            assert r["checksum"] == hashlib.md5(p.hex().upper().encode()).hexdigest()

    corrupt = spark.createDataFrame(
        [
            (1, bytearray(b"garbage")),
            (2, bytearray(b"\xff\xfb")),  # sync but truncated
            (3, bytearray(b"fLaC\x80")),  # magic but truncated
            (4, bytearray(b"")),
        ],
        "asset_id long, payload binary",
    )
    for r in M.mp3_flac_manifest(corrupt, corrupt).collect():
        assert r["sample_rate"] is None and r["duration_ms"] is None


def test_image_phash_spectrum_and_noise_robustness(spark):
    """pHash: (1) the DCT spectrum replays arithmetically from raw
    pixels (independent pure-Python DCT on the same fixed-point
    table); (2) brightness shifts without clipping leave the hash
    unchanged (AC coefficients are shift-invariant); (3) per-pixel
    high-frequency noise flips FEWER pHash bits than dHash bits —
    the low-frequency robustness dHash lacks."""
    import numpy as np

    from kafkastreamsinteractivequeries_spark.functions.codecs import encode_png
    from kafkastreamsinteractivequeries_spark.operators.multimodal import (
        dct_table,
        image_dhash,
        image_phash,
    )

    rng = np.random.RandomState(7)
    base = (rng.rand(24, 20, 3) * 160 + 20).astype(np.uint8)  # head-room
    bright = np.clip(base.astype(np.int64) + 10, 0, 255).astype(np.uint8)
    noise = rng.choice([-2, 2], size=base.shape)
    noisy = np.clip(base.astype(np.int64) + noise, 0, 255).astype(np.uint8)

    assets = spark.createDataFrame(
        [
            (1, bytearray(encode_png(base))),
            (2, bytearray(encode_png(bright))),
            (3, bytearray(encode_png(noisy))),
        ],
        "asset_id long, payload binary",
    )
    ph = {r["asset_id"]: r for r in image_phash(assets).collect()}
    dh = {r["asset_id"]: r["dhash"] for r in image_dhash(assets).collect()}

    # (1) independent replay of asset 1's spectrum
    luma = (
        299 * base[:, :, 0].astype(np.int64)
        + 587 * base[:, :, 1].astype(np.int64)
        + 114 * base[:, :, 2].astype(np.int64)
    ) // 1000
    h, w = luma.shape
    grid = [[luma[y * h // 32][x * w // 32] for x in range(32)] for y in range(32)]
    c = dct_table(8, 32)
    f = [
        [
            sum(c[u][y] * c[v][x] * grid[y][x] for y in range(32) for x in range(32))
            for v in range(8)
        ]
        for u in range(8)
    ]
    med = sorted((f[u][v], u, v) for u in range(8) for v in range(8))[31][0]
    expect = "".join(
        "1" if f[u][v] > med else "0" for u in range(8) for v in range(8)
    )
    assert ph[1]["phash"] == expect
    assert ph[1]["width"] == 20 and ph[1]["height"] == 24

    # (2) brightness shift: AC terms identical, hash identical
    assert ph[2]["phash"] == ph[1]["phash"]

    # (3) high-frequency noise: pHash strictly more stable than dHash
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))  # noqa: E731
    d_ph = ham(ph[1]["phash"], ph[3]["phash"])
    d_dh = ham(dh[1], dh[3])
    assert d_ph < d_dh, (d_ph, d_dh)
    assert d_ph <= 8

    # partitioning invariance
    again = {
        r["asset_id"]: r["phash"]
        for r in image_phash(assets.repartition(3)).collect()
    }
    assert again == {k: v["phash"] for k, v in ph.items()}


def test_wav_goertzel_band_energy(spark):
    """Goertzel band energies: a pure sine at DFT bin k concentrates
    its energy at bin k (>=100x every other probed band), DC lands at
    bin 0... (closed form: silence = all zeros), the recurrence
    replays in pure-integer reference code, and runs are
    partitioning-invariant."""
    import math

    import numpy as np

    from kafkastreamsinteractivequeries_spark.functions.codecs import (
        encode_wav_pcm16,
    )
    from kafkastreamsinteractivequeries_spark.operators.multimodal import (
        goertzel_table,
        wav_goertzel_band_energy,
    )

    frame = 256
    n = frame * 2
    t = np.arange(n)
    sine8 = (10_000 * np.sin(2 * np.pi * 8 * t / frame)).astype(np.int16)
    silence = np.zeros(n, dtype=np.int16)
    # stereo: channel 0 = sine at bin 4, channel 1 = loud junk that
    # must be IGNORED (channel-0 convention)
    st = np.zeros(2 * n, dtype=np.int16)
    st[0::2] = (8_000 * np.sin(2 * np.pi * 4 * t / frame)).astype(np.int16)
    st[1::2] = 30_000

    assets = spark.createDataFrame(
        [
            (1, bytearray(encode_wav_pcm16(sine8, 16000))),
            (2, bytearray(encode_wav_pcm16(silence, 16000))),
            (3, bytearray(encode_wav_pcm16(st, 16000, n_channels=2))),
        ],
        "asset_id long, payload binary",
    )
    bins = (1, 2, 4, 8, 16, 32)
    out = wav_goertzel_band_energy(assets, bins=bins, frame=frame).collect()
    by = {}
    for r in out:
        by.setdefault((r["asset_id"], r["frame_idx"]), {})[r["bin"]] = r["energy"]

    # sine at bin 8: that band dominates every other by >= 100x
    for w in (0, 1):
        e = by[(1, w)]
        assert all(e[8] >= 100 * max(e[k], 1) for k in bins if k != 8), e
    # silence: all zero
    assert all(v == 0 for v in by[(2, 0)].values())
    # stereo: channel-0 sine at bin 4 dominates; the channel-1 junk
    # never leaks in
    e3 = by[(3, 0)]
    assert all(e3[4] >= 100 * max(e3[k], 1) for k in bins if k != 4), e3
    # freq_hz = bin * rate // frame
    hz = {r["bin"]: r["freq_hz"] for r in out if r["asset_id"] == 1}
    assert hz[8] == 8 * 16000 // frame == 500

    # pure-integer reference replay of (asset 1, window 0, bin 8)
    coefs = goertzel_table(bins, frame)
    c = coefs[8]
    s1 = s2 = 0
    for x in sine8[:frame]:
        s0 = int(x) + ((c * s1) >> 14) - s2
        s2, s1 = s1, s0
    power = s1 * s1 + s2 * s2 - ((c * s1 * s2) >> 14)
    assert by[(1, 0)][8] == power // frame
    # table sanity: c_0 = 2*2^14 exactly, c_{N/4} = 0
    assert goertzel_table((0, frame // 4), frame) == {0: 1 << 15, frame // 4: 0}

    # partitioning invariance
    again = {
        (r["asset_id"], r["frame_idx"], r["bin"]): r["energy"]
        for r in wav_goertzel_band_energy(
            assets.repartition(3), bins=bins, frame=frame
        ).collect()
    }
    assert again == {
        (r["asset_id"], r["frame_idx"], r["bin"]): r["energy"] for r in out
    }


def test_image_caption_dedup_and_reuse(spark):
    """Pair dedup: identical (pixels, caption) collapse; same image
    with a NEW caption survives; same caption on a different image
    survives."""
    import numpy as np

    from kafkastreamsinteractivequeries_spark.functions.codecs import encode_png
    from kafkastreamsinteractivequeries_spark.operators.multimodal import (
        image_caption_dedup,
    )

    rng = np.random.RandomState(3)
    img_a = (rng.rand(16, 16, 3) * 255).astype(np.uint8)
    img_b = (rng.rand(16, 16, 3) * 255).astype(np.uint8)
    pa, pb = bytearray(encode_png(img_a)), bytearray(encode_png(img_b))
    rows = [
        (1, pa, "a cat on a mat"),
        (2, pa, "A  cat ON a mat"),   # dup after normalization
        (3, pa, "a different caption"),
        (4, pb, "a cat on a mat"),    # same caption, different image
        (5, pb, "a cat on a mat"),    # dup of 4
    ]
    pairs = spark.createDataFrame(
        rows, "pair_id long, payload binary, caption string"
    )
    kept = {r["pair_id"]: r for r in image_caption_dedup(pairs).collect()}
    assert set(kept) == {1, 3, 4}
    assert kept[1]["n_dups"] == 2 and kept[4]["n_dups"] == 2
    assert kept[3]["n_dups"] == 1

    # partitioning invariance
    again = {
        r["pair_id"]: r["n_dups"]
        for r in image_caption_dedup(pairs.repartition(3)).collect()
    }
    assert again == {k: v["n_dups"] for k, v in kept.items()}


def test_image_pair_quality_gates_bitmask(spark):
    """LAION-style pair gates: each failure bit fires on a closed-form
    fixture and the pass row clears all bits; integer aspect/permille
    arithmetic replayed by hand."""
    import numpy as np

    from kafkastreamsinteractivequeries_spark.functions.codecs import encode_png
    from kafkastreamsinteractivequeries_spark.operators.multimodal import (
        image_pair_quality_gates,
    )

    rng = np.random.RandomState(7)

    def png(w, h, flat=None):
        if flat is not None:
            arr = np.full((h, w, 3), flat, dtype=np.uint8)
        else:
            arr = (rng.rand(h, w, 3) * 255).astype(np.uint8)
        return bytearray(encode_png(arr))

    rows = [
        (1, png(16, 16), "a perfectly good caption here"),  # pass
        (2, png(4, 16), "a perfectly good caption here"),   # bit0: w<8 (+bit1 aspect 4:16)
        (3, png(32, 8), "a perfectly good caption here"),   # bit1: aspect 4:1 > 2:1
        (4, png(16, 16, flat=128), "a good caption here"),  # bit2+bit3: 1 value, 1000 share
        (5, png(16, 16), "short one"),                      # bit4: 2 tokens < 3
        (6, png(16, 16), None),                             # bit4: NULL caption
    ]
    pairs = spark.createDataFrame(
        rows, "pair_id long, payload binary, caption string"
    )
    out = {r["pair_id"]: r for r in image_pair_quality_gates(pairs).collect()}
    assert out[1]["failure_mask"] == 0 and out[1]["passed"]
    assert out[2]["failure_mask"] & 1 and not out[2]["passed"]
    assert out[2]["failure_mask"] & 2  # 4x16 is also over the 2:1 cap
    assert out[3]["failure_mask"] == 2
    assert out[4]["failure_mask"] == 4 + 8
    assert out[4]["n_distinct_vals"] == 1
    assert out[4]["top_share_permille"] == 1000
    assert out[5]["failure_mask"] == 16 and out[5]["caption_tokens"] == 2
    assert out[6]["failure_mask"] == 16 and out[6]["caption_tokens"] == 0
    # random 16x16x3 image: 768 bytes over <=256 values, diverse
    assert out[1]["n_distinct_vals"] >= 16
    # composition: the semi-join keeps exactly the passing pair
    kept = pairs.join(
        image_pair_quality_gates(pairs).filter("passed"), "pair_id", "left_semi"
    )
    assert [r["pair_id"] for r in kept.collect()] == [1]


def test_image_caption_near_duplicates_hybrid_matrix(spark):
    """Collapse/survive matrix for the fuzzy pair tier: same image +
    paraphrased caption collapses; reused caption on a DIFFERENT image
    is proposed by the caption LSH but rejected by the dHash check;
    unrelated captions never pair."""
    import numpy as np

    from kafkastreamsinteractivequeries_spark.functions.codecs import encode_png
    from kafkastreamsinteractivequeries_spark.operators.multimodal import (
        image_caption_near_duplicates,
    )

    rng = np.random.RandomState(11)
    img_a = (rng.rand(16, 16, 3) * 255).astype(np.uint8)
    img_b = (rng.rand(16, 16, 3) * 255).astype(np.uint8)
    pa, pb = bytearray(encode_png(img_a)), bytearray(encode_png(img_b))
    cap = "a brown cat sitting on a woven mat in the sun"
    cap_para = "a brown cat sitting on a woven mat in the sun today"
    rows = [
        (1, pa, cap),
        (2, pa, cap_para),   # same image, near-identical caption -> collapse
        (3, pb, cap),        # same caption, different image -> survive
        (4, pb, "completely unrelated text about spark plans"),
    ]
    pairs = spark.createDataFrame(
        rows, "pair_id long, payload binary, caption string"
    )
    out = image_caption_near_duplicates(
        pairs, caption_threshold=0.5, max_hamming=6
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in got
    # (1,3)/(2,3) share the caption but not the image: hamming rejects
    assert (1, 3) not in got and (2, 3) not in got
    assert all(r["hamming"] <= 6 and r["caption_jaccard"] >= 0.5 for r in out)
    for r in out:
        if (r["id_a"], r["id_b"]) == (1, 2):
            assert r["hamming"] == 0  # identical pixels


def test_png_fused_features_matches_single_pass_operators(spark):
    """The one-decode fused table must be column-for-column identical to
    the five single-pass operators it replaces (shared per-array
    helpers; this pins the fusion against drift)."""
    from kafkastreamsinteractivequeries_spark.operators.multimodal import (
        image_dhash,
        image_phash,
        png_assets_from_documents,
        png_fused_features,
        png_pixel_features,
        png_resize_features,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(12)], ["doc_id", "text"]
    )
    assets = png_assets_from_documents(docs).localCheckpoint()
    fused = {r["asset_id"]: r.asDict() for r in png_fused_features(assets).collect()}

    for r in png_pixel_features(assets).collect():
        f = fused[r["asset_id"]]
        for c in ("width", "height", "channels", "pixel_mean", "pixel_min", "pixel_max"):
            assert f[c] == r[c], (r["asset_id"], c)
    for r in png_resize_features(assets, max_side=8).collect():
        f = fused[r["asset_id"]]
        assert (f["target_width"], f["target_height"]) == (r["target_width"], r["target_height"])
        for c in ("pixel_mean", "pixel_min", "pixel_max"):
            assert f["r_" + c] == r[c], (r["asset_id"], c)
    for r in image_dhash(assets).collect():
        f = fused[r["asset_id"]]
        assert f["dhash"] == r["dhash"]
        assert [f[f"dq{k}"] for k in range(4)] == [r[f"q{k}"] for k in range(4)]
    for r in image_phash(assets).collect():
        f = fused[r["asset_id"]]
        assert f["phash"] == r["phash"]
        assert [f[f"pq{k}"] for k in range(4)] == [r[f"q{k}"] for k in range(4)]
    # gate stats: n_distinct_vals / top_share_permille replayed below
    import numpy as np

    from kafkastreamsinteractivequeries_spark.functions.codecs import decode_png

    for a in assets.collect():
        arr = decode_png(bytes(a["payload"]))
        counts = np.bincount(arr.ravel(), minlength=256)
        f = fused[a["asset_id"]]
        assert f["n_distinct_vals"] == int((counts > 0).sum())
        assert f["top_share_permille"] == int(counts.max()) * 1000 // arr.size
