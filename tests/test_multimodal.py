"""Multimodal tests: binary columns, metadata sniffing, REAL PNG
decode (stdlib codec), mapInPandas feature extraction, resize, frame
sampling."""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feast_hive_spark.functions import png
from feast_hive_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, b"\x89PNG\r\n\x1a\n" + b"x" * 100),
        (2, b"\xff\xd8\xff\xe0" + b"y" * 50),
        (3, b"RIFF" + b"z" * 20),
        (4, b"plain bytes"),
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_attach_metadata(media):
    got = M.attach_metadata(media, "payload", ["media_id"]).toPandas()
    by_id = got.set_index("media_id")
    assert by_id.loc[1, "media_type"] == "image/png"
    assert by_id.loc[2, "media_type"] == "image/jpeg"
    assert by_id.loc[3, "media_type"] == "riff"
    assert by_id.loc[4, "media_type"] == "application/octet-stream"
    assert by_id.loc[1, "n_bytes"] == 108
    assert by_id.loc[4, "content_md5"] == hashlib.md5(b"plain bytes").hexdigest()


# ------------------------------------------------------------ real PNG decode


def _png_media(spark):
    rng = np.random.RandomState(11)
    rows = []
    for i, shape in [(1, (10, 7)), (2, (4, 4, 3)), (3, (6, 3, 4))]:
        arr = rng.randint(0, 256, size=shape, dtype=np.uint8)
        rows.append((i, png.encode(arr), arr))
    df = spark.createDataFrame(
        [(i, p) for i, p, _ in rows], "media_id long, payload binary"
    )
    return df, {i: a for i, _, a in rows}


def test_png_codec_round_trip():
    rng = np.random.RandomState(3)
    for ch in (1, 2, 3, 4):
        a = rng.randint(0, 256, size=(9, 5, ch), dtype=np.uint8)
        dec = png.decode(png.encode(a))
        assert dec.shape == a.shape and (dec == a).all()


def test_png_decode_all_filters():
    """Decoder handles all five scanline filters (our encoder only
    emits filter 0, so build filtered scanlines with an independent
    reference implementation)."""
    import struct
    import zlib

    def apply_filter(f, cur, prev, ch):
        out = np.zeros_like(cur, dtype=np.int64)
        for x in range(len(cur)):
            a = int(cur[x - ch]) if x >= ch else 0
            b = int(prev[x])
            c = int(prev[x - ch]) if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[x] = (int(cur[x]) - pred) & 0xFF
        return out.astype(np.uint8)

    def chunk(t, d):
        return (
            struct.pack(">I", len(d)) + t + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(5, 6, 3), dtype=np.uint8)
    h, w, ch = img.shape
    rows = img.reshape(h, w * ch)
    raw, prev = b"", np.zeros(w * ch, dtype=np.uint8)
    for r in range(h):
        f = r % 5
        raw += bytes([f]) + apply_filter(f, rows[r], prev, ch).tobytes()
        prev = rows[r]
    data = (
        png.SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert (png.decode(data) == img).all()


def test_image_pixel_stats_exact(spark):
    df, arrays = _png_media(spark)
    got = M.image_pixel_stats(df, "payload", "media_id").toPandas()
    for _, r in got.iterrows():
        a = arrays[r.media_id]
        ch = 1 if a.ndim == 2 else a.shape[2]
        assert (r.width, r.height, r.n_channels) == (a.shape[1], a.shape[0], ch)
        assert r.sum_pixel == int(a.astype(np.int64).sum())
        assert r.min_pixel == int(a.min()) and r.max_pixel == int(a.max())


def test_resize_images_real_png(spark):
    df, arrays = _png_media(spark)
    got = M.resize_images(
        df, "payload", "media_id", width=3, height=2, allow_fake=False
    ).toPandas()
    for _, r in got.iterrows():
        a = arrays[r.media_id]
        if a.ndim == 2:
            a = a[:, :, None]
        thumb = png.decode(bytes(r.thumb))
        assert thumb.shape == (2, 3, a.shape[2])
        ys = (np.arange(2) * a.shape[0]) // 2
        xs = (np.arange(3) * a.shape[1]) // 3
        assert (thumb == a[ys][:, xs]).all()


def test_sample_frames(spark):
    vids = spark.createDataFrame(
        [(1, 25), (2, 3), (3, 0)], "video_id long, n_frames long"
    )
    got = M.sample_frames(vids, "video_id", "n_frames", every_n=10).toPandas()
    by_vid = got.groupby("video_id").frame_index.apply(list).to_dict()
    assert by_vid[1] == [0, 10, 20]
    assert by_vid[2] == [0]
    assert by_vid[3] == [0]


def test_resize_images_plumbing(media):
    """Resize plumbing: schema, deterministic fake payload sized
    exactly width*height, repeatable across runs."""
    got = M.resize_images(media, "payload", "media_id", width=8, height=4).toPandas()
    assert set(got.columns) == {"media_id", "thumb", "width", "height", "n_bytes_in"}
    assert (got.width == 8).all() and (got.height == 4).all()
    assert all(len(t) == 32 for t in got.thumb)  # 8*4 bytes per thumb
    by_id = got.set_index("media_id")
    assert by_id.loc[1, "n_bytes_in"] == 108
    again = M.resize_images(media, "payload", "media_id", width=8, height=4).toPandas()
    a = {r.media_id: bytes(r.thumb) for r in got.itertuples()}
    b = {r.media_id: bytes(r.thumb) for r in again.itertuples()}
    assert a == b  # deterministic

    # strict mode raises at execution for payloads no codec handles
    if not M._HAS_PIL:
        with pytest.raises(Exception, match="no codec for this payload"):
            M.resize_images(media, "payload", "media_id", allow_fake=False).collect()


def test_image_ahash_bands_and_pairs(spark):
    """aHash: identical images pair at hamming 0, a lightly-perturbed
    copy pairs within the threshold, an unrelated image doesn't pair;
    brightness-shift invariance is part of the hash's contract."""
    import numpy as np
    import pandas as pd

    from feast_hive_spark.functions import png
    from feast_hive_spark.operators import multimodal as M

    rng = np.random.RandomState(3)
    base = rng.randint(0, 256, size=(16, 16), dtype=np.uint8)
    perturbed = base.copy()
    perturbed[0, 0] ^= 4  # tiny localized change
    other = rng.randint(0, 256, size=(16, 16), dtype=np.uint8)
    rows = [
        (1, png.encode(base)),
        (2, png.encode(base)),          # exact duplicate
        (3, png.encode(perturbed)),     # near duplicate
        (4, png.encode(other)),         # unrelated
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "payload"])
    )
    bands = M.image_ahash_bands(df, "payload", "doc_id")
    bp = bands.toPandas().set_index("doc_id")
    assert (bp.loc[1] == bp.loc[2]).all()
    assert (bp[["b0", "b1", "b2", "b3"]] < 2**16).all().all()

    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in M.ahash_near_dup_pairs(bands, "doc_id", max_hamming=6)
        .collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 6
    assert not any(4 in p for p in pairs)


def test_decode_status_survives_truncated_real_payloads(spark):
    """ADVICE r4: truncated/malformed JPEG/GIF/WAV payloads used to
    escape the ValueError fallback chain as IndexError/struct.error
    and crash the whole Spark task. With codec-boundary
    normalization every corrupt payload is answered, and the ones
    no codec can read report 'gated' (the stub boundary)."""
    from feast_hive_spark.functions import gif, jpeg, wav

    img = np.full((16, 16, 3), [10, 200, 90], dtype=np.uint8)
    full_j = jpeg.encode(img, qluma=2, qchroma=4)
    full_g = gif.encode(img)
    full_w = wav.encode(np.zeros((64, 1), dtype=np.int16), 8000)
    # (payload, must_be_gated): tail cuts can still decode
    # legitimately (JPEG minus EOI has a complete scan; WAV tolerates
    # a truncated data chunk by design), so only the cuts that land
    # inside headers/entropy data are guaranteed-undecodable
    cases = [
        (full_j[:6], True),
        (full_j[: len(full_j) // 3], True),
        (full_j[:-3], False),
        (full_g[:6], True),
        (full_g[: len(full_g) // 3], True),
        (full_g[:-3], False),
        (full_w[:6], True),
        (full_w[: len(full_w) // 3], False),  # partial data chunk ok
        (full_w[:-3], False),
    ]
    # bad SOS component id (the reported StopIteration repro)
    bad = bytearray(full_j)
    i = bad.find(b"\xff\xda")
    bad[i + 5] = 0x77
    cases.append((bytes(bad), True))
    rows = [(mid, payload) for mid, (payload, _) in enumerate(cases)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = M.decode_status(df, "payload", "media_id").toPandas()
    assert len(got) == len(rows)  # no task crash, every row answered
    by_id = got.set_index("media_id")["codec"].to_dict()
    for mid, (_, must_gate) in enumerate(cases):
        if must_gate:
            assert by_id[mid] == "gated", f"mid={mid} must not decode"


def test_decode_status_all_families(spark):
    from feast_hive_spark.functions import gif, jpeg, wav

    img = (np.arange(48, dtype=np.int64) % 256).astype(np.uint8).reshape(6, 8)
    idx = (np.arange(30, dtype=np.int64) % 8).astype(np.uint8).reshape(5, 6)
    pal = np.stack([np.arange(8) * 31 % 256] * 3, 1).astype(np.uint8)
    samples = (np.arange(64, dtype=np.int64) * 131 % 65536 - 32768).reshape(64, 1)
    rows = [
        (0, png.encode(img)),
        (1, jpeg.encode(np.full((8, 8, 1), 99, np.uint8), qluma=1)),
        (2, gif.encode(idx, palette=pal)),
        (3, wav.encode(samples, sample_rate=8000, width=2)),
        (4, b"opaque non-media payload"),
        (5, b"\xff\xd8\xff\xe0" + b"\x00garbage" * 3),  # corrupt jpeg
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = M.decode_status(df, "payload", "doc_id").toPandas()
    by_id = got.set_index("doc_id")["codec"].to_dict()
    assert by_id == {0: "png", 1: "jpeg", 2: "gif", 3: "wav", 4: "gated", 5: "gated"}
