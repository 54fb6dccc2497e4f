"""Multimodal (image/audio/video) column operators (SURVEY §7).

Media are opaque ``binary`` columns plus typed metadata. The Spark
plumbing — schemas, Arrow-batched ``mapInPandas`` iteration, batch
shapes, partition behavior — is real and tested, and since round 3 the
image path is really decoded too:

- **PNG decode/encode is native** via the stdlib codec in
  ``functions/png.py`` (zlib+struct; no PIL needed) — pixel stats,
  hashing and resize operate on real pixels for PNG payloads;
- **baseline JPEG decode/encode is native too** (``functions/
  jpeg.py``: SOF0, 8-bit, grayscale/YCbCr, 4:4:4/4:2:2/4:2:0,
  restart markers); progressive/arithmetic JPEGs fall through the
  same gate as the formats below;
- **GIF decode/encode is native** (``functions/gif.py``: LZW,
  global/local palettes, interlace; first frame of animations);
- **integer-PCM WAV decode/encode is native** (``functions/wav.py``:
  8/16/32-bit, any channel count; float-PCM/ADPCM gated) —
  ``audio_amplitude_stats`` runs on real samples;
- the remaining formats use PIL if importable; otherwise
  ``resize_images(allow_fake=True)`` switches those payloads to a
  *deterministic fake* thumbnail (an md5 keystream of the bytes) so
  the pipeline shape is exercised end-to-end, and ``allow_fake=False``
  raises ``NotImplementedError`` at execution — the clearly-marked
  remaining stub boundary; ``decode_status`` reports which payloads
  would take it.

Scale notes: decode is the textbook Pandas-UDF case — pure Python
per-item work, Arrow-batched, embarrassingly parallel. The operators
keep media bytes OUT of shuffles: metadata/features are computed in a
map-only stage and the binary column is dropped before anything wide.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feast_hive_spark.functions import gif, jpeg, png

try:  # pragma: no cover - not present in this container
    from PIL import Image  # noqa: F401

    _HAS_PIL = True
except Exception:  # noqa: BLE001
    _HAS_PIL = False


#: per-task codec-memo size bound (r13, guide §4): identical payloads
#: within a task encode/decode once (exact-collapse applied to media
#: bytes); past the cap new payloads process uncached. In-memory only,
#: per task — nothing persists across tasks or runs.
_CODEC_MEMO_CAP = 65536

#: r14 (r13 ADVICE #1): byte budget for memos whose VALUES are
#: payload-sized (resize thumbnails) — the entry cap bounds count, not
#: bytes, so a task over mostly-distinct large media could otherwise
#: pin a payload-sized value per distinct input for the task lifetime.
_CODEC_MEMO_BYTES = 64 << 20


def _memo_key(payload: bytes) -> bytes:
    """16-byte blake2b digest key for the per-task codec memos (r14,
    r13 ADVICE #1): raw-bytes keys pinned every DISTINCT payload in
    Python worker memory for the task's lifetime (the dict held the
    only live reference once the Arrow batch was dropped); the digest
    keeps the memo's key footprint at 16 bytes per entry regardless of
    payload size."""
    return hashlib.blake2b(payload, digest_size=16).digest()


# magic-byte prefixes -> sniffed media type (JVM-side, no UDF)
_MAGIC = {
    "89504e47": "image/png",
    "ffd8ff": "image/jpeg",
    "47494638": "image/gif",
    "52494646": "riff",  # wav/avi container
    "664c6143": "audio/flac",
    "00000018": "video/mp4",
    "00000020": "video/mp4",
}


def attach_metadata(df: DataFrame, binary_col: str, id_cols: list[str]) -> DataFrame:
    """Typed metadata for an opaque binary column — size, content md5,
    magic-byte sniffed type. Pure built-in functions: stays in
    whole-stage codegen, no Python round trip."""
    hexhead = F.lower(F.hex(F.substring(F.col(binary_col), 1, 4)))
    sniff = F.lit("application/octet-stream")
    for magic, mime in _MAGIC.items():
        sniff = F.when(hexhead.startswith(magic), F.lit(mime)).otherwise(sniff)
    return df.select(
        *id_cols,
        F.length(F.col(binary_col)).alias("n_bytes"),
        F.md5(F.col(binary_col)).alias("content_md5"),
        sniff.alias("media_type"),
    )


def _decode_image(payload: bytes) -> np.ndarray | None:
    """(H, W, C) uint8 pixels, or None if no available codec handles
    the payload (the per-payload stub boundary)."""
    try:
        return png.decode(payload)
    except ValueError:
        pass
    try:
        return jpeg.decode(payload)
    except ValueError:
        pass
    try:
        return gif.decode(payload)
    except ValueError:
        pass
    if _HAS_PIL:  # pragma: no cover - PIL absent in container
        import io

        try:
            return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
        except Exception:  # noqa: BLE001
            return None
    return None


def image_pixel_stats(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """Exact per-image pixel statistics from a REAL decode — the
    oracle-gated proof that the PNG codec round-trips: width, height,
    channels, integer pixel sum, min, max. All-integer outputs make the
    cross-engine comparison exact. Strict: a payload no codec handles
    raises (callers filter to image rows first)."""
    schema = (
        f"{id_col} long, width long, height long, n_channels long, "
        "sum_pixel long, min_pixel long, max_pixel long"
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-task content-addressed memo (r13, guide §4): identical
        # payloads decode once per task — the exact-collapse idea
        # applied to media bytes (real corpora repeat logos/thumbnails
        # exactly as text corpora repeat documents). Bounded: past the
        # cap new payloads decode uncached; nothing persists across
        # tasks or runs.
        memo: dict[bytes, tuple] = {}
        for pdf in batches:
            rows = []
            for i, b in zip(pdf[id_col], pdf[binary_col]):
                payload = b if isinstance(b, bytes) else bytes(b)
                mk = _memo_key(payload)
                st = memo.get(mk)
                if st is None:
                    img = _decode_image(payload)
                    if img is None:
                        raise ValueError(
                            f"undecodable image payload for {id_col}={i}"
                        )
                    st = (
                        img.shape[1],
                        img.shape[0],
                        img.shape[2],
                        int(img.astype(np.int64).sum()),
                        int(img.min()),
                        int(img.max()),
                    )
                    if len(memo) < _CODEC_MEMO_CAP:
                        memo[mk] = st
                rows.append((i, *st))
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "width", "height", "n_channels",
                    "sum_pixel", "min_pixel", "max_pixel",
                ],
            )

    return df.select(id_col, binary_col).mapInPandas(mapper, schema)


def decode_status(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """Per-payload decode outcome: which native codec actually decoded
    the blob ('png' / 'jpeg' / 'gif' / 'wav'), or 'gated' when every
    codec rejected it and the pipeline would take the stub/fake path.

    This is the corpus-level fallback metric the pixel-stats oracles
    need: a silent codec regression (a decoder starting to reject
    payloads it used to handle) shifts rows from their codec bucket to
    'gated' and hash-mismatches the aggregated oracle, instead of
    silently degrading feature quality. Map-only Arrow-batched stage;
    payload bytes never shuffle."""
    from feast_hive_spark.functions import wav

    schema = f"{id_col} long, codec string"

    def one(payload: bytes) -> str:
        for name, dec in (("png", png.decode), ("jpeg", jpeg.decode), ("gif", gif.decode)):
            try:
                dec(payload)
                return name
            except ValueError:
                pass
        try:
            wav.decode(payload)
            return "wav"
        except ValueError:
            return "gated"

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-task content-addressed memo (r13, guide §4): identical
        # payloads classify once per task. Bounded, per task.
        memo: dict[bytes, str] = {}

        def cached(payload: bytes) -> str:
            mk = _memo_key(payload)
            c = memo.get(mk)
            if c is None:
                c = one(payload)
                if len(memo) < _CODEC_MEMO_CAP:
                    memo[mk] = c
            return c

        for pdf in batches:
            raw = [b if isinstance(b, bytes) else bytes(b) for b in pdf[binary_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "codec": [cached(b) for b in raw],
                }
            )

    return df.select(id_col, binary_col).mapInPandas(mapper, schema)


def resize_images(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    width: int = 64,
    height: int = 64,
    allow_fake: bool = True,
) -> DataFrame:
    """Thumbnail/resize via ``mapInPandas``.

    Decodable images are really resized (nearest-neighbor) and
    re-encoded PNG with the stdlib codec; payloads no codec handles
    either get the deterministic fake (an md5-keystream payload of
    exactly width*height bytes) or raise ``NotImplementedError`` at
    execution when ``allow_fake=False``. Media bytes stay in a
    map-only stage — the resized column is produced and (by the
    caller) sunk without ever entering a shuffle."""
    schema = f"{id_col} long, thumb binary, width int, height int, n_bytes_in long"

    def _fake_resize(payload: bytes) -> bytes:
        out = bytearray()
        seed = hashlib.md5(payload).digest()
        while len(out) < width * height:
            seed = hashlib.md5(seed).digest()
            out.extend(seed)
        return bytes(out[: width * height])

    def one(payload: bytes) -> bytes:
        img = _decode_image(payload)
        if img is not None:
            ys = (np.arange(height) * img.shape[0]) // height
            xs = (np.arange(width) * img.shape[1]) // width
            return png.encode(img[ys][:, xs])
        if not allow_fake:
            raise NotImplementedError(
                "no codec for this payload (PNG is native; other formats "
                "need PIL, absent in this container); pass allow_fake=True "
                "for the deterministic stub"
            )
        return _fake_resize(payload)

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-task content-addressed memo (r13, guide §4): identical
        # payloads resize/re-encode once per task; bounded, per task.
        memo: dict[bytes, bytes] = {}
        used = 0

        def cached(payload: bytes) -> bytes:
            nonlocal used
            mk = _memo_key(payload)
            th = memo.get(mk)
            if th is None:
                th = one(payload)
                # values are payload-sized: budget BYTES, not entries
                if used + len(th) <= _CODEC_MEMO_BYTES:
                    memo[mk] = th
                    used += len(th)
            return th

        for pdf in batches:
            raw = [b if isinstance(b, bytes) else bytes(b) for b in pdf[binary_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "thumb": [cached(b) for b in raw],
                    "width": width,
                    "height": height,
                    "n_bytes_in": [len(b) for b in raw],
                }
            )

    return df.select(id_col, binary_col).mapInPandas(mapper, schema)


def sample_frames(
    df: DataFrame,
    id_col: str,
    n_frames_col: str,
    every_n: int = 10,
) -> DataFrame:
    """Frame-sampling *plan* for video rows: one output row per kept
    frame index. The decode of each frame is the stubbed step; the
    explode/selection plumbing (what actually shapes the 100 TB job)
    is real: sequence+explode is JVM-side and the fan-out happens
    AFTER filtering, so only kept frame indices materialize."""
    return (
        df.select(
            id_col,
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col(n_frames_col) - 1, F.lit(0)),
                    F.lit(every_n),
                )
            ).alias("frame_index"),
        )
    )


def image_ahash_bands(
    df: DataFrame,
    binary_col: str,
    id_col: str,
) -> DataFrame:
    """Perceptual average-hash of each decodable image, emitted as
    FOUR 16-bit band integers (one per 16 bits of the 64-bit aHash) —
    the join keys for banded near-dup pairing.

    Hash definition (deterministic, integer-exact, reproducible in
    plain SQL so the oracle can recompute it without a decoder):
    sample the image on an 8x8 grid at ``(r*H//8, c*W//8)`` (channel
    0), set bit ``b = r*8+c`` iff ``64*pixel > sum(64 samples)``
    (the integer-exact form of pixel > mean), and pack bits
    ``16j..16j+15`` little-endian into band ``j``.  Sampling (vs
    block averaging) keeps the arithmetic exact on both engines.

    Decode runs Arrow-batched in a map-only stage; only (id, 4
    smallints) ever reach a shuffle."""
    schema = f"{id_col} long, b0 long, b1 long, b2 long, b3 long"

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-task content-addressed memo (r13, guide §4): identical
        # payloads decode + hash once per task. Bounded, per task.
        memo: dict[bytes, tuple] = {}
        for pdf in batches:
            rows = []
            for i, b in zip(pdf[id_col], pdf[binary_col]):
                payload = b if isinstance(b, bytes) else bytes(b)
                mk = _memo_key(payload)
                bands = memo.get(mk)
                if bands is None:
                    img = _decode_image(payload)
                    if img is None:
                        raise ValueError(
                            f"undecodable image payload for {id_col}={i}"
                        )
                    h, w = img.shape[0], img.shape[1]
                    ys = (np.arange(8) * h) // 8
                    xs = (np.arange(8) * w) // 8
                    s = img[ys][:, xs, 0].astype(np.int64).ravel()  # b = r*8+c
                    bits = (64 * s > s.sum()).astype(np.int64)
                    bands = tuple(
                        int((bits[16 * j : 16 * (j + 1)] << np.arange(16)).sum())
                        for j in range(4)
                    )
                    if len(memo) < _CODEC_MEMO_CAP:
                        memo[mk] = bands
                rows.append((i, *bands))
            yield pd.DataFrame(rows, columns=[id_col, "b0", "b1", "b2", "b3"])

    return df.select(id_col, binary_col).mapInPandas(mapper, schema)


def ahash_near_dup_pairs(
    bands: DataFrame,
    id_col: str,
    max_hamming: int = 6,
) -> DataFrame:
    """Banded perceptual-hash near-dup pairing over the output of
    :func:`image_ahash_bands` — the SimHash machinery applied to image
    content: candidates collide on at least one of the four 16-bit
    bands (pigeonhole: hamming <= 3 is guaranteed recall; beyond that
    recall is approximate but the scheme is deterministic, so the
    DuckDB twin reproduces it bit-for-bit), then exact hamming
    verification by ``bit_count(xor)`` over all four bands.

    Output: (id_a, id_b, hamming), id_a < id_b.  Entirely JVM-side;
    the join input is 4 rows of (band_idx, value, 4 band smallints)
    per image — the wide hash rides the melt so colliding rows carry
    everything hamming needs and the per-side join-back (which
    re-executed the upstream decode subtree twice more) disappears;
    the melt input is cached because the self-join consumes it from
    both sides (r13, guide §1.3/§3)."""
    melted = bands.select(
        F.col(id_col).alias("__id"),
        "b0",
        "b1",
        "b2",
        "b3",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("__band", "__v"),
    ).cache()
    ham = sum(
        F.bit_count(F.col(f"l.b{j}").bitwiseXOR(F.col(f"r.b{j}")))
        for j in range(4)
    )
    return (
        melted.alias("l")
        .join(
            melted.alias("r"),
            (F.col("l.__band") == F.col("r.__band"))
            & (F.col("l.__v") == F.col("r.__v"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            ham.cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def audio_amplitude_stats(
    df: DataFrame, binary_col: str, id_col: str
) -> DataFrame:
    """Exact per-clip amplitude statistics from a REAL WAV decode
    (functions/wav.py): frames, channels, sample rate, integer
    |amplitude| sum and max. The audio twin of image_pixel_stats —
    all-integer outputs make the cross-engine oracle exact. Strict:
    an undecodable payload raises (callers filter to audio rows
    first). Arrow-batched map-only stage; payload bytes never
    shuffle."""
    from feast_hive_spark.functions import wav

    schema = (
        f"{id_col} long, n_frames long, n_channels long, "
        "sample_rate long, sum_abs long, max_abs long"
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, b in zip(pdf[id_col], pdf[binary_col]):
                payload = b if isinstance(b, bytes) else bytes(b)
                frames, rate = wav.decode(payload)
                amp = np.abs(frames)
                rows.append(
                    (
                        i,
                        frames.shape[0],
                        frames.shape[1],
                        rate,
                        int(amp.sum()),
                        int(amp.max()) if amp.size else 0,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "n_frames", "n_channels",
                    "sample_rate", "sum_abs", "max_abs",
                ],
            )

    return df.select(id_col, binary_col).mapInPandas(mapper, schema)


def sample_video_frames(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    every_n: int = 2,
) -> DataFrame:
    """REAL frame sampling over animated-GIF payloads: decode the
    frame sequence (functions/gif.py, full-frame animations), keep
    every ``every_n``-th frame, and emit exact integer pixel stats per
    kept frame — the de-stubbed counterpart of the metadata-driven
    ``sample_frames`` plan. The sampling happens INSIDE the map stage
    (skipped frames never leave the worker), Arrow-batched, map-only;
    payload bytes stay off shuffles. Strict: undecodable payloads and
    partial-frame animations raise (callers filter first, or use the
    PIL gate)."""
    from feast_hive_spark.functions import gif

    schema = (
        f"{id_col} long, frame_index long, n_frames long, "
        "sum_pixel long, max_pixel long"
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-task content-addressed memo (r13, guide §4): identical
        # animations decode + sample once per task; the memo stores the
        # id-free row template. Bounded, per task, nothing cross-run.
        memo: dict[bytes, list] = {}
        for pdf in batches:
            rows = []
            for i, b in zip(pdf[id_col], pdf[binary_col]):
                payload = b if isinstance(b, bytes) else bytes(b)
                mk = _memo_key(payload)
                tmpl = memo.get(mk)
                if tmpl is None:
                    frames = gif.decode_frames(payload)
                    tmpl = [
                        (
                            fi,
                            len(frames),
                            int(frames[fi].astype(np.int64).sum()),
                            int(frames[fi].max()),
                        )
                        for fi in range(0, len(frames), every_n)
                    ]
                    if len(memo) < _CODEC_MEMO_CAP:
                        memo[mk] = tmpl
                rows.extend((i, *t) for t in tmpl)
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "frame_index", "n_frames",
                    "sum_pixel", "max_pixel",
                ],
            )

    return df.select(id_col, binary_col).mapInPandas(mapper, schema)
