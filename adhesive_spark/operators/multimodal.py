"""Multimodal column conventions + processing plumbing (SURVEY §2.3).

Media is carried as an opaque ``binary`` payload column plus a typed
metadata struct — the lakehouse-standard layout for image/audio/video at
scale (payload stays columnar, metadata prunable/pushdown-able):

    MEDIA_SCHEMA = struct<
        media_id: long, media_type: string, payload: binary,
        meta: struct<mime: string, n_bytes: long, source: string>>

Decode / feature-extract run as ``mapInArrow`` — the correct shape for
per-item Python compute over large binary columns (no row-at-a-time
pickling; batches bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``). Each kernel builds
its output batch against ``to_arrow_schema`` of its Spark schema.

``decode_media`` genuinely parses three public, codec-free byte
formats in pure stdlib Python (struct/wave):

- **WAV** (RIFF/WAVE, PCM): chunk-walk for ``fmt `` + ``data`` →
  channels, sample rate, sample count → exact ``duration_ms``.
- **PPM** (P6): whitespace/comment-tolerant header parse → width,
  height, raster-size validation.
- **Y4M** (YUV4MPEG2, C420): stream-header W/H + exact frame walk →
  ``n_frames`` (no substring counting — raster bytes may alias).

Compressed codecs (JPEG/MP3/H.264 via PIL/ffmpeg/soundfile) are not
available here; payloads that are not one of the formats above fall
back to a deterministic hash-derived pseudo-decode (``codec="auto"``,
the default) so the plumbing stays exercisable on arbitrary binaries.

The eight single-codec kernels (three feature extractors, five
``MEDIA_SCHEMA`` transforms) are strict: a payload that does not parse
is dropped, never featurized or re-emitted. That contract, with the
batch loop, the typed output batch and the ``mapInArrow`` call, lives
in one helper, :func:`_strict_codec_map`; each kernel supplies only its
magic, parser, schema and a per-payload row function.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                    T.StructField("source", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("content_sha", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)


def synthesize_media(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic fake media rows from the documents table (the
    container has no binary fixtures): payload = utf-8 bytes of the text
    head; media_type round-robins image/audio/video."""
    mt = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    return df.select(
        F.col(id_col).alias("media_id"),
        mt.alias("media_type"),
        F.encode(F.substring(F.col(text_col), 1, 256), "utf-8").alias("payload"),
        F.struct(
            F.concat(mt, F.lit("/fake")).alias("mime"),
            F.length(F.encode(F.substring(F.col(text_col), 1, 256), "utf-8"))
            .cast("long")
            .alias("n_bytes"),
            F.lit("synthetic").alias("source"),
        ).alias("meta"),
    )


def synthesize_real_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Genuine media payloads — valid WAV / PPM / Y4M byte streams —
    with all parameters closed-form in ``doc_id`` (so a SQL oracle can
    predict every decoded field without re-parsing the bytes):

    - audio (id%3==1): mono PCM16 WAV @8 kHz, n_samples = 800 + (id%64)*8
    - image (id%3==0): P6 PPM, w = 4 + id%60, h = 4 + (id//7)%60
    - video (id%3==2): Y4M C420, w = 2*(2+id%29), h = 2*(2+(id//3)%29),
      n_frames = 1 + id%12

    Built per-row in ``mapInArrow`` — the shape a real binary-ingest
    source (blob store reader) would have."""
    schema = to_arrow_schema(MEDIA_SCHEMA)

    def _media(did: int):
        """(media_type, mime, payload) for one id."""
        if did % 3 == 1:
            b = wav_bytes(800 + (did % 64) * 8, 8000, seed=did)
            return "audio", "audio/wav", b
        if did % 3 == 0:
            b = ppm_bytes(4 + did % 60, 4 + (did // 7) % 60, seed=did)
            return "image", "image/x-portable-pixmap", b
        w, h = 2 * (2 + did % 29), 2 * (2 + (did // 3) % 29)
        return "video", "video/x-yuv4mpeg", y4m_bytes(w, h, 1 + did % 12, seed=did)

    def _synth(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = [
                (did, *_media_row(*_media(did), "synthetic-real"))
                for did in batch.column(0).to_pylist()
            ]
            yield _rows_batch(rows, schema)

    from adhesive_spark.sources.registry import ensure_parallelism

    # the synth kernel is codec-CPU-bound; the local testdata (and any
    # compacted upstream) arrives as one split, which would serialize
    # the whole pass on one core AND leave the downstream checkpoint
    # single-partitioned (forcing every consuming transform's
    # ensure_parallelism to shuffle the freshly built PAYLOAD bytes).
    # Repartitioning the bare id column costs ~8 bytes/row and makes
    # both a no-op; at 100 TB input splits already exceed core count
    # and this IS a no-op.
    return ensure_parallelism(df.select(id_col)).mapInArrow(
        _synth, schema=MEDIA_SCHEMA
    )


# --- real byte-format builders (numpy-vectorized, deterministic; ------
# byte-identical to the original per-byte stdlib loops — pinned by
# tests/test_operators.py::test_media_byte_builders_match_scalar_reference)

#: LCG affine-composition table: x_k = (A[k]·x0 + B[k]) mod 2^31 for
#: the sample LCG x' = (x·1103515245 + 12345) mod 2^31.  A pure
#: function of k — a coefficient table, not data — grown on demand and
#: kept per process so a reused Python worker amortizes it (guide
#: §4.5); all products stay < 2^63 so int64 arithmetic is exact.
_LCG_COEFF: dict = {}


def _lcg_table(n: int):
    import numpy as np

    tbl = _LCG_COEFF.get("t")
    if tbl is None or len(tbl[0]) <= n:
        size = max(n + 1, 2048)
        a_list, b_list = [1] * size, [0] * size
        for k in range(1, size):
            a_list[k] = (a_list[k - 1] * 1103515245) & 0x7FFFFFFF
            b_list[k] = (b_list[k - 1] * 1103515245 + 12345) & 0x7FFFFFFF
        tbl = (
            np.array(a_list, dtype=np.int64),
            np.array(b_list, dtype=np.int64),
        )
        _LCG_COEFF["t"] = tbl
    return tbl


def wav_bytes(n_samples: int, sample_rate: int = 8000, seed: int = 0) -> bytes:
    """A genuine mono 16-bit PCM RIFF/WAVE file. Canonical 44-byte
    header (fmt + data, as the stdlib ``wave`` writer emits), payload =
    ``2 * n_samples`` bytes → total ``44 + 2 * n_samples``. Samples are
    a deterministic LCG keyed by ``seed`` (vectorized via the affine
    closed form x_k = A_k·x0 + B_k mod 2^31 — one numpy pass instead of
    n struct.pack calls, byte-identical output)."""
    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        x0 = (seed * 2654435761 + 1) & 0x7FFFFFFF
        A, B = _lcg_table(n_samples)
        xs = (A[1 : n_samples + 1] * x0 + B[1 : n_samples + 1]) & 0x7FFFFFFF
        w.writeframes(
            ((xs & 0xFFFF) - 32768).astype(np.dtype("<i2")).tobytes()
        )
    return buf.getvalue()


def ppm_bytes(width: int, height: int, seed: int = 0) -> bytes:
    """A genuine binary PPM (P6) image: header ``P6\\n{w} {h}\\n255\\n``
    + raw RGB raster → total ``9 + len(str(w)) + len(str(h)) + 3*w*h``
    bytes. Raster is a deterministic per-pixel gradient (one numpy
    arange pass, byte-identical to the per-byte loop)."""
    import numpy as np

    header = f"P6\n{width} {height}\n255\n".encode("ascii")
    raster = (
        ((seed + np.arange(3 * width * height, dtype=np.int64)) % 251)
        .astype(np.uint8)
        .tobytes()
    )
    return header + raster


def y4m_bytes(width: int, height: int, n_frames: int, seed: int = 0) -> bytes:
    """A genuine YUV4MPEG2 (Y4M) uncompressed video stream, C420:
    stream header + per-frame ``FRAME\\n`` marker + w*h*3/2 raster
    (vectorized per frame, byte-identical). Width/height must be even
    (4:2:0 chroma subsampling)."""
    import numpy as np

    if width % 2 or height % 2:
        raise ValueError("Y4M C420 requires even width/height")
    head = f"YUV4MPEG2 W{width} H{height} F25:1 C420\n".encode("ascii")
    frame_sz = width * height + 2 * (width // 2) * (height // 2)
    idx = np.arange(frame_sz, dtype=np.int64)
    frames = b"".join(
        b"FRAME\n" + (((seed + f + idx) % 251).astype(np.uint8).tobytes())
        for f in range(n_frames)
    )
    return head + frames


# --- real byte-format parsers (pure stdlib; None on non-match) ---------


def _parse_wav(b: bytes):
    """RIFF chunk walk → ``(duration_ms, n_samples, sample_rate,
    data_off, block_align, channels, bits)`` or None.  Tolerates extra
    chunks and odd-length padding per the RIFF spec.  The trailing
    layout fields exist so TRANSFORMS never assume the canonical
    44-byte-header mono-16 layout the parser merely tolerates — a
    valid-but-noncanonical payload must be re-emitted from its REAL
    data offset, not a guessed one."""
    if len(b) < 44 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, rate, block_align, channels, bits = 12, None, None, None, None
    data_len = data_off = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", b, pos + 4)
        body = pos + 8
        if body + clen > len(b):
            return None
        if cid == b"fmt " and clen >= 16:
            _fmt, channels, rate, _bps, block_align, bits = (
                struct.unpack_from("<HHIIHH", b, body)
            )
        elif cid == b"data":
            data_len, data_off = clen, body
        pos = body + clen + (clen & 1)
    if not rate or not block_align or data_len is None:
        return None
    n_samples = data_len // block_align
    return (
        (n_samples * 1000) // rate,
        n_samples,
        rate,
        data_off,
        block_align,
        channels,
        bits,
    )


def _parse_ppm(b: bytes):
    """P6 header parse → (width, height) or None. Skips whitespace and
    ``#`` comments per the netpbm spec; validates the raster length."""
    if b[:2] != b"P6":
        return None
    vals, i = [], 2
    while len(vals) < 3 and i < len(b):
        c = b[i : i + 1]
        if c.isspace():
            i += 1
        elif c == b"#":
            while i < len(b) and b[i : i + 1] != b"\n":
                i += 1
        elif c.isdigit():
            j = i
            while j < len(b) and b[j : j + 1].isdigit():
                j += 1
            vals.append(int(b[i:j]))
            i = j
        else:
            return None
    if len(vals) < 3 or not (0 < vals[2] < 256):
        return None
    w, h = vals[0], vals[1]
    # exactly one whitespace byte separates maxval from the raster
    if w <= 0 or h <= 0 or len(b) - (i + 1) < 3 * w * h:
        return None
    return w, h


def _parse_y4m(b: bytes):
    """YUV4MPEG2 C420 walk → ``(width, height, n_frames, frames)`` or
    None, where ``frames`` is the list of ``(hdr_start, body_start)``
    offsets per frame.  Frames are counted by walking exact raster
    offsets, never by substring search (raster bytes may alias the
    FRAME marker).  The offsets exist so consumers never assume the
    bare 6-byte ``FRAME\\n`` header the parser merely tolerates —
    parameterized frame headers (``FRAME Ixy\\n``) are valid Y4M and
    must be sliced at their REAL newline."""
    if not b.startswith(b"YUV4MPEG2"):
        return None
    nl = b.find(b"\n")
    if nl < 0:
        return None
    w = h = None
    for tok in b[:nl].decode("ascii", "replace").split(" ")[1:]:
        if tok[:1] == "W" and tok[1:].isdigit():
            w = int(tok[1:])
        elif tok[:1] == "H" and tok[1:].isdigit():
            h = int(tok[1:])
    if not w or not h or w % 2 or h % 2:
        return None
    frame_sz = w * h + 2 * (w // 2) * (h // 2)
    pos, frames = nl + 1, []
    while pos < len(b):
        fnl = b.find(b"\n", pos)
        if fnl < 0 or b[pos : pos + 5] != b"FRAME":
            return None
        body = fnl + 1
        if body + frame_sz > len(b):
            return None
        frames.append((pos, body))
        pos = body + frame_sz
    return w, h, len(frames), frames


def _codec_prefilter(media: DataFrame, magic: bytes) -> DataFrame:
    """JVM-side magic-prefix filter applied BEFORE the Python boundary
    of every single-codec transform: each strict parser rejects any
    payload that does not start with its format magic (`RIFF` /
    `P6` / `YUV4MPEG2`), so dropping those rows in the JVM is exactly
    the set the Python kernel would drop — but the other modalities'
    payload bytes no longer cross JVM→Arrow→Python at all (guide §4.1:
    pass only what the function needs).  Corrupt payloads that carry
    the right magic still cross and are still dropped by the full
    parse, so the strict-codec contract is unchanged."""
    return media.where(
        F.col("payload").isNotNull()
        & (F.substring(F.col("payload"), 1, len(magic)) == F.lit(magic))
    )


def decode_media(df: DataFrame, *, codec: str = "auto") -> DataFrame:
    """Decode payloads to typed features via ``mapInArrow``.

    ``codec="auto"`` (default) sniffs magic bytes and genuinely parses
    WAV / PPM / Y4M payloads (pure stdlib — see the module docstring);
    anything else falls back to the deterministic hash-derived
    pseudo-decode. ``codec="real"`` is strict: only parsed formats get
    dimensions, unrecognized payloads decode to NULL features.
    ``codec="stub"`` forces the hash path for every row.
    """
    if codec not in ("auto", "real", "stub"):
        raise ValueError(f"unknown codec {codec!r}; use auto/real/stub")

    # Per-item Python decode is the CPU-dense stage: fan out before it.
    from adhesive_spark.sources.registry import ensure_parallelism

    df = ensure_parallelism(df)
    schema = to_arrow_schema(DECODED_SCHEMA)

    def _features(b: bytes | None, mtype: str) -> tuple:
        """(n_bytes, content_sha, width, height, n_frames, duration_ms)."""
        if b is None:
            return (None,) * 6
        h = hashlib.sha256(b).digest()
        wv = pp = ym = None
        if codec != "stub":
            wv = _parse_wav(b)
            pp = _parse_ppm(b) if wv is None else None
            ym = _parse_y4m(b) if wv is None and pp is None else None
        if wv is not None:
            dims = (None, None, None, wv[0])
        elif pp is not None:
            dims = (pp[0], pp[1], None, None)
        elif ym is not None:
            dims = (ym[0], ym[1], ym[2], None)
        elif codec == "real":
            # strict mode: unrecognized bytes are undecodable
            dims = (None,) * 4
        else:
            # Deterministic pseudo-dimensions from the content hash —
            # the fallback for formats needing codecs.
            visual = mtype in ("image", "video")
            dims = (
                64 + h[0] % 192 if visual else None,
                64 + h[1] % 192 if visual else None,
                1 + h[2] % 120 if mtype == "video" else None,
                (1000 + (h[3] * 256 + h[4]) % 60000)
                if mtype == "audio"
                else None,
            )
        return (len(b), h.hex()[:16], *dims)

    def _decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            mids, types, payloads = (
                batch.column(c).to_pylist()
                for c in ("media_id", "media_type", "payload")
            )
            rows = [
                (mid, t, *_features(b, t))
                for mid, t, b in zip(mids, types, payloads)
            ]
            yield _rows_batch(rows, schema)

    return df.mapInArrow(_decode, schema=DECODED_SCHEMA)


def _strict_codec_map(
    media: DataFrame, magic: bytes, parse, schema: T.StructType, row_fn
) -> DataFrame:
    """The one Arrow pass behind every strict-codec kernel.

    Rows whose payload does not start with ``magic`` never leave the
    JVM (:func:`_codec_prefilter`); the rest fan out and run, per Arrow
    batch, the strict-codec contract: skip null payloads, ``parse`` the
    bytes, drop what does not parse, and call ``row_fn(payload,
    parsed)`` for the output row after ``media_id`` — ``None`` drops a
    payload the kernel cannot use. A kernel never featurizes or
    re-emits bytes it could not decode.

    A batch whose rows were all dropped is an empty typed batch
    (:func:`_rows_batch`), so an input where every row is dropped gives
    an empty frame with ``schema``.
    The batch function carries ``row_fn``'s name, which is the name
    the kernel's ``MapInArrow`` node shows in the plan."""
    from adhesive_spark.sources.registry import ensure_parallelism

    arrow_schema = to_arrow_schema(schema)

    def _kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = []
            mids = batch.column("media_id").to_pylist()
            for mid, b in zip(mids, batch.column("payload").to_pylist()):
                if b is None:
                    continue
                parsed = parse(b)
                if parsed is None:
                    continue
                row = row_fn(b, parsed)
                if row is not None:
                    rows.append((mid, *row))
            yield _rows_batch(rows, arrow_schema)

    _kernel.__name__ = row_fn.__name__
    return ensure_parallelism(_codec_prefilter(media, magic)).mapInArrow(
        _kernel, schema=schema
    )


def _rows_batch(rows: list, schema: pa.Schema) -> pa.RecordBatch:
    """One ``mapInArrow`` output batch from row tuples in ``schema``'s
    field order (``schema`` is ``to_arrow_schema`` of the kernel's
    Spark schema); no rows give an empty batch of the same types."""
    columns = list(zip(*rows)) or [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, schema)], schema=schema
    )


def _media_row(media_type: str, mime: str, payload: bytes, source: str):
    """A re-emitted payload as the ``MEDIA_SCHEMA`` row after media_id."""
    return (
        media_type,
        payload,
        {"mime": mime, "n_bytes": len(payload), "source": source},
    )


def _long_schema(*names: str) -> T.StructType:
    return T.StructType([T.StructField(n, T.LongType(), False) for n in names])


def image_channel_stats(media: DataFrame) -> DataFrame:
    """REAL feature extraction off genuine image bytes: parse the PPM
    raster and compute exact per-channel statistics with one vectorized
    numpy pass per image — the actual shape of a production
    image-featurizer stage (decode → ndarray → reduce), minus only the
    compressed codec. Means are returned as exact milli-scaled integers
    (``sum*1000 DIV n_pixels``) so the result is engine-portable.

    Non-PPM / unparseable payloads are dropped (the strict-codec
    contract: never featurize bytes you could not decode)."""
    import numpy as np

    def _stats(b, pp):
        w, h = pp
        # raster is the trailing 3*w*h bytes (validated by the parser);
        # one zero-copy numpy view, one reduction
        arr = np.frombuffer(
            b, dtype=np.uint8, count=3 * w * h, offset=len(b) - 3 * w * h
        ).reshape(-1, 3)
        sums = arr.sum(axis=0, dtype=np.int64)
        return (w, h, *(int(s) * 1000 // (w * h) for s in sums))

    schema = _long_schema(
        "media_id", "width", "height",
        "mean_r_milli", "mean_g_milli", "mean_b_milli",
    )
    return _strict_codec_map(media, b"P6", _parse_ppm, schema, _stats)


def video_luma_stats(media: DataFrame) -> DataFrame:
    """REAL temporal video features off genuine Y4M bytes: walk the
    frames, reduce each frame's luma plane (the first w·h raster bytes
    of a C420 frame) to its exact milli-scaled mean, and emit per-video
    temporal statistics — the scene-change-detection shape of a video
    curation stage (frame-sample → luma trajectory → cut score), all in
    one linear mapInArrow pass with NO shuffle.

    Output per video: n_frames, first_luma_milli, and max_delta_milli =
    max |mean(f) − mean(f−1)| (0 for single-frame clips). Non-Y4M
    payloads are dropped (strict-codec contract)."""
    import numpy as np

    def _stats(b, ym):
        w, h, n, offs = ym
        lumas = [
            int(
                np.frombuffer(b, dtype=np.uint8, count=w * h, offset=body)
                .sum(dtype=np.int64)
            )
            * 1000
            // (w * h)
            for _hdr, body in offs
        ]
        delta = max(
            (abs(lumas[i] - lumas[i - 1]) for i in range(1, n)), default=0
        )
        return n, lumas[0], delta

    schema = _long_schema(
        "media_id", "n_frames", "first_luma_milli", "max_delta_milli"
    )
    return _strict_codec_map(media, b"YUV4MPEG2", _parse_y4m, schema, _stats)


def wav_head_energy(media: DataFrame, head_samples: int = 256) -> DataFrame:
    """REAL audio featurization off genuine WAV bytes: decode the PCM16
    payload and reduce the first ``head_samples`` samples to an exact
    mean-absolute-amplitude integer — the head-window energy gate of an
    audio curation stage (silence/clipping detection on the clip head
    before paying for a full-sequence encoder). One vectorized numpy
    pass per clip, no shuffle; non-WAV payloads are dropped."""
    import numpy as np

    def _energy(b, wv):
        if wv[6] != 16:
            return None  # energy stat is defined on 16-bit PCM
        _dur, n_samples, _rate, data_off = wv[:4]
        k = min(head_samples, n_samples)
        # slice at the PARSED data offset (extra RIFF chunks shift it
        # past the canonical 44)
        pcm = np.frombuffer(b, dtype="<i2", count=k, offset=data_off)
        return n_samples, int(np.abs(pcm.astype(np.int64)).sum()) // k

    schema = _long_schema("media_id", "n_samples", "head_mean_abs")
    return _strict_codec_map(media, b"RIFF", _parse_wav, schema, _energy)


def media_embedding(decoded: DataFrame, dim: int = 8) -> DataFrame:
    """Attach a deterministic feature vector derived from the decoded
    content hash — the stub stand-in for a real image/audio encoder
    (the seam where a CLIP-style model would run as a pandas UDF). One
    byte of the sha per dimension, scaled to [0,1]; pure built-ins so
    the downstream similarity stack stays oracle-checkable."""
    vec = F.array(
        *[
            (
                F.conv(
                    F.substring(F.col("content_sha"), 2 * i + 1, 2), 16, 10
                ).cast("double")
                / 255.0
            )
            for i in range(dim)
        ]
    )
    return decoded.withColumn("embedding", vec)


def audio_chunk_plan(decoded: DataFrame, chunk_ms: int = 5000) -> DataFrame:
    """Audio segmentation plan: one row per fixed-length chunk with its
    [start, end) millisecond bounds — the windowing step before a
    speech/audio encoder. Pure built-ins (sequence + explode), the audio
    twin of :func:`frame_sample_plan`; the last chunk is truncated to
    the clip duration."""
    auds = decoded.where(
        (F.col("media_type") == "audio") & F.col("duration_ms").isNotNull()
    )
    return auds.select(
        "media_id",
        "duration_ms",
        F.explode(
            F.sequence(
                F.lit(0), F.col("duration_ms") - 1, F.lit(chunk_ms)
            )
        ).alias("chunk_start_ms"),
    ).withColumn(
        "chunk_end_ms",
        F.least(
            F.col("chunk_start_ms") + F.lit(chunk_ms), F.col("duration_ms")
        ),
    )


def frame_sample_plan(decoded: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plan for videos: one row per sampled frame index,
    carrying the video's decoded columns — pure built-ins (sequence +
    explode), no Python."""
    vids = decoded.where(
        (F.col("media_type") == "video") & F.col("n_frames").isNotNull()
    )
    return vids.select(
        "*",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )


def resample_wav(media: DataFrame, factor: int = 2) -> DataFrame:
    """REAL media TRANSFORM (not just decode): integer-decimate each
    WAV payload's PCM16 samples by ``factor`` and re-emit a VALID
    RIFF/WAVE byte stream at ``rate div factor`` — the downsample
    stage of an audio curation pipeline (rate-normalize before an
    encoder), done zero-copy per clip with numpy stride slicing. The
    output is bytes-parseable by the same strict codec
    (``decode_media(codec="real")``), which is the round-trip
    contract the test asserts: duration is preserved (same wall-clock
    audio, fewer samples), sample count divides exactly by the
    decimation arithmetic, and non-WAV payloads are dropped.

    Scale shape: one linear mapInArrow pass, no shuffle; payload size
    shrinks ~factor× so the stage REDUCES bytes in flight for every
    stage after it.
    """
    import numpy as np

    if factor < 1:
        raise ValueError("factor must be >= 1")

    def _resample(b, wv):
        _dur, n_samples, rate, data_off, blk, ch, bits = wv
        if bits % 8 or blk != ch * (bits // 8):
            return None  # layout the wave writer can't re-emit
        # decimate by whole PCM BLOCKS at the PARSED data offset —
        # channel-count- and chunk-layout-agnostic (for canonical
        # mono-16 this is exactly pcm[::factor])
        blocks = np.frombuffer(
            b, dtype=np.uint8, count=n_samples * blk, offset=data_off
        ).reshape(n_samples, blk)
        out = io.BytesIO()
        with wave.open(out, "wb") as w:
            w.setnchannels(ch)
            w.setsampwidth(bits // 8)
            w.setframerate(max(1, rate // factor))
            w.writeframes(np.ascontiguousarray(blocks[::factor]).tobytes())
        return _media_row(
            "audio", "audio/wav", out.getvalue(), f"resampled/{factor}"
        )

    return _strict_codec_map(media, b"RIFF", _parse_wav, MEDIA_SCHEMA, _resample)


def downscale_ppm(media: DataFrame, factor: int = 2) -> DataFrame:
    """REAL image TRANSFORM: stride-subsample each PPM raster by
    ``factor`` in both dimensions (one numpy strided view per image —
    no per-pixel Python) and re-emit a VALID P6 byte stream — the
    resize-before-encoder stage of a vision pipeline, the image twin
    of :func:`resample_wav`. Output dimensions are exactly
    ``ceil(w/factor) x ceil(h/factor)`` (closed-form for the oracle);
    non-PPM payloads are dropped (strict-codec contract). Linear
    mapInArrow, no shuffle, and bytes shrink ~factor²× for every
    stage downstream.
    """
    import numpy as np

    if factor < 1:
        raise ValueError("factor must be >= 1")

    def _down(b, pp):
        w, h = pp
        raster = np.frombuffer(
            b, dtype=np.uint8, count=3 * w * h, offset=len(b) - 3 * w * h
        ).reshape(h, w, 3)
        small = raster[::factor, ::factor, :]
        nh, nw = small.shape[0], small.shape[1]
        nb = (
            f"P6\n{nw} {nh}\n255\n".encode("ascii")
            + np.ascontiguousarray(small).tobytes()
        )
        return _media_row(
            "image", "image/x-portable-pixmap", nb, f"downscaled/{factor}"
        )

    return _strict_codec_map(media, b"P6", _parse_ppm, MEDIA_SCHEMA, _down)


def grayscale_ppm(media: DataFrame) -> DataFrame:
    """REAL image TRANSFORM: collapse each PPM raster to grayscale
    (per-pixel integer luma = (r + g + b) div 3, written to all three
    channels) and re-emit a VALID P6 byte stream — the channel-collapse
    stage of a vision pipeline (deduplicating color variants, feeding
    single-channel encoders).  Output dimensions and byte count are
    UNCHANGED; after the transform the three channel means are equal by
    construction, which is the q301 audit's closed-form oracle.  One
    numpy pass per image, non-PPM payloads dropped (strict-codec
    contract), linear mapInArrow, no shuffle."""
    import numpy as np

    def _gray(b, pp):
        w, h = pp
        raster = np.frombuffer(
            b, dtype=np.uint8, count=3 * w * h, offset=len(b) - 3 * w * h
        ).reshape(h, w, 3)
        luma = (raster.astype(np.uint16).sum(axis=2) // 3).astype(np.uint8)
        nb = (
            f"P6\n{w} {h}\n255\n".encode("ascii")
            + np.repeat(luma[:, :, None], 3, axis=2).tobytes()
        )
        return _media_row("image", "image/x-portable-pixmap", nb, "grayscaled")

    return _strict_codec_map(media, b"P6", _parse_ppm, MEDIA_SCHEMA, _gray)


def subsample_y4m(media: DataFrame, every_n: int = 2) -> DataFrame:
    """REAL video TRANSFORM: keep every ``every_n``-th frame of each
    Y4M stream and re-emit a VALID YUV4MPEG2 byte stream — the
    frame-rate reduction stage of a video-training pipeline (the
    materialized counterpart of the q41 frame-sampling PLAN), the
    video member of the resample_wav / downscale_ppm transform
    family. Frames are sliced by exact raster offsets (never substring
    search); kept frames = ceil(n/every_n), closed-form for the
    oracle. Non-Y4M payloads are dropped (strict-codec contract);
    linear mapInArrow, no shuffle, bytes shrink ~every_n×.
    """
    if every_n < 1:
        raise ValueError("every_n must be >= 1")

    def _sub(b, ym):
        w, h, _n, offs = ym
        frame_sz = w * h + 2 * (w // 2) * (h // 2)
        head_end = b.find(b"\n") + 1
        # slice each kept frame at its PARSED (hdr, body) offsets —
        # parameterized frame headers (longer than the bare 'FRAME\n')
        # are preserved byte-exact
        nb = b"".join(
            [b[:head_end]]
            + [
                b[hdr : body + frame_sz]
                for f, (hdr, body) in enumerate(offs)
                if f % every_n == 0
            ]
        )
        return _media_row("video", "video/x-yuv4mpeg", nb, f"subsampled/{every_n}")

    return _strict_codec_map(media, b"YUV4MPEG2", _parse_y4m, MEDIA_SCHEMA, _sub)


def pad_wav(media: DataFrame, multiple: int = 1024) -> DataFrame:
    """REAL audio TRANSFORM: zero-pad each WAV payload's PCM up to the
    next ``multiple``-sample boundary and re-emit a VALID RIFF/WAVE
    byte stream — the frame-alignment stage before fixed-window audio
    feature extraction (STFT/fbank front ends require whole frames;
    trainers pad, never truncate). Padded samples are silence (zero
    blocks) appended after the PARSED data offset, so valid-but-
    noncanonical layouts survive; padded count = ceil(n/multiple)·
    multiple, closed-form for the oracle. Non-WAV payloads are dropped
    (strict-codec contract); linear mapInArrow, no shuffle; bytes
    grow by at most one frame per clip.
    """
    if multiple < 1:
        raise ValueError("multiple must be >= 1")

    def _pad(b, wv):
        _dur, n_samples, rate, data_off, blk, ch, bits = wv
        if bits % 8 or blk != ch * (bits // 8):
            return None  # layout the wave writer can't re-emit
        pad = (-n_samples) % multiple
        out = io.BytesIO()
        with wave.open(out, "wb") as w:
            w.setnchannels(ch)
            w.setsampwidth(bits // 8)
            w.setframerate(rate)
            w.writeframes(
                b[data_off : data_off + n_samples * blk] + b"\x00" * (pad * blk)
            )
        return _media_row("audio", "audio/wav", out.getvalue(), f"padded/{multiple}")

    return _strict_codec_map(media, b"RIFF", _parse_wav, MEDIA_SCHEMA, _pad)
