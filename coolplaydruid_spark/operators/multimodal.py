"""Multimodal columns: image/audio/video as opaque binary columns with
typed metadata, processed via Arrow-batched mapInPandas.

Decode status, honestly:
 - **PNG images: REAL decode** — Pillow when importable, else a
   pure-stdlib PNG codec (zlib inflate + scanline unfilter, all five
   filter types, 8-bit gray/GA/RGB/RGBA). `image_stats` is oracle-gated
   end-to-end: pixels survive a real encode→decode roundtrip before the
   stats are computed.
 - **WAV audio: REAL decode** — stdlib `wave` (8/16-bit PCM);
   `audio_stats` likewise oracle-gated.
 - JPEG/video codecs: genuinely require Pillow/ffmpeg; `decode_image`
   uses Pillow when present, `frame_sample_stub` stays a stub with the
   explode-shaped plumbing as the tested contract.

Scale: mapInPandas streams Arrow record batches through Python — the one
place Python is unavoidable (media codecs). Batches are bounded by
spark.sql.execution.arrow.maxRecordsPerBatch; every operator's compute
is map-only, so throughput scales linearly with executors. Each decode
stage runs behind util.spread: per-item decode cost dwarfs a row's
shuffle cost, and a few-file scan would otherwise serialize the whole
corpus onto a handful of Python workers (measured 207s → 9s at sf1 for
the image dHash pass; on a many-file 100 TB table spread is a no-op).
"""

from __future__ import annotations

import hashlib
import io
import math
import struct
import wave
import zlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from coolplaydruid_spark.operators.dedup import banded_hamming_pairs
from coolplaydruid_spark.operators.util import spread

MEDIA_META_SCHEMA = (
    "media_id long, media binary, media_type string, width int, height int, "
    "duration_ms long"
)

FEATURE_SCHEMA = "media_id long, n_bytes long, digest string, feature array<float>"


# ---- real image decode (Pillow → pure-stdlib PNG fallback) ---------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples/pixel
_PIL_CHANNELS = {"L": 1, "LA": 2, "RGB": 3, "RGBA": 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_decode(raw: bytes) -> tuple[int, int, int, bytes]:
    """(width, height, channels, pixel bytes) from a PNG, stdlib-only:
    chunk walk → zlib inflate → per-scanline unfilter (types 0-4).
    Supports 8-bit depth, color types 0/2/4/6, no interlace — the space
    our encoder and typical ML corpora emit; everything else raises."""
    if raw[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG byte stream")
    pos, idat, w, h, ctype = 8, [], None, None, None
    while pos + 8 <= len(raw):
        ln = int.from_bytes(raw[pos:pos + 4], "big")
        typ = raw[pos + 4:pos + 8]
        data = raw[pos + 8:pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            depth, ctype, interlace = data[8], data[9], data[12]
            if depth != 8 or interlace != 0 or ctype not in _PNG_CHANNELS:
                raise NotImplementedError(
                    f"PNG depth={depth} colorType={ctype} interlace={interlace}: "
                    "only 8-bit non-interlaced gray/GA/RGB/RGBA without palette"
                )
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    ch = _PNG_CHANNELS[ctype]
    stride = w * ch
    flt = zlib.decompress(b"".join(idat))
    if len(flt) != h * (stride + 1):
        raise ValueError("PNG pixel payload size mismatch")
    # fast path: all scanlines unfiltered (what _png_encode writes)
    if all(flt[y * (stride + 1)] == 0 for y in range(h)):
        return w, h, ch, b"".join(
            flt[y * (stride + 1) + 1:(y + 1) * (stride + 1)] for y in range(h)
        )
    out = bytearray(h * stride)
    for y in range(h):
        f = flt[y * (stride + 1)]
        line = flt[y * (stride + 1) + 1:(y + 1) * (stride + 1)]
        o = y * stride
        for x in range(stride):
            a = out[o + x - ch] if x >= ch else 0
            b = out[o + x - stride] if y > 0 else 0
            if f == 0:
                v = line[x]
            elif f == 1:
                v = line[x] + a
            elif f == 2:
                v = line[x] + b
            elif f == 3:
                v = line[x] + (a + b) // 2
            elif f == 4:
                c = out[o + x - stride - ch] if (y > 0 and x >= ch) else 0
                v = line[x] + _paeth(a, b, c)
            else:
                raise ValueError(f"PNG filter type {f}")
            out[o + x] = v & 0xFF
    return w, h, ch, bytes(out)


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        len(data).to_bytes(4, "big") + typ + data
        + zlib.crc32(typ + data).to_bytes(4, "big")
    )


def png_encode(pixels: bytes, width: int, height: int, channels: int = 3) -> bytes:
    """Minimal valid PNG (8-bit, filter 0 scanlines) from raw pixels."""
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    stride = width * channels
    if len(pixels) != height * stride:
        raise ValueError("pixel buffer does not match geometry")
    ihdr = (
        width.to_bytes(4, "big") + height.to_bytes(4, "big")
        + bytes([8, ctype, 0, 0, 0])
    )
    body = b"".join(
        b"\x00" + bytes(pixels[y * stride:(y + 1) * stride]) for y in range(height)
    )
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(body))
        + _png_chunk(b"IEND", b"")
    )


def decode_image(raw: bytes) -> tuple[int, int, int, bytes]:
    """(width, height, channels, pixel bytes). Pillow decodes any format
    it knows when importable; without it, PNG decodes via the stdlib
    codec above and other formats raise NotImplementedError."""
    try:
        from PIL import Image  # noqa: PLC0415 - optional dependency
    except ImportError:
        return _png_decode(raw)
    im = Image.open(io.BytesIO(raw))
    if im.mode not in _PIL_CHANNELS:
        im = im.convert("RGB")
    return im.width, im.height, _PIL_CHANNELS[im.mode], im.tobytes()


# ---- real audio decode (stdlib wave) -------------------------------------

def wav_encode(samples: bytes, sample_rate: int = 8000) -> bytes:
    """8-bit unsigned mono PCM WAV from raw sample bytes."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(sample_rate)
        w.writeframes(samples)
    return buf.getvalue()


def decode_audio(raw: bytes) -> tuple[int, int, int, int, float]:
    """(n_channels, sample_rate, n_frames, duration_ms, rms) from a WAV.
    RMS is over centered samples (8-bit unsigned → sample-128; 16-bit
    signed as-is), full scale preserved."""
    with wave.open(io.BytesIO(raw), "rb") as w:
        nch, sw, rate, n = (
            w.getnchannels(), w.getsampwidth(), w.getframerate(), w.getnframes()
        )
        frames = w.readframes(n)
    if sw == 1:
        samples = [b - 128 for b in frames]
    elif sw == 2:
        samples = list(struct.unpack(f"<{len(frames) // 2}h", frames))
    else:
        raise NotImplementedError(f"WAV sample width {sw}")
    rms = math.sqrt(sum(s * s for s in samples) / len(samples)) if samples else 0.0
    return nch, rate, n, n * 1000 // rate, rms


def decode_stub(raw: bytes, n_features: int = 8) -> list[float]:
    """Deterministic fake 'decoder': derives n_features floats in [0, 1)
    from the md5 digest of the bytes. Stands in for decode→embed."""
    if raw is None:
        raw = b""
    d = hashlib.md5(raw).digest()
    return [d[i] / 255.0 for i in range(n_features)]


def extract_features(df: DataFrame, media_col: str = "media",
                     id_col: str = "media_id", n_features: int = 8) -> DataFrame:
    """Binary column → (id, n_bytes, md5 digest, stub feature vector) via
    Arrow-batched mapInPandas. The digest matches SQL md5() over the same
    bytes, so the plumbing has an exact oracle even though the decoder is
    a stub."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            raw = pdf[media_col]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "n_bytes": raw.map(lambda b: len(b) if b is not None else 0),
                    "digest": raw.map(
                        lambda b: hashlib.md5(b if b is not None else b"").hexdigest()
                    ),
                    "feature": raw.map(lambda b: decode_stub(b, n_features)),
                }
            )

    return spread(df, by=id_col).select(F.col(id_col), F.col(media_col)).mapInPandas(batches, FEATURE_SCHEMA)


def image_stats(df: DataFrame, media_col: str = "media",
                id_col: str = "media_id") -> DataFrame:
    """REAL image decode → per-image stats: (media_id, width, height,
    channels, mean_px). mean_px is the mean over every decoded pixel
    sample, so a wrong inflate/unfilter anywhere shifts the value — this
    is the decode-correctness probe the contract oracle pins."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, ws, hs, cs, means = [], [], [], [], []
            for mid, raw in zip(pdf[id_col], pdf[media_col]):
                w, h, ch, px = decode_image(bytes(raw))
                ids.append(mid)
                ws.append(w)
                hs.append(h)
                cs.append(ch)
                # exact: integer sum / count — bit-identical to any other
                # engine's mean over the same bytes (no pre-rounding, so
                # callers can round once without double-rounding skew)
                means.append(sum(px) / len(px) if px else 0.0)
            yield pd.DataFrame(
                {"media_id": ids, "width": ws, "height": hs,
                 "channels": cs, "mean_px": means}
            )

    return spread(df, by=id_col).select(F.col(id_col), F.col(media_col)).mapInPandas(
        batches, "media_id long, width int, height int, channels int, mean_px double"
    )


def audio_stats(df: DataFrame, media_col: str = "media",
                id_col: str = "media_id") -> DataFrame:
    """REAL WAV decode → (media_id, n_channels, sample_rate, duration_ms,
    rms); rms left unrounded (integer sample sums make it bit-exact
    cross-engine — callers round once for comparison)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, nchs, rates, durs, rmss = [], [], [], [], []
            for mid, raw in zip(pdf[id_col], pdf[media_col]):
                nch, rate, _n, dur, rms = decode_audio(bytes(raw))
                ids.append(mid)
                nchs.append(nch)
                rates.append(rate)
                durs.append(dur)
                rmss.append(rms)
            yield pd.DataFrame(
                {"media_id": ids, "n_channels": nchs, "sample_rate": rates,
                 "duration_ms": durs, "rms": rmss}
            )

    return spread(df, by=id_col).select(F.col(id_col), F.col(media_col)).mapInPandas(
        batches,
        "media_id long, n_channels int, sample_rate int, duration_ms long, rms double",
    )


# ---- perceptual-hash image near-dup --------------------------------------

PHASH_BITS = 64
_PHASH_W, _PHASH_H = 8, 8  # 8×8 gradient bits from a 9×8 sample grid
_PHASH_BANDS = 8  # 8 bands × 8 bits: Hamming ≤ 7 ⇒ ≥ 1 whole band agrees


def _passthru_schema(df: DataFrame, cols: list[str], sig_fields: str) -> str:
    """mapInPandas output schema: the carried input columns typed from
    the INPUT schema (r9 advice: hardcoding '{id_col} long' broke or
    silently coerced string media ids, which the text-dedup siblings
    support), followed by the signature fields."""
    carried = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in cols
    )
    return f"{carried}, {sig_fields}"


def phash_signatures(df: DataFrame, media_col: str = "media",
                     id_col: str = "media_id",
                     extra_cols: list[str] | None = None) -> DataFrame:
    """64-bit dHash (difference hash) per image as TWO 32-bit integer
    halves — the standard perceptual near-dup signature for image
    corpora, over the REAL decode path (Pillow or the stdlib PNG codec).

    Deterministic, engine-recomputable construction (every step is
    integer math, so an oracle can rebuild the hash from known pixel
    bytes): decode → integer grayscale (channel sum // channels) →
    nearest-neighbor sample to a 9×8 grid (source index x*w//9, y*h//8,
    the resize_images convention) → bit(x,y) = gray(x,y) > gray(x+1,y)
    → row-major bits packed MSB-first into phash_hi (rows 0-3) and
    phash_lo (rows 4-7), each in [0, 2^32).

    Returns (media_id, *extra_cols, phash_hi, phash_lo); the id keeps
    its INPUT type (string ids work like the text-dedup siblings), and
    ``extra_cols`` ride through untouched (e.g. the ``__dt`` segment
    partition at ingest-time materialization — no doc-keyed re-join).
    Map-only Arrow-batched mapInPandas — the decode is the cost; no
    shuffle."""
    passthru = [id_col, *(extra_cols or [])]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            his, los = [], []
            for raw in pdf[media_col]:
                w, h, ch, px = decode_image(bytes(raw))
                hi = lo = 0
                for y in range(_PHASH_H):
                    sy = y * h // _PHASH_H
                    row = []
                    for x in range(_PHASH_W + 1):
                        sx = x * w // (_PHASH_W + 1)
                        o = (sy * w + sx) * ch
                        row.append(sum(px[o:o + ch]) // ch)
                    for x in range(_PHASH_W):
                        if row[x] > row[x + 1]:
                            idx = y * _PHASH_W + x
                            if idx < 32:
                                hi |= 1 << (31 - idx)
                            else:
                                lo |= 1 << (63 - idx)
                his.append(hi)
                los.append(lo)
            out = pdf[passthru].copy()
            out["phash_hi"] = his
            out["phash_lo"] = los
            yield out

    return spread(df, by=id_col).select(
        *[F.col(c) for c in passthru], F.col(media_col)
    ).mapInPandas(
        batches, _passthru_schema(df, passthru, "phash_hi long, phash_lo long"))


def phash_neardup(df: DataFrame, max_hamming: int = 6,
                  media_col: str = "media", id_col: str = "media_id",
                  signatures: DataFrame | None = None,
                  max_band_bucket: int | None = None) -> DataFrame:
    """Perceptual near-duplicate image pairs: (media_id_a, media_id_b,
    hamming ≤ max_hamming), a < b, by 64-bit dHash Hamming distance —
    the image-modality counterpart of dedup.simhash_dedup with the same
    banded blocking: the hash splits into 8 bands of 8 bits; by
    pigeonhole any pair within Hamming distance 7 agrees on ≥ 1 whole
    band, so the self-join keys on (band_index, band_bits) and the
    blocked result is EXACTLY the all-pairs result for
    max_hamming ≤ 7 — never O(n²).

    ``signatures`` accepts a pre-computed phash_signatures() frame (the
    production shape: hashes materialize once at ingest; re-pairing
    after a threshold change never re-decodes). The Hamming distance is
    bit_count(xor) over the integer halves — whole-stage codegen, no
    Python past the signature stage.

    100 TB shape: the decode is map-only; the only data-scaled shuffle
    keys on (band, bits) — 8 rows per image, uniform by hash
    construction; candidate volume is bounded by real band collisions,
    not corpus size."""
    _check_pigeonhole(max_hamming, _PHASH_BANDS)
    sig = signatures if signatures is not None else phash_signatures(
        df, media_col=media_col, id_col=id_col)
    return banded_hamming_pairs(
        sig, _phash_band_cols(), ["phash_hi", "phash_lo"], _phash_hamming,
        id_col, max_hamming, out_a="media_id_a", out_b="media_id_b",
        max_band_bucket=max_band_bucket,
    )


def phash_neardup_incremental(
    batch_df: DataFrame | None = None,
    corpus_df: DataFrame | None = None,
    max_hamming: int = 6,
    media_col: str = "media",
    id_col: str = "media_id",
    corpus_signatures: DataFrame | None = None,
    batch_signatures: DataFrame | None = None,
    check_disjoint: bool = False,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Image near-dup pairs between an INCOMING media batch and the
    EXISTING corpus — the daily-ingest shape (same contract as
    dedup.minhash_lsh_dedup_incremental / corpus.source_overlap_
    incremental): the corpus never re-pairs against itself, so a
    T-byte archive admits a daily shard at a cost proportional to the
    BATCH. Returns (media_id_a = corpus id, media_id_b = batch id,
    hamming ≤ max_hamming); ids must be unique across the union.

    In production the corpus signatures materialize once at accept
    time — pass them as ``corpus_signatures`` (a phash_signatures()
    frame) and ``corpus_df`` is not consulted (no corpus re-decode);
    likewise ``batch_signatures``. The pigeonhole guarantee carries
    over: both sides band identically, so the blocked cross join is
    exactly the all-pairs batch × corpus result for max_hamming ≤ 7."""
    _check_pigeonhole(max_hamming, _PHASH_BANDS)
    corpus_sig = corpus_signatures if corpus_signatures is not None else (
        phash_signatures(corpus_df, media_col=media_col, id_col=id_col)
        if corpus_df is not None else None)
    if corpus_sig is None:
        raise ValueError("need corpus_df or corpus_signatures")
    batch_sig = batch_signatures if batch_signatures is not None else (
        phash_signatures(batch_df, media_col=media_col, id_col=id_col)
        if batch_df is not None else None)
    if batch_sig is None:
        raise ValueError("need batch_df or batch_signatures")
    return banded_hamming_pairs(
        corpus_sig, _phash_band_cols(), ["phash_hi", "phash_lo"],
        _phash_hamming, id_col, max_hamming,
        out_a="media_id_a", out_b="media_id_b", sig_right=batch_sig,
        check_disjoint=check_disjoint, max_band_bucket=max_band_bucket,
    )


def _check_pigeonhole(max_hamming: int, bands: int) -> None:
    if not 0 <= max_hamming <= bands - 1:
        raise ValueError(
            f"max_hamming must be in [0, {bands - 1}] — above "
            f"{bands - 1} the {bands}-band pigeonhole blocking no "
            "longer guarantees exact recall")


def _phash_band_cols() -> list:
    out = []
    for b in range(_PHASH_BANDS):
        half = F.col("phash_hi") if b < 4 else F.col("phash_lo")
        shift = ((3 - b) if b < 4 else (7 - b)) * 8
        out.append(F.struct(
            F.lit(b).alias("band"),
            F.shiftright(half, shift).bitwiseAND(F.lit(255)).alias("bits"),
        ))
    return out


def _phash_hamming(l: str, r: str):
    return (
        F.bit_count(F.col(f"{l}.phash_hi").bitwiseXOR(F.col(f"{r}.phash_hi")))
        + F.bit_count(F.col(f"{l}.phash_lo").bitwiseXOR(F.col(f"{r}.phash_lo")))
    ).cast("int")


# ---- audio fingerprint near-dup ------------------------------------------

AFP_BITS = 32
_AFP_WINDOWS = 33  # 33 energy windows → 32 gradient bits
_AFP_BANDS = 4     # 4 bands × 8 bits: Hamming ≤ 3 ⇒ ≥ 1 whole band agrees


def audio_fingerprint(df: DataFrame, media_col: str = "media",
                      id_col: str = "media_id",
                      extra_cols: list[str] | None = None) -> DataFrame:
    """32-bit energy-gradient fingerprint per audio clip — the audio
    counterpart of phash_signatures, over the REAL WAV decode: centered
    samples split into 33 time windows (sample i → window i·33 // n),
    bit w = mean |sample| of window w exceeds window w+1's, compared by
    integer cross-multiplication (Σ|s|_w · len_{w+1} > Σ|s|_{w+1} ·
    len_w) so the construction is exact in any engine — no float means,
    no rounding. Bits pack MSB-first into one integer in [0, 2^32).
    Empty windows (clips shorter than 33 samples) contribute zero
    energy and zero length, making the comparison deterministic.

    Returns (media_id, *extra_cols, afp); id keeps its input type and
    ``extra_cols`` ride through untouched (same contract as
    phash_signatures). Map-only Arrow-batched mapInPandas."""
    passthru = [id_col, *(extra_cols or [])]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            fps = []
            for raw in pdf[media_col]:
                with wave.open(io.BytesIO(bytes(raw)), "rb") as wv:
                    sw = wv.getsampwidth()
                    frames = wv.readframes(wv.getnframes())
                if sw == 1:
                    samples = [abs(b - 128) for b in frames]
                elif sw == 2:
                    samples = [
                        abs(s) for s in
                        struct.unpack(f"<{len(frames) // 2}h", frames)
                    ]
                else:
                    raise NotImplementedError(f"WAV sample width {sw}")
                n = len(samples)
                e = [0] * _AFP_WINDOWS
                l = [0] * _AFP_WINDOWS
                for i, a in enumerate(samples):
                    w = i * _AFP_WINDOWS // n
                    e[w] += a
                    l[w] += 1
                fp = 0
                for w in range(_AFP_WINDOWS - 1):
                    if e[w] * l[w + 1] > e[w + 1] * l[w]:
                        fp |= 1 << (31 - w)
                fps.append(fp)
            out = pdf[passthru].copy()
            out["afp"] = fps
            yield out

    return spread(df, by=id_col).select(
        *[F.col(c) for c in passthru], F.col(media_col)
    ).mapInPandas(batches, _passthru_schema(df, passthru, "afp long"))


def audio_neardup(df: DataFrame, max_hamming: int = 3,
                  media_col: str = "media", id_col: str = "media_id",
                  signatures: DataFrame | None = None,
                  max_band_bucket: int | None = None) -> DataFrame:
    """Audio near-duplicate pairs: (media_id_a, media_id_b, hamming ≤
    max_hamming), a < b, by 32-bit fingerprint Hamming distance with
    4-band pigeonhole blocking — for max_hamming ≤ 3 the blocked join
    equals the all-pairs result exactly (same guarantee structure as
    phash_neardup / dedup.simhash_dedup). ``signatures`` accepts a
    pre-computed audio_fingerprint() frame so re-pairing never
    re-decodes. Hamming runs JVM-side (bit_count ∘ xor)."""
    _check_pigeonhole(max_hamming, _AFP_BANDS)
    sig = signatures if signatures is not None else audio_fingerprint(
        df, media_col=media_col, id_col=id_col)
    return banded_hamming_pairs(
        sig, _afp_band_cols(), ["afp"], _afp_hamming, id_col, max_hamming,
        out_a="media_id_a", out_b="media_id_b",
        max_band_bucket=max_band_bucket,
    )


def audio_neardup_incremental(
    batch_df: DataFrame | None = None,
    corpus_df: DataFrame | None = None,
    max_hamming: int = 3,
    media_col: str = "media",
    id_col: str = "media_id",
    corpus_signatures: DataFrame | None = None,
    batch_signatures: DataFrame | None = None,
    check_disjoint: bool = False,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Audio near-dup pairs between an incoming batch and the existing
    corpus — same daily-ingest contract as phash_neardup_incremental
    (corpus never self-pairs; pre-materialized ``corpus_signatures`` /
    ``batch_signatures`` skip the decode entirely; blocked cross join
    ≡ all batch × corpus pairs for max_hamming ≤ 3)."""
    _check_pigeonhole(max_hamming, _AFP_BANDS)
    corpus_sig = corpus_signatures if corpus_signatures is not None else (
        audio_fingerprint(corpus_df, media_col=media_col, id_col=id_col)
        if corpus_df is not None else None)
    if corpus_sig is None:
        raise ValueError("need corpus_df or corpus_signatures")
    batch_sig = batch_signatures if batch_signatures is not None else (
        audio_fingerprint(batch_df, media_col=media_col, id_col=id_col)
        if batch_df is not None else None)
    if batch_sig is None:
        raise ValueError("need batch_df or batch_signatures")
    return banded_hamming_pairs(
        corpus_sig, _afp_band_cols(), ["afp"], _afp_hamming, id_col,
        max_hamming, out_a="media_id_a", out_b="media_id_b",
        sig_right=batch_sig, check_disjoint=check_disjoint,
        max_band_bucket=max_band_bucket,
    )


def _afp_band_cols() -> list:
    return [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("afp"), (3 - b) * 8)
            .bitwiseAND(F.lit(255)).alias("bits"),
        )
        for b in range(_AFP_BANDS)
    ]


def _afp_hamming(l: str, r: str):
    return F.bit_count(
        F.col(f"{l}.afp").bitwiseXOR(F.col(f"{r}.afp"))
    ).cast("int")


def resize_images(df: DataFrame, width: int, height: int,
                  media_col: str = "media", id_col: str = "media_id") -> DataFrame:
    """REAL image resize: decode (Pillow or stdlib PNG) → nearest-neighbor
    resample → PNG re-encode. Nearest-neighbor is chosen for determinism
    (bit-exact across platforms — no float filter kernels), which keeps
    the operator oracle-testable; swap the sampling loop for a Pillow
    `im.resize(..., LANCZOS)` when quality beats determinism."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, medias = [], []
            for mid, raw in zip(pdf[id_col], pdf[media_col]):
                sw, sh, ch, px = decode_image(bytes(raw))
                out = bytearray(width * height * ch)
                for y in range(height):
                    sy = y * sh // height
                    for x in range(width):
                        sx = x * sw // width
                        so = (sy * sw + sx) * ch
                        do = (y * width + x) * ch
                        out[do:do + ch] = px[so:so + ch]
                ids.append(mid)
                medias.append(png_encode(bytes(out), width, height, ch))
            yield pd.DataFrame(
                {"media_id": ids, "media": medias,
                 "width": width, "height": height}
            )

    return spread(df, by=id_col).select(F.col(id_col), F.col(media_col)).mapInPandas(
        batches, "media_id long, media binary, width int, height int"
    )


def resize_stub(df: DataFrame, width: int, height: int,
                media_col: str = "media", id_col: str = "media_id") -> DataFrame:
    """Resize pipeline plumbing: passes bytes through mapInPandas and tags
    the target geometry (a real impl would re-encode). Output schema
    (media_id, media, width, height) is the contract."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col],
                    "media": pdf[media_col],
                    "width": width,
                    "height": height,
                }
            )

    return spread(df, by=id_col).select(F.col(id_col), F.col(media_col)).mapInPandas(
        batches, "media_id long, media binary, width int, height int"
    )


def frame_sample_stub(df: DataFrame, every_ms: int = 1000,
                      media_col: str = "media", id_col: str = "media_id",
                      duration_col: str = "duration_ms",
                      extra_cols: list[str] | None = None) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled timestamp
    (media_id, *extra_cols, frame_ts_ms, frame binary). Frame extraction
    is stubbed as a byte-slice (no ffmpeg in the container); the
    explode-shaped output schema, batch iteration, and the downstream
    frame-hash dedup pipeline are the real, codec-independent contract —
    a real decoder swaps the slice for a decoded frame and nothing else
    changes. ``extra_cols`` ride through per frame (same convention as
    phash_signatures; carries __dt at ingest-time materialization)."""
    passthru = [id_col, *(extra_cols or [])]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {c: [] for c in passthru}
            out_ts, out_frames = [], []
            for _, row in pdf.iterrows():
                dur = int(row[duration_col] or 0)
                raw = row[media_col] or b""
                for ts in range(0, max(dur, 1), every_ms):
                    for c in passthru:
                        out[c].append(row[c])
                    out_ts.append(ts)
                    frac = ts / max(dur, 1)
                    pos = int(frac * max(len(raw) - 16, 0))
                    out_frames.append(raw[pos:pos + 16])
            out["frame_ts_ms"] = out_ts
            out["frame"] = out_frames
            yield pd.DataFrame(out)

    return spread(df, by=id_col).select(
        *[F.col(c) for c in passthru], F.col(media_col), F.col(duration_col)
    ).mapInPandas(
        batches,
        _passthru_schema(df, passthru, "frame_ts_ms long, frame binary"),
    )


# ---- video frame-hash near-dup --------------------------------------------


def video_frame_signatures(df: DataFrame, every_ms: int = 1000,
                           media_col: str = "media", id_col: str = "media_id",
                           duration_col: str = "duration_ms",
                           extra_cols: list[str] | None = None) -> DataFrame:
    """(media_id, *extra_cols, frame_ts_ms, frame_hash): a 60-bit
    md5-derived integer id per sampled frame — the video modality's
    dedup signature. Frame-level hashing is codec-independent (the hash
    is over the frame's bytes, stubbed or decoded), so the whole
    downstream pipeline is real even while the frame extractor is the
    honest byte-slice stub. The hash is the repo-wide md5 idiom
    (dedup._shingle_hash's construction over binary), exactly
    recomputable in SQL from the fixture text."""
    frames = frame_sample_stub(
        df, every_ms=every_ms, media_col=media_col, id_col=id_col,
        duration_col=duration_col, extra_cols=extra_cols)
    from coolplaydruid_spark.operators.dedup import _shingle_hash

    return frames.select(
        F.col(id_col), *[F.col(c) for c in (extra_cols or [])],
        F.col("frame_ts_ms"),
        _shingle_hash(F.col("frame")).alias("frame_hash"),
    )


def video_neardup(df: DataFrame | None = None, threshold: float = 0.5,
                  every_ms: int = 1000, media_col: str = "media",
                  id_col: str = "media_id", duration_col: str = "duration_ms",
                  max_frame_freq: int | None = None,
                  signatures: DataFrame | None = None) -> DataFrame:
    """Video near-duplicate pairs by frame-hash voting: Jaccard over each
    video's DISTINCT sampled-frame-hash set — (media_id_a, media_id_b,
    jaccard ≥ threshold), a < b. Catches re-encodes/containers sharing
    frames (with a real decoder: perceptually-hashed frames) and partial
    containment via the threshold.

    This is ngram_jaccard_pairs' exact shape with frames as shingles —
    one shared implementation (dedup.set_jaccard_pairs): candidates =
    videos sharing ≥ 1 frame hash (the co-frame equi-join IS the
    blocking — never O(n²)), ``max_frame_freq`` dropping stop-frames
    (intros/black frames appearing in more than that many videos)
    before the join. ``signatures`` accepts a video_frame_signatures()
    frame (the store path: hashes materialize at ingest; re-pairing
    never re-samples); on the df= path the (distinct, capped) frame
    sets are pinned so the Python sampling stage feeds the join and the
    sizes aggregate from one materialization."""
    from coolplaydruid_spark.operators.dedup import set_jaccard_pairs

    if df is None and signatures is None:
        raise ValueError("need df or signatures")
    sig = signatures if signatures is not None else video_frame_signatures(
        df, every_ms=every_ms, media_col=media_col, id_col=id_col,
        duration_col=duration_col)
    return set_jaccard_pairs(
        sig, "frame_hash", id_col, threshold, max_key_freq=max_frame_freq,
        out_a="media_id_a", out_b="media_id_b",
        persist=signatures is None,
    )


def video_neardup_incremental(
    batch_df: DataFrame | None = None,
    corpus_df: DataFrame | None = None,
    threshold: float = 0.5,
    every_ms: int = 1000,
    media_col: str = "media",
    id_col: str = "media_id",
    duration_col: str = "duration_ms",
    max_frame_freq: int | None = None,
    corpus_signatures: DataFrame | None = None,
    batch_signatures: DataFrame | None = None,
    check_disjoint: bool = False,
) -> DataFrame:
    """Video near-dup pairs between an incoming batch and the existing
    corpus — the same daily-ingest contract as the other modalities
    (corpus never self-pairs; pre-materialized signatures skip the
    sampling). Returns (media_id_a = corpus id, media_id_b = batch id,
    jaccard ≥ threshold). ``check_disjoint`` and the stop-frame cap
    ``max_frame_freq`` are dedup._blocked_pairs' probe and cross-form
    cap."""
    from coolplaydruid_spark.operators.dedup import set_jaccard_pairs

    corpus_sig = corpus_signatures if corpus_signatures is not None else (
        video_frame_signatures(corpus_df, every_ms=every_ms,
                               media_col=media_col, id_col=id_col,
                               duration_col=duration_col)
        if corpus_df is not None else None)
    if corpus_sig is None:
        raise ValueError("need corpus_df or corpus_signatures")
    batch_sig = batch_signatures if batch_signatures is not None else (
        video_frame_signatures(batch_df, every_ms=every_ms,
                               media_col=media_col, id_col=id_col,
                               duration_col=duration_col)
        if batch_df is not None else None)
    if batch_sig is None:
        raise ValueError("need batch_df or batch_signatures")
    return set_jaccard_pairs(
        corpus_sig, "frame_hash", id_col, threshold, sets_right=batch_sig,
        max_key_freq=max_frame_freq, out_a="media_id_a", out_b="media_id_b",
        persist=corpus_signatures is None or batch_signatures is None,
        check_disjoint=check_disjoint,
    )
