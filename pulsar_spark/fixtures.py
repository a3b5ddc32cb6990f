"""Deterministic media fixtures: one mint per family, one frame builder.

Every media query of ``__spark_entry__.py``, the bench and the scale
smoke checks a real codec against payloads minted in flight from ``doc_id``
alone, so the DuckDB oracle can recompute the decoded values in closed
form (FIXTURES.md F8). ``media_frame(docs, mint)`` runs one
``mint(d) -> (modality, codec, payload)`` over a frame of doc ids.

Memo scope: the families whose pure-Python encode repeats across docs
memoise the payload (or the numpy base it is derived from) with
``functools.cache`` on exactly the parameters that determine the bytes.
The cache lives in the Python worker, which Spark reuses across tasks
and queries, so each key is minted at most once per worker. Every key
space is bounded, and each memo's docstring states its bound. Cached
numpy bases are read-only, so a stray in-place edit raises instead of
corrupting the bytes of every later doc that shares the base.

Not imported by ``pulsar_spark/__init__``, so a session start does not
load it.
"""

from __future__ import annotations

import functools

import numpy as np

from pulsar_spark.sources import fan_out

SCHEMA = "media_id bigint, modality string, codec string, payload binary"


def media_frame(docs, mint):
    """``docs`` (a ``doc_id`` column) -> one media row per doc in the
    four-column ``SCHEMA``, minted by ``mint(d)``.

    ``docs`` goes through ``fan_out``: the small-SF documents table is a
    single parquet file, i.e. ONE scan partition, and the encode plus
    the downstream decode/hash passes are pure Python per row, so
    without the fan-out the whole media pipeline ran on one core.
    Values depend only on doc_id, so the repartition cannot change any
    result."""

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                [(int(d), *mint(int(d))) for d in pdf["doc_id"]],
                columns=["media_id", "modality", "codec", "payload"],
            )

    return fan_out(docs).mapInPandas(enc, SCHEMA)


def _wav16(frames: bytes) -> bytes:
    """Mono 16-bit 8 kHz PCM WAV around little-endian sample bytes."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(frames)
    return buf.getvalue()


def real(d: int):
    """``media_decode_real``: every 3rd doc a PCM WAV of silence, the
    rest a solid-colour BMP, both sized from ``d``. Not memoised."""
    from pulsar_spark.functions.multimodal import _encode_bmp

    if d % 3 == 0:
        n = 1000 + (d % 50) * 8  # divisible by 8: exact ms
        return "audio", "wav", _wav16(b"\x00\x00" * n)
    w, h = 4 + d % 5, 3 + d % 4
    px = np.full((h, w, 3), (d % 256, d * 7 % 256, d * 13 % 256), np.uint8)
    return "image", "bmp", _encode_bmp(px)


def png(d: int):
    """``media_decode_png``: a colour-type-2 PNG of solid pixels derived
    from ``d``. Not memoised."""
    from pulsar_spark.functions.multimodal import _encode_png

    w, h = 3 + d % 6, 2 + d % 5
    px = np.full((h, w, 3), (d * 3 % 256, d * 5 % 256, d * 11 % 256), np.uint8)
    return "image", "png", _encode_png(px)


def _jpeg_params(d: int):
    """(branch, v, w, h) of the two JPEG families: solid blocks whose
    FLAT-quant roundtrip is exact (DC-only, achromatic colour rows)."""
    if d % 3 == 0:
        return 0, d * 29 % 256, 8 * (1 + d % 2), 8
    if d % 3 == 1:
        return 1, d * 31 % 256, 16, 16 * (1 + d % 2)
    return 2, d * 37 % 256, 8 * (1 + d % 7 % 3), 8 * (1 + d % 5 % 2)


def jpeg(d: int):
    """``media_decode_jpeg``: branch 0 grayscale with restart markers,
    1 achromatic RGB through the 4:2:0 path, 2 plain grayscale 4:4:4."""
    return "image", "jpeg", _jpeg(*_jpeg_params(d))


@functools.cache
def _jpeg(branch: int, v: int, w: int, h: int) -> bytes:
    """Memo of the ~0.3-0.8 ms pure-Python baseline encode. Bound: 256,
    256 and 1,536 keys for branches 0, 1 and 2."""
    from pulsar_spark.functions.jpeg import FLAT_QUANT, encode_jpeg

    if branch == 0:
        return encode_jpeg(
            np.full((h, w), v, np.uint8), quant=FLAT_QUANT, restart_interval=2
        )
    if branch == 1:
        return encode_jpeg(
            np.full((h, w, 3), v, np.uint8), quant=FLAT_QUANT, subsampling="420"
        )
    return encode_jpeg(np.full((h, w), v, np.uint8), quant=FLAT_QUANT)


def progressive(d: int):
    """``media_decode_progressive``: branch 0 grayscale with deep DC
    successive approximation, 1 achromatic RGB with DC+AC refinement
    over two bands, 2 grayscale spectral selection over three bands.
    Branch 1 is 8 pixels high, where the baseline family's is 16 or 32."""
    branch, v, w, h = _jpeg_params(d)
    return "image", "jpeg", _progressive(branch, v, w, 8 if branch == 1 else h)


@functools.cache
def _progressive(branch: int, v: int, w: int, h: int) -> bytes:
    """Memo of the progressive encode. Bound: 256, 256 and 1,536 keys
    for branches 0, 1 and 2."""
    from pulsar_spark.functions.jpeg import FLAT_QUANT, encode_jpeg_progressive

    if branch == 0:
        return encode_jpeg_progressive(
            np.full((h, w), v, np.uint8), quant=FLAT_QUANT, dc_al=3, ac_al=0
        )
    if branch == 1:
        return encode_jpeg_progressive(
            np.full((h, w, 3), v, np.uint8),
            quant=FLAT_QUANT, dc_al=1, ac_al=1, bands=((1, 5), (6, 63)),
        )
    return encode_jpeg_progressive(
        np.full((h, w), v, np.uint8),
        quant=FLAT_QUANT, dc_al=0, ac_al=0, bands=((1, 2), (3, 20), (21, 63)),
    )


def phash(d: int, perturb: bool, n_patterns: int = 37):
    """Perceptual-hash fixture: a pseudo-random 32x32 RGB BMP whose
    content depends only on ``d % n_patterns`` (distinct patterns
    measured >= 18 bits of pairwise pHash distance), so same-pattern
    docs are perceptual duplicates. With ``perturb`` each copy is also
    brightness-shifted and single-pixel-tweaked per doc (measured pHash
    distance <= 2 from its pattern): the re-encode regime the banded
    near-dup join must recover. Bind the options with
    ``functools.partial`` to get a mint."""
    from pulsar_spark.functions.multimodal import _encode_bmp

    px = _phash_base(d % n_patterns)
    if perturb:  # astype/clip allocate: the cached base is never written
        px = np.clip(px.astype(np.int16) + (d // n_patterns) % 3, 0, 255).astype(
            np.uint8
        )
        px[d % 32, d * 7 % 32] = np.clip(
            px[d % 32, d * 7 % 32].astype(np.int16) + 3, 0, 255
        ).astype(np.uint8)
    return "image", "bmp", _encode_bmp(px)


@functools.cache
def _phash_base(g: int):
    """Read-only base pattern ``g`` (3 KB): skips the RandomState init
    and draw per doc (measured 221 -> 77 us/doc). Bound: ``n_patterns``
    or fewer keys per caller."""
    px = np.random.RandomState(g).randint(0, 256, (32, 32, 3)).astype(np.uint8)
    px.setflags(write=False)
    return px


def wav(d: int, perturb: bool):
    """Audio fingerprint fixture: a two-tone + seeded-noise PCM WAV whose
    signal depends only on ``d % 23`` (measured pairwise fingerprint
    distance >= 20). With ``perturb`` each copy is amplitude-scaled (the
    sign-of-difference fingerprint is exactly invariant to it) plus
    small per-doc noise (measured distance <= 3)."""
    sig = _wav_base(d % 23)
    if perturb:  # every step allocates: the cached base is never written
        sig = sig * (0.3 + 0.1 * ((d // 23) % 5))
        sig = sig + 0.01 * np.random.RandomState(10000 + d).randn(8000)
    pcm = np.clip(sig / 4.0, -1, 1)
    return "audio", "wav", _wav16((pcm * 32767).astype("<i2").tobytes())


@functools.cache
def _wav_base(g: int):
    """Read-only 8000-sample base signal ``g`` (~0.6 ms/doc saved).
    Bound: 23 keys."""
    rs = np.random.RandomState(g)
    t = np.arange(8000) / 8000.0
    f1, f2 = 100 + g * 37 % 1700, 300 + g * 91 % 2900
    sig = (
        np.sin(2 * np.pi * f1 * t)
        + 0.5 * np.sin(2 * np.pi * f2 * t)
        + 0.2 * rs.randn(8000)
    )
    sig.setflags(write=False)
    return sig


def avi(d: int):
    """MJPEG-AVI fixture, minted for ``doc_id % 7 == 0``: ``4 + d % 3``
    solid 24x16 frames, frame f's gray = (37*(d%5) + 29*f) % 256. Frame
    count, dims and sampled indexes are formula-derived, so the oracle
    pins them without decoding; pytest pins the lossy pixel means."""
    return "video", "avi", _avi(d % 5, d % 3)


@functools.cache
def _avi(shade: int, extra: int) -> bytes:
    """Memo of the per-frame JPEG encode (~4.3 ms/doc). Bound: 15 keys."""
    from pulsar_spark.functions.video import encode_avi_mjpeg

    frames = [
        np.full((16, 24, 3), (37 * shade + 29 * f) % 256, np.uint8)
        for f in range(4 + extra)
    ]
    return encode_avi_mjpeg(frames, fps=5)


def adpcm(d: int):
    """IMA-ADPCM WAV fixture, minted for ``doc_id % 11 == 0``: two-tone
    int16 pattern ``d % 13`` (4000 samples at 8 kHz). Identical
    patterns encode to identical bytes, so decoded-PCM grouping must
    reproduce ``d % 13`` exactly."""
    return "audio", "wav", _adpcm(d % 13)


@functools.cache
def _adpcm(g: int) -> bytes:
    """Memo of the signal mint + IMA encode (~7.6 ms/doc). Bound: 13 keys."""
    from pulsar_spark.functions.video import encode_wav_ima

    t = np.arange(4000)
    sig = (
        9000 * np.sin(2 * np.pi * (120 + 53 * g) * t / 8000)
        + 5000 * np.sin(2 * np.pi * (350 + 97 * g) * t / 8000)
    ).astype(np.int64)
    return encode_wav_ima(sig, 8000)


def gif(d: int):
    """``media_decode_gif``: branch 0 animated, 3 solid frames with GCE
    delays; 1 interlaced vertical ramp of odd height; 2 the 255-colour
    ramp that grows the LZW code width past 9 bits."""
    if d % 3 == 0:
        return "image", "gif", _gif(0, d * 17 % 254, 2 + d % 3, 3 + d % 4, d % 10)
    if d % 3 == 1:
        return "image", "gif", _gif(1, d % 200, 5 + 2 * (d % 3), 3 + d % 4, 0)
    return "image", "gif", _gif(2, 0, 16, 255, 0)


@functools.cache
def _gif(branch: int, v: int, h: int, w: int, delay: int) -> bytes:
    """Memo of the pure-Python LZW encode (~5 ms for the ramp, the same
    payload for every third doc). Bound: 2,741 keys (branch 0 repeats
    with period lcm(3, 254, 4, 10) = 7,620, i.e. 2,540 keys; branch 1
    has 200; branch 2 one)."""
    from pulsar_spark.functions.gif import encode_gif

    if branch == 0:
        frames = [np.full((h, w, 3), v + f, np.uint8) for f in range(3)]
        return encode_gif(frames, delays_cs=[delay + 1, delay + 2, delay + 3])
    if branch == 1:
        ramp = (v + np.arange(h, dtype=np.int32)) % 256
        px = np.repeat(ramp.astype(np.uint8)[:, None, None], 3, axis=2)
        return encode_gif(px.repeat(w, axis=1), interlace=True)
    row = np.arange(w, dtype=np.uint8)
    return encode_gif(np.stack([row] * 3, axis=-1)[None].repeat(h, axis=0))


def g711(d: int):
    """``media_decode_g711``: mu-law WAV (tag 7) for even docs, A-law
    (tag 6) for odd, each a constant-amplitude codebook value. Not
    memoised."""
    from pulsar_spark.functions.audio import encode_wav_g711

    ut, at = _g711_tables()
    n = 400 + (d % 50) * 8  # divisible by 8: exact ms at 8 kHz
    c = 16 + d % 112  # 16..127 keeps the value nonzero and positive in both laws
    if d % 2 == 0:
        pcm = np.full(n, ut[(~c) & 0xFF], np.int16)
        return "audio", "wav", encode_wav_g711(pcm, 8000, "ulaw")
    pcm = np.full(n, at[(0x80 | c) ^ 0x55], np.int16)
    return "audio", "wav", encode_wav_g711(pcm, 8000, "alaw")


@functools.cache
def _g711_tables():
    """The two 256-entry decode tables, read-only. Bound: one key."""
    from pulsar_spark.functions.audio import alaw_decode_table, ulaw_decode_table

    tables = ulaw_decode_table(), alaw_decode_table()
    for t in tables:
        t.setflags(write=False)
    return tables


def flac(d: int):
    """``media_decode_flac``: branch 0 constant signal (CONSTANT
    subframe), 1 sawtooth ramp (FIXED-order prediction), 2 alternating
    +-amp square (rice-coded order-0 / verbatim)."""
    return "audio", "flac", _flac(d % 3, 800 + (d % 40) * 8, 100 + (d % 1000) * 30)


@functools.cache
def _flac(branch: int, n: int, amp: int) -> bytes:
    """Memo of the ~1.3 ms pure-Python rice/FIXED encode. Bound: 3,000
    keys (the key repeats with period lcm(3, 40, 1000))."""
    from pulsar_spark.functions.flac import encode_flac

    if branch == 0:
        sig = np.full(n, amp, np.int16)
    elif branch == 1:
        sig = (np.arange(n) % amp).astype(np.int16)
    else:
        sig = np.where(np.arange(n) % 2 == 0, amp, -amp).astype(np.int16)
    return encode_flac(sig, 8000)


def y4m(d: int):
    """Lossless Y4M video, minted for ``doc_id % 5 == 0``: frame f is
    solid gray (31*(d%6) + 41*f) % 256 in a Cmono container, so the
    oracle pins per-frame means exactly. Not memoised."""
    from pulsar_spark.functions.video import encode_y4m

    frames = [
        np.full((6 + d % 2, 8 + d % 3), (31 * (d % 6) + 41 * f) % 256, np.uint8)
        for f in range(2 + d % 4)
    ]
    return "video", "y4m", encode_y4m(frames, 10, 1, "mono")


def av_mix(d: int):
    """Mixed-container mix of the bench's x9 line and the scale smoke:
    GIF video, G.711 mu-law WAV, FLAC and Y4M by ``d % 4``. Not
    memoised: x9 times the mint inside its fused encode+decode pass."""
    from pulsar_spark.functions.audio import encode_wav_g711
    from pulsar_spark.functions.flac import encode_flac
    from pulsar_spark.functions.gif import encode_gif
    from pulsar_spark.functions.video import encode_y4m

    if d % 4 == 0:
        frames = [np.full((16, 16, 3), (d + f * 7) % 256, np.uint8) for f in range(3)]
        return "video", "gif", encode_gif(frames)
    if d % 4 == 1:
        pcm = np.full(2000, (d * 37) % 8000 - 4000, np.int16)
        return "audio", "wav", encode_wav_g711(pcm, 8000, "ulaw")
    if d % 4 == 2:
        sig = ((np.arange(2000) * (1 + d % 7)) % 4096 - 2048).astype(np.int16)
        return "audio", "flac", encode_flac(sig, 8000)
    frames = [np.full((16, 16), (d + f * 11) % 256, np.uint8) for f in range(4)]
    return "video", "y4m", encode_y4m(frames, 10, 1, "mono")
