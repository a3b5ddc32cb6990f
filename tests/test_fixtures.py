"""Media fixture mints (pulsar_spark/fixtures.py) and the entry's
scratch dirs.

The memoised mints must be byte-identical to a straight-line per-doc
encode: the oracle pins the decoded values, these pin the BYTES, so a
memo-key collision or a mutated cached base cannot hide behind a
decode-invariant. The guards keep one copy of the mint plumbing.
"""

from __future__ import annotations

import functools
import io
import os
import re
import subprocess
import sys
import wave

import numpy as np
import pytest

from pulsar_spark import fixtures

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _wav16(frames: bytes) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(frames)
    return buf.getvalue()


class TestFixtureMintMemo:
    """The worker-memoised fixtures, minted through ``media_frame`` on
    the test corpus, against the straight-line per-doc encode."""

    @pytest.fixture(scope="class")
    def docs(self, documents):
        return documents.select("doc_id")

    def _payloads(self, df):
        return {
            int(r["media_id"]): bytes(r["payload"]) for r in df.collect()
        }

    def test_phash_fixture_bytes(self, docs):
        from pulsar_spark.functions.multimodal import _encode_bmp

        bmp = functools.partial(fixtures.phash, perturb=True, n_patterns=7)
        got = self._payloads(fixtures.media_frame(docs, bmp))
        assert len(got) > 7  # patterns repeat -> the memo actually hits
        for d, payload in got.items():
            px = np.random.RandomState(d % 7).randint(
                0, 256, (32, 32, 3)
            ).astype(np.uint8)
            px = np.clip(px.astype(np.int16) + (d // 7) % 3, 0, 255).astype(
                np.uint8
            )
            px[d % 32, d * 7 % 32] = np.clip(
                px[d % 32, d * 7 % 32].astype(np.int16) + 3, 0, 255
            ).astype(np.uint8)
            assert payload == _encode_bmp(px), f"doc {d}"

    def test_wav_fixture_bytes(self, docs):
        wav = functools.partial(fixtures.wav, perturb=True)
        got = self._payloads(fixtures.media_frame(docs, wav))
        assert got
        for d, payload in got.items():
            g = d % 23
            rs = np.random.RandomState(g)
            t = np.arange(8000) / 8000.0
            f1, f2 = 100 + g * 37 % 1700, 300 + g * 91 % 2900
            sig = (
                np.sin(2 * np.pi * f1 * t)
                + 0.5 * np.sin(2 * np.pi * f2 * t)
                + 0.2 * rs.randn(8000)
            )
            sig = sig * (0.3 + 0.1 * ((d // 23) % 5))
            sig = sig + 0.01 * np.random.RandomState(10000 + d).randn(8000)
            pcm = np.clip(sig / 4.0, -1, 1)
            expected = _wav16((pcm * 32767).astype("<i2").tobytes())
            assert payload == expected, f"doc {d}"

    def test_avi_fixture_bytes(self, docs):
        from pulsar_spark.functions.video import encode_avi_mjpeg

        got = self._payloads(
            fixtures.media_frame(docs.where("doc_id % 7 = 0"), fixtures.avi)
        )
        assert got
        for d, payload in got.items():
            frames = [
                np.full((16, 24, 3), (37 * (d % 5) + 29 * f) % 256, np.uint8)
                for f in range(4 + d % 3)
            ]
            assert payload == encode_avi_mjpeg(frames, fps=5), f"doc {d}"

    def test_adpcm_fixture_bytes(self, docs):
        from pulsar_spark.functions.video import encode_wav_ima

        got = self._payloads(
            fixtures.media_frame(docs.where("doc_id % 11 = 0"), fixtures.adpcm)
        )
        assert got
        for d, payload in got.items():
            g = d % 13
            t = np.arange(4000)
            sig = (
                9000 * np.sin(2 * np.pi * (120 + 53 * g) * t / 8000)
                + 5000 * np.sin(2 * np.pi * (350 + 97 * g) * t / 8000)
            ).astype(np.int64)
            assert payload == encode_wav_ima(sig, 8000), f"doc {d}"


def _repeating_ids(period: int, n: int = 240) -> list[int]:
    """``n`` ids, then the same ``n`` shifted by one key period, so every
    id of the second half repeats a key of the first (a memo hit)."""
    return list(range(n)) + list(range(period, period + n))


class TestMemoBytesNoSpark:
    """The other four payload memos, minted in plain Python. The ids
    repeat every key once, and the memo's ``hits`` must grow by at
    least that many."""

    def _check(self, mint, memo, ids, reference):
        hits = memo.cache_info().hits
        for d in ids:
            assert mint(d)[2] == reference(d), f"doc {d}"
        assert memo.cache_info().hits - hits >= len(ids) // 2

    def test_jpeg_fixture_bytes(self):
        from pulsar_spark.functions.jpeg import FLAT_QUANT, encode_jpeg

        def reference(d):
            if d % 3 == 0:
                v, w, h = d * 29 % 256, 8 * (1 + d % 2), 8
                return encode_jpeg(
                    np.full((h, w), v, np.uint8), quant=FLAT_QUANT, restart_interval=2
                )
            if d % 3 == 1:
                v, w, h = d * 31 % 256, 16, 16 * (1 + d % 2)
                return encode_jpeg(
                    np.full((h, w, 3), v, np.uint8), quant=FLAT_QUANT, subsampling="420"
                )
            v = d * 37 % 256
            w, h = 8 * (1 + d % 7 % 3), 8 * (1 + d % 5 % 2)
            return encode_jpeg(np.full((h, w), v, np.uint8), quant=FLAT_QUANT)

        # branch 2's (v, w, h) repeats with period lcm(3, 256, 7, 5)
        self._check(fixtures.jpeg, fixtures._jpeg, _repeating_ids(26_880), reference)

    def test_progressive_fixture_bytes(self):
        from pulsar_spark.functions.jpeg import FLAT_QUANT, encode_jpeg_progressive

        def reference(d):
            if d % 3 == 0:
                v, w, h = d * 29 % 256, 8 * (1 + d % 2), 8
                return encode_jpeg_progressive(
                    np.full((h, w), v, np.uint8), quant=FLAT_QUANT, dc_al=3, ac_al=0
                )
            if d % 3 == 1:
                v, w, h = d * 31 % 256, 16, 8
                return encode_jpeg_progressive(
                    np.full((h, w, 3), v, np.uint8),
                    quant=FLAT_QUANT, dc_al=1, ac_al=1, bands=((1, 5), (6, 63)),
                )
            v = d * 37 % 256
            w, h = 8 * (1 + d % 7 % 3), 8 * (1 + d % 5 % 2)
            return encode_jpeg_progressive(
                np.full((h, w), v, np.uint8),
                quant=FLAT_QUANT, dc_al=0, ac_al=0, bands=((1, 2), (3, 20), (21, 63)),
            )

        self._check(
            fixtures.progressive, fixtures._progressive, _repeating_ids(26_880), reference
        )

    def test_gif_fixture_bytes(self):
        from pulsar_spark.functions.gif import encode_gif

        def reference(d):
            if d % 3 == 0:
                v = d * 17 % 254
                frames = [
                    np.full((2 + d % 3, 3 + d % 4, 3), v + f, np.uint8) for f in range(3)
                ]
                return encode_gif(frames, delays_cs=[d % 10 + 1, d % 10 + 2, d % 10 + 3])
            if d % 3 == 1:
                h, w = 5 + 2 * (d % 3), 3 + d % 4
                ramp = (d % 200 + np.arange(h, dtype=np.int32)) % 256
                px = np.repeat(ramp.astype(np.uint8)[:, None, None], 3, axis=2).repeat(
                    w, axis=1
                )
                return encode_gif(px, interlace=True)
            row = np.arange(255, dtype=np.uint8)
            return encode_gif(np.stack([row] * 3, axis=-1)[None].repeat(16, axis=0))

        # lcm of branch 0's period (7,620) and branch 1's (600)
        self._check(fixtures.gif, fixtures._gif, _repeating_ids(76_200), reference)

    def test_flac_fixture_bytes(self):
        from pulsar_spark.functions.flac import encode_flac

        def reference(d):
            n, amp = 800 + (d % 40) * 8, 100 + (d % 1000) * 30
            if d % 3 == 0:
                sig = np.full(n, amp, np.int16)
            elif d % 3 == 1:
                sig = (np.arange(n) % amp).astype(np.int16)
            else:
                sig = np.where(np.arange(n) % 2 == 0, amp, -amp).astype(np.int16)
            return encode_flac(sig, 8000)

        # the key repeats only every lcm(3, 40, 1000) ids
        self._check(fixtures.flac, fixtures._flac, _repeating_ids(3_000), reference)

    def test_cached_bases_are_read_only(self):
        for base in (fixtures._phash_base(3), fixtures._wav_base(3)):
            with pytest.raises(ValueError):
                base[0] = 0


def _program_files():
    yield os.path.join(REPO, "__spark_entry__.py")
    yield os.path.join(REPO, "bench.py")
    for top in ("tools", "pulsar_spark"):
        for dirpath, _dirs, files in os.walk(os.path.join(REPO, top)):
            for f in files:
                if f.endswith(".py"):
                    yield os.path.join(dirpath, f)


def test_one_media_mint():
    """The four-column media schema literal lives only in fixtures.py
    (``multimodal.MEDIA_SCHEMA`` is the 8-column schema and does not
    match), and no hand-rolled memo dict is left."""
    schema = '"media_id bigint, modality string, codec string, payload binary"'
    memo = re.compile(r"\b(payload_cache|base_cache)\b")
    owners, memos = [], []
    for path in _program_files():
        with open(path) as fh:
            text = fh.read()
        if schema in text:
            owners.append(os.path.relpath(path, REPO))
        if memo.search(text):
            memos.append(os.path.relpath(path, REPO))
    assert owners == [os.path.join("pulsar_spark", "fixtures.py")]
    assert memos == []


def test_entry_mkdtemp_only_in_scratch():
    import ast

    with open(os.path.join(REPO, "__spark_entry__.py")) as fh:
        tree = ast.parse(fh.read())
    callers = set()
    for fn in tree.body:
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Attribute)
                and node.attr == "mkdtemp"
                and isinstance(node.value, ast.Name)
                and node.value.id == "tempfile"
            ):
                callers.add(getattr(fn, "name", None))
    assert callers == {"_scratch", "_scratch_root"}


def test_entry_scratch_removed_at_exit(tmp_path):
    """Scratch dirs survive until the process exits, then the whole
    per-process root goes (no Spark: the helper only touches disk)."""
    code = (
        "import os, __spark_entry__ as e\n"
        "d = e._scratch('pstest_')\n"
        "open(os.path.join(d, 'f'), 'w').close()\n"
        "assert os.path.isfile(os.path.join(d, 'f'))\n"
        "assert os.path.dirname(d) == e._scratch_root()\n"
        "print(e._scratch_root())\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, env=env,
        capture_output=True, text=True, check=True,
    )
    root = out.stdout.strip()
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []
