"""Durable state (pulsar_spark/durable.py): a crash at any step of a
sidecar write or a directory swap leaves the old state or the new one,
never a torn one; and no other engine module writes sidecars or
renames directories by hand."""

from __future__ import annotations

import json
import os
import re

import pytest

from pulsar_spark import durable


def _temps(d) -> list[str]:
    return [n for n in os.listdir(d) if n.endswith(".tmp")]


class TestWriteAtomic:
    def test_roundtrip_json_and_bytes_keep_mode(self, tmp_path):
        p = str(tmp_path / "sub" / "rec.json")
        assert durable.read_json(p, {"none": True}) == {"none": True}
        durable.write_atomic(p, {"a": [1, 2]})
        assert durable.read_json(p) == {"a": [1, 2]}
        assert os.stat(p).st_mode & 0o777 == 0o644
        os.chmod(p, 0o600)
        durable.write_atomic(p, b"\x00raw")
        with open(p, "rb") as fh:
            assert fh.read() == b"\x00raw"
        assert os.stat(p).st_mode & 0o777 == 0o600
        assert _temps(tmp_path / "sub") == []

    @pytest.mark.parametrize("had_old", [True, False])
    @pytest.mark.parametrize("step", ["temp_write", "fsync", "replace", "dir_fsync"])
    def test_crash_at_each_step(self, tmp_path, monkeypatch, step, had_old):
        p = str(tmp_path / "rec.json")
        if had_old:
            durable.write_atomic(p, {"v": "old"})
        real_fsync, fsyncs = os.fsync, []

        def torn_dump(obj, fh, **kw):
            fh.write('{"v": "ne')  # half a record, then the crash
            raise OSError("injected")

        def flaky_fsync(fd):
            fsyncs.append(fd)
            if (step, len(fsyncs)) in (("fsync", 1), ("dir_fsync", 2)):
                raise OSError("injected")
            real_fsync(fd)

        def boom(*a):
            raise OSError("injected")

        with monkeypatch.context() as m:
            if step == "temp_write":
                m.setattr(json, "dump", torn_dump)
            elif step == "replace":
                m.setattr(os, "replace", boom)
            else:
                m.setattr(os, "fsync", flaky_fsync)
            with pytest.raises(OSError, match="injected"):
                durable.write_atomic(p, {"v": "new"})
        got = durable.read_json(p)
        if step == "dir_fsync":
            assert got == {"v": "new"}  # the replace already landed
        else:
            assert got == ({"v": "old"} if had_old else None)
        assert _temps(tmp_path) == []


class _FlakyFs:
    """A Hadoop FileSystem stand-in that fails one swap step: the Nth
    call of ``op`` raises, or (``how="false"``) returns False the way
    Hadoop's rename reports most failures."""

    def __init__(self, fs, op, nth, how):
        self.fs, self.op, self.nth, self.how = fs, op, nth, how
        self.calls: list[str] = []

    def _hit(self, op):
        self.calls.append(op)
        return op == self.op and self.calls.count(op) == self.nth

    def exists(self, p):
        self._hit("exists")
        return self.fs.exists(p)

    def rename(self, src, dst):
        if self._hit("rename"):
            if self.how == "false":
                return False
            raise IOError("injected")
        return self.fs.rename(src, dst)

    def delete(self, p, recursive):
        if self._hit("delete"):
            raise IOError("injected")
        return self.fs.delete(p, recursive)


def _tree(path: str, tag: str) -> None:
    os.makedirs(path)
    with open(os.path.join(path, "part"), "w") as fh:
        fh.write(tag)


def _tag(path: str) -> str | None:
    f = os.path.join(path, "part")
    if not os.path.exists(f):
        return None
    with open(f) as fh:
        return fh.read()


def _state(base: str) -> dict:
    return {s: _tag(base + s) for s in ("", "__rewrite", "__old")}


def _flaky(monkeypatch, op, nth=1, how="raise"):
    real, seen = durable._fs, []

    def fake(spark, path):
        fs, *rest = real(spark, path)
        seen.append(_FlakyFs(fs, op, nth, how))
        return (seen[-1], *rest)

    monkeypatch.setattr(durable, "_fs", fake)
    return seen


class TestDirectorySwap:
    @pytest.mark.parametrize("cleanup", [True, False])
    @pytest.mark.parametrize(
        "op,nth,how",
        [
            ("rename", 1, "raise"),  # rename away
            ("rename", 1, "false"),
            ("rename", 2, "raise"),  # rename in
            ("rename", 2, "false"),
            ("delete", 1, "raise"),  # delete __old
        ],
    )
    def test_crash_at_each_step_then_recover(
        self, spark, tmp_path, monkeypatch, op, nth, how, cleanup
    ):
        base = str(tmp_path / "store")
        _tree(base, "old")
        _tree(durable.rewrite_path(base + "/"), "new")
        with monkeypatch.context() as m:
            _flaky(m, op, nth, how)
            with pytest.raises(IOError):
                durable.swap_in(spark, base + "/")
        crashed = _state(base)
        assert sorted(t for t in crashed.values() if t) == ["new", "old"]
        durable.recover_swap(spark, base, cleanup=cleanup)
        after = _state(base)
        assert after[""] in ("old", "new")
        if cleanup:
            assert after["__rewrite"] is None and after["__old"] is None
        else:  # the read path renames at most; it never deletes
            assert sorted(t for t in after.values() if t) == ["new", "old"]
            if crashed[""] is not None:
                assert after == crashed

    def test_swap_into_missing_path_and_clean_recovery(self, spark, tmp_path, monkeypatch):
        base = str(tmp_path / "kv")
        durable.recover_swap(spark, base)  # nothing there: a no-op
        _tree(durable.rewrite_path(base), "first")
        durable.swap_in(spark, base)
        assert _state(base) == {"": "first", "__rewrite": None, "__old": None}
        # the no-crash recovery probes at most the 5 FileSystem calls the
        # dedupe store recovery made before, and changes nothing
        seen = _flaky(monkeypatch, op="none")
        durable.recover_swap(spark, base)
        assert seen[0].calls == ["exists"] * 3
        assert _state(base) == {"": "first", "__rewrite": None, "__old": None}


# every sidecar write and directory rename in the engine lives in durable.py
_FORBIDDEN = re.compile(r"json\.dump\(|os\.replace\(|os\.rename\(|\bfs\.rename\(")


def test_only_durable_writes_sidecars_or_renames():
    root = os.path.join(os.path.dirname(os.path.dirname(__file__)), "pulsar_spark")
    hits = []
    for d, _, files in os.walk(root):
        for name in files:
            path = os.path.join(d, name)
            if not name.endswith(".py") or os.path.samefile(path, durable.__file__):
                continue
            with open(path) as fh:
                for i, line in enumerate(fh, 1):
                    if _FORBIDDEN.search(line):
                        hits.append(f"{os.path.relpath(path, root)}:{i}: {line.strip()}")
    assert hits == []
