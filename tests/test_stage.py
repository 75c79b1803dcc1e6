"""io.stage: the one build-once artifact helper.  A complete artifact is
reused, a failed build publishes nothing, racing builders publish once,
and an artifact written in place (data, then the ``_DONE`` marker) is
reused as it is when complete and rebuilt when not.  Pure-filesystem
logic — no Spark session needed."""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest

from recommend_spark import io


@pytest.fixture
def art(tmp_path, monkeypatch):
    monkeypatch.setattr(io, "ART_ROOT", str(tmp_path))
    return tmp_path


def _staging_entries(art):
    staging = art / ".staging"
    return sorted(p.name for p in staging.iterdir()) if staging.exists() else []


def test_second_call_does_not_rebuild(art):
    calls = []

    def build(d):
        calls.append(d)
        (d / "data.txt").write_text("v1")

    first = io.stage("k", build)
    second = io.stage("k", build)
    assert first == second == art / "k"
    assert len(calls) == 1
    assert (first / "_DONE").exists()
    assert (first / "data.txt").read_text() == "v1"
    assert _staging_entries(art) == []


def test_failed_build_publishes_nothing_and_next_call_rebuilds(art):
    def broken(d):
        (d / "partial.txt").write_text("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        io.stage("k", broken)
    assert not (art / "k").exists()
    assert _staging_entries(art) == []

    root = io.stage("k", lambda d: (d / "data.txt").write_text("ok"))
    assert sorted(p.name for p in root.iterdir()) == ["_DONE", "data.txt"]


def test_racing_builders_publish_once(art, monkeypatch):
    # more builders than cores, all complete before any publishes, with a
    # short switch interval and a slow rename so their publish steps would
    # interleave if nothing serialized them
    n = 8
    real_rename = os.rename

    def slow_rename(src, dst):
        time.sleep(0.02)
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", slow_rename)
    barrier = threading.Barrier(n, timeout=30)
    results: dict = {}
    errors: list = []

    def build(d):
        name = threading.current_thread().name
        (d / "a.txt").write_text(name)
        barrier.wait()  # every build is complete and unpublished here
        (d / "b.txt").write_text(name)

    def run():
        try:
            root = io.stage("k", build)
            results[threading.current_thread().name] = (
                root,
                root.stat().st_ino,
                (root / "a.txt").read_text(),
                (root / "b.txt").read_text(),
            )
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=run, name=f"t{i}") for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    # one publication (one directory inode): every caller reads the same
    # complete copy
    assert len(results) == n and len(set(results.values())) == 1
    root, _, a, b = next(iter(results.values()))
    assert a == b and a in results
    assert sorted(p.name for p in root.iterdir()) == ["_DONE", "a.txt", "b.txt"]
    assert _staging_entries(art) == []


def test_artifact_written_in_place_is_reused(art):
    # the layout an in-place build leaves: data files, then the marker
    old = art / "k"
    (old / "data").mkdir(parents=True)
    (old / "data" / "part-0.parquet").write_bytes(b"old bytes")
    (old / "_DONE").touch()

    def must_not_run(d):
        raise AssertionError("rebuilt a complete artifact")

    assert io.stage("k", must_not_run) == old
    assert (old / "data" / "part-0.parquet").read_bytes() == b"old bytes"
    assert not (art / ".staging").exists()


def test_unfinished_in_place_leftover_is_replaced(art):
    # an in-place build interrupted before its marker: never complete
    left = art / "k"
    left.mkdir()
    (left / "partial.txt").write_text("half")

    root = io.stage("k", lambda d: (d / "data.txt").write_text("ok"))
    assert sorted(p.name for p in root.iterdir()) == ["_DONE", "data.txt"]
    assert _staging_entries(art) == []


def test_prewarm_never_lists_staging_entries(art, tmp_path, monkeypatch):
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "prewarm_stage_check",
        Path(__file__).resolve().parents[1] / "tools" / "prewarm.py",
    )
    pw = importlib.util.module_from_spec(spec)
    sys.modules["prewarm_stage_check"] = pw
    spec.loader.exec_module(pw)
    monkeypatch.setattr(pw, "ART_ROOT", str(art))
    key = pw.sf_key(str(tmp_path / "sfX"))

    io.stage(f"baskets_v1_{key}", lambda d: None)
    # a build killed mid-way leaves its private directory behind
    (art / ".staging" / f"bucketed_{key}.0123abcd").mkdir()
    assert pw._art_entries(str(tmp_path / "sfX")) == [f"baskets_v1_{key}"]
