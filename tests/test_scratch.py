"""The workload catalog's temp-dir artefacts (workloads/scratch.py): the
maintained-store key, its atomic commit and its sweeps, and the
session-scoped scratch dirs. Pure Python, no SparkSession."""

from __future__ import annotations

import os
import tempfile
import threading
import time

import pytest

from etl_manager_spark.workloads import scratch as S


@pytest.fixture
def tmpdir_root(tmp_path, monkeypatch):
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


def _fixture(tmp_path, sf="sf0.01", text="v1"):
    d = tmp_path / sf
    d.mkdir(exist_ok=True)
    path = d / "documents.parquet"
    path.write_text(text)
    return str(path)


def _counting_build(calls):
    def build(path):
        calls.append(path)
        with open(os.path.join(path, "part-0"), "w") as f:
            f.write("rows")

    return build


def _hidden(root):
    return sorted(p.name for p in root.iterdir() if p.name.startswith("."))


def test_store_hit_builds_once(tmp_path, tmpdir_root):
    src = _fixture(tmp_path)
    calls = []
    a = S.fixture_store("st", src, "p1", _counting_build(calls))
    b = S.fixture_store("st", src, "p1", _counting_build(calls))
    assert a == b and len(calls) == 1
    assert os.path.basename(a).startswith("st_sf0.01_")
    assert os.listdir(a) == ["part-0"]
    assert _hidden(tmpdir_root) == []


def test_changed_params_rebuild_and_sweep_old_key(tmp_path, tmpdir_root):
    src = _fixture(tmp_path)
    calls = []
    old = S.fixture_store("st", src, "p1", _counting_build(calls))
    new = S.fixture_store("st", src, "p2", _counting_build(calls))
    assert new != old and len(calls) == 2
    assert os.path.isdir(new) and not os.path.exists(old)


def test_fixture_rewritten_within_one_second_rebuilds(tmp_path, tmpdir_root):
    src = _fixture(tmp_path)
    calls = []
    old = S.fixture_store("st", src, "p1", _counting_build(calls))
    # same size, same whole second, a later nanosecond: a seconds-resolution
    # mtime key would reuse the old store
    st = os.stat(src)
    ns = st.st_mtime_ns - st.st_mtime_ns % 1_000_000_000 + 7
    if ns == st.st_mtime_ns:
        ns += 1
    os.utime(src, ns=(ns, ns))
    assert int(os.path.getmtime(src)) == int(st.st_mtime)
    new = S.fixture_store("st", src, "p1", _counting_build(calls))
    assert new != old and len(calls) == 2
    assert not os.path.exists(old)


def test_half_built_temp_dir_never_returned_and_reclaimed_when_old(
    tmp_path, tmpdir_root
):
    src = _fixture(tmp_path)
    crashed = tmpdir_root / ".st_sf0.01_crashed"
    crashed.mkdir()
    (crashed / "part-0.partial").write_text("half")

    calls = []
    store = S.fixture_store("st", src, "p1", _counting_build(calls))
    assert store != str(crashed) and len(calls) == 1
    assert os.listdir(store) == ["part-0"]
    assert crashed.exists(), "a young temp dir may be a live build"

    old = time.time() - 2 * S._ORPHAN_SECONDS
    os.utime(crashed, (old, old))
    assert S.fixture_store("st", src, "p1", _counting_build(calls)) == store
    assert not crashed.exists(), "an orphaned temp dir must be reclaimed"
    assert len(calls) == 1


def test_failed_build_leaves_nothing(tmp_path, tmpdir_root):
    src = _fixture(tmp_path)

    def boom(path):
        open(os.path.join(path, "part-0"), "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        S.fixture_store("st", src, "p1", boom)
    assert os.listdir(tmpdir_root) == []


def test_two_threads_building_one_key_share_one_complete_store(
    tmp_path, tmpdir_root
):
    src = _fixture(tmp_path)
    both_building = threading.Barrier(2, timeout=30)

    def build(path):
        both_building.wait()  # both threads are past the existence check
        for i in range(3):
            with open(os.path.join(path, f"part-{i}"), "w") as f:
                f.write(threading.current_thread().name)
            time.sleep(0.01)

    results, errors = {}, []

    def run(tag):
        try:
            results[tag] = S.fixture_store("st", src, "p1", build)
        except Exception as exc:  # noqa: BLE001 - surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=run, args=(t,), name=t) for t in "ab"]
    for t in threads:
        t.start()
    for t in threads:
        t.join(60)
    assert not errors, errors
    assert results["a"] == results["b"]
    store = results["a"]
    assert sorted(os.listdir(store)) == ["part-0", "part-1", "part-2"]
    writers = {open(os.path.join(store, f)).read() for f in os.listdir(store)}
    assert len(writers) == 1, "the store is one builder's copy, not a mix"
    assert _hidden(tmpdir_root) == [], "the loser's copy is dropped"


def test_other_fixture_basename_survives_sweep(tmp_path, tmpdir_root):
    small = _fixture(tmp_path, "sf0.001")
    big = _fixture(tmp_path, "sf0.1")
    calls = []
    a = S.fixture_store("st", small, "p1", _counting_build(calls))
    b = S.fixture_store("st", big, "p1", _counting_build(calls))
    c = S.fixture_store("st", big, "p2", _counting_build(calls))
    assert os.path.isdir(a), "another scale factor's store must survive"
    assert not os.path.exists(b) and os.path.isdir(c)
    other = S.fixture_store("other", big, "p1", _counting_build(calls))
    assert os.path.isdir(c) and os.path.isdir(other)


def test_scratch_dir_sweep_is_session_scoped(tmpdir_root, monkeypatch):
    """Two interleaved sessions must not evict each other's live scratch
    dirs. Only THIS session's previous dirs and age-expired orphans are
    swept."""
    monkeypatch.setattr(S, "_SESSION", None)

    foreign = tmpdir_root / "layout_t_sOTHER123_live"  # concurrent session, fresh
    foreign.mkdir()
    orphan = tmpdir_root / "layout_t_sDEAD0000_old"  # crashed session, ancient
    orphan.mkdir()
    old = time.time() - 2 * S._ORPHAN_SECONDS
    os.utime(orphan, (old, old))

    d1 = S.scratch_dir("layout_t_")
    assert foreign.exists(), "fresh foreign-session dir must survive"
    assert not orphan.exists(), "age-expired orphan must be reclaimed"

    d2 = S.scratch_dir("layout_t_")
    assert not os.path.exists(d1), "own previous dir must be swept"
    assert os.path.exists(d2)
    assert foreign.exists(), "foreign dir survives repeated sweeps"
