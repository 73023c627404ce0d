"""The at-rest artifact contract (`queries.common.ensure_artifact`):
staleness, staged builds, locking and crash recovery, with a fake
``build`` over a tmp source (no Spark), plus one regression on a real
``_ensure_*`` function."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from types import SimpleNamespace

import pytest

from duckdb_pipeline_spark.queries.common import ensure_artifact


class _Spark:
    """Stands in for a SparkSession: records the cache clears
    `invalidate_source` makes on a miss."""

    def __init__(self):
        self.clears = 0
        self.catalog = SimpleNamespace(
            refreshByPath=lambda p: None, clearCache=self._clear
        )

    def _clear(self):
        self.clears += 1


@pytest.fixture
def art(tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    src = sf / "docs.parquet"
    src.write_bytes(b"aaaa")
    builds = []

    def build(staging):
        builds.append(src.read_bytes())
        with open(os.path.join(staging, "data.bin"), "wb") as fh:
            fh.write(src.read_bytes())

    def ensure(build_fn=build, params=None):
        return ensure_artifact(
            spark, str(path), str(sf), "docs", params or {"v": 1}, build_fn
        )

    spark = _Spark()
    path = tmp_path / "idx" / "a"
    return SimpleNamespace(src=src, path=path, builds=builds, ensure=ensure, spark=spark)


def _snapshot(d):
    return {f.name: f.read_bytes() for f in sorted(d.iterdir())}


def _stamp(a):
    return json.loads((a.path / "_SRC.json").read_text())


def test_hit_runs_no_build_and_clears_nothing(art):
    assert art.ensure() is True
    assert art.ensure() is False
    assert art.builds == [b"aaaa"]
    assert art.spark.clears == 1  # the miss only
    assert _stamp(art)["v"] == 1


def test_same_size_rewrite_with_restored_mtime_rebuilds(art):
    assert art.ensure() is True
    st = os.stat(art.src)
    with open(art.src, "r+b") as fh:  # in place: same inode
        fh.write(b"bbbb")
    os.utime(art.src, ns=(st.st_atime_ns, st.st_mtime_ns))
    st2 = os.stat(art.src)
    # a (size, mtime) key cannot tell this rewrite apart
    assert (st2.st_size, st2.st_mtime_ns) == (st.st_size, st.st_mtime_ns)
    assert art.ensure() is True
    assert art.builds == [b"aaaa", b"bbbb"]
    assert (art.path / "data.bin").read_bytes() == b"bbbb"


def test_touch_without_byte_change_refreshes_stamp_only(art):
    assert art.ensure() is True
    before = _stamp(art)
    data = (art.path / "data.bin").stat().st_mtime_ns
    os.utime(art.src, ns=(time.time_ns(), time.time_ns() + 10**9))
    assert art.ensure() is False
    after = _stamp(art)
    assert after["stat"] != before["stat"]
    assert after["sha256"] == before["sha256"]
    assert art.builds == [b"aaaa"]
    assert art.spark.clears == 1
    assert (art.path / "data.bin").stat().st_mtime_ns == data
    stamp_mtime = (art.path / "_SRC.json").stat().st_mtime_ns
    assert art.ensure() is False  # the refreshed stamp is a plain hit
    assert (art.path / "_SRC.json").stat().st_mtime_ns == stamp_mtime


def test_param_change_rebuilds_and_foreign_stamp_keys_are_ignored(art):
    assert art.ensure() is True
    stamp = _stamp(art)
    (art.path / "_SRC.json").write_text(json.dumps({**stamp, "appends": 3}))
    assert art.ensure() is False
    assert art.ensure(params={"v": 2}) is True
    assert _stamp(art)["v"] == 2 and "appends" not in _stamp(art)


def test_failed_build_keeps_previous_artifact(art):
    assert art.ensure() is True
    before = _snapshot(art.path)
    art.src.write_bytes(b"cccc")

    def broken(staging):
        with open(os.path.join(staging, "data.bin"), "wb") as fh:
            fh.write(b"half")
        raise RuntimeError("killed mid-build")

    with pytest.raises(RuntimeError, match="mid-build"):
        art.ensure(broken)
    assert _snapshot(art.path) == before
    assert sorted(os.listdir(art.path.parent)) == ["_lock_a", "a"]
    assert art.ensure() is True
    assert (art.path / "data.bin").read_bytes() == b"cccc"


def test_concurrent_callers_build_once(art):
    n = 8  # more callers than cores
    started = threading.Barrier(n, timeout=10)
    results, builds = [], []

    def slow(staging):
        builds.append(1)
        time.sleep(0.3)
        with open(os.path.join(staging, "data.bin"), "wb") as fh:
            fh.write(b"x")

    def call():
        started.wait()
        results.append(art.ensure(slow))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert sorted(results) == [False] * (n - 1) + [True]
    assert builds == [1]


def test_aside_dir_left_between_swap_renames_is_restored(art):
    assert art.ensure() is True
    before = _snapshot(art.path)
    aside = art.path.parent / "_old_a"
    os.rename(art.path, aside)  # crash after the move-aside

    def unexpected(staging):
        raise AssertionError("restored artifact must not rebuild")

    assert art.ensure(unexpected) is False
    assert _snapshot(art.path) == before
    assert not aside.exists()


def test_lakebench_ivf_location_matches_engine(tmp_path, monkeypatch):
    """The benchmark wipes the IVF index at its own copy of the path to
    time a cold build; the copy must name the engine's directory, also
    for two corpus dirs sharing a basename."""
    from duckdb_pipeline_spark.queries import similarity
    from lakebench.workloads import _ivf_location

    seen = []
    monkeypatch.setattr(
        similarity, "ensure_artifact", lambda spark, path, *a: seen.append(path)
    )
    dirs = [str(tmp_path / "a" / "sf"), str(tmp_path / "b" / "sf")]
    paths = [similarity._ensure_ivf_index(None, d, 8) for d in dirs]
    assert paths == seen
    assert paths == [_ivf_location(d) for d in dirs]
    assert paths[0] != paths[1]


def test_component_labels_rebuild_on_same_size_mtime_restored_rewrite(spark, tmp_path):
    """A real ``_ensure_*`` over a corpus rewritten in place with the same
    size and its old mtime restored must rebuild, not serve the labels
    of the previous corpus."""
    import duckdb

    import duckdb_pipeline_spark.queries.dedup as dd

    sfd = tmp_path / "sf"
    sfd.mkdir()

    def land(rows, dest):
        duckdb.connect().execute(
            "COPY (SELECT * FROM (VALUES "
            + ", ".join(f"({i}, '{t}')" for i, t in rows)
            + f") AS t(doc_id, text)) TO '{dest}' (FORMAT PARQUET)"
        )

    src = sfd / "documents.parquet"
    land([(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v")], src)
    land([(1, "x y z w v"), (2, "a b c d e"), (3, "a b c d e")], tmp_path / "b.parquet")
    new = (tmp_path / "b.parquet").read_bytes()
    assert len(new) == src.stat().st_size  # really the same-size case
    assert new != src.read_bytes()

    p = dd._ensure_component_labels(spark, str(sfd))
    labels = {(r.doc_id, r.component) for r in spark.read.parquet(p).collect()}
    assert labels == {(1, 1), (2, 1)}

    st = src.stat()
    with open(src, "r+b") as fh:
        fh.write(new)
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert src.stat().st_mtime_ns == st.st_mtime_ns

    assert dd._ensure_component_labels(spark, str(sfd)) == p
    labels = {(r.doc_id, r.component) for r in spark.read.parquet(p).collect()}
    assert labels == {(2, 2), (3, 2)}
