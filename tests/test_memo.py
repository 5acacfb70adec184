"""The corpus memo contract (functions/memo.py): one entry per
(kind, path) per Spark application, a stamp that sees rewritten files,
no caching for unstattable paths, and JSON artifacts that outlive the
process. Pure Python: a fake ``spark`` only carries an applicationId."""

from __future__ import annotations

import json
import logging
import os
from types import SimpleNamespace

import pytest

import mapreducegcp_spark.functions.memo as m


# later than any real directory mtime, so a directory's own mtime never
# masks the part-file mtimes a test sets
_T0 = 3 * 10**18


def _spark(app_id: str = "app-1"):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture(autouse=True)
def fresh_memo(monkeypatch, tmp_path):
    monkeypatch.setattr(m, "_ENTRIES", {})
    monkeypatch.setattr(m, "_app_id", None)
    monkeypatch.setattr(m, "ARTIFACT_DIR", tmp_path / "artifacts")


def _counting(value_of):
    calls = []

    def build():
        calls.append(1)
        return value_of(len(calls))

    return build, calls


def _write(path, data: bytes, mtime_ns: int):
    path.write_bytes(data)
    os.utime(path, ns=(mtime_ns, mtime_ns))


def test_hit_returns_same_object(tmp_path):
    _write(tmp_path / "documents.parquet", b"abc", _T0)
    build, calls = _counting(lambda n: [n])
    d = str(tmp_path)
    first = m.memo(_spark(), "k", d, m.stamp(d, ("documents",)), build)
    again = m.memo(_spark(), "k", d + "/", m.stamp(d, ("documents",)), build)
    assert again is first
    assert calls == [1]


def test_rewritten_file_misses_and_replaces_entry(tmp_path):
    f = tmp_path / "documents.parquet"
    _write(f, b"abc", _T0)
    build, calls = _counting(lambda n: n)
    d = str(tmp_path)
    assert m.memo(_spark(), "k", d, m.stamp(d, ("documents",)), build) == 1
    # same size, new mtime: still a different corpus
    _write(f, b"xyz", _T0 + 1)
    assert m.memo(_spark(), "k", d, m.stamp(d, ("documents",)), build) == 2
    assert m.memo(_spark(), "k", d, m.stamp(d, ("documents",)), build) == 2
    assert len(m._ENTRIES) == 1


def test_directory_table_stamp_sums_part_files(tmp_path):
    t = tmp_path / "documents.parquet"
    t.mkdir()
    _write(t / "part-0.parquet", b"aaaa", _T0)
    _write(t / "part-1.parquet", b"bb", _T0)
    (bytes_, _), = m.stamp(str(tmp_path), ("documents",))
    assert bytes_ == 6
    before = m.stamp(str(tmp_path), ("documents",))
    _write(t / "part-1.parquet", b"cc", _T0 + 5)
    assert m.stamp(str(tmp_path), ("documents",)) != before


def test_unstattable_path_builds_every_time(tmp_path):
    d = str(tmp_path / "nowhere")
    assert m.stamp(d, ("documents",)) is None
    build, calls = _counting(lambda n: n)
    assert m.memo(_spark(), "k", d, m.stamp(d, ("documents",)), build) == 1
    assert m.memo(_spark(), "k", d, m.stamp(d, ("documents",)), build) == 2
    assert m._ENTRIES == {}


def test_new_application_id_misses(tmp_path):
    _write(tmp_path / "t.parquet", b"abc", _T0)
    p = str(tmp_path / "t.parquet")
    build, calls = _counting(lambda n: n)
    assert m.memo(_spark("app-1"), "k", p, m.stamp(p), build) == 1
    assert m.memo(_spark("app-1"), "k", p, m.stamp(p), build) == 1
    assert m.memo(_spark("app-2"), "k", p, m.stamp(p), build) == 2
    assert len(m._ENTRIES) == 1


def test_artifact_survives_cleared_memo_without_build(tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    _write(d / "embeddings.parquet", b"x", _T0)
    build, calls = _counting(lambda n: {"v": n})
    got = m.artifact(_spark(), "ivf", str(d), "embeddings", "_k16_i3", build)
    assert got == {"v": 1}
    f = m.ARTIFACT_DIR / "ivf_corpus_b1_k16_i3.json"
    assert json.loads(f.read_text()) == {"v": 1}
    m._ENTRIES.clear()  # a new process
    again = m.artifact(
        _spark("app-2"), "ivf", str(d), "embeddings", "_k16_i3", build,
        decode=lambda doc: {"decoded": doc["v"]},
    )
    assert again == {"decoded": 1}
    assert calls == [1], "served from disk, build never called again"


def test_none_stamp_never_writes_a_file(tmp_path):
    build, calls = _counting(lambda n: n)
    d = str(tmp_path / "nowhere")
    assert m.artifact(_spark(), "pq", d, "embeddings", "_m8", build) == 1
    assert m.artifact(_spark(), "pq", d, "embeddings", "_m8", build) == 2
    assert not m.ARTIFACT_DIR.exists()


def test_unwritable_artifact_dir_warns_and_returns_value(tmp_path, monkeypatch, caplog):
    d = tmp_path / "corpus"
    d.mkdir()
    _write(d / "embeddings.parquet", b"x", _T0)
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setattr(m, "ARTIFACT_DIR", blocker / "artifacts")
    build, calls = _counting(lambda n: 7)
    with caplog.at_level(logging.WARNING, logger=m.__name__):
        assert m.artifact(_spark(), "nprobe", str(d), "embeddings", "_k16", build) == 7
    assert "nprobe_corpus_b1_k16" in caplog.text
    # still memoized for this process
    assert m.artifact(_spark(), "nprobe", str(d), "embeddings", "_k16", build) == 7
    assert calls == [1]
