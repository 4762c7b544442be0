"""Tests of the benchmark's input generators and tracing helpers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

sys.path[:0] = [str(Path(__file__).resolve().parent), str(Path(__file__).resolve().parents[1])]

import pyarrow.parquet as pq  # noqa: E402
import pytest  # noqa: E402

from inputs import (  # noqa: E402
    STAR_TABLES,
    SyncStream,
    record_responses,
    write_corpus,
    write_star,
)
from spans import Tracer, _union_ms  # noqa: E402
from workloads import CORPUS, QUERY_SF, SYNC_STREAM, QueryWorkload  # noqa: E402


def _digests(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())}


def _stream_files(tmp: Path, seed: int, syncs: int) -> list[dict[str, str]]:
    stream = SyncStream(seed, **SYNC_STREAM)
    out = []
    for i in range(syncs + 1):
        if i:
            stream.advance()
        d = tmp / f"s{i}"
        record_responses(d, stream.batch(stream.since if i else None))
        out.append(_digests(d))
    return out


def test_star_is_seeded(tmp_path: Path) -> None:
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        write_star(tmp_path / name, seed, 0.001)
    a, b, c = (_digests(tmp_path / n) for n in "abc")
    assert a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_corpus_is_seeded(tmp_path: Path) -> None:
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        write_corpus(tmp_path / name, seed, n_docs=30, n_vecs=10, factor=2)
    a, b, c = (_digests(tmp_path / n) for n in "abc")
    assert a == b
    assert a["documents.parquet"] != c["documents.parquet"]
    assert a["embeddings.parquet"] != c["embeddings.parquet"]


def test_query_inputs_keep_their_scale(tmp_path: Path) -> None:
    """The corpus is written beside the star tables without replacing
    them: the queries run on the star tables at ``QUERY_SF``."""
    write_star(tmp_path / "star", 5, QUERY_SF)
    work = QueryWorkload(tmp_path / "work", 5)
    work.prepare()
    for t in STAR_TABLES:
        want = pq.read_metadata(tmp_path / "star" / f"{t}.parquet").num_rows
        assert pq.read_metadata(work.data / f"{t}.parquet").num_rows == want, t
    docs = pq.read_metadata(work.data / "documents.parquet").num_rows
    assert docs == CORPUS["n_docs"] * CORPUS["factor"]
    assert all(rows > 0 for rows, _ in work.expected.values())


def test_sync_stream_is_seeded(tmp_path: Path) -> None:
    a = _stream_files(tmp_path / "a", 7, 3)
    b = _stream_files(tmp_path / "b", 7, 3)
    c = _stream_files(tmp_path / "c", 8, 3)
    assert a == b
    assert all(x != y for x, y in zip(a[1:], c[1:]))


def test_sync_batches_hold_new_day_and_late_corrections() -> None:
    stream = SyncStream(3, **SYNC_STREAM)
    before = {q: {k: dict(r) for k, r in rows.items()} for q, rows in stream.state.items()}
    stream.advance()
    since = stream.since
    batch = stream.batch(since)
    # only rows dated after the watermark are delivered, and they
    # include both the new day and earlier days of the window
    days = {r["date"] for rows in batch.values() for r in rows}
    assert min(days) > since and len(days) == SYNC_STREAM["lookback_days"]
    changed = sum(
        1
        for q, rows in before.items()
        for k, r in rows.items()
        if stream.state[q][k] != r
    )
    assert changed > 0
    # every corrected row is inside the re-pulled window
    for q, rows in before.items():
        for k, r in rows.items():
            if stream.state[q][k] != r:
                assert r["date"] > since


class _Context:
    """Records the job-group calls a SparkContext would receive."""

    def __init__(self) -> None:
        self.group = None

    def setJobGroup(self, key, description):  # noqa: N802 — SparkContext API
        self.group = key

    def setLocalProperty(self, key, value):  # noqa: N802
        assert key == "spark.jobGroup.id"
        self.group = value


def test_union_and_self_time() -> None:
    assert _union_ms([(0, 10), (5, 15), (20, 30)], 0, 25) == 20
    sc = _Context()
    tracer = Tracer(sc)

    def inner():
        return 1

    def outer():
        return tracer.call("inner", inner) + 1

    tracer.begin_op("k", "fam")
    assert sc.group == "k"
    assert tracer.call("outer", outer) == 2
    tracer.end_op()
    assert sc.group is None
    assert set(tracer.self_s) == {"outer", "inner"}
    assert len(tracer.ops[0].spans) == 1


def test_wrap_restores() -> None:
    class Layer:
        def f(self, x):
            return x + 1

    orig = Layer.f
    tracer = Tracer(_Context())
    tracer.wrap(Layer, "f", "layer.f")
    assert Layer().f(1) == 2 and "layer.f" in tracer.self_s
    tracer.restore()
    assert Layer.f is orig


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))
