"""The per-session artifact store (``sources.tables.memo``) under
concurrent clients: one build per key, one shared object, no lock on a
hit's path blocking other keys, and ``reset_handles()`` as the single
invalidation point."""

import json
import sys
import threading
import time

import pytest

from columnar_estimator_sample_spark.sources import tables

N_THREADS = 8


def _race(fn, n=N_THREADS):
    """Run ``fn`` in ``n`` threads released together by a barrier, with
    a shortened thread switch interval so an unguarded check-then-act
    interleaves; return the results in thread order."""
    barrier = threading.Barrier(n)
    out, errors = [None] * n, []

    def work(i):
        try:
            barrier.wait(timeout=60)
            out[i] = fn()
        except Exception as e:  # surfaced below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,))
                   for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    return out


def test_concurrent_first_table_calls_share_one_handle(spark, sf_dir):
    tables.reset_handles()
    try:
        got = _race(lambda: tables.table(spark, sf_dir, "lineitem"))
        assert all(df is got[0] for df in got)
        assert tables.table(spark, sf_dir, "lineitem") is got[0]
    finally:
        tables.reset_handles()


def test_concurrent_builds_run_once_until_reset(spark):
    calls = []

    def build():
        calls.append(1)
        time.sleep(0.2)  # keep the window open for the other threads
        return object()

    key = ("test_counting_builder",)
    tables.reset_handles()
    try:
        got = _race(lambda: tables.memo(spark, key, build))
        assert len(calls) == 1
        assert all(v is got[0] for v in got)
        tables.reset_handles()
        again = tables.memo(spark, key, build)
        assert len(calls) == 2
        assert again is not got[0]
    finally:
        tables.reset_handles()


def test_build_does_not_block_other_keys(spark):
    """A slow build of one key must not hold up a build of another —
    nor a build nested inside it."""
    started, other_done = threading.Event(), threading.Event()

    def slow():
        started.set()
        # finishes only once the other key's build has completed
        assert other_done.wait(timeout=30), "other key blocked"
        return tables.memo(spark, ("test_nested",), lambda: "nested")

    def other():
        other_done.set()
        return "other"

    tables.reset_handles()
    try:
        result = {}
        t = threading.Thread(target=lambda: result.setdefault(
            "slow", tables.memo(spark, ("test_slow",), slow)))
        t.start()
        assert started.wait(timeout=30)
        assert tables.memo(spark, ("test_other",), other) == "other"
        t.join(timeout=60)
        assert not t.is_alive()
        assert result == {"slow": "nested"}
    finally:
        tables.reset_handles()


def test_failed_build_stores_nothing(spark):
    def boom():
        raise RuntimeError("build failed")

    tables.reset_handles()
    try:
        with pytest.raises(RuntimeError):
            tables.memo(spark, ("test_failing",), boom)
        assert tables.memo(spark, ("test_failing",), lambda: 7) == 7
    finally:
        tables.reset_handles()


def test_reset_rereads_rewritten_trace(spark, tmp_path):
    from columnar_estimator_sample_spark.operators.flatten import (
        flatten_trace,
    )

    def write(names):
        doc = {"traceEvents": [
            {"ph": "X", "cat": "op", "name": n, "pid": 1, "tid": 1,
             "ts": i, "dur": 10, "args": {"name": n, "op": "Conv2D"}}
            for i, n in enumerate(names)]}
        path.write_text(json.dumps(doc) + "\n")

    def names():
        return [r["name"] for r in
                flatten_trace(spark, str(path)).orderBy("index").collect()]

    path = tmp_path / "trace.ndjson"
    tables.reset_handles()
    try:
        write(["a", "b"])
        assert names() == ["a", "b"]
        write(["c", "d", "e"])
        tables.reset_handles()
        assert names() == ["c", "d", "e"]
    finally:
        tables.reset_handles()


def test_reset_rebuilds_landed_ingest_tables(spark, sf_dir, tmp_path):
    """reset_handles() drops each landed table from the catalog, not
    only its directory: a stale entry made the rebuild skip the base
    landing and lose every base row."""
    import os
    import shutil

    from columnar_estimator_sample_spark.streaming.corpus import (
        q_stream_ann_ingest, q_stream_neardup_ingest,
    )

    for t in ("embeddings", "documents"):
        shutil.copy(os.path.join(sf_dir, f"{t}.parquet"),
                    tmp_path / f"{t}.parquet")
    sf = str(tmp_path)

    def run():
        return [sorted(tuple(r) for r in q(spark, sf).collect())
                for q in (q_stream_ann_ingest, q_stream_neardup_ingest)]

    tables.reset_handles()
    try:
        first = run()
        tables.reset_handles()
        stale = spark.catalog.tableExists(
            f"ivf_ings_{tables.table_tag(spark, sf)}")
        assert run() == first
        assert not stale
    finally:
        tables.reset_handles()


def test_memory_sink_names_unique_across_threads():
    from columnar_estimator_sample_spark.streaming.windows import _sink_name

    got = _race(lambda: [_sink_name("stream_q") for _ in range(200)])
    names = [n for batch in got for n in batch]
    assert len(names) == N_THREADS * 200
    assert len(set(names)) == len(names)
