"""Stop-and-restart equivalence for the stateful streaming programs: a
query that runs one micro-batch, stops, and restarts on the same
checkpoint must emit exactly what an uninterrupted run emits, and both
must equal the batch counterpart (the consistent-snapshot guarantee of
*State Management in Apache Flink*, VLDB 2017)."""

from __future__ import annotations

import json
import os

from flink_streaming_2_10_spark.streaming.runners import (
    run_update_stream,
    sessionize_stream,
    streaming_exact_dedup,
    window_join_stream,
)


def _write(dirpath, idx: int, rows: list[dict]) -> None:
    """One JSON-lines file; mtime-ordered by ``idx`` so that
    ``maxFilesPerTrigger=1`` replays file ``idx`` as its own batch."""
    os.makedirs(dirpath, exist_ok=True)
    path = os.path.join(dirpath, f"part-{idx}.json")
    with open(path, "w") as fh:
        fh.write("\n".join(json.dumps(r) for r in rows))
    os.utime(path, (1e9 + idx, 1e9 + idx))


def _run(df, checkpoint: str, key) -> list:
    """Run to exhaustion; the emitted rows mapped by ``key``, sorted."""
    rows: list = []
    run_update_stream(
        df, checkpoint, lambda bdf, _bid: rows.extend(bdf.collect()), "append"
    )
    return sorted(map(key, rows))


def _interrupted_and_uninterrupted(tmp_path, files: dict, build, key):
    """Interrupted: the first file of every input, stop, then the rest on
    the same checkpoint. Uninterrupted: all files, fresh checkpoint."""
    for name, chunks in files.items():
        _write(tmp_path / "once" / name, 0, chunks[0])
    first = _run(build(tmp_path / "once"), str(tmp_path / "ck-once"), key)
    for name, chunks in files.items():
        for i, chunk in enumerate(chunks[1:], 1):
            _write(tmp_path / "once" / name, i, chunk)
    rest = _run(build(tmp_path / "once"), str(tmp_path / "ck-once"), key)

    for name, chunks in files.items():
        for i, chunk in enumerate(chunks):
            _write(tmp_path / "full" / name, i, chunk)
    full = _run(build(tmp_path / "full"), str(tmp_path / "ck-full"), key)
    return first, sorted(first + rest), full


def test_window_join_restart_equals_uninterrupted_and_batch(spark, tmp_path):
    def row(t, name, v, col):
        return {"ts": f"2024-01-01 00:00:{t:02d}", "name": name, col: v}

    # After batch 0 the watermark is min(10 s, 3 s) = 3 s, so alice's
    # 10 s grade must survive the restart in state to meet her 11 s salary.
    files = {
        "grades": [
            [row(0, "alice", 1, "grade"), row(1, "bob", 2, "grade"), row(10, "alice", 3, "grade")],
            [row(11, "bob", 4, "grade"), row(12, "carol", 5, "grade")],
        ],
        "salaries": [
            [row(0, "alice", 100, "salary"), row(3, "bob", 200, "salary")],
            [row(11, "alice", 300, "salary"), row(11, "bob", 400, "salary"),
             row(13, "carol", 500, "salary")],
        ],
    }
    schema = {"grades": "ts TIMESTAMP, name STRING, grade INT",
              "salaries": "ts TIMESTAMP, name STRING, salary INT"}

    def build(root, streaming=True):
        def side(name):
            reader = (spark.readStream.option("maxFilesPerTrigger", 1)
                      if streaming else spark.read)
            return reader.schema(schema[name]).json(str(root / name))
        return window_join_stream(side("grades"), side("salaries"))

    first, restarted, full = _interrupted_and_uninterrupted(
        tmp_path, files, build, tuple
    )
    batch = sorted(map(tuple, build(tmp_path / "full", streaming=False).collect()))
    assert [r[1:] for r in first] == [("alice", 1, 100)]
    assert restarted == full == batch
    assert ("alice", 3, 300) in [r[1:] for r in restarted]


def test_exact_dedup_restart_equals_uninterrupted_and_batch(spark, tmp_path):
    from flink_streaming_2_10_spark.pipeline.dedup import exact_dedup

    files = {"docs": [
        [{"doc_id": 1, "text": "alpha beta"}, {"doc_id": 2, "text": "gamma"}],
        # 3 and 5 re-send 1 and 2 (normalised text), so only state that
        # survived the restart can suppress them
        [{"doc_id": 3, "text": "ALPHA  beta"}, {"doc_id": 4, "text": "delta"},
         {"doc_id": 5, "text": "Gamma"}],
    ]}

    def build(root, streaming=True):
        reader = (spark.readStream.option("maxFilesPerTrigger", 1)
                  if streaming else spark.read)
        docs = reader.schema("doc_id LONG, text STRING").json(str(root / "docs"))
        return streaming_exact_dedup(docs) if streaming else exact_dedup(docs)

    def key(r):
        return r["doc_id"]

    first, restarted, full = _interrupted_and_uninterrupted(
        tmp_path, files, build, key
    )
    batch = sorted(map(key, build(tmp_path / "full", streaming=False).collect()))
    assert first == [1, 2]
    assert restarted == full == batch == [1, 2, 4]


def test_sessionize_restart_equals_uninterrupted_and_batch(spark, tmp_path):
    from flink_streaming_2_10_spark.operators.temporal import sessionize

    def ev(eid, k, t):
        return {"event_id": eid, "k": k, "t": t}

    # gap 10. After batch 0, a is in its 2nd session (last t 20) and b in
    # its 1st (last t 3): a's t=30 (delta exactly 10) stays in session 2
    # and b's t=14 (delta 11) opens session 2 — both only if (last_t,
    # idx) survived the restart; lost state would label each session 1.
    files = {"events": [
        [ev(1, "a", 0), ev(2, "b", 3), ev(3, "a", 20)],
        [ev(4, "a", 30), ev(5, "b", 14), ev(6, "c", 1)],
    ]}

    def build(root, streaming=True):
        reader = (spark.readStream.option("maxFilesPerTrigger", 1)
                  if streaming else spark.read)
        events = reader.schema("event_id LONG, k STRING, t LONG").json(
            str(root / "events")
        )
        op = sessionize_stream if streaming else sessionize
        return op(events, on=["k"], time_col="t", gap=10)

    def key(r):
        return r["event_id"], r["session_idx"]

    first, restarted, full = _interrupted_and_uninterrupted(
        tmp_path, files, build, key
    )
    batch = sorted(map(key, build(tmp_path / "full", streaming=False).collect()))
    assert first == [(1, 1), (2, 1), (3, 2)]
    assert restarted == full == batch == [
        (1, 1), (2, 1), (3, 2), (4, 2), (5, 2), (6, 1)
    ]
