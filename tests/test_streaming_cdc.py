"""Streaming CDC ingestion tests (streaming/cdc.py).

The load-bearing claim: the state merge is an associative-commutative
monoid, so ANY split of the change log into micro-batches, applied in ANY
order, converges to the same published table — asserted here with
randomized splits and a real multi-batch readStream run.
"""

import random

from pyspark.sql import functions as F

from worlddatapipeline_spark.operators.reconcile import table_versions
from worlddatapipeline_spark.streaming import cdc

KEYS = ["k"]
SEQS = ["seq"]


def _seed_state(spark, rows):
    df = spark.createDataFrame(rows, "k int, v string")
    return (
        df.withColumn("op", F.lit("I"))
        .withColumn("seq", F.lit(None).cast("int"))
    )


def _changes(spark, rows):
    return spark.createDataFrame(rows, "k int, v string, op string, seq int")


CHANGELOG = [
    (1, "a1", "U", 10),
    (1, "a2", "U", 20),
    (2, None, "D", 5),
    (2, "b-late", "U", 3),   # older than the delete -> must stay dead
    (3, "c1", "I", 1),
    (3, None, "D", 7),
    (3, "c2", "I", 9),       # reinsert after delete
    (4, "d1", "I", 2),
]


def _published(spark, state):
    return {
        r["k"]: r["v"]
        for r in cdc.cdc_publish(state, seq_cols=SEQS).collect()
    }


EXPECTED = {1: "a2", 3: "c2", 4: "d1", 5: "e"}  # 2 deleted; 5 from snapshot


def test_one_shot_merge(spark):
    state = _seed_state(spark, [(1, "a0"), (2, "b0"), (5, "e")])
    merged = cdc.cdc_state_merge(state, _changes(spark, CHANGELOG), KEYS, SEQS)
    assert _published(spark, merged) == EXPECTED


def test_any_split_any_order_converges(spark):
    """Randomized micro-batching: 6 trials of random splits in shuffled
    order all converge to the one-shot result."""
    rng = random.Random(7)
    for _ in range(6):
        log = list(CHANGELOG)
        rng.shuffle(log)
        cut1, cut2 = sorted(rng.sample(range(len(log) + 1), 2))
        batches = [log[:cut1], log[cut1:cut2], log[cut2:]]
        rng.shuffle(batches)
        state = _seed_state(spark, [(1, "a0"), (2, "b0"), (5, "e")])
        for b in batches:
            if b:
                state = cdc.cdc_state_merge(state, _changes(spark, b), KEYS, SEQS)
        assert _published(spark, state) == EXPECTED


def test_replay_idempotent(spark):
    """At-least-once delivery: re-applying a batch leaves the state as-is
    (the duplicate ties with the identical state row)."""
    state = _seed_state(spark, [(1, "a0")])
    batch = _changes(spark, [(1, "a1", "U", 10)])
    once = cdc.cdc_state_merge(state, batch, KEYS, SEQS)
    twice = cdc.cdc_state_merge(once, batch, KEYS, SEQS)
    assert _published(spark, twice) == _published(spark, once) == {1: "a1"}


def test_tombstone_survives_in_state(spark):
    state = _seed_state(spark, [(2, "b0")])
    merged = cdc.cdc_state_merge(
        state, _changes(spark, [(2, None, "D", 5)]), KEYS, SEQS
    )
    rows = merged.collect()
    assert len(rows) == 1 and rows[0]["op"] == "D"  # retained, not dropped
    assert _published(spark, merged) == {}


def test_stream_multi_batch_matches_one_shot(spark, tmp_path):
    """REAL readStream: the change log written as several files, consumed
    with maxFilesPerTrigger=1 (multiple micro-batches in listing order),
    foreachBatch-merged into a versioned parquet state — final published
    table equals the one-shot merge."""
    src = str(tmp_path / "changes")
    ch = _changes(spark, CHANGELOG).repartition(4)
    ch.write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(ch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    snapshot = spark.createDataFrame([(1, "a0"), (2, "b0"), (5, "e")], "k int, v string")
    state_dir = str(tmp_path / "state")
    q = cdc.cdc_stream_into_dir(stream, snapshot, KEYS, SEQS, state_dir)
    q.awaitTermination()

    final = cdc.current_state(spark, state_dir)
    assert _published(spark, final) == EXPECTED
    # more than one micro-batch actually ran (the pointer advanced past the
    # seed _v00000001 and the first batch's _v00000002) and GC bounded the
    # state copies to live + previous
    import os

    with open(os.path.join(state_dir, "_CURRENT"), encoding="utf-8") as fh:
        live = fh.read().strip()
    versions = table_versions(state_dir)
    assert live == versions[-1] and live > "_v00000002"
    assert len(versions) <= 2


def test_stream_resume_keeps_applied_state(spark, tmp_path):
    """Crash-restart/rerun: a second invocation over the same state_dir must
    NOT reseed — the checkpoint skips already-processed files, so the state
    carrying their changes has to survive for the resume to be lossless."""
    import os

    src = str(tmp_path / "changes")
    os.makedirs(src)
    snapshot = spark.createDataFrame([(1, "a0"), (2, "b0"), (5, "e")], "k int, v string")
    state_dir = str(tmp_path / "state")

    first, second = CHANGELOG[:5], CHANGELOG[5:]
    _changes(spark, first).coalesce(1).write.mode("append").parquet(src)
    schema = _changes(spark, CHANGELOG).schema
    stream = spark.readStream.schema(schema).parquet(src)
    cdc.cdc_stream_into_dir(stream, snapshot, KEYS, SEQS, state_dir).awaitTermination()

    # new files arrive; rerun with the SAME state_dir and checkpoint
    _changes(spark, second).coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(schema).parquet(src)
    cdc.cdc_stream_into_dir(stream2, snapshot, KEYS, SEQS, state_dir).awaitTermination()

    final = cdc.current_state(spark, state_dir)
    assert _published(spark, final) == EXPECTED


def test_null_seq_change_filtered(spark):
    """A change row with a NULL sequence has no position in the log: it is
    excluded rather than racing nondeterministically with the NULL-seq
    seed row."""
    state = _seed_state(spark, [(1, "a0")])
    batch = spark.createDataFrame([(1, "bad", "U", None)], "k int, v string, op string, seq int")
    merged = cdc.cdc_state_merge(state, batch, KEYS, SEQS)
    assert _published(spark, merged) == {1: "a0"}


def test_stream_forced_kill_mid_stream_resumes_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Forced stop/restart MID-STREAM (VERDICT r5 item 6): the merge is
    poisoned to crash on the third micro-batch, so the query dies with two
    batches committed and the rest of the source unconsumed — real buffered
    checkpoint state, not a graceful drain.  Resuming from the same
    checkpoint must replay the failed batch exactly once (its poisoned
    attempt wrote nothing) and converge to the one-shot batch merge."""
    import os

    import pytest

    src = str(tmp_path / "changes")
    ch = _changes(spark, CHANGELOG).repartition(4)
    ch.write.mode("overwrite").parquet(src)
    snapshot = spark.createDataFrame(
        [(1, "a0"), (2, "b0"), (5, "e")], "k int, v string"
    )
    state_dir = str(tmp_path / "state")

    real_merge = cdc.cdc_state_merge
    calls = {"n": 0}

    def poisoned(*a, **k):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("injected mid-stream crash")
        return real_merge(*a, **k)

    monkeypatch.setattr(cdc, "cdc_state_merge", poisoned)
    stream = (
        spark.readStream.schema(ch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = cdc.cdc_stream_into_dir(stream, snapshot, KEYS, SEQS, state_dir)
    with pytest.raises(Exception, match="injected mid-stream crash"):
        q.awaitTermination()
    # died mid-stream: exactly two of the four file-batches committed on
    # top of the seed (_v00000001)
    with open(os.path.join(state_dir, "_CURRENT"), encoding="utf-8") as fh:
        assert fh.read().strip() == "_v00000003" == table_versions(state_dir)[-1]

    monkeypatch.setattr(cdc, "cdc_state_merge", real_merge)
    stream2 = (
        spark.readStream.schema(ch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = cdc.cdc_stream_into_dir(stream2, snapshot, KEYS, SEQS, state_dir)
    q2.awaitTermination()
    assert _published(spark, cdc.current_state(spark, state_dir)) == EXPECTED


def test_stream_crash_before_pointer_swap_keeps_previous_state(
    spark, tmp_path, monkeypatch
):
    """A crash between a micro-batch's version write and the pointer swap
    (the shared reconcile commit) leaves the previous state live; the
    resume replays that batch and converges to the one-shot merge."""
    import os

    import pytest

    from worlddatapipeline_spark.operators import reconcile

    src = str(tmp_path / "changes")
    os.makedirs(src)
    seed_rows = [(1, "a0"), (2, "b0"), (5, "e")]
    snapshot = spark.createDataFrame(seed_rows, "k int, v string")
    state_dir = str(tmp_path / "state")
    schema = _changes(spark, CHANGELOG).schema
    first, second = CHANGELOG[:5], CHANGELOG[5:]

    _changes(spark, first).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    cdc.cdc_stream_into_dir(stream, snapshot, KEYS, SEQS, state_dir).awaitTermination()
    live = table_versions(state_dir)[-1]
    before = _published(spark, cdc.current_state(spark, state_dir))
    assert before == _published(spark, cdc.cdc_state_merge(
        _seed_state(spark, seed_rows), _changes(spark, first), KEYS, SEQS
    ))

    _changes(spark, second).coalesce(1).write.mode("append").parquet(src)
    real_replace = os.replace

    def crash_on_pointer(src_path, dst_path):
        if os.path.basename(dst_path) == "_CURRENT":
            raise RuntimeError("simulated crash before pointer swap")
        return real_replace(src_path, dst_path)

    monkeypatch.setattr(reconcile.os, "replace", crash_on_pointer)
    stream2 = spark.readStream.schema(schema).parquet(src)
    q = cdc.cdc_stream_into_dir(stream2, snapshot, KEYS, SEQS, state_dir)
    with pytest.raises(Exception, match="simulated crash before pointer swap"):
        q.awaitTermination()
    monkeypatch.undo()
    # the batch's version was written but never published
    with open(os.path.join(state_dir, "_CURRENT"), encoding="utf-8") as fh:
        assert fh.read().strip() == live
    assert table_versions(state_dir)[-1] > live
    assert _published(spark, cdc.current_state(spark, state_dir)) == before

    stream3 = spark.readStream.schema(schema).parquet(src)
    cdc.cdc_stream_into_dir(stream3, snapshot, KEYS, SEQS, state_dir).awaitTermination()
    assert _published(spark, cdc.current_state(spark, state_dir)) == EXPECTED
