"""EventTimeTimeout continuous sessionization: a three-micro-batch run
with cross-batch event-time disorder must emit exactly the sessions the
batch gap-split computes, each exactly once, sealed only when the
watermark passes session_end + gap.
"""

from __future__ import annotations

import os
import time
import uuid

import pytest

BASE = 1_704_067_200_000  # 2024-01-01T00:00:00Z, epoch ms
MIN = 60_000
GAP = 30 * MIN
SENTINEL_USER = 99


def _write_batch(spark, path: str, rows: list[tuple[int, int, int]]) -> None:
    """rows: (event_id, ms, user_id) -> one parquet file."""
    df = spark.createDataFrame(
        [
            (eid, ms // 1000 + (ms % 1000) / 1000.0, uid, "click", 1.0, "p")
            for eid, ms, uid in rows
        ],
        "event_id long, sec double, user_id long, event_type string, "
        "value double, props string",
    ).selectExpr(
        "event_id",
        "CAST(timestamp_seconds(sec) AS TIMESTAMP) AS ts",
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)


def _batch_sessions(events: list[tuple[int, int]]) -> dict[int, list[tuple[int, int, int]]]:
    """Python replica of gap-split sessionization: user -> [(start, end, n)]."""
    by_user: dict[int, list[int]] = {}
    for uid, ms in events:
        by_user.setdefault(uid, []).append(ms)
    out = {}
    for uid, mss in by_user.items():
        mss.sort()
        sess = []
        start = last = mss[0]
        n = 1
        for ms in mss[1:]:
            if ms - last > GAP:
                sess.append((start, last, n))
                start, n = ms, 0
            n += 1
            last = ms
        sess.append((start, last, n))
        out[uid] = sess
    return out


@pytest.mark.parametrize("user_buckets", [None, 2])
def test_continuous_sessions_multi_batch_with_disorder(spark, tmp_path, user_buckets):
    # user_buckets=2 puts users 1 and 99 in one bucket (and 2 alone):
    # exercises the multi-user fat-state path — shared buffer decode/
    # encode, per-bucket MIN next_seal timeout — which must emit the
    # exact same rows as per-user mode
    from recon_spark.streaming import stream_user_sessions_continuous

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)

    # user 1, session A: 0 / 10min / 20min (10min arrives a batch LATE);
    # user 1, session B: 3h / 3h05; user 2, session C: 1h / 1h20
    f1 = [(1, BASE, 1), (2, BASE + 20 * MIN, 1), (3, BASE + 60 * MIN, 2)]
    f2 = [
        (4, BASE + 10 * MIN, 1),  # cross-batch disorder, within watermark
        (5, BASE + 180 * MIN, 1),
        (6, BASE + 185 * MIN, 1),
        (7, BASE + 80 * MIN, 2),
    ]
    # sentinel advances the watermark (10h - 2h = 8h) past every
    # real session's end + gap, sealing them all
    f3 = [(8, BASE + 600 * MIN, SENTINEL_USER)]

    # one file per micro-batch: distinct mtimes + maxFilesPerTrigger=1
    for i, rows in enumerate([f1, f2, f3]):
        p = str(tmp_path / f"stage{i}")
        _write_batch(spark, p, rows)
        part = [f for f in os.listdir(p) if f.endswith(".parquet")][0]
        dst = f"{src}/batch-{i}.parquet"
        os.rename(f"{p}/{part}", dst)
        os.utime(dst, (time.time() + i, time.time() + i))

    sdf = stream_user_sessions_continuous(spark, src, gap_ms=GAP,
                                          user_buckets=user_buckets)
    name = "sess_cont_" + uuid.uuid4().hex[:8]
    chk = str(tmp_path / "chk")
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .option("checkpointLocation", chk)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start_ms, r.session_end_ms, r.n_events)
        for r in spark.table(name).collect()
    }

    all_events = [(uid, ms) for batch in (f1, f2, f3) for (_, ms, uid) in batch]
    expected = {
        (uid, s, e, n)
        for uid, sess in _batch_sessions(all_events).items()
        if uid != SENTINEL_USER  # sentinel's own session stays open
        for (s, e, n) in sess
    }
    assert got == expected
    # the disorder event must have joined session A, not split it
    assert (1, BASE, BASE + 20 * MIN, 3) in got


def test_continuous_sessions_exactly_once_no_reemission(spark, tmp_path):
    """A session sealed in an early batch must not re-emit in later
    batches (per-batch memory-sink rows are cumulative appends)."""
    from recon_spark.streaming import stream_user_sessions_continuous

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    f1 = [(1, BASE, 1), (2, BASE + 5 * MIN, 1)]
    f2 = [(3, BASE + 300 * MIN, 2)]   # wm -> 3h
    f3 = [(4, BASE + 600 * MIN, 2)]   # wm -> 8h
    for i, rows in enumerate([f1, f2, f3]):
        p = str(tmp_path / f"stage{i}")
        _write_batch(spark, p, rows)
        part = [f for f in os.listdir(p) if f.endswith(".parquet")][0]
        dst = f"{src}/batch-{i}.parquet"
        os.rename(f"{p}/{part}", dst)
        os.utime(dst, (time.time() + i, time.time() + i))

    sdf = stream_user_sessions_continuous(spark, src, gap_ms=GAP)
    name = "sess_once_" + uuid.uuid4().hex[:8]
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    q.awaitTermination()
    rows = [tuple(r) for r in spark.table(name).collect()]
    assert len(rows) == len(set(rows))  # no duplicate emissions
    assert (1, BASE, BASE + 5 * MIN, 2) in set(rows)


def test_drain_partitions_restores_on_failure(spark):
    """_drain_partitions must restore the session's shuffle-partition
    setting even when the drain body raises (a failed stream start must
    not leave the session pinned at the drain's tiny state-partition
    count for every later batch query)."""
    import pytest

    from recon_spark.queries.pipeline import _drain_partitions

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError, match="boom"):
        with _drain_partitions(spark, 4):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
