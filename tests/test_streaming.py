"""Structured Streaming drains the same events and agrees with the
batch plan — the one-codebase-two-runtimes guarantee."""

from __future__ import annotations

import re
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from datatransformertools_spark.sources.tables import events_event_time, events_ts_us, load_table


def test_stream_interval_join_boundary(spark, tmp_path):
    """The stream-stream attribution join uses CLOSED bounds: a
    purchase exactly 30 min after the click matches; one microsecond
    later does not."""
    import pandas as pd

    from datatransformertools_spark.streaming.events import events_stream_interval_join

    t0 = 1_700_000_000_000_000_000  # epoch nanos
    half_hour_ns = 1_800_000_000_000
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": [t0, t0 + half_hour_ns, t0 + half_hour_ns + 1000, t0 - 1000],
            "user_id": [7, 7, 7, 7],
            "event_type": ["click", "purchase", "purchase", "purchase"],
            "value": [0.0, 1.0, 2.0, 3.0],
            "props": ["{}"] * 4,
        }
    )
    rows.to_parquet(tmp_path / "events.parquet")
    got = events_stream_interval_join(spark, str(tmp_path)).collect()
    # only the exactly-at-boundary purchase joins (the +1us one is
    # past the upper bound; the earlier one precedes the click)
    assert len(got) == 1
    assert got[0]["user_id"] == 7
    assert got[0]["n_pairs"] == 1
    assert got[0]["total_lag_us"] == half_hour_ns // 1000


def test_checkpoint_freezes_state_partition_count(spark, sf_dir, tmp_path):
    """The state-store layout is pinned to spark.sql.shuffle.partitions
    at FIRST checkpoint, and a later drain against the SAME checkpoint
    keeps the frozen count even when the session setting changed in
    between (a driver re-run with a different setting must not
    corrupt or re-shard existing state). Also asserts the second drain
    picks up only the new file and the accumulated counts stay
    correct — i.e. state actually survived the re-open."""
    import json

    from datatransformertools_spark.streaming.events import _read_raw, _state_partitions

    src = tmp_path / "events"
    src.mkdir()
    ckpt = tmp_path / "ckpt"
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-0.parquet")

    def drain(n_parts, name):
        raw = _read_raw(spark, str(src))
        agg = (
            raw.withColumn("event_time", events_event_time(raw))
            .groupBy(F.window("event_time", "5 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        with _state_partitions(spark, n_parts):
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", str(ckpt))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        return {
            (r["w"], r["event_type"]): r["n_events"]
            for r in spark.sql(f"SELECT * FROM {name}").collect()
        }

    first = drain(8, "frozen_a")
    assert first

    # second batch: the same rows again (a new file), then re-drain
    # with a DIFFERENT session shuffle setting against the same
    # checkpoint — counts must exactly double (state reloaded), and
    # the state layout must stay at the frozen 8.
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-1.parquet")
    second = drain(4, "frozen_b")
    assert second == {k: 2 * v for k, v in first.items()}

    # the offsets metadata of EVERY microbatch records the state
    # partition count the runtime actually used; all committed
    # batches must carry the count the checkpoint was created with.
    offsets_dir = ckpt / "offsets"
    counts = set()
    for f in offsets_dir.iterdir():
        if not f.name.isdigit():
            continue
        for line in f.read_text().splitlines():
            if line.startswith("{") and "shuffle.partitions" in line:
                meta = json.loads(line)
                counts.add(meta["conf"]["spark.sql.shuffle.partitions"])
    assert counts == {"8"}, counts


MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def test_stream_start_scope_commits_through_the_filesystem_manager(spark, sf_dir, tmp_path):
    """A query started inside ``_state_partitions`` writes its offsets
    and commits logs through the FileSystem-based checkpoint manager,
    whose rename forks no ``readlink``; after the block the manager
    key is unset again and the shuffle setting is back."""
    from datatransformertools_spark.streaming.events import (
        _CHECKPOINT_FILE_MANAGER,
        _read_raw,
        _state_partitions,
    )

    src = tmp_path / "events"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "part-0.parquet")
    raw = _read_raw(spark, str(src))
    agg = raw.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    assert spark.conf.get(MANAGER_KEY, None) is None
    shuffle = spark.conf.get("spark.sql.shuffle.partitions", None)
    with _state_partitions(spark, 1):
        q = (
            agg.writeStream.format("memory")
            .queryName("scoped_manager")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        execution = q._jsq.streamingQuery()
        managers = {
            execution.offsetLog().fileManager().getClass().getName(),
            execution.commitLog().fileManager().getClass().getName(),
        }
    assert managers == {_CHECKPOINT_FILE_MANAGER}
    assert spark.conf.get(MANAGER_KEY, None) is None
    assert spark.conf.get("spark.sql.shuffle.partitions", None) == shuffle
    assert spark.table("scoped_manager").count() > 0


def test_stream_start_scope_restores_values_the_caller_set(spark):
    """Inside the scope both keys hold the scope's values; on exit each
    gets back the value the caller had set, even when the block
    raised."""
    from datatransformertools_spark.streaming.events import (
        _CHECKPOINT_FILE_MANAGER,
        _state_partitions,
    )

    caller_manager = (
        "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
    )
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(MANAGER_KEY, caller_manager)
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        try:
            with _state_partitions(spark, 3):
                assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
                assert spark.conf.get(MANAGER_KEY) == _CHECKPOINT_FILE_MANAGER
                raise RuntimeError("stream start failed")
        except RuntimeError:
            pass
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
        assert spark.conf.get(MANAGER_KEY) == caller_manager
    finally:
        spark.conf.unset(MANAGER_KEY)
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)


def test_stream_outer_interval_join_emits_null_rows(spark, sf_dir):
    """The left-outer interval join must emit clicks with NO
    purchase in-window (null-joined) once the watermark passes
    their horizon — and in the safe comparison region, matched +
    unmatched must account for every click."""
    from datatransformertools_spark.streaming.events import (
        _IJ_INTERVAL_US,
        _IJ_SAFE_SLACK_US,
        _IJ_WATERMARK_US,
        events_stream_interval_join_outer,
    )

    out = events_stream_interval_join_outer(spark, sf_dir)
    tot = out.agg(
        F.sum("n_matched").alias("m"), F.sum("n_unmatched").alias("u")
    ).collect()[0]
    assert tot["u"] > 0, "no null-joined clicks emitted"

    # every safe-region click is accounted for exactly once per
    # (click, matching purchase) pair or once as unmatched
    ev = load_table(spark, sf_dir, "events")
    ts = events_ts_us(ev)
    maxes = {
        r["event_type"]: r["m"]
        for r in ev.groupBy("event_type").agg(F.max(ts).alias("m")).collect()
    }
    wm = min(maxes["click"], maxes["purchase"]) - _IJ_WATERMARK_US
    cut = wm - _IJ_INTERVAL_US - _IJ_SAFE_SLACK_US
    clicks = ev.filter((F.col("event_type") == "click") & (ts <= F.lit(cut)))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), ts.alias("pus")
    )
    c = clicks.select("user_id", ts.alias("cus"))
    matched_pairs = c.join(
        purchases,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("pus") >= F.col("cus"))
        & (F.col("pus") <= F.col("cus") + _IJ_INTERVAL_US),
    ).count()
    unmatched_clicks = c.join(
        purchases,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("pus") >= F.col("cus"))
        & (F.col("pus") <= F.col("cus") + _IJ_INTERVAL_US),
        "left_anti",
    ).count()
    assert tot["m"] == matched_pairs
    assert tot["u"] == unmatched_clicks


def test_stream_bitmap_rollup_matches_batch(spark, sf_dir):
    """The streaming bit_or rollup must reproduce the batch bitmap
    table exactly — idempotent OR merge across microbatches is the
    whole argument for bitmaps as streaming state."""
    from datatransformertools_spark.operators.events import events_bitmap_rollup
    from datatransformertools_spark.streaming.events import events_stream_bitmap_rollup

    batch = {tuple(r) for r in events_bitmap_rollup(spark, sf_dir).collect()}
    stream = {tuple(r) for r in events_stream_bitmap_rollup(spark, sf_dir).collect()}
    assert stream == batch


def test_stream_top_k_matches_batch(spark, sf_dir):
    """Streaming per-(window, user) totals + bounded post-rank must
    equal the batch windowed top-k."""
    from datatransformertools_spark.operators.events import events_top_k_per_window
    from datatransformertools_spark.streaming.events import (
        events_stream_top_k_per_window,
    )

    batch = {tuple(r) for r in events_top_k_per_window(spark, sf_dir).collect()}
    stream = {tuple(r) for r in events_stream_top_k_per_window(spark, sf_dir).collect()}
    assert stream == batch


def test_watermark_evicts_state_and_closes_windows(spark, sf_dir, drain_two_batches):
    """The append-mode windowed aggregate must EVICT state once the
    watermark passes a window (VERDICT r7 #1's 'done' criterion):
    drain the real file and the far-future sentinel as SEPARATE
    microbatches (maxFilesPerTrigger=1) so the watermark advances
    between them, then assert (a) every real window was emitted
    exactly once (append = final), and (b) the state store reports
    rows REMOVED — the eviction itself, not just correct values."""
    from datatransformertools_spark.streaming.events import (
        SENTINEL_USER,
        stream_window_user_totals,
    )

    sink, progresses = drain_two_batches(
        lambda raw: stream_window_user_totals(
            raw.withColumn("event_time", events_event_time(raw))
        ),
        "append",
    )
    emitted = sink.filter(F.col("user_id") != SENTINEL_USER)
    raw_batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = (
        raw_batch.withColumn("event_time", events_event_time(raw_batch))
        .groupBy(F.window("event_time", "1 hour"), "user_id")
        .count()
        .count()
    )
    # (a) every real (window, user) emitted exactly once — closed final
    assert emitted.count() == want
    assert emitted.groupBy("window_start_us", "user_id").count().filter(
        F.col("count") > 1
    ).count() == 0
    # (b) the state store actually evicted rows when the watermark moved
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in progresses
        for op in (p.get("stateOperators") or [])
    )
    assert removed >= want, f"state rows removed {removed} < windows {want}"


def test_bitmap_rollup_update_mode_state_bounded(drain_two_batches):
    """The update-mode bitmap rollup must carry a watermark on its
    day-grain key (state evictable on an unbounded feed) and emit
    per-microbatch only touched keys. Two-batch drain (real file,
    then sentinel): batch 2 touches only the sentinel's key, so its
    update emission must be ≤ 1 row — NOT the whole table, which is
    what the replaced complete-mode twin re-emitted every batch."""
    from datatransformertools_spark.streaming.events import stream_bitmap_rollup

    _, progresses = drain_two_batches(
        lambda raw: stream_bitmap_rollup(raw.withColumn("ts_us", events_ts_us(raw))),
        "update",
    )
    data_batches = [p for p in progresses if p.get("numInputRows", 0) > 0]
    assert len(data_batches) >= 2, "expected the two files to drain as separate batches"
    # batch 2 (sentinel only) must emit ≤ 1 updated row, not the table
    assert data_batches[-1]["sink"]["numOutputRows"] <= 1
    # watermark-driven eviction: real-day state removed once the
    # sentinel pushed the watermark past every real day
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in progresses
        for op in (p.get("stateOperators") or [])
    )
    assert removed > 0


def test_stream_dau_append_emits_each_day_once_and_evicts(spark, sf_dir, drain_two_batches):
    """The append-mode DAU chain (dedup → day-windowed count,
    VERDICT r8 #5) that events_stream_daily_users runs: two-batch
    drain (real file, then sentinel) must (a) match the batch DAU
    exactly, (b) emit every day exactly once (append = final, no
    complete-mode re-emission), and (c) report state rows REMOVED
    from BOTH stateful operators once the sentinel pushes the
    watermark past the real days."""
    from datatransformertools_spark.streaming.events import stream_daily_users

    day_us = 86_400_000_000
    sink, progresses = drain_two_batches(stream_daily_users, "append")

    # the sentinel's own day may never close → it cannot appear; all
    # real days must (sentinel user would land on a far-future day)
    got = {r["day_start_us"]: r["dau"] for r in sink.collect()}
    raw_batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {
        r["day_start_us"]: r["dau"]
        for r in raw_batch.withColumn("ts_us", events_ts_us(raw_batch))
        .select((F.expr(f"ts_us div {day_us}") * day_us).alias("day_start_us"), "user_id")
        .groupBy("day_start_us")
        .agg(F.count_distinct("user_id").alias("dau"))
        .collect()
    }
    assert got == want  # (a) exact match + (b) one row per day (dict keys)
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in progresses
        for op in (p.get("stateOperators") or [])
    )
    # dedup evicts one row per (user, day); the agg one per day
    assert removed >= sum(want.values()) + len(want), removed


def test_no_complete_mode_sinks_remain(spark, sf_dir):
    """With the r10 enrich migration (VERDICT r9 #7) the registry
    has ZERO complete-mode sinks, period: every streaming query is
    watermark-bound append/update, and the one catalog-bounded
    scoreboard (events_stream_enrich) runs in update mode with a
    last-update-wins reconstruction on the face. Every registered
    query drains through the one `_drain` call path."""
    import inspect

    from datatransformertools_spark import streaming

    src = inspect.getsource(streaming.events)
    assert src.count('.outputMode("complete")') == 0
    modes = re.findall(r'_drain\([^)]*, "(\w+)", [^)]*\)', src)
    assert len(modes) == len(streaming.events.QUERIES)
    assert "complete" not in modes
    fn_src = inspect.getsource(streaming.events.events_stream_enrich)
    assert '_drain(agg, "enrich", "update", src_dir)' in fn_src
    assert "last-update-wins" in fn_src


def test_enrich_update_emits_only_touched_keys(spark, sf_dir, tmp_path, drain_two_batches):
    """The migrated enrich scoreboard that events_stream_enrich runs
    must emit per micro-batch only the keys that batch TOUCHED
    (update mode), and the last-update-wins reconstruction must still
    land on the exact batch answer. Two-batch drain: the real file,
    then a small single-type file — batch 2 may re-emit at most that
    ONE type's row, not the whole |types| table (which is what the
    replaced complete-mode sink did every batch)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from datatransformertools_spark.streaming.events import stream_enrich

    def second_batch(src):
        t = pq.read_table(f"{sf_dir}/events.parquet")
        one_type = t.column("event_type")[0].as_py()
        pq.write_table(
            t.filter(pc.equal(t.column("event_type"), one_type)).slice(0, 20),
            src / "zz_second_batch.parquet",
        )

    history = spark.read.parquet(f"{sf_dir}/events.parquet")
    log, progresses = drain_two_batches(
        lambda raw: stream_enrich(raw, history), "update", second_batch
    )
    data_batches = [p for p in progresses if p.get("numInputRows", 0) > 0]
    assert len(data_batches) >= 2, "expected the two files to drain as separate batches"
    assert data_batches[-1]["sink"]["numOutputRows"] <= 1

    # last-update-wins reconstruction == exact batch replay
    static_stats = history.groupBy("event_type").agg(
        F.round(F.avg("value") + 1e-9, 4).alias("mean_value")
    )
    got = {
        r.event_type: (r.n_events, r.n_above_mean)
        for r in log.groupBy("event_type")
        .agg(F.max(F.struct("n_events", "n_above_mean", "mean_value")).alias("s"))
        .select("event_type", "s.n_events", "s.n_above_mean")
        .collect()
    }
    want = {
        r.event_type: (r.n_events, r.n_above_mean)
        for r in spark.read.parquet(str(tmp_path / "events"))
        .join(F.broadcast(static_stats), "event_type")
        .withColumn("above_mean", (F.col("value") > F.col("mean_value")).cast("long"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("above_mean").alias("n_above_mean"))
        .collect()
    }
    assert got == want


@contextmanager
def _session_conf(spark, key, value):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_state_partition_count_sizes_by_source_bytes(spark, sf_dir):
    """The drain's state layout is one partition per advisory
    partition size of source bytes, capped at
    spark.sql.shuffle.partitions: 1 for a staged corpus of a few MB at
    the 64MB default, and min(cap, ceil(bytes / 4096)) at 4KB."""
    import math
    import os

    from datatransformertools_spark.streaming.events import (
        _staged_events_dir,
        _state_partition_count,
    )

    src = _staged_events_dir(spark, sf_dir, sentinel=False)
    n_bytes = os.path.getsize(f"{sf_dir}/events.parquet")
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _state_partition_count(spark, src) == 1
    with _session_conf(spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB"):
        assert _state_partition_count(spark, src) == min(cap, math.ceil(n_bytes / 4096))


class _StateLayout(StreamingQueryListener):
    """Records, per query-name prefix, the numShufflePartitions every
    state operator reported, and which queries have terminated."""

    def __init__(self):
        self.names: dict = {}
        self.parts: dict[str, set] = {}
        self.done: set[str] = set()

    def onQueryStarted(self, event):
        self.names[event.id] = event.name.rsplit("_", 1)[0]

    def onQueryProgress(self, event):
        p = event.progress
        self.parts.setdefault(p.name.rsplit("_", 1)[0], set()).update(
            op.numShufflePartitions for op in p.stateOperators
        )

    def onQueryTerminated(self, event):
        self.done.add(self.names.get(event.id))


def test_drain_state_layout_follows_source_bytes(spark, sf_dir):
    """events_stream_tumbling and events_stream_dedup return the same
    rows whether their state store has 1 partition (64MB default) or
    several (4KB advisory size), and the running query reports the
    partition count _state_partition_count computed for its source."""
    import time

    from datatransformertools_spark.streaming.events import (
        _staged_events_dir,
        _state_partition_count,
        events_stream_dedup,
        events_stream_tumbling,
    )

    cases = [
        ("stream_tumbling", events_stream_tumbling, True),
        ("stream_dedup", events_stream_dedup, False),
    ]
    listener = _StateLayout()
    spark.streams.addListener(listener)
    try:
        runs = {}
        for size in ("64MB", "4KB"):
            with _session_conf(spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes", size):
                want = {
                    name: _state_partition_count(
                        spark, _staged_events_dir(spark, sf_dir, sentinel=sentinel)
                    )
                    for name, _, sentinel in cases
                }
                rows = {name: sorted(fn(spark, sf_dir).collect()) for name, fn, _ in cases}
            deadline = time.time() + 60
            while not listener.done >= want.keys() and time.time() < deadline:
                time.sleep(0.1)
            listener.done.clear()
            got = {name: listener.parts.pop(name, set()) for name in want}
            assert got == {name: {n} for name, n in want.items()}, (size, got)
            runs[size] = (want, rows)
        assert set(runs["64MB"][0].values()) == {1}
        if int(spark.conf.get("spark.sql.shuffle.partitions")) > 1:
            assert min(runs["4KB"][0].values()) > 1
        assert runs["4KB"][1] == runs["64MB"][1]
    finally:
        spark.streams.removeListener(listener)


def test_drain_raises_at_its_cap(spark, sf_dir, monkeypatch):
    """A drain whose awaitTermination reports it still running at the
    cap is stopped and raises TimeoutError naming the query; it never
    returns a partial memory sink, and its checkpoint is removed."""
    import os

    import pytest
    from pyspark.sql.streaming.query import StreamingQuery

    from datatransformertools_spark.streaming.events import (
        _drain,
        _read_raw,
        _staged_events_dir,
    )

    src = _staged_events_dir(spark, sf_dir, sentinel=False)
    stream = _read_raw(spark, src).dropDuplicates(["event_id"])
    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, timeout=None: False)
    with pytest.raises(TimeoutError, match="stream_capped_"):
        _drain(stream, "capped", "append", src)
    assert spark.streams.active == []
    left = [n for n in os.listdir(tempfile.gettempdir()) if n.startswith("dtt-stream-capped-")]
    assert left == []


def test_streaming_temp_dirs_removed(spark, sf_dir):
    """Drains leave no checkpoint behind, the replay query removes its
    own a/b landing dir, and clear_all_memos() deletes the shared
    staged dirs: no new dtt-stream-* dir outlives its use."""
    import os

    from datatransformertools_spark.caching import clear_all_memos
    from datatransformertools_spark.streaming.events import (
        events_stream_dedup,
        events_stream_replay_dedup,
        events_stream_tumbling,
    )

    def stream_dirs():
        return {n for n in os.listdir(tempfile.gettempdir()) if n.startswith("dtt-stream-")}

    before = stream_dirs()
    for fn in (events_stream_tumbling, events_stream_dedup, events_stream_replay_dedup):
        assert fn(spark, sf_dir).count() > 0
    clear_all_memos()
    assert stream_dirs() - before == set()


def test_sentinel_is_read_after_the_real_events(sf_dir, tmp_path):
    """The file source reads files in mtime order, so the watermark
    sentinel must be strictly the newest file in its landing dir —
    by a full second, whether the events file was copied in (tests)
    or symlinked (staged dirs) just before it was written."""
    import os

    from datatransformertools_spark.streaming.events import _write_watermark_sentinel

    shutil.copy(f"{sf_dir}/events.parquet", tmp_path / "events.parquet")
    os.symlink(os.path.abspath(f"{sf_dir}/events.parquet"), tmp_path / "linked.parquet")
    _write_watermark_sentinel(str(tmp_path), sf_dir)
    sentinel_ns = os.stat(tmp_path / "zz-watermark-sentinel.parquet").st_mtime_ns
    for name in ("events.parquet", "linked.parquet"):
        p = tmp_path / name
        assert sentinel_ns >= max(os.stat(p).st_mtime_ns, os.lstat(p).st_mtime_ns) + 10**9
