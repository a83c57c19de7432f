from __future__ import annotations

import os
import shutil
import uuid

import pytest
from hypothesis import settings

# Every property test draws the same examples on every run: the
# suite must pass or fail the same way under --maxfail=1. The
# example database is off too, so a failure once recorded locally
# cannot make one checkout replay examples another does not.
settings.register_profile("deterministic", derandomize=True, database=None)
settings.load_profile("deterministic")

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from datatransformertools_spark import get_spark

    s = get_spark("dtt-tests")
    yield s
    from datatransformertools_spark.caching import clear_all_memos, release_caches

    clear_all_memos()
    release_caches()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def drain_two_batches(spark, sf_dir, tmp_path):
    """Drain ``plan(raw)`` over a landing dir ``tmp_path / "events"``
    that holds the events file and one later file, read as two
    micro-batches (maxFilesPerTrigger=1) on 8 state partitions.
    ``second(src)`` writes the later file; by default it is the
    watermark sentinel. Returns the memory sink table and the query's
    progress list."""
    from datatransformertools_spark.streaming.events import (
        _read_raw,
        _state_partitions,
        _write_watermark_sentinel,
    )

    def drain(plan, output_mode, second=None):
        src = tmp_path / "events"
        src.mkdir()
        shutil.copy(f"{sf_dir}/events.parquet", src / "events.parquet")
        # written AFTER the copy → newer mtime → later batch
        if second is None:
            _write_watermark_sentinel(str(src), sf_dir)
        else:
            second(src)
        raw = _read_raw(spark, str(src), maxFilesPerTrigger=1)
        name = f"two_batch_{uuid.uuid4().hex[:8]}"
        with _state_partitions(spark, 8):
            q = (
                plan(raw)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)
            progresses = list(q.recentProgress)
        return spark.table(name), progresses

    return drain
