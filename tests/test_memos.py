"""Every cross-query memo is a ``caching.Memo``, ``clear_all_memos()``
releases all of them, and the package makes no temp dir outside a
``with`` block or a memo, nor writes into the checkout.
``release_caches()`` drops the streaming sink views, the session's
compiled-class cache holds a repeated workload's generated code, and a
corpus table's parquet schema is probed once per session."""

from __future__ import annotations

import importlib
import json
import os
import re
import tempfile
from pathlib import Path

from pyspark.storagelevel import StorageLevel

from datatransformertools_spark import caching, registry

PKG = Path(caching.__file__).resolve().parent
MEMO_NAME = re.compile(r"^(_?[A-Z][A-Z0-9_]*_MEMO)\b", re.M)


def _package_sources():
    return sorted(PKG.rglob("*.py"))


def test_every_module_level_memo_is_a_memo():
    registry._load()
    names = {}
    for path in _package_sources():
        found = MEMO_NAME.findall(path.read_text())
        if found:
            rel = path.relative_to(PKG.parent).with_suffix("")
            mod = importlib.import_module(".".join(rel.parts))
            names.update({f"{mod.__name__}.{n}": getattr(mod, n) for n in found})
    assert len(names) >= 21, sorted(names)
    not_memo = {n: type(v).__name__ for n, v in names.items() if not isinstance(v, caching.Memo)}
    assert not not_memo, not_memo


def test_clear_all_memos_releases_every_kind(spark, sf_dir):
    from datatransformertools_spark.operators.annotations import yolo_label_roundtrip
    from datatransformertools_spark.operators.graph import _co_edges
    from datatransformertools_spark.operators.similarity import corpus_k
    from datatransformertools_spark.streaming.events import _staged_events_dir

    def dtt_dirs():
        return {n for n in os.listdir(tempfile.gettempdir()) if n.startswith("dtt-")}

    before = dtt_dirs()
    caching.clear_all_memos()
    frame = _co_edges(spark, sf_dir)
    assert frame.storageLevel == StorageLevel.MEMORY_AND_DISK
    assert corpus_k(spark, sf_dir) > 0
    staged = _staged_events_dir(spark, sf_dir, sentinel=False)
    assert os.path.isdir(staged)
    assert yolo_label_roundtrip(spark, sf_dir).count() > 0
    io_dirs = {n for n in dtt_dirs() - before if n.startswith("dtt-io-")}
    assert io_dirs

    assert caching.clear_all_memos() >= 4
    assert {id(m): len(m) for m in caching._MEMOS if len(m)} == {}
    assert frame.storageLevel == StorageLevel.NONE
    assert not os.path.exists(staged)
    assert dtt_dirs() - before == set()
    assert not io_dirs & dtt_dirs()


def test_temp_dirs_are_scoped_or_memo_owned():
    """A temp dir is either a ``with TemporaryDirectory`` block or a
    ``Memo`` value; nothing hand-removes one, relies on an exit hook,
    or writes scratch files into the checkout's ``.dtt_tmp``."""
    banned = re.compile(r"\bmkdtemp\(|\batexit\.register\b|\.dtt_tmp")
    hits = [
        f"{path.relative_to(PKG.parent)}:{i}"
        for path in _package_sources()
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []


def test_release_caches_drops_stream_sink_views(spark, sf_dir):
    from datatransformertools_spark.streaming.events import events_stream_tumbling

    def stream_views():
        tables = spark.catalog.listTables()
        return {t.name for t in tables if t.isTemporary and t.name.startswith("stream_")}

    df = events_stream_tumbling(spark, sf_dir)
    rows = sorted(df.collect())
    assert rows and stream_views()
    caching.release_caches()
    assert stream_views() == set()
    assert sorted(df.collect()) == rows


def test_repeated_perfbench_queries_compile_nothing(spark, sf_dir):
    """The second round of the perfbench queries finds every generated
    class in the session's codegen cache."""
    with open(PKG.parent / "perfbench" / "workloads.json") as fh:
        workloads = json.load(fh)["workloads"]
    fns = registry.queries()

    def run_round():
        for w in ("reference_pipeline", "curation_streaming_cold"):
            for name in workloads[w]["queries"]:
                if workloads[w]["memo_policy"] == "clear":
                    caching.clear_all_memos()
                fns[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                caching.release_caches()

    run_round()
    before = caching.codegen_compiles(spark)
    run_round()
    assert caching.codegen_compiles(spark) - before == 0


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_second_load_table_starts_no_job(spark, sf_dir):
    from datatransformertools_spark.sources.tables import TABLE_NAMES, load_table

    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name)
    j0 = _jobs(spark)
    frames = {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
    assert _jobs(spark) - j0 == 0
    for name, df in frames.items():
        assert df.schema == spark.read.parquet(f"{sf_dir}/{name}.parquet").schema, name

    caching.clear_all_memos()
    j0 = _jobs(spark)
    load_table(spark, sf_dir, "lineitem")
    assert _jobs(spark) - j0 == 1


def test_nanos_events_read_as_epoch_nanos(spark, sf_dir, tmp_path):
    """A TIMESTAMP(NANOS) events.ts reads as bigint on the probe and on
    the memo hit, and normalizes to the same µs as a MICROS copy."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datatransformertools_spark.sources.tables import events_ts_us, load_table

    table = pq.read_table(f"{sf_dir}/events.parquet")
    i = table.schema.get_field_index("ts")
    for unit in ("ns", "us"):
        (tmp_path / unit).mkdir()
        ts = table.column(i).cast(pa.timestamp(unit))
        pq.write_table(table.set_column(i, "ts", ts), tmp_path / unit / "events.parquet")
    written = pq.ParquetFile(tmp_path / "ns" / "events.parquet").schema.column(i)
    assert "timeUnit=nanoseconds" in str(written.logical_type)

    def ts_us(unit):
        df = load_table(spark, str(tmp_path / unit), "events")
        return dict(df.dtypes)["ts"], sorted(df.select("event_id", events_ts_us(df)).collect())

    probed, hit = ts_us("ns"), ts_us("ns")
    assert probed[0] == hit[0] == "bigint"
    assert probed[1] == hit[1] == ts_us("us")[1]
