"""The three lifetimes of what the engine keeps between plans.

Per-query: ``track()`` persists a stage table that several plans of
ONE query reuse (shingles, minhash signatures, IoU pairs), and
``track_view()`` registers the temp view a streaming drain's memory
sink is read through. A bare ``.persist()`` or view inside a plan
builder has no release path, so a long-lived session running many
queries (bench.py runs the whole registry) would accumulate cached
blocks and sink rows it can never free. The caller that owns the
query (bench.py per query, the test session at its end) calls
``release_caches()`` to drop every tracked frame and view; a frame
read from a dropped view keeps its rows, because its plan already
holds the sink.

Cross-query: a ``Memo`` holds a value that SEVERAL registered queries
start from (shingle and τ-pair tables, IoU pairs, co-purchase edges,
trained centroids and weights, staged streaming landing dirs, the
write→read round-trips' scratch dir, each corpus's parquet schemas),
built once per (session, key).
``release_caches()`` deliberately does not own these; every ``Memo``
registers itself on construction, so ``clear_all_memos()`` releases
all of them without a list to keep.
The policy lives here only:

- an entry is keyed on ``(applicationId, key)``. A miss first drops
  the entries of other applications (one live SparkSession per
  process, so their handles are dead weight), then the least recently
  used entries down to ``MEMO_CAP``, then builds;
- release follows the value's type: a DataFrame is persisted
  MEMORY_AND_DISK on build and unpersisted on release, a
  ``TemporaryDirectory`` is removed, any other value is dropped.

A memo key names immutable data: a corpus directory is read-only for
the process lifetime, and a pipeline that regenerates one in place
calls ``clear_all_memos()``. At cluster scale both roles are played by
writing the stage table to storage once per corpus.

Session: the JVM keeps every class Janino compiles from generated
code, keyed on the source text, in an LRU cache that lives as long as
the SparkContext. Nothing here releases it; ``session.get_spark``
sizes it to the engine's measured working set so a repeated query
compiles nothing. ``codegen_compiles()`` reads how many compiles the
JVM has done, so a caller can see which plans recompile.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

_LIVE: list[DataFrame] = []
_VIEWS: list[tuple[SparkSession, str]] = []


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for later release."""
    df.persist()
    _LIVE.append(df)
    return df


def track_view(spark: SparkSession, name: str) -> DataFrame:
    """Read temp view ``name`` and register it for later release."""
    _VIEWS.append((spark, name))
    return spark.table(name)


def release_caches() -> int:
    """Unpersist every tracked frame (LIFO) and drop every tracked
    view; returns how many frames."""
    n = 0
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session may already be stopped
    while _VIEWS:
        spark, name = _VIEWS.pop()
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass  # session may already be stopped
    return n


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compiles the session's JVM has run so far; a cache hit
    on generated code adds nothing."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


# Entries one Memo keeps per application: enough for the few corpora
# a session reads, small enough that a long test session touching many
# tmp-path corpora cannot pile up executor storage.
MEMO_CAP = 4

_MEMOS: list[Memo] = []


def _release(value: object) -> None:
    try:
        if isinstance(value, DataFrame):
            value.unpersist()
        elif isinstance(value, tempfile.TemporaryDirectory):
            value.cleanup()
    except Exception:
        pass  # session may already be stopped


class Memo:
    """A cross-query memo under the policy in the module docstring."""

    def __init__(self) -> None:
        self._entries: dict[tuple[str, Hashable], object] = {}  # insertion order = LRU
        _MEMOS.append(self)

    def __len__(self) -> int:
        return len(self._entries)

    def get_or_build(self, spark: SparkSession, key: Hashable, build: Callable[[], object]):
        app_id = spark.sparkContext.applicationId
        entry = (app_id, key)
        if entry in self._entries:
            value = self._entries.pop(entry)
        else:
            for stale in [k for k in self._entries if k[0] != app_id]:
                _release(self._entries.pop(stale))
            while len(self._entries) >= MEMO_CAP:
                _release(self._entries.pop(next(iter(self._entries))))
            value = build()
            if isinstance(value, DataFrame):
                value = value.persist(StorageLevel.MEMORY_AND_DISK)
        self._entries[entry] = value  # (re-)insert as most recently used
        return value

    def clear(self) -> int:
        """Release every entry; returns how many."""
        n = len(self._entries)
        while self._entries:
            _release(self._entries.popitem()[1])
        return n


def clear_all_memos() -> int:
    """Release the entries of every ``Memo``; returns how many. The
    bench's memo-cold isolated tag calls this to time a query that
    pays its own memo builds."""
    return sum(m.clear() for m in _MEMOS)
