"""Session-scoped cache tracking for stage tables.

Several operators persist intermediate stage tables (shingles,
minhash signatures, IoU pairs) that multiple downstream plans reuse
within one query run. A bare ``.persist()`` inside a plan builder
has no release path, so a long-lived session running many queries
(bench.py runs the whole registry) accumulates cached blocks it can
never free. ``track()`` registers every such frame; callers that
own the session lifecycle (bench.py per query, tests per module)
call ``release_caches()`` to drop them all.

At cluster scale the same role is played by writing the stage table
to storage; in-session, persist+track is the zero-copy equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LIVE: list[DataFrame] = []


def track(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """Persist ``df`` and register it for later release."""
    df.persist(level) if level is not None else df.persist()
    _LIVE.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked frame (LIFO); returns how many."""
    n = 0
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session may already be stopped
    return n


def clear_all_memos(unpersist: bool = True) -> int:
    """Release every CROSS-QUERY memo: the _FrameMemo stage tables
    (shingles, τ-pairs, IoU pairs, co-purchase edges, …) plus the
    scalar training memos (k-means centroids, corpus-K, logreg
    weights, BPE merge tables, exact-pair counts, streaming schema
    probes) and the staged streaming landing dirs, which are deleted.
    release_caches() deliberately does NOT own these —
    they exist for cross-query reuse — so the bench's memo-cold
    isolated tag calls this to time a query that pays its own memo
    builds (VERDICT r12 #2: memoized families must report both the
    build-payer and the memo-rider number)."""
    from datatransformertools_spark.operators import (
        dedup,
        quality,
        similarity,
        text_analysis,
    )
    from datatransformertools_spark.streaming import events as streaming_events

    n = dedup.clear_dedup_memos(unpersist)
    for d in (
        dedup._EXACT_PAIRS_MEMO,
        quality._W_MEMO,
        similarity._K_MEMO,
        similarity._CENT_MEMO,
        text_analysis._BPE_MERGES_MEMO,
        streaming_events._SCHEMA_MEMO,
    ):
        n += len(d)
        d.clear()
    return n + streaming_events.clear_staged_dirs()
