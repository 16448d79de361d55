"""Generation-bounded persist() for operator intermediates.

Several operators persist() a small intermediate (LSH candidate pairs,
bucket keys, signatures) that the returned — lazy — DataFrame references
more than once. The cache can't be dropped before the caller consumes
the result, so a bare persist() leaks one cached RDD per invocation for
the life of the session.

`keep(tag, df)` bounds that: each operator persists under a stable tag,
and the NEXT invocation with the same tag unpersists the previous
generation first. Steady-state cache = one generation per operator, no
matter how many times queries run. Callers that interleave consumption
of two results from the SAME operator (rare — the driver and bench are
both sequential) should call the operator, fully consume, then call
again; `release()` drops everything eagerly for session teardown.
Concurrent callers (one thread per HTTP request) are serialised by one
module lock, so a tag never holds two live generations.
"""
from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_LIVE: dict[str, DataFrame] = {}
_LOCK = threading.Lock()


def keep(tag: str, df: DataFrame) -> DataFrame:
    """persist() `df` under `tag`, unpersisting the previous holder of the
    tag (lazy persist — no job is triggered here).

    If the previous generation has the SAME analyzed plan (the operator
    invoked twice with identical inputs — the repeated-query hot path),
    the previous DataFrame is returned instead: its populated cache
    keeps serving, where unpersist+re-persist would throw the warm data
    away and recompute the subtree (measured +0.7 s warm at sf0.1 on
    doc_near_dups_fast)."""
    with _LOCK:
        prev = _LIVE.get(tag)
        if prev is not None:
            try:
                same = prev._jdf.queryExecution().analyzed().sameResult(
                    df._jdf.queryExecution().analyzed())
            except Exception:
                same = False
            if same:
                return prev
            _LIVE.pop(tag, None)
            try:
                prev.unpersist()
            except Exception:
                pass  # session may already be stopped
        _LIVE[tag] = df.persist()
        return _LIVE[tag]


def release(tag: str | None = None) -> None:
    """Unpersist one tag's generation, or all of them (tag=None)."""
    with _LOCK:
        tags = [tag] if tag is not None else list(_LIVE)
        for t in tags:
            prev = _LIVE.pop(t, None)
            if prev is not None:
                try:
                    prev.unpersist()
                except Exception:
                    pass


def live_tags() -> list[str]:
    with _LOCK:
        return sorted(_LIVE)
