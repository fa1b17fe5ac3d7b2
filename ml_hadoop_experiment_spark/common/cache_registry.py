"""Session-lifetime registry for operator-pinned DataFrames.

Some operators pin intermediate frames as part of their contract (the
adaptive top-k probe in ``operators/setsim.py`` pins its k-row result
so the decision ``count()`` and the caller's collection share one
computation; ``operators/simhash_index.build_simhash_index`` pins the
corpus block frame). Inside one production job that is exactly right —
but a SWEEP that constructs hundreds of queries in a single session
(bench.py, the oracle-parity suite) would otherwise accumulate pinned
frames for the session lifetime, the same hazard
``plans/prefix.release_prefix_caches`` exists for. Operators register
their pins here; sweep drivers call :func:`release_pinned` between
queries. Steady-state callers that WANT a pin to outlive the call
(the bench's amortized-index entries) opt out via the operators'
``register=False`` knobs.

A pin is either a cached plan (``persist``) or a ``localCheckpoint``
frame, whose rows live in a persisted RDD under a ``LogicalRDD`` plan.
``unpersist()`` frees only the former; :func:`release` frees both.
"""

from __future__ import annotations

from typing import List

_PINNED: List = []


def release(df) -> None:
    """Free what ``df`` pins: its cached plan and, for a
    ``localCheckpoint`` frame, the RDD its rows live in. Frames that read
    from a released checkpoint cannot be evaluated afterwards."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def register_pinned(df) -> None:
    """Track a persisted DataFrame for sweep-boundary release."""
    _PINNED.append(df)


def release_pinned() -> int:
    """:func:`release` every registered frame (idempotent, never raises);
    returns how many were released."""
    n = 0
    while _PINNED:
        df = _PINNED.pop()
        try:
            release(df)
            n += 1
        except Exception:
            pass
    return n
