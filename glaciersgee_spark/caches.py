"""App-scoped caches: the one place engine state is keyed by application.

Catalyst has no cross-branch (or cross-query) common-subtree reuse, so
operators that share an expensive derived result — the shingle base,
the SRP banding, the trained k-means centroids, the BPE merge trace —
keep ONE copy per (applicationId, sf_dir, tag) here. Two kinds of
entry, one mechanism:

* :func:`scoped_persist` — a persisted DataFrame. Every call re-checks
  its storage level and re-persists a frame whose storage an external
  ``spark.catalog.clearCache()`` dropped (the bench honesty protocol
  clears storage between runs without telling the registry), and a
  schema guard refuses to serve a tag for a different plan.
* :func:`scoped_value` — a collected driver-side value (centroid lists,
  a merge trace, a count). ``compute()`` runs only on a miss.

:func:`clear_caches` unpersists every frame and drops every entry — the
hook a long-lived serving session calls between tenants, and tests call
to prove nothing leaks. tests/test_contract_lint.py enforces that every
``.persist()`` in the package goes through here (or is unpersisted by
the function that made it) and that no other module reads
``applicationId``.

Deliberately NOT an LRU: eviction mid-battery would silently re-run
the shared shuffles the caches exist to avoid; an explicit
end-of-tenant clear is the predictable contract.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame

_SCOPED: dict[tuple[str, str, str], DataFrame] = {}
_VALUES: dict[tuple[str, str, str], Any] = {}


def _key(spark, sf_dir: str, tag: str) -> tuple[str, str, str]:
    return (spark.sparkContext.applicationId, sf_dir, tag)


def clear_caches() -> dict[str, int]:
    """Unpersist every cached frame and drop every cached entry.

    Returns {"entries": dropped frames + values, "frames": unpersisted
    DataFrames} so callers (and tests) can assert the release really
    happened. Safe to call with no active session; idempotent.
    """
    frames = 0
    for df in _SCOPED.values():
        try:
            df.unpersist()
            frames += 1
        except Exception:
            pass  # session already stopped — nothing to release
    entries = len(_SCOPED) + len(_VALUES)
    _SCOPED.clear()
    _VALUES.clear()
    return {"entries": entries, "frames": frames}


def scoped_value(
    spark, sf_dir: str, tag: str, compute: Callable[[], Any]
) -> Any:
    """One driver-side value per (app, sf_dir, tag): compute() runs on
    the first call only; clear_caches() drops it."""
    key = _key(spark, sf_dir, tag)
    if key not in _VALUES:
        _VALUES[key] = compute()
    return _VALUES[key]


def scoped_persist(df: DataFrame, spark, sf_dir: str, tag: str) -> DataFrame:
    """One persisted copy of df per (app, sf_dir, tag), registry-owned.

    Behaviorally identical to a per-call .persist() for the first call
    and after every clearCache (the storageLevel probe re-persists a
    dropped frame), but repeated calls reuse ONE frame and
    clear_caches() releases it.

    CONTRACT: one plan per tag. Every call site sharing a tag must pass
    the same logical frame — after the first call for a key, the df
    argument is intentionally ignored and the cached frame served
    (that IS the dedup the cache exists for). A call site that reused
    a tag for a different plan would silently get the wrong frame, so
    the cheap guard below compares the new df's schema against the
    cached frame's and raises on mismatch: schema equality won't catch
    every divergent plan (a tag must therefore carry every parameter
    of the plan), but it catches the realistic tag-collision accident
    at zero JVM round-trips beyond the schema fetch the DataFrame
    already holds.
    """
    key = _key(spark, sf_dir, tag)
    cached = _SCOPED.get(key)
    if cached is None:
        cached = df
        _SCOPED[key] = cached
    elif cached is not df and cached.schema != df.schema:
        raise ValueError(
            f"scoped_persist tag {tag!r} is already bound to a frame with "
            f"schema {cached.schema.simpleString()}; refusing to serve it "
            f"for a plan with schema {df.schema.simpleString()} — one plan "
            "per (app, sf_dir, tag)."
        )
    if not cached.storageLevel.useMemory and not cached.storageLevel.useDisk:
        cached = cached.persist()
        _SCOPED[key] = cached
    return cached
