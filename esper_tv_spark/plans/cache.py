"""Site-keyed persist registry: bounded caching for operators that persist
an intermediate consumed by several branches of one returned plan.

An operator like edit_similarity_join persists its (id, string, length)
table because SIX branches of its returned plan consume it — but
the consuming action happens at the CALLER (the returned DataFrame is
lazy), so the operator cannot unpersist before returning.  Left alone,
every invocation leaks one cached table of executor storage; bench loops
that run the query at several scales accumulate them until later queries
are squeezed (the round-5 ADVICE finding).

`register_persisted(site, df)` bounds the leak to ONE live cached table
per call site: it persists `df`, and unpersists whatever the same site
registered on its PREVIOUS invocation (safe as long as the previous
invocation's result has been materialized — true for every driver /
bench / check loop, which fully collects one query before the next; a
caller interleaving two live plans from the same site should instead
manage persistence itself).  `release_all()` is the explicit cleanup
handle for suite runners: unpersists every registered table immediately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LIVE: dict[str, DataFrame] = {}


def register_persisted(
    site: str, df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """Persist `df` and register it under `site`, unpersisting the table
    the same site registered last time. Returns the persisted `df`."""
    prev = _LIVE.pop(site, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    _LIVE[site] = df.persist(level)
    return df


def release_all() -> None:
    """Unpersist every registered table (suite-runner cleanup handle)."""
    for site in list(_LIVE):
        df = _LIVE.pop(site)
        try:
            df.unpersist()
        except Exception:
            pass
