"""Single-slot cache ownership for operators that must cache a mid-plan
DataFrame (two downstream consumers, or a partition-id assignment that
must be identical across jobs) but return a LAZY result — the operator
itself can never know when its caller has materialized the output, so
it cannot unpersist eagerly without risking recompute of the very thing
it cached.

The bounded alternative: each operator module owns ONE slot. Owning a
new DataFrame unpersists the previously-owned one, so executor storage
is bounded to a single cached table per operator family regardless of
how many times the operator is invoked in a session (the pattern
simhash_near_duplicates introduced; factored here so prefix-sum and
packing reuse it instead of leaking — round-3 ADVICE items).
"""

from __future__ import annotations

import logging
import threading

from pyspark.sql import DataFrame

__all__ = ["CacheSlot"]

_log = logging.getLogger(__name__)


class CacheSlot:
    """One owned cache per slot; owning a new DF evicts the previous.

    Eviction must NOT fire when the new DataFrame has the same logical
    plan as the previous one: Spark's CacheManager keys entries by plan
    equivalence, so ``cache()`` on an identical plan reuses the existing
    entry and unpersisting the "previous" DataFrame would drop the entry
    the new caller is about to depend on. The symptom is brutal — the
    downstream self-join loses its InMemoryTableScan legs, the operator's
    expensive expression (e.g. the interpreted SimHash fold) is inlined
    and re-evaluated per consumer row, and a repeat invocation runs ~60x
    slower than the first. Plan-equivalent re-ownership keeps the one
    shared entry; storage stays bounded either way.

    Plan comparison rides the classic py4j ``_jdf`` bridge, which is an
    internal API: it is absent on Spark Connect and could change across
    Spark versions. Availability is probed ONCE at first use (not
    swallowed per-call): when the bridge is unavailable the slot logs a
    warning and degrades to unconditional eviction of the previous DF —
    safe, because every slot owner here caches a DETERMINISTIC
    DataFrame (content-hash bucket ids, digest folds), so a recompute
    after a mistaken eviction changes cost, never answers. Keep-cache is
    reserved for genuinely transient per-call py4j errors after a
    successful probe (round-4 ADVICE: never silently disable eviction
    for the whole session). ``tests/test_scale_patterns.py`` carries a
    canary asserting the bridge still resolves on the running Spark, so
    an internal-API break fails the suite loudly.
    """

    #: None = not yet probed; True/False = probe outcome (class-wide:
    #: the bridge is a property of the Spark runtime, not of one slot).
    _compare_available: bool | None = None

    def __init__(self) -> None:
        self._last: DataFrame | None = None
        self._lock = threading.Lock()

    @classmethod
    def _probe(cls, df: DataFrame) -> bool:
        if cls._compare_available is None:
            try:
                analyzed = df._jdf.queryExecution().analyzed()
                cls._compare_available = bool(analyzed.sameResult(analyzed))
            except Exception:
                cls._compare_available = False
                _log.warning(
                    "CacheSlot: logical-plan comparison unavailable on this "
                    "Spark runtime (_jdf bridge missing, e.g. Spark Connect); "
                    "falling back to unconditional eviction of the previous "
                    "cached DataFrame — correct but may recompute a "
                    "plan-identical cache entry.")
        return cls._compare_available

    @staticmethod
    def _same_plan(a: DataFrame, b: DataFrame) -> bool:
        if not CacheSlot._probe(a):
            return False  # comparison impossible: evict unconditionally
        try:
            return bool(a._jdf.queryExecution().analyzed().sameResult(
                b._jdf.queryExecution().analyzed()))
        except Exception:  # transient py4j hiccough: err on keep-cache
            return True

    def own(self, df: DataFrame) -> DataFrame:
        with self._lock:  # concurrent owners evict each superseded DF once
            prev = self._last
            df = df.cache()
            if prev is not None and not self._same_plan(prev, df):
                prev.unpersist(blocking=False)
            self._last = df
        return df
