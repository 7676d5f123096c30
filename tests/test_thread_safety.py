"""Check-then-act helpers under concurrent callers (Spark-free: the
helpers are driven with stand-in sessions and DataFrames whose calls
sleep, so unsynchronized callers would interleave)."""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

from telescope_data_pipeline_spark.operators.cache_slot import CacheSlot
from telescope_data_pipeline_spark.session import stock_coalesce_floor

THREADS = 8


def test_stock_coalesce_floor_creates_one_child_session():
    made = []

    class Session:
        def newSession(self):
            time.sleep(0.01)
            child = SimpleNamespace(conf=SimpleNamespace(set=lambda key, value: None))
            made.append(child)
            return child

    spark = Session()
    with ThreadPoolExecutor(THREADS) as pool:
        children = list(pool.map(lambda _: stock_coalesce_floor(spark),
                                 range(THREADS), timeout=30))
    assert len(made) == 1
    assert all(child is made[0] for child in children)


def test_cache_slot_own_evicts_each_superseded_frame_once(monkeypatch):
    """Owners racing on one slot: every DataFrame but the last owned is
    unpersisted exactly once, and the last one stays cached."""
    # no plan comparison, so every newly owned DataFrame evicts the last
    monkeypatch.setattr(CacheSlot, "_compare_available", False)

    class Frame:
        def __init__(self) -> None:
            self.unpersisted = 0

        def cache(self):
            time.sleep(0.01)
            return self

        def unpersist(self, blocking: bool = False):
            self.unpersisted += 1

    slot = CacheSlot()
    frames = [Frame() for _ in range(THREADS)]
    with ThreadPoolExecutor(THREADS) as pool:
        list(pool.map(slot.own, frames, timeout=30))
    assert slot._last.unpersisted == 0
    assert sorted(f.unpersisted for f in frames) == [0] + [1] * (THREADS - 1)
