"""IncrementalBloom builds its delta bitsets on the driver from an
Arrow collect of the keys (operators/dedup.py): the bitsets must be
bit-identical to a per-pid build split by Spark's pmod, a crawl must
hand back every cache and prefilter broadcast it took, and a resume
past the auto switchover must not collect the seen-set at all."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark import SparkContext
from pyspark.broadcast import Broadcast
from pyspark.sql import functions as F

from barkingowl_spark.operators.dedup import IncrementalBloom, _build_bitset
from barkingowl_spark.plans.crawl import CrawlConfig, run_crawl

N_PART = 5
EMPTY_PID = 3
M_BITS = 1 << 12


def _keys(spark, seed: int, n: int):
    """Random url_hash values over the whole int64 range (negatives
    and both extremes included), none of which lands in EMPTY_PID."""
    rng = np.random.default_rng(seed)
    info = np.iinfo(np.int64)
    vals = rng.integers(info.min, info.max, n, dtype=np.int64)
    vals = np.concatenate([vals, [info.min, info.max, -1, 0, 1, -N_PART]])
    vals = vals[np.mod(vals, N_PART) != EMPTY_PID]
    return spark.createDataFrame([(int(v),) for v in vals], "url_hash long")


def _reference(*frames) -> dict[int, np.ndarray]:
    """Per-pid _build_bitset over keys grouped by Spark's own pmod."""
    groups: dict[int, list[int]] = {}
    for df in frames:
        for r in df.select(
            F.pmod("url_hash", F.lit(N_PART)).alias("pid"), "url_hash"
        ).collect():
            groups.setdefault(r["pid"], []).append(r["url_hash"])
    return {pid: _build_bitset(np.array(v, dtype=np.int64), M_BITS)
            for pid, v in groups.items()}


def test_add_keys_matches_per_pid_reference(spark):
    first, second = _keys(spark, 1, 3000), _keys(spark, 2, 500)
    n1, n2 = first.count(), second.count()
    bloom = IncrementalBloom(N_PART, m_bits=M_BITS)

    assert bloom.add_keys(first) == n1
    want = _reference(first)
    assert EMPTY_PID not in want and EMPTY_PID not in bloom.bits
    assert sorted(bloom.bits) == sorted(want)
    for pid, bits in want.items():
        assert np.array_equal(bloom.bits[pid], bits), pid

    # a second wave ORs into the same bitsets
    assert bloom.add_keys(second) == n2
    want = _reference(first, second)
    assert sorted(bloom.bits) == sorted(want)
    for pid, bits in want.items():
        assert np.array_equal(bloom.bits[pid], bits), pid
    assert bloom.n_keys == n1 + n2


def test_add_keys_of_no_rows(spark):
    bloom = IncrementalBloom(N_PART, m_bits=M_BITS)
    assert bloom.add_keys(_keys(spark, 1, 10).limit(0)) == 0
    assert bloom.bits == {} and bloom.n_keys == 0


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs()}


@pytest.mark.parametrize("prefilter", ["bloom", "cuckoo"])
def test_crawl_releases_caches_and_prefilter_broadcasts(
    spark, seeds_df, pages_df, tmp_path, monkeypatch, prefilter
):
    """A 3-wave crawl leaves the session's persisted RDDs as it found
    them (the per-run seed config included) and unpersists every
    broadcast it created — one prefilter snapshot per wave."""
    made: list[Broadcast] = []
    released: set[int] = set()
    broadcast, unpersist = SparkContext.broadcast, Broadcast.unpersist

    def record_broadcast(self, value):
        bc = broadcast(self, value)
        made.append(bc)
        return bc

    def record_unpersist(self, blocking=False):
        released.add(id(self))
        return unpersist(self, blocking)

    monkeypatch.setattr(SparkContext, "broadcast", record_broadcast)
    monkeypatch.setattr(Broadcast, "unpersist", record_unpersist)
    pages_df.count()  # the session fixture's own cache, if not yet built
    before = _persistent_rdd_ids(spark)
    state = run_crawl(
        spark, seeds_df, pages_df,
        CrawlConfig(checkpoint_dir=str(tmp_path), prefilter=prefilter,
                    max_waves=3),
    )
    assert state.wave == 3
    assert _persistent_rdd_ids(spark) == before
    assert len(made) >= 3
    assert [id(b) in released for b in made] == [True] * len(made)


def test_resume_past_threshold_starts_on_table_transport(
    spark, seeds_df, pages_df, fixture_data, tmp_path, monkeypatch
):
    """Under the auto transport, a resumed seen-set already past the
    switchover builds the table transport directly: no key reaches the
    driver, and the finished crawl still matches the frozen oracle."""
    from tests.test_crawl_oracle import oracle_outputs, spark_outputs

    ckpt = str(tmp_path)
    run_crawl(spark, seeds_df, pages_df,
              CrawlConfig(checkpoint_dir=ckpt, max_waves=2))
    driver_adds = []
    monkeypatch.setattr(
        IncrementalBloom, "add_keys",
        lambda self, keys: driver_adds.append(keys) or 0)
    state = run_crawl(
        spark, seeds_df, pages_df,
        CrawlConfig(checkpoint_dir=ckpt, prefilter_table_threshold_keys=1),
        resume=True,
    )
    assert driver_adds == []
    assert os.path.isdir(os.path.join(ckpt, "bloom_state"))
    assert spark_outputs(state) == oracle_outputs(fixture_data)
