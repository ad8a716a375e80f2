"""Seen-set dedup: Bloom prefilter + exact anti-join — SURVEY.md O12/O22.

The reference's seen-set is an O(n) Python list scan per link
([GH] scraper.py processed_links, C1 — its biggest scalability sin). Here:

  stage 1 (probabilistic, cuts shuffle): a partitioned Bloom filter over the
  seen-set's url_hash values. Candidates the filter rejects are DEFINITELY
  new and skip the anti-join entirely; only possible-members shuffle.
  False positives cost a wasted probe, never a dropped URL.

  stage 2 (exact): left_anti join on (seed_url, url_hash) against the seen
  table — guarantees the exact-seen-set metric (BASELINE.json).

Two transports, one policy: IncrementalBloom keeps the per-pid
bitsets in a driver dict, builds each wave's delta on the driver from
an Arrow collect of the wave's url_hash column (no Python worker, no
shuffle) and broadcasts them (the sandbox default, bounded by the auto
switchover in plans/crawl.py); TableBloom (r4) keeps them as a
versioned (pid, bitset) parquet table OR-merged per wave and probed by
a pid-cogrouped applyInPandas — the 10^10 transport, where the driver
never holds a bitset or a key (CrawlConfig.prefilter_transport="table";
PLANS.md section).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

BLOOM_HASHES = 7
BITS_PER_KEY = 12  # ~0.3% FP at k=7


def _positions(vals: np.ndarray, m: int) -> Iterator[np.ndarray]:
    v = vals.astype(np.uint64)
    h1 = v
    h2 = ((v >> np.uint64(31)) | np.uint64(1))
    for i in range(BLOOM_HASHES):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(m)).astype(np.int64)


def _build_bitset(vals: np.ndarray, m: int) -> np.ndarray:
    bits = np.zeros(m // 8 + 1, dtype=np.uint8)
    for pos in _positions(vals, m):
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return bits


def _probe_bitset(vals: np.ndarray, bits: np.ndarray, m: int) -> np.ndarray:
    maybe = np.ones(len(vals), dtype=bool)
    for pos in _positions(vals, m):
        maybe &= (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1 == 1
    return maybe


_POPCOUNT_LUT = np.unpackbits(
    np.arange(256, dtype=np.uint8)[:, None], axis=1
).sum(axis=1).astype(np.int64)


class IncrementalBloom:
    """Persistent cross-wave Bloom state (O12/O22) with ADAPTIVE sizing.

    Per-partition bitsets so new keys OR in incrementally: each wave's
    FRESH keys come to the driver as one Arrow column (``toArrow`` runs
    no Python worker and no shuffle) and their delta bitsets are built
    there with numpy, instead of a full seen-set rebuild per wave.
    Under the auto transport this class only runs while the seen-set
    is below CrawlConfig.prefilter_table_threshold_keys; past that,
    TableBloom builds its deltas executor-side. Saturation only
    raises the FP rate (more anti-join probes), never correctness — but
    a saturated prefilter silently degenerates to the bare anti-join at
    exactly the scale it was built for, so the filter GROWS: when the
    max per-partition fill fraction passes ``target_fill`` (FP ~=
    fill^k: 0.5^7 ~ 0.8%), the caller rebuilds via ``grow()`` with m
    re-targeted from the observed key count (BITS_PER_KEY bits/key,
    next power of two). Doubling schedule => O(log n) rebuilds over a
    run, each one key collect.
    """

    def __init__(self, n_partitions: int = 32, m_bits: int = 1 << 20,
                 target_fill: float = 0.5):
        self.n_partitions = n_partitions
        self.m = m_bits
        self.target_fill = target_fill
        self.bits: dict[int, np.ndarray] = {}
        self.n_keys = 0  # keys added since construction/last grow()

    def add_keys(self, keys: DataFrame) -> int:
        """OR the url_hash values of ``keys`` into the partition
        bitsets. Returns the number of keys added (the auto-transport
        switchover in plans/crawl.py accumulates it)."""
        vals = (keys.select("url_hash").toArrow().column(0)
                .to_numpy().astype(np.int64, copy=False))
        # np.mod with a positive modulus is Spark's pmod: same pid
        # split (and so the same bitsets) as an executor-side build
        pids = np.mod(vals, self.n_partitions)
        for pid in np.unique(pids).tolist():
            delta = _build_bitset(vals[pids == pid], self.m)
            if pid in self.bits:
                self.bits[pid] |= delta
            else:
                self.bits[pid] = delta
        self.n_keys += len(vals)
        return len(vals)

    def fill_fraction(self) -> float:
        """Max per-partition fraction of set bits (the FP driver)."""
        if not self.bits:
            return 0.0
        return max(
            float(_POPCOUNT_LUT[b].sum()) / self.m
            for b in self.bits.values()
        )

    def needs_grow(self) -> bool:
        return self.fill_fraction() > self.target_fill

    def grow(self, all_keys: DataFrame) -> int:
        """Re-target m from the observed key count and rebuild from the
        authoritative seen-set (one key collect). Returns new m."""
        per_part = max(1, self.n_keys // self.n_partitions)
        want = per_part * BITS_PER_KEY
        new_m = self.m
        while new_m < want:
            new_m <<= 1
        new_m <<= 1  # headroom: next doubling lands past target_fill/2
        self.m = new_m
        self.bits = {}
        self.n_keys = 0
        self.add_keys(all_keys)
        return new_m

    def snapshot(self) -> dict[int, tuple[bytes, int]]:
        return {pid: (b.tobytes(), self.m) for pid, b in self.bits.items()}


def bloom_maybe_seen_udf(spark, blooms: dict[int, tuple[bytes, int]], n_partitions: int):
    """Vectorized probe: url_hash -> bool (True = possibly seen). The
    snapshot ships as a broadcast, exposed as ``probe.broadcast`` so the
    caller can unpersist it once the plans that probe it have run."""
    bc = spark.sparkContext.broadcast(blooms)

    @F.pandas_udf(BooleanType())
    def probe(url_hash: pd.Series) -> pd.Series:
        tbl = bc.value
        vals = url_hash.to_numpy(dtype=np.int64)
        pids = np.mod(vals, n_partitions)
        pids = np.where(pids < 0, pids + n_partitions, pids).astype(np.int64)
        out = np.zeros(len(vals), dtype=bool)
        for pid in np.unique(pids):
            entry = tbl.get(int(pid))
            if entry is None:
                continue
            mask = pids == pid
            bits = np.frombuffer(entry[0], dtype=np.uint8)
            out[mask] = _probe_bitset(vals[mask], bits, entry[1])
        return pd.Series(out)

    probe.broadcast = bc
    return probe


class TableBloom:
    """EXECUTOR-SIDE transport of the incremental Bloom state (the r3
    verdict's "watch" item made code): the per-pid bitsets live as a
    tiny (pid, bits, n, set_bits, m) parquet table — versioned dirs
    under ``root`` with the TableIO atomic-rename convention — and
    every state transition is a distributed job:

      add_keys : build per-pid DELTA bitsets with applyInPandas, union
                 with the current table, OR-fold per pid executor-side,
                 write the next version. Bitset bytes never visit the
                 driver.
      probe    : pid-COGROUPED applyInPandas — each hash partition's
                 candidates meet exactly their partition's bitset in
                 one task (``anti_join_new`` method). No broadcast, no
                 driver dict; the candidate side shuffles once by pid,
                 which is the honest price of not shipping multi-GB
                 filter state through the driver at 10^10 keys.
      grow     : re-target m from the table's own n total (one 1-row
                 agg) and rebuild from the authoritative seen-set.

    The driver only ever sees O(1) scalars (max fill fraction, key
    total) and O(#versions) directory names. Same add/needs_grow/grow
    surface as IncrementalBloom, same adaptive-sizing policy, same
    exactness story (the anti-join confirms; the filter may only
    false-positive). State is rebuilt at run start (the driver-family
    lifecycle); persistence is for cross-WAVE executor transport."""

    def __init__(self, spark, root: str, n_partitions: int = 32,
                 m_bits: int = 1 << 20, target_fill: float = 0.5):
        import os
        import shutil

        self.spark = spark
        self.root = root
        self.n_partitions = n_partitions
        self.m = m_bits
        self.target_fill = target_fill
        if os.path.exists(root):
            shutil.rmtree(root)
        os.makedirs(root, exist_ok=True)
        self._version = 0

    # -- versioned-table plumbing (TableIO atomic-rename convention) --

    def _vdir(self, v: int) -> str:
        import os

        return os.path.join(self.root, f"v={v}")

    def _read(self) -> DataFrame | None:
        import os

        if self._version == 0:
            return None
        d = self._vdir(self._version)
        if not os.path.isdir(d):
            return None
        return self.spark.read.parquet(d)

    def _write(self, df: DataFrame) -> None:
        import os
        import shutil

        nxt = self._version + 1
        tmp = self._vdir(nxt) + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.coalesce(max(1, self.n_partitions // 8)).write.parquet(tmp)
        if os.path.exists(self._vdir(nxt)):
            shutil.rmtree(self._vdir(nxt))
        os.rename(tmp, self._vdir(nxt))
        self._version = nxt
        stale = self._vdir(nxt - 2)
        if nxt >= 2 and os.path.exists(stale):
            shutil.rmtree(stale)

    # -- state transitions (all distributed) --------------------------

    def add_keys(self, keys: DataFrame, merge: bool = True) -> None:
        """OR ``keys`` into the table (one distributed delta-build +
        OR-fold + versioned write). ``merge=False`` rebuilds from
        scratch — grow()'s path, where the current bitsets are sized
        for the OLD m and must not be OR-mixed in."""
        m = self.m
        keyed = keys.select(
            F.pmod(F.col("url_hash"), F.lit(self.n_partitions))
            .cast("int").alias("pid"),
            "url_hash",
        )

        def make(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            vals = pdf["url_hash"].to_numpy(dtype=np.int64)
            return pd.DataFrame(
                {"pid": [int(key[0])],
                 "bits": [_build_bitset(vals, m).tobytes()],
                 "n": [len(vals)]})

        delta = keyed.groupBy("pid").applyInPandas(
            make, schema="pid int, bits binary, n long")
        cur = self._read() if merge else None
        src = delta if cur is None else delta.unionByName(
            cur.select("pid", "bits", "n"))

        def orfold(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            acc, n = None, 0
            for b, nn in zip(pdf["bits"], pdf["n"]):
                arr = np.frombuffer(bytes(b), dtype=np.uint8)
                acc = arr.copy() if acc is None else (acc | arr)
                n += int(nn)
            return pd.DataFrame(
                {"pid": [int(key[0])], "bits": [acc.tobytes()],
                 "n": [n],
                 "set_bits": [int(_POPCOUNT_LUT[acc].sum())],
                 "m": [m]})

        self._write(src.groupBy("pid").applyInPandas(
            orfold,
            schema="pid int, bits binary, n long, set_bits long,"
                   " m long"))

    def fill_fraction(self) -> float:
        cur = self._read()
        if cur is None:
            return 0.0
        row = cur.agg(F.max("set_bits").alias("mx")).collect()[0]
        return float(row["mx"] or 0) / self.m

    def needs_grow(self) -> bool:
        return self.fill_fraction() > self.target_fill

    def grow(self, all_keys: DataFrame) -> int:
        cur = self._read()
        total = 0
        if cur is not None:
            total = int(
                cur.agg(F.sum("n").alias("t")).collect()[0]["t"] or 0)
        per_part = max(1, total // self.n_partitions)
        want = per_part * BITS_PER_KEY
        new_m = self.m
        while new_m < want:
            new_m <<= 1
        new_m <<= 1
        self.m = new_m
        self.add_keys(all_keys, merge=False)  # fresh epoch at new m
        return new_m

    # -- probe (pid-cogrouped; no driver state) -----------------------

    def anti_join_new(
        self, candidates: DataFrame, seen: DataFrame
    ) -> DataFrame:
        """Exactly-new candidates, prefiltered by the TABLE bitsets:
        candidates cogroup with their pid's bitset row, definite-new
        rows get a NULL join key (skip the anti-join build side), then
        the same exact left_anti as the driver-transport path."""
        from pyspark.sql.types import LongType, StructField, StructType

        cur = self._read()
        seen_keys = seen.select(
            "seed_url", "url_hash").hint("shuffle_hash")
        if cur is None:
            return candidates.join(
                seen_keys, ["seed_url", "url_hash"], "left_anti")
        m = self.m
        cand = candidates.withColumn(
            "_pid",
            F.pmod(F.col("url_hash"), F.lit(self.n_partitions))
            .cast("int"))
        out_schema = StructType(
            [f for f in candidates.schema.fields]
            + [StructField("_jk", LongType())])

        def tag(cdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
            vals = cdf["url_hash"].to_numpy(dtype=np.int64)
            if len(bdf) == 0:
                maybe = np.zeros(len(cdf), dtype=bool)
            else:
                bits = np.frombuffer(
                    bytes(bdf["bits"].iloc[0]), dtype=np.uint8)
                maybe = _probe_bitset(vals, bits, m)
            out = cdf.drop(columns=["_pid"])
            out["_jk"] = pd.Series(vals, dtype="Int64").mask(~maybe)
            return out

        tagged = (
            cand.groupBy("_pid")
            .cogroup(cur.select("pid", "bits").groupBy("pid"))
            .applyInPandas(tag, schema=out_schema)
        )
        return (
            tagged.join(
                seen_keys.withColumnRenamed("url_hash", "_jk"),
                ["seed_url", "_jk"],
                "left_anti",
            )
            .drop("_jk")
        )


def anti_join_new(
    candidates: DataFrame,
    seen: DataFrame,
    blooms: dict[int, tuple[bytes, int]] | None = None,
    n_partitions: int = 32,
    probe=None,
) -> DataFrame:
    """Exactly-new candidates. With a prefilter, definite-new rows carry a
    NULL join key — a null key matches nothing, so one left_anti pass both
    bypasses the shuffle for definite-new rows (null keys don't need to
    reach the build side) and confirms possible-members exactly. Single
    pass: no branch/union, upstream lineage evaluated once.

    The stage-1 prefilter is either ``blooms`` (an IncrementalBloom
    snapshot, the default family) or ``probe`` (any vectorized
    url_hash->maybe-seen pandas UDF — e.g. cuckoo_maybe_seen_udf from
    operators/cuckoo.py, whose filter additionally supports deletion for
    re-crawl eviction). When both are given, ``probe`` is the one the
    plan uses (a caller that builds the probe owns its broadcast). Both
    may only false-POSITIVE, never false-negative, so the result is
    exact either way.

    The seen side is hinted shuffle_hash: the seen-set GROWS every wave,
    and letting Catalyst broadcast it would rebuild a driver-side hash
    table per wave (serial, and impossible at 10^10 rows anyway); the
    shuffled build is partition-parallel and is the at-scale plan."""
    seen_keys = seen.select("seed_url", "url_hash").hint("shuffle_hash")
    if blooms is None and probe is None:
        return candidates.join(seen_keys, ["seed_url", "url_hash"], "left_anti")
    if probe is None:
        spark = candidates.sparkSession
        probe = bloom_maybe_seen_udf(spark, blooms, n_partitions)
    tagged = candidates.withColumn(
        "_jk", F.when(probe(F.col("url_hash")), F.col("url_hash"))
    )
    return (
        tagged.join(
            seen_keys.withColumnRenamed("url_hash", "_jk"),
            ["seed_url", "_jk"],
            "left_anti",
        )
        .drop("_jk")
    )
