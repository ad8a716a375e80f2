"""The crawl wave loop — SURVEY.md section 3.2 (O5/O6/O13/O14/O16/O21/O22, D7/D8).

INGEST (once per run, default preparse=True — DESIGN.md
"Parse-on-ingest"): one parse pass over the corpus inside the scan
stage [O7/O8/O27] -> two cached narrow tables,
``ingest_pages(url, content_type, n_links, text_sha256, _txt_bad)``
and ``edges(src_url, pos, child_url, child_host)``. html never enters
the wave loop.

One wave = one DataFrame iteration over narrow rows only:

    due      = queue rows at the lowest incomplete depth          [O10]
    sched    = politeness top-B per host over due                 [O20, robots]
    parsed   = sched(+level ranks) JOIN ingest_pages              [O5/O13]
    links    = sched JOIN edges -> scope filter                   [O9, O11]
    fresh    = bloom prefilter -> anti-join seen -> first-wins     [O12, O19]
    typed    = fresh JOIN pages_ct -> doc | missing | queued | pruned [O15]
    queue'   = (queue - sched) UNION typed[queued]                [O21]
    archive += fetched UNION typed[terminal]                      [O22]
    docs    += typed[doc]                                         [O4]
    metrics += per-(wave, host) counters (one fused shuffle)      [O16, D7]
    checkpoint(queue', archive, docs, metrics, K+1)               [O6]

(preparse=False keeps the original per-wave shape: fetch join against
the raw corpus, then the parse UDF in the scan stage — for crawls that
touch a tiny fraction of the corpus.)

Scale notes (the 100TB design point, SURVEY.md section 4; full shuffle
inventory in DESIGN.md):
  * State is split into a small rewritten ``queue`` and an append-only
    ``archive`` so a wave never rewrites the 10^10-row frontier; the
    seen-set for the anti-join is the union of their narrow key projections
    (columnar scans prune to 2 columns).
  * The broadcast side of every wave join is the WAVE (politeness-bounded),
    never anything corpus-sized; big waves flip to shuffle-hash. The seen
    anti-join and typecheck are always shuffle-hash (growing/corpus-sized
    build sides must never be driver-broadcast per iteration).
  * The queue write repartitions by (host, salt) — pmod(url_hash, S) — to
    split hot hosts across executors (north_star skew rule).
  * spark.sql.shuffle.partitions is re-sized per wave with the explicit
    ceil(queue_rows / 4M) rule (north_rule) using the previous wave's
    counts; AQE coalesces the sandbox's tiny waves back down.
  * Level-synchronous scheduling (depth d only once d-1 is exhausted) keeps
    discovery_idx parent ranks stable under politeness deferral (O18/O20).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from barkingowl_spark.functions.canon import canonicalize, host_of
from barkingowl_spark.functions.extract import parse_pages_udf
from barkingowl_spark.operators.cuckoo import (
    IncrementalCuckoo,
    cuckoo_maybe_seen_udf,
)
from barkingowl_spark.operators.dedup import (
    IncrementalBloom,
    TableBloom,
    anti_join_new,
    bloom_maybe_seen_udf,
)
from barkingowl_spark.operators.match import matched_by_col, pages_content_type
from barkingowl_spark.operators.ordering import (
    child_discovery_idx,
    first_discovery_wins,
    level_ranks,
    with_crawl_order,
)
from barkingowl_spark.operators.politeness import robots_filter, schedule_budget
from barkingowl_spark.session import shuffle_partitions_for
from barkingowl_spark.sources.tableio import ParquetDirsIO

def salt_for(hot_rows: int, target_rows: int, cap: int) -> int:
    """Adaptive hot-host salt: one salt bucket per ~target_rows rows of
    the hottest host's queue, clamped to [1, cap]."""
    return max(1, min(cap, -(-hot_rows // target_rows)))


FRONTIER_COLS = [
    "seed_url", "url", "url_hash", "host", "depth", "discovery_idx",
    "parent_url", "status", "wave", "text_sha256", "matched_by", "doc_type",
]
_HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/]+)"

METRIC_COUNTERS = [
    "pages_fetched", "pages_missing", "links_extracted", "new_urls",
    "new_queued", "docs_found", "text_mismatch",
]


@dataclass
class CrawlConfig:
    checkpoint_dir: str
    host_budget: int | None = None          # O20; None = oracle-match mode
    use_bloom: bool = True                  # O12 stage-1 prefilter
    bloom_partitions: int = 32
    # O12 prefilter family (north_star: "partitioned Bloom/cuckoo
    # filters"). "bloom" = IncrementalBloom (grow-only); "cuckoo" =
    # IncrementalCuckoo (supports delete_keys for re-crawl eviction).
    # Either way the anti-join stays exact; use_bloom=False disables the
    # stage entirely.
    prefilter: str = "bloom"
    # O12 prefilter TRANSPORT (r4 verdict items 4; auto default r5).
    # "driver" = the keys collect to the driver as one Arrow column
    # (each wave's fresh url_hash values; the whole seen-set at
    # start/resume and on grow()), where numpy ORs them into per-pid
    # bitsets held in a driver dict and re-broadcast per wave. Under
    # "auto" these collects are bounded by the switchover: the driver
    # transport only runs while the seen-set is below
    # prefilter_table_threshold_keys (~40 MB of keys at the default),
    # and a resume past it starts on the table transport. An explicit
    # "driver" has no such bound — a resume or grow collects the whole
    # seen-set, and the dict reaches multi-GB at 10^10 keys.
    # "table" = TableBloom: bitsets live as a versioned (pid, bits)
    # parquet table under <checkpoint_dir>/bloom_state, OR-merged per
    # wave by a distributed job and probed by a pid-cogrouped
    # applyInPandas — the driver never holds a bitset or a key.
    # "auto" (DEFAULT since r5)
    # starts on the driver transport (cheaper per wave while the
    # seen-set is small) and switches to the table transport the
    # first time the cumulative key count crosses
    # prefilter_table_threshold_keys — so the 10^10 design point
    # never materializes driver bitsets without a config change.
    # Exactness is identical on every path (the anti-join confirms);
    # tests/test_table_bloom.py pins byte-identical crawl traces on
    # both sides of the switchover. Bloom family only (cuckoo keeps
    # the driver transport — its delete support has no table
    # transport yet).
    prefilter_transport: str = "auto"
    # "auto" switchover point. At BITS_PER_KEY (12) bits/key the
    # driver dict crosses ~100 MB around 5e7 keys — switch an order
    # of magnitude before that so the driver never carries bitsets
    # that would matter at 10^10 (where the table transport is the
    # only sane plan from wave 0; set prefilter_transport="table" to
    # skip the driver phase entirely).
    prefilter_table_threshold_keys: int = 5_000_000
    # waves smaller than this are broadcast into the pages/pages_ct joins
    # (corpus side never shuffles); bigger waves fall back to shuffle hash
    # join + AQE (the 10^10 path, where the wave itself is too big to ship)
    broadcast_wave_rows: int = 2_000_000
    # Parse-on-ingest (the Common-Crawl WAT pattern): the parse UDF's
    # output per url is wave-independent, so it runs ONCE over the whole
    # corpus up front and the wave loop joins a cached NARROW
    # (url, content_type, links, text_sha256) table — html bytes are read
    # exactly once per run and never enter the wave loop. This is also the
    # 10^10 design point: link extraction is a corpus-ingest job whose
    # output is a materialized Iceberg side table (CC publishes WAT link
    # files for exactly this reason); the frontier iteration is then pure
    # narrow-row dataflow. False = parse per wave after the fetch join
    # (only pages actually fetched are parsed — preferable when the crawl
    # touches a tiny fraction of the corpus).
    preparse: bool = True
    # (preparse=False only) cache the (url, html[, text]) fetch projection
    # instead of re-decoding parquet per wave. Memory-hungry: holds html.
    cache_corpus: bool = False
    # Hot-host salt for the frontier-queue write (north_star skew rule):
    # an int pins S; None (default) adapts S per wave from the hottest
    # host's queued-row count (SURVEY.md section 4.2 — "S chosen from
    # per-host counts of the previous wave"), fed by the same
    # per-(wave,host) metrics collect the scheduler already does:
    # S = ceil(hottest_host_rows / salt_target_rows), clamped to
    # [1, salt_max].
    salt_partitions: int | None = None
    salt_target_rows: int = 1_000_000
    salt_max: int = 256
    max_waves: int = 100_000
    robots: DataFrame | None = None         # F3 dim table; None = off
    # Build the robots dim table FROM THE CORPUS (north_star: "robots.txt
    # caching"): parse http(s)://<host>/robots.txt rows into
    # (host, disallow_prefixes, crawl_delay) once per run
    # (operators/robots.py), cache it, and apply it as the politeness
    # link filter. Ignored when ``robots`` is supplied explicitly.
    robots_from_corpus: bool = False
    # Crawl-delay semantics (batch wave model): one wave stands for a
    # politeness window of this many seconds, so a host with
    # Crawl-delay d gets floor(seconds / d) fetch slots per wave
    # (min 1 — every host progresses). None = ignore Crawl-delay.
    # Deferral preserves discovery keys, so the trace order is invariant
    # (same guarantee as host_budget).
    politeness_wave_seconds: int | None = None
    # checkpoint backend: None -> ParquetDirsIO(checkpoint_dir) (sandbox);
    # a "catalog.ns.run" prefix -> IcebergIO (needs an Iceberg catalog in
    # the session; see sources/tableio.py::IcebergIO)
    iceberg_table_prefix: str | None = None
    # fold archive deltas older than the resume window into one compact
    # dir once more than this many accumulate (ParquetDirsIO; the Iceberg
    # backend gets the same via rewrite_data_files). None = never.
    archive_compact_every: int | None = 16
    # Opt-in URL-level frontier gate applied to candidate links right
    # after the robots filter, BEFORE hashing/dedup/enqueue — the hook
    # for operators/traps.py::trap_filter or a
    # functions/urlfilter.py::url_filter keep-projection. Receives the
    # links frame (has 'url', 'host', 'seed_url', ...) and must return
    # it filtered with columns intact. None = oracle-match mode (the
    # default plan is byte-identical).
    link_filter: object | None = None
    verify_text: bool = True                # input_hint byte-identity counter
    # Arrow batch rows for the parse UDF: real pages are tens of KB, so the
    # session-wide 10k-row default would mean ~0.5GB batches per worker
    arrow_batch_rows: int = 2048

    def __post_init__(self) -> None:
        if self.salt_partitions is not None and self.salt_partitions < 1:
            raise ValueError(
                "salt_partitions must be >= 1 (or None for adaptive)"
            )


@dataclass
class CrawlState:
    queue: DataFrame
    archive: DataFrame
    metrics: DataFrame
    wave: int
    totals: dict = field(default_factory=dict)

    @property
    def documents(self) -> DataFrame:
        """Found-document records (O4) — a VIEW of the archive (doc rows
        carry matched_by/doc_type), so no separate sink write per wave."""
        return self.archive.filter(F.col("status") == "doc").select(
            F.col("url").alias("doc_url"), "doc_type", "matched_by",
            "seed_url", "depth", "wave", "parent_url",
        )

    def frontier(self) -> DataFrame:
        return self.queue.unionByName(self.archive)

    def trace(self) -> DataFrame:
        """Golden-trace view: per-seed crawl_order by (depth, discovery_idx)."""
        return with_crawl_order(self.frontier()).select(
            "seed_url", "crawl_order", "url", "depth", "discovery_idx",
            "status", "text_sha256",
        )


def _seeds_cfg(spark: SparkSession, seeds: DataFrame) -> DataFrame:
    """Canonicalized seed config for the broadcast config join (O14).

    Seeds are tiny (driver-side canonicalization mirrors the oracle's)."""
    rows = seeds.collect()
    out = []
    seen: set[str] = set()
    # insertion-order dedup on the CANONICAL url: two seed rows that
    # canonicalize identically (dup entry, case variant, default port)
    # would otherwise build two identical frontier trees under one
    # seed_url key; first row wins (lowest seed_idx = dispatch order)
    for r in sorted(rows, key=lambda r: int(r["seed_idx"])):
        canon = canonicalize(r["url"], r["url"])
        if canon is None or canon in seen:
            continue
        seen.add(canon)
        out.append(
            (canon, host_of(canon), int(r["max_link_level"]), r["doc_type"],
             int(r["seed_idx"]))
        )
    return spark.createDataFrame(
        out, "seed_url string, seed_host string, max_link_level int, "
             "doc_type string, seed_idx int",
    )


def _typecheck(candidates: DataFrame, pages_ct: DataFrame,
               seeds_cfg: DataFrame, broadcast_candidates: bool = True) -> DataFrame:
    """Discovery-time typecheck (O15 + O10 boundary): assign status and
    matched_by to candidate rows carrying (seed_url, url, depth, ...).

    Each frontier URL passes through here exactly once (candidates are the
    post-dedup FRESH rows), so the total join volume over a run is the
    frontier size — that is why child content-type is resolved here and
    not precomputed for every edge at ingest. The caller picks the
    pages_ct plan: preparse hints shuffle_hash (partition-parallel build,
    no per-wave driver hash build, the only viable shape at 10^10);
    un-hinted, Catalyst broadcasts while it fits and falls back to SHJ
    (preferSortMergeJoin=false session-wide). Spark cannot broadcast the
    preserved side of an outer join, so the candidate side cannot ship to
    the corpus scan here; broadcast_candidates is kept for an Iceberg
    storage-partitioned-join variant."""
    with_cfg = candidates.join(F.broadcast(seeds_cfg), "seed_url")
    c = with_cfg.join(pages_ct, "url", "left")
    mb = matched_by_col(F.col("content_type"), F.col("url"), F.col("doc_type"))
    return (
        c.withColumn("matched_by", mb)
        .withColumn(
            "status",
            F.when(F.col("content_type").isNull(), "missing")
            .when(F.col("matched_by").isNotNull(), "doc")
            .when(F.col("depth") > F.col("max_link_level"), "pruned")
            .otherwise("queued"),
        )
        .withColumn("text_sha256", F.lit(None).cast("string"))
    )


def _seed_frontier_rows(pages_ct: DataFrame, seeds_cfg: DataFrame) -> DataFrame:
    seed_rows = seeds_cfg.select(
        F.col("seed_url"),
        F.col("seed_url").alias("url"),
        F.xxhash64("seed_url").alias("url_hash"),
        F.col("seed_host").alias("host"),
        F.lit(0).alias("depth"),
        F.lit(0).cast("long").alias("discovery_idx"),
        F.lit(None).cast("string").alias("parent_url"),
        F.lit(0).alias("wave"),
    )
    # The seed set is tiny but pages_ct is corpus-sized: restrict it to the
    # seed URLs with a broadcast LEFT SEMI first (a scan-side filter — no
    # corpus shuffle), so the wave-0 typecheck join is tiny-vs-tiny. Without
    # this, the left join below shuffles the whole (url, content_type)
    # projection to look up a handful of seeds.
    seed_ct = pages_ct.join(
        F.broadcast(seeds_cfg.select(F.col("seed_url").alias("url"))),
        "url", "left_semi",
    )
    return _typecheck(seed_rows, seed_ct, seeds_cfg)




def run_crawl(
    spark: SparkSession,
    seeds: DataFrame,
    pages: DataFrame,
    config: CrawlConfig,
    resume: bool = False,
) -> CrawlState:
    if config.iceberg_table_prefix:
        from barkingowl_spark.sources.tableio import IcebergIO

        io = IcebergIO(config.iceberg_table_prefix)
    else:
        io = ParquetDirsIO(
            config.checkpoint_dir,
            compact_every=config.archive_compact_every,
        )
    from pyspark import StorageLevel

    # cached once per run: every wave broadcasts this config twice (the
    # O9 scope join and _typecheck), and an uncached local relation
    # would re-run its Python parallelize job for each of them
    seeds_cfg = _seeds_cfg(spark, seeds).persist(StorageLevel.MEMORY_AND_DISK)
    seeds_cfg.count()

    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        str(config.arrow_batch_rows),
    )
    fetch_cols = ["url", "html"] + (["text"] if config.verify_text else [])
    corpus = pages.select(*fetch_cols)
    robots = config.robots
    if robots is None and config.robots_from_corpus:
        # One narrow corpus scan (url filter pushed to parquet; html read
        # only for the ~one-row-per-host robots subset), parsed with pure
        # relational dataflow and CACHED for the run — the wave loop
        # broadcasts the cached dim, never re-scans the corpus.
        from barkingowl_spark.operators.robots import robots_rules

        robots = robots_rules(pages.select("url", "html")).persist(
            StorageLevel.MEMORY_AND_DISK)
        robots.count()
    host_budgets = None
    if (
        config.politeness_wave_seconds is not None
        and robots is not None
        and "crawl_delay" in robots.columns
    ):
        host_budgets = robots.filter(F.col("crawl_delay") > 0).select(
            "host",
            F.greatest(
                F.lit(1),
                (F.lit(config.politeness_wave_seconds)
                 / F.col("crawl_delay")).cast("int"),
            ).alias("host_budget"),
        )
    ingest_pages = edges = None
    if config.preparse:
        # One corpus scan + one parse pass per run (see CrawlConfig.preparse):
        # the UDF runs inside the parquet-scan stage, html never leaves it.
        # Output is TWO narrow cached tables — the wave loop never touches
        # html, never re-broadcasts a corpus-sized side, and never runs a
        # UDF again:
        #   ingest_pages(url, content_type, n_links, text_sha256, _txt_bad)
        #   edges(src_url, pos, child_url, child_host)
        # Child content-type is NOT resolved here: joining all ~L*N edges
        # against pages_ct up front costs an L*N-row shuffle, while the
        # per-wave typecheck only ever joins each *fresh* URL once
        # (sum over waves = frontier size << edge count) — see _typecheck.
        from barkingowl_spark.plans.ingest import (
            edges_of,
            ingest_pages_of,
            parsed_corpus,
        )

        # parsedc is cached only while the two derived tables materialize —
        # otherwise the parse pass would run once per derived table
        parsedc = parsed_corpus(corpus, config.verify_text).persist(
            StorageLevel.MEMORY_AND_DISK)
        ingest_pages = ingest_pages_of(parsedc).persist(
            StorageLevel.MEMORY_AND_DISK)
        pages_ct = ingest_pages.select("url", "content_type")
        edges = edges_of(parsedc).persist(StorageLevel.MEMORY_AND_DISK)
        _t_ing = time.monotonic()
        ingest_pages.count()   # parse runs exactly once, here
        edges.count()          # from cached parsedc
        parsedc.unpersist()
        if os.environ.get("BOW_TIMING") == "1":
            print(f"BOW_TIMING ingest={time.monotonic() - _t_ing:.2f}",
                  flush=True)
    else:
        if config.cache_corpus:
            corpus = corpus.persist(StorageLevel.MEMORY_AND_DISK)
        # Narrow (url, content_type) meta table, computed ONCE per run and
        # cached: the per-wave typecheck join must not re-read the corpus
        # html column every wave (at the 10^10 design point this is a
        # materialized Iceberg side table refreshed with corpus ingests —
        # DESIGN.md).
        pages_ct = pages_content_type(corpus).persist()

    def _load(wave: int) -> CrawlState:
        return CrawlState(
            queue=io.read_queue(spark, wave),
            archive=io.read_archive(spark, wave),
            metrics=io.read_metrics(spark, wave),
            wave=wave,
        )

    # driver-side level-sync scheduler state (SURVEY.md O18/O20): depth d is
    # fetched until exhausted, children accumulate at d+1. Maintained from
    # the per-wave metrics collect — no extra min/count jobs per wave.
    start_wave = io.latest_wave() if resume else None
    if resume and start_wave is not None:
        state = _load(start_wave)
        sched_meta = io.read_meta(start_wave).get("sched")
        if sched_meta is None:  # resumed at wave 0 (only seeds committed)
            d, due_remaining, children = 0, state.queue.count(), 0
        else:
            d, due_remaining, children = (
                sched_meta["d"], sched_meta["due"], sched_meta["children"],
            )
    else:
        _t_seed = time.monotonic()
        typed0 = _seed_frontier_rows(pages_ct, seeds_cfg)
        queue0 = typed0.filter(F.col("status") == "queued").select(
            *FRONTIER_COLS)
        io.write_wave(
            0,
            # repartition(1), NOT coalesce(1): coalesce would collapse the
            # (narrow) broadcast-semi typecheck into one task that scans
            # the corpus-sized pages_ct cache serially — the shuffle
            # boundary keeps the scan parallel and ships only seed rows
            queue0.repartition(1),
            typed0.filter(F.col("status") != "queued")
            .select(*FRONTIER_COLS).repartition(1),
            {"totals": {}, "sched": None},
        )
        io.write_metrics_rows(0, [])
        state = _load(0)
        d, due_remaining, children = 0, state.queue.count(), 0
        if os.environ.get("BOW_TIMING") == "1":
            print(f"BOW_TIMING seed_wave={time.monotonic() - _t_seed:.2f}",
                  flush=True)

    def _table_bloom(**kw) -> TableBloom:
        return TableBloom(
            spark,
            os.path.join(config.checkpoint_dir, "bloom_state"),
            config.bloom_partitions,
            **kw,
        )

    _t_pre = time.monotonic()
    bloom = None
    if config.use_bloom:
        # one full build at start (or resume); waves then add fresh keys
        # incrementally. Both families share the add/grow/snapshot API;
        # only the probe constructor differs (see _prefilter_probe).
        if config.prefilter_transport not in ("driver", "table", "auto"):
            raise ValueError(
                f"unknown prefilter_transport "
                f"{config.prefilter_transport!r}")
        if config.prefilter_transport == "table":
            if config.prefilter == "cuckoo":
                raise ValueError(
                    "table transport implemented for the bloom family"
                    " only (cuckoo keeps the driver transport)")
            bloom = _table_bloom()
        else:
            # "auto" starts on the driver transport and may switch to
            # TableBloom mid-run (see _maybe_switch_transport); cuckoo
            # always keeps the driver transport.
            bloom = (
                IncrementalCuckoo(config.bloom_partitions)
                if config.prefilter == "cuckoo"
                else IncrementalBloom(config.bloom_partitions)
            )
            if (start_wave is not None
                    and config.prefilter_transport == "auto"
                    and isinstance(bloom, IncrementalBloom)
                    and state.frontier().count()
                    >= config.prefilter_table_threshold_keys):
                # a resumed seen-set already past the switchover starts
                # on the table transport: the driver build would
                # collect every one of its keys
                bloom = _table_bloom()
        seen_key_total = (
            bloom.add_keys(state.frontier().select("url_hash")) or 0)
        if bloom.needs_grow():  # resumed seen-set outgrew the default size
            bloom.grow(state.frontier().select("url_hash"))
    else:
        seen_key_total = 0

    def _maybe_switch_transport(bloom, state):
        """auto transport (r4 verdict item 4 -> r5 default): once the
        cumulative key count crosses the documented threshold, rebuild
        the prefilter as a TableBloom from the authoritative seen-set
        and drop the driver bitsets — one distributed job, after which
        the driver never holds filter state again this run. The
        prefilter is conservative-only (the exact anti-join confirms),
        so the trace is byte-identical on both sides of the switch
        (pinned by tests/test_table_bloom.py)."""
        if (config.prefilter_transport != "auto"
                or not isinstance(bloom, IncrementalBloom)
                or seen_key_total < config.prefilter_table_threshold_keys):
            return bloom
        tb = _table_bloom(m_bits=bloom.m)
        tb.add_keys(state.frontier().select("url_hash"))
        if os.environ.get("BOW_TIMING") == "1":
            print(
                f"BOW_TIMING bloom_transport=table keys={seen_key_total}",
                flush=True)
        return tb

    bloom = _maybe_switch_transport(bloom, state)
    if os.environ.get("BOW_TIMING") == "1":
        print(f"BOW_TIMING bloom_init={time.monotonic() - _t_pre:.2f}",
              flush=True)

    # Adaptive-salt ledger (SURVEY.md section 4.2): per-host queued-row
    # counts maintained driver-side from the SAME per-(wave,host) metrics
    # collect the scheduler already does — no extra jobs per wave. Entries
    # below salt_target_rows/8 are pruned so the ledger stays O(hot hosts)
    # at the 10^10 design point (at most frontier_rows/threshold entries
    # can exceed the threshold); a pruned host re-earns its entry with its
    # next big wave — the write-layout heuristic needs the hot tail, not
    # exactness.
    host_led: dict[str, int] = {}
    salt_prune = max(1, config.salt_target_rows // 8)
    if config.salt_partitions is None:
        # threshold applied IN the plan: only the hot tail (at most
        # queue_rows/salt_prune hosts) ever reaches the driver
        host_led = {
            r["host"]: r["n"]
            for r in state.queue.groupBy("host")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= F.lit(salt_prune))
            .collect()
        }
        cur_salt = salt_for(
            max(host_led.values(), default=0),
            config.salt_target_rows, config.salt_max,
        )
    else:
        cur_salt = config.salt_partitions
    if os.environ.get("BOW_TIMING") == "1":
        print(f"BOW_TIMING preloop_total={time.monotonic() - _t_pre:.2f}",
              flush=True)

    default_par = spark.sparkContext.defaultParallelism
    while state.wave < config.max_waves:
        t0 = time.monotonic()
        if due_remaining <= 0:
            d, due_remaining, children = d + 1, children, 0
        if due_remaining <= 0:
            break
        queue_rows = due_remaining + children
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions_for(queue_rows, default_par)),
        )
        wave = state.wave + 1

        due = state.queue.filter(F.col("depth") == d)
        sched = schedule_budget(due, config.host_budget, host_budgets)

        # full level membership (queued + already fetched) -> stable ranks
        ranks = level_ranks(state.frontier(), d)

        small_wave = queue_rows <= config.broadcast_wave_rows
        # only the columns the parse pass carries through — keeps the
        # broadcast (or shuffle) of the wave side narrow
        sched_j = sched.select(
            "seed_url", "url", "url_hash", "host", "depth", "discovery_idx",
            "parent_url", "wave",
        )
        if config.preparse:
            # the wave probes the two cached NARROW ingest tables — no
            # html, no UDF, and no corpus-sized broadcast build in the
            # loop (the broadcast side is always the wave itself)
            sched_r = sched_j.join(ranks, ["seed_url", "url_hash"])
            if small_wave:
                parsed = ingest_pages.join(
                    F.broadcast(sched_r), "url", "inner"
                ).persist()
            else:
                parsed = sched_r.join(
                    ingest_pages.hint("shuffle_hash"), "url", "inner"
                ).persist()
            wave_parents = parsed.select(
                F.col("url").alias("src_url"), "seed_url", "parent_rank"
            )
            if small_wave:
                raw_links = edges.join(
                    F.broadcast(wave_parents), "src_url", "inner"
                )
            else:
                raw_links = wave_parents.join(
                    edges.hint("shuffle_hash"), "src_url", "inner"
                )
            links = (
                raw_links.select(
                    "seed_url",
                    F.col("src_url").alias("parent_url"),
                    "parent_rank", "pos",
                    F.col("child_url").alias("url"),
                    F.col("child_host").alias("host"),
                )
                .join(
                    F.broadcast(seeds_cfg.select("seed_url", "seed_host")),
                    "seed_url",
                )
                .filter(F.col("host") == F.col("seed_host"))  # O9
                .drop("seed_host")
            )
        else:
            if small_wave:
                # ship the wave to the corpus scan; pages never shuffles
                fetched = corpus.join(F.broadcast(sched_j), "url", "inner")
            else:
                fetched = sched_j.join(
                    corpus.hint("shuffle_hash"), "url", "inner"
                )
            # The parse UDF runs IN the corpus-scan stage: html bytes never
            # shuffle (at 10^10 scale shuffling page bodies would dwarf
            # every other cost). Parse is per-row pure, and scan partitions
            # are uniform in BYTES regardless of host, so host skew cannot
            # unbalance this stage — the north_star's salted host-hash
            # repartition is applied to the narrow frontier rows instead
            # (queue write below + the dedup/window shuffles). Parse
            # parallelism therefore equals scan parallelism: size
            # spark.sql.files.maxPartitionBytes so the pages scan yields
            # several partitions per core (bench sets 16MB for the sandbox
            # corpus; an Iceberg deployment gets it from bucket(N, url)).
            parsed = fetched.withColumn(
                "p", parse_pages_udf(F.col("url"), F.col("html"))
            ).select(
                "seed_url", "url", "url_hash", "host", "depth",
                "discovery_idx", "parent_url", "wave",
                F.col("p.links").alias("links"),
                F.sha2(F.col("p.text").cast("binary"), 256).alias(
                    "text_sha256"),
                *(
                    [(F.col("p.text") != F.col("text")).cast("long")
                     .alias("_txt_bad")]
                    if config.verify_text
                    else [F.lit(0).cast("long").alias("_txt_bad")]
                ),
            ).join(ranks, ["seed_url", "url_hash"]).persist()

            links = (
                parsed.select(
                    "seed_url",
                    F.col("url").alias("parent_url"),
                    "parent_rank",
                    F.posexplode("links").alias("pos", "url"),
                )
                .filter(F.col("url").isNotNull())  # O11 junk null-kept for pos
                .withColumn("host", F.regexp_extract("url", _HOST_RE, 1))
                .join(F.broadcast(seeds_cfg.select("seed_url", "seed_host")),
                      "seed_url")
                .filter(F.col("host") == F.col("seed_host"))  # O9
                .drop("seed_host")
            )
        links = robots_filter(links, robots)
        if config.link_filter is not None:
            links = config.link_filter(links)
        links = links.select(
            "seed_url", "url",
            F.xxhash64("url").alias("url_hash"),
            "host",
            F.lit(d + 1).alias("depth"),
            child_discovery_idx(F.col("parent_rank"), F.col("pos"))
            .alias("discovery_idx"),
            "parent_url",
            F.lit(wave).alias("wave"),
        )

        deduped = first_discovery_wins(links)
        seen_keys = state.frontier().select("seed_url", "url_hash")
        probe = None
        if isinstance(bloom, TableBloom):
            # executor-side transport: the prefilter tag happens in a
            # pid-cogrouped applyInPandas against the bitset TABLE —
            # no driver dict, no broadcast (r4 verdict item 4)
            fresh = bloom.anti_join_new(deduped, seen_keys)
        elif isinstance(bloom, IncrementalCuckoo):
            probe = cuckoo_maybe_seen_udf(
                spark, bloom.snapshot(), config.bloom_partitions)
            fresh = anti_join_new(deduped, seen_keys, probe=probe)
        else:
            # the probe is built here so its broadcast can be released
            # once the wave commits; the snapshot still goes in
            # positionally for wrappers that count prefilter hits
            # (perfbench/tracing.py)
            snap = bloom.snapshot() if bloom is not None else None
            if snap is not None:
                probe = bloom_maybe_seen_udf(
                    spark, snap, config.bloom_partitions)
            fresh = anti_join_new(
                deduped, seen_keys, snap, config.bloom_partitions,
                probe=probe,
            )
        typed = _typecheck(
            # preparse: pages_ct is a cached corpus-sized projection that
            # grows no hash-build on the driver — shuffle-hash keeps the
            # per-wave build partition-parallel (same rationale as the
            # seen anti-join; it is also the only viable plan at 10^10)
            fresh,
            pages_ct.hint("shuffle_hash") if config.preparse else pages_ct,
            seeds_cfg,
            broadcast_candidates=small_wave
        ).persist()
        if bloom is not None:
            seen_key_total += (
                bloom.add_keys(typed.select("url_hash")) or 0)
        t_bloom = time.monotonic()

        fetched_rows = parsed.select(
            "seed_url", "url", "url_hash", "host", "depth", "discovery_idx",
            "parent_url", F.lit("fetched").alias("status"),
            F.lit(wave).alias("wave"), "text_sha256",
            F.lit(None).cast("string").alias("matched_by"),
            F.lit(None).cast("string").alias("doc_type"),
        )

        new_queue_rows = typed.filter(F.col("status") == "queued").select(
            *FRONTIER_COLS
        )
        new_terminal = typed.filter(F.col("status") != "queued").select(
            *FRONTIER_COLS
        )
        if config.host_budget is None and host_budgets is None:
            # no budget of any kind -> sched == due == every depth-d row,
            # so "queue minus scheduled" is a pure depth filter (no
            # anti-join shuffle of the queue per wave)
            queue_rest = state.queue.filter(F.col("depth") != d)
        else:
            sched_keys = sched.select("seed_url", "url_hash")
            queue_rest = state.queue.join(
                sched_keys, ["seed_url", "url_hash"], "left_anti"
            )
        queue2 = queue_rest.unionByName(new_queue_rows)
        archive_delta = fetched_rows.unionByName(new_terminal)

        # D7 metrics: parent-host + child-host counters, merged; collected
        # to the driver (they double as the scheduler's bookkeeping) and
        # persisted driver-side — no distributed metrics write
        # one shuffle, not three: parent- and child-side counters union
        # into a single groupBy(host) (each side zero-fills the other's
        # counters) instead of two groupBys + a full_outer join
        _z = F.lit(0).cast("long")
        m_parent = parsed.select(
            "host",
            F.lit(1).cast("long").alias("pages_fetched"),
            (F.col("n_links") if config.preparse else F.size("links"))
            .cast("long").alias("links_extracted"),
            F.col("_txt_bad").cast("long").alias("text_mismatch"),
            _z.alias("pages_missing"), _z.alias("new_urls"),
            _z.alias("new_queued"), _z.alias("docs_found"),
        )
        m_child = typed.select(
            "host",
            _z.alias("pages_fetched"), _z.alias("links_extracted"),
            _z.alias("text_mismatch"),
            (F.col("status") == "missing").cast("long").alias(
                "pages_missing"),
            F.lit(1).cast("long").alias("new_urls"),
            (F.col("status") == "queued").cast("long").alias("new_queued"),
            (F.col("status") == "doc").cast("long").alias("docs_found"),
        )
        m_df = (
            m_parent.unionByName(m_child)
            .groupBy("host")
            .agg(*[F.sum(c).alias(c) for c in METRIC_COUNTERS])
            .select(F.lit(wave).alias("wave"), "host", *METRIC_COUNTERS)
        )
        # Full metrics rows are written DISTRIBUTED (never collected — at
        # 10^10 hosts the per-wave host list must not ship to the driver).
        # Everything the driver needs from this wave rides the SAME write
        # job via Observation: the scheduler's two scalar totals, plus the
        # adaptive-salt hot tail as a collect_list over only the rows that
        # can touch the ledger (wave delta >= salt_prune, or host already
        # ledgered) — O(hot hosts), bounded by frontier/salt_prune. One
        # job per wave for all metrics work, zero persists.
        from pyspark.sql import Observation

        obs_aggs = [
            F.sum("pages_fetched").alias("fetched"),
            F.sum("new_queued").alias("queued"),
        ]
        if config.salt_partitions is None:
            is_tail = (
                F.col("new_queued") - F.col("pages_fetched")
                >= F.lit(salt_prune)
            )
            if host_led:
                is_tail = is_tail | F.col("host").isin(list(host_led))
            obs_aggs.append(
                F.collect_list(  # nulls (non-tail rows) are skipped
                    F.when(is_tail, F.struct(
                        "host", "new_queued", "pages_fetched"))
                ).alias("hot_tail")
            )
        obs = Observation()
        # metrics rows are ~bytes/host: coalesce the write to the same
        # row-scaled file count as the queue (1 in the sandbox; grows with
        # the wave at 10^10 hosts) so the commit isn't 32 empty tasks
        n_met = max(1, min(default_par, queue_rows // 250_000 + 1))
        io.write_metrics_df(
            wave, m_df.observe(obs, *obs_aggs).coalesce(n_met)
        )
        totals = obs.get
        t_compute = time.monotonic()
        sched_total = int(totals["fetched"] or 0)
        new_queued_total = int(totals["queued"] or 0)
        due_remaining -= sched_total
        children += new_queued_total
        if config.salt_partitions is None:
            for r in totals.get("hot_tail") or []:
                c = (host_led.get(r["host"], 0)
                     + r["new_queued"] - r["pages_fetched"])
                if c >= salt_prune:
                    host_led[r["host"]] = c
                else:
                    host_led.pop(r["host"], None)
            cur_salt = salt_for(
                max(host_led.values(), default=0),
                config.salt_target_rows, config.salt_max,
            )

        n_out = max(1, min(default_par, queue_rows // 250_000 + 1))
        # frontier rows repartition by (host, salted hash) — north_star's
        # skew rule, applied to the narrow queue (hot hosts split over
        # salt_partitions buckets; the politeness window reads this back
        # host-clustered next wave)
        io.write_wave(
            wave,
            queue2.repartition(
                n_out, F.col("host"),
                F.pmod(F.col("url_hash"), F.lit(cur_salt)),
            ),
            archive_delta.repartition(n_out),
            {"totals": {"last_queue_rows": queue_rows,
                        "wall_s": time.monotonic() - t0},
             "sched": {"d": d, "due": due_remaining, "children": children}},
        )
        t_write = time.monotonic()
        parsed.unpersist()
        typed.unpersist()
        if probe is not None:
            # the wave is committed and the next state reads it back
            # from the checkpoint: nothing probes this snapshot again
            probe.broadcast.unpersist()
        state = _load(wave)
        # switch first, so a driver-transport grow() never collects a
        # seen-set past the switchover
        bloom = _maybe_switch_transport(bloom, state)
        if bloom is not None and bloom.needs_grow():
            # prefilter saturating (fill > target => FP ~ fill^k): re-target
            # m from the observed key count and rebuild from the
            # authoritative seen-set — doubling schedule, so O(log n)
            # rebuilds over a run
            new_m = bloom.grow(state.frontier().select("url_hash"))
            if os.environ.get("BOW_TIMING") == "1":
                print(f"BOW_TIMING bloom_grow wave={wave} m={new_m}",
                      flush=True)
        if os.environ.get("BOW_TIMING") == "1":
            print(
                f"BOW_TIMING wave={wave} d={d} sched={sched_total} "
                f"new_q={new_queued_total} "
                f"compute={t_bloom - t0:.2f} metrics={t_compute - t_bloom:.2f} "
                f"write={t_write - t_compute:.2f} "
                f"load={time.monotonic() - t_write:.2f}",
                flush=True,
            )
    if config.preparse:
        ingest_pages.unpersist()
        edges.unpersist()
    else:
        pages_ct.unpersist()
        if config.cache_corpus:
            corpus.unpersist()
    if robots is not None and config.robots is None:
        robots.unpersist()  # the corpus-built cache, not a caller's dim
    seeds_cfg.unpersist()
    return state
