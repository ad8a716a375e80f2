"""Span tracing for one crawl, recorded from the benchmark's side.

``Tracer.patched()`` wraps each layer's public function as the wave loop
sees it (names in ``barkingowl_spark.plans.crawl``, the ingest and robots
modules that ``run_crawl`` imports at call time, and methods of
``IncrementalBloom`` and ``ParquetDirsIO``). A wrapper opens a span
(name, start, end, parent span, run id) and tags the Spark jobs it
submits with ``setJobDescription(span_id)`` so that the event log can
charge task time, GC, shuffle and spill to it.

Spark is lazy, so a wrapper around a function that returns a DataFrame
first materialises (persists and counts) every DataFrame argument that is
not cached yet, in a span of the calling ``crawl`` layer, then persists and
counts the result inside its own span: the span's time is the layer's
self time and its row count is the result's size. Counts that only the
benchmark needs (bloom probe hits, statuses, text mismatches) run in
``trace.*`` spans, which are tracing overhead and belong to no layer.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = ("ingest", "crawl", "politeness", "ordering", "dedup", "match",
          "tableio")


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.bitset_mb = 0.0
        self._wave_cache: list = []   # released after each wave commit
        self._run_cache: list = []    # released after the crawl
        self._files: dict[str, int] = {}

    # -- spans --------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": f"{self.run_id}/{len(self.spans)}",
            "name": name,
            "layer": name.split(".", 1)[0],
            "parent": self.stack[-1]["id"] if self.stack else None,
            "run_id": self.run_id,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self.stack.append(rec)
        self.sc.setJobDescription(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self.stack.pop()
            self.sc.setJobDescription(
                self.stack[-1]["id"] if self.stack else None)

    def _persist_count(self, df, keep: bool) -> int:
        from pyspark import StorageLevel

        df.persist(StorageLevel.MEMORY_AND_DISK)
        (self._run_cache if keep else self._wave_cache).append(df)
        return df.count()

    def _materialize_inputs(self, callee: str, args) -> list[int | None]:
        """Row counts of the DataFrame arguments (None for other args);
        the work of computing them is charged to the calling crawl layer."""
        from pyspark.sql import DataFrame

        rows = []
        for a in args:
            if not isinstance(a, DataFrame):
                rows.append(None)
                continue
            # persisting a cached frame is a no-op and its count is cheap
            name = ("crawl.fetch_join" if callee == "robots_filter"
                    else "crawl.materialize")
            with self.span(name):
                rows.append(self._persist_count(a, keep=False))
        return rows

    def count(self, key: str, df) -> int:
        """A count only the trace needs (overhead, in a trace.* span)."""
        with self.span("trace.count"):
            n = df.count()
        self.counts[key] += n
        return n

    # -- wrappers -----------------------------------------------------------

    def wrap_df(self, name: str, fn, after=None, keep: bool = False):
        """Wrap a DataFrame-returning layer function (see module doc)."""
        def wrapper(*args, **kwargs):
            in_rows = self._materialize_inputs(fn.__name__, args)
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                rec["rows"] = self._persist_count(out, keep)
            if after is not None:
                after(args, in_rows, out, rec["rows"])
            return out
        wrapper.__wrapped__ = fn
        return wrapper

    def wrap_call(self, name: str, fn, after=None):
        """Wrap a function that returns no DataFrame: the span covers the
        whole call, including any lazy input it evaluates."""
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
            if after is not None:
                after(args, out, rec)
            return out
        wrapper.__wrapped__ = fn
        return wrapper

    # -- per-layer counters (called after a wrapper's span closes) ---------

    def _ingest_pages(self, args, in_rows, out, n):
        from pyspark.sql import functions as F

        with self.span("trace.count"):
            bad = out.agg(F.sum("_txt_bad")).collect()[0][0]
        self.counts["ingest.text_mismatch"] += int(bad or 0)

    def _schedule(self, args, in_rows, out, n):
        self.counts["politeness.due_rows"] += in_rows[0]
        self.counts["politeness.scheduled_rows"] += n

    def _robots_filter(self, args, in_rows, out, n):
        self.counts["robots.links_disallowed"] += in_rows[0] - n

    def _first_wins(self, args, in_rows, out, n):
        self.counts["ordering.candidates_in"] += in_rows[0]
        self.counts["ordering.candidates_out"] += n

    def _anti_join(self, args, in_rows, out, n):
        from pyspark.sql import functions as F

        from barkingowl_spark.operators.dedup import bloom_maybe_seen_udf

        self.counts["dedup.candidates"] += in_rows[0]
        self.counts["dedup.fresh"] += n
        blooms = args[2] if len(args) > 2 else None
        if blooms:
            n_part = args[3] if len(args) > 3 else 32
            probe = bloom_maybe_seen_udf(self.spark, blooms, n_part)
            self.count("dedup.prefilter_maybe",
                       args[0].filter(probe(F.col("url_hash"))))
            self.count("dedup.prefilter_maybe_fresh",
                       out.filter(probe(F.col("url_hash"))))

    def _typecheck(self, args, in_rows, out, n):
        self.counts["match.typed_rows"] += n
        with self.span("trace.count"):
            for r in out.groupBy("status").count().collect():
                self.counts[f"match.{r['status']}"] += r["count"]

    def _bloom_add(self, args, out, rec):
        self.counts["dedup.add_keys_calls"] += 1
        self._bitsets(args[0])

    def _bloom_grow(self, args, out, rec):
        self.counts["dedup.grow_count"] += 1
        self._bitsets(args[0])

    def _bitsets(self, bloom):
        mb = sum(b.nbytes for b in bloom.bits.values()) / 1e6
        self.bitset_mb = max(self.bitset_mb, mb)

    def _written(self, args, out, rec):
        io = args[0]
        new_files = new_bytes = 0
        for d, _, files in os.walk(io.root):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(d, f)
                if p not in self._files:
                    self._files[p] = os.path.getsize(p)
                    new_files += 1
                    new_bytes += self._files[p]
        self.counts["tableio.files_written"] += new_files
        self.counts["tableio.bytes_written"] += new_bytes
        if rec["name"] == "tableio.write_wave":
            self.counts["tableio.write_wave_calls"] += 1
            self._release_wave()

    def _release_wave(self):
        for df in self._wave_cache:
            df.unpersist()
        self._wave_cache = []

    def release(self):
        self._release_wave()
        for df in self._run_cache:
            df.unpersist()
        self._run_cache = []

    # -- patching -----------------------------------------------------------

    @contextmanager
    def patched(self):
        import barkingowl_spark.operators.robots as robots_mod
        import barkingowl_spark.plans.crawl as crawl_mod
        import barkingowl_spark.plans.ingest as ingest_mod
        from barkingowl_spark.operators.dedup import IncrementalBloom
        from barkingowl_spark.sources.tableio import ParquetDirsIO

        df = self.wrap_df
        call = self.wrap_call
        targets = [
            (ingest_mod, "parsed_corpus", lambda f: df(
                "ingest.parsed_corpus", f, keep=True)),
            (ingest_mod, "ingest_pages_of", lambda f: df(
                "ingest.ingest_pages_of", f, self._ingest_pages, keep=True)),
            (ingest_mod, "edges_of", lambda f: df(
                "ingest.edges_of", f, keep=True)),
            (robots_mod, "robots_rules", lambda f: df(
                "politeness.robots_rules", f, keep=True)),
            (crawl_mod, "schedule_budget", lambda f: df(
                "politeness.schedule_budget", f, self._schedule)),
            (crawl_mod, "robots_filter", lambda f: df(
                "politeness.robots_filter", f, self._robots_filter)),
            (crawl_mod, "level_ranks", lambda f: df(
                "ordering.level_ranks", f)),
            (crawl_mod, "first_discovery_wins", lambda f: df(
                "ordering.first_discovery_wins", f, self._first_wins)),
            (crawl_mod, "anti_join_new", lambda f: df(
                "dedup.anti_join_new", f, self._anti_join)),
            (crawl_mod, "_typecheck", lambda f: df(
                "match.typecheck", f, self._typecheck)),
            (IncrementalBloom, "add_keys", lambda f: call(
                "dedup.add_keys", f, self._bloom_add)),
            (IncrementalBloom, "grow", lambda f: call(
                "dedup.grow", f, self._bloom_grow)),
            (ParquetDirsIO, "write_wave", lambda f: call(
                "tableio.write_wave", f, self._written)),
            (ParquetDirsIO, "write_metrics_df", lambda f: call(
                "tableio.write_metrics", f, self._written)),
            (ParquetDirsIO, "write_metrics_rows", lambda f: call(
                "tableio.write_metrics", f, self._written)),
            (ParquetDirsIO, "_maybe_compact", lambda f: self._wrap_compact(f)),
            (ParquetDirsIO, "read_queue", lambda f: df("tableio.read", f)),
            (ParquetDirsIO, "read_archive", lambda f: df("tableio.read", f)),
            (ParquetDirsIO, "read_metrics", lambda f: df("tableio.read", f)),
        ]
        saved = []
        try:
            for owner, attr, make in targets:
                orig = owner.__dict__[attr]
                saved.append((owner, attr, orig))
                setattr(owner, attr, make(orig))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def _wrap_compact(self, fn):
        def wrapper(io, spark, wave):
            with self.span("tableio.compact"):
                before = io._compact_uptos()
                fn(io, spark, wave)
            if io._compact_uptos() != before:
                self.counts["tableio.compactions"] += 1
        wrapper.__wrapped__ = fn
        return wrapper


# -- analysis -----------------------------------------------------------------

def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> duration minus the durations of its direct children."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def spark_events(event_log_dir: str) -> list[dict]:
    """Every event of the logs under ``event_log_dir`` (plain or rolling)."""
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(event_log_dir)
                   for f in fs if not f.startswith("appstatus"))
    events = []
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    pass  # a torn last line of an unfinished log
    return events


def task_metrics_by_description(events: list[dict]) -> dict[str, dict]:
    """job description -> summed task metrics of the jobs it tagged."""
    stage_desc: dict[int, str | None] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            for sid in e.get("Stage IDs", []):
                stage_desc.setdefault(sid, desc)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        m = e.get("Task Metrics") or {}
        acc = out[stage_desc.get(e.get("Stage ID"))]
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
        acc["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                   + sr.get("Local Bytes Read", 0)) / 1e6
        acc["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0)) / 1e6
    return out


def per_wave_engine_counts(events: list[dict], intervals) -> dict[str, list]:
    """Jobs, stages and tasks started inside each (start, end] epoch-second
    interval — the wave intervals of an untraced crawl."""
    jobs = [e["Submission Time"] / 1000.0 for e in events
            if e.get("Event") == "SparkListenerJobStart"]
    stages = [e["Stage Info"]["Submission Time"] / 1000.0 for e in events
              if e.get("Event") == "SparkListenerStageCompleted"
              and e["Stage Info"].get("Submission Time")]
    tasks = [e["Task Info"]["Launch Time"] / 1000.0 for e in events
             if e.get("Event") == "SparkListenerTaskEnd"]
    out = {"jobs": [], "stages": [], "tasks": []}
    for lo, hi in intervals:
        for key, ts in (("jobs", jobs), ("stages", stages), ("tasks", tasks)):
            out[key].append(sum(1 for t in ts if lo < t <= hi))
    return out


def _median(xs: list) -> float:
    return statistics.median(xs) if xs else 0.0


def summarize(tracer: Tracer, roots: list[dict], events: list[dict],
              untraced_intervals, html_bytes: int) -> dict[str, tuple]:
    """Per-layer metrics of one traced crawl: name -> (value, unit).

    ``roots`` are the spans around each ``run_crawl`` call of the crawl;
    ``untraced_intervals`` are the wave intervals (epoch seconds) of the
    untraced crawl of the same run, whose jobs the event log also holds."""
    spans = tracer.spans
    selft = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    c = tracer.counts

    def total(name_or_layer: str, key: str = "name") -> float:
        return sum(selft[s["id"]] for s in spans if s[key] == name_or_layer)

    def rows(name: str) -> int:
        return sum(s.get("rows", 0) for s in spans if s["name"] == name)

    overhead_s = sum(s["end"] - s["start"] for s in spans
                     if s["layer"] == "trace" and s["parent"] is not None
                     and by_id[s["parent"]]["layer"] != "trace")
    wall = sum(r["end"] - r["start"] for r in roots)
    work = wall - overhead_s

    # crawl driver time per wave: wave wall (between consecutive wave
    # commits of one run_crawl call) minus the other layers' spans
    driver = []
    for root in roots:
        kids = [s for s in spans if s["parent"] == root["id"]]
        ends = sorted(s["end"] for s in kids
                      if s["name"] == "tableio.write_wave")
        for lo, hi in zip(ends, ends[1:]):
            busy = sum(s["end"] - s["start"] for s in kids
                       if s["layer"] != "crawl" and lo < s["start"] < hi)
            driver.append(hi - lo - busy)

    engine = per_wave_engine_counts(events, untraced_intervals)
    cand = c["dedup.candidates"]
    maybe = c["dedup.prefilter_maybe"]
    m = {
        "ingest.busy_s": (total("ingest", "layer"), "s"),
        "ingest.pages": (rows("ingest.parsed_corpus"), "count"),
        "ingest.html_mb": (html_bytes / 1e6, "MB"),
        "ingest.edges": (rows("ingest.edges_of"), "count"),
        "ingest.text_mismatch": (c["ingest.text_mismatch"], "count"),
        "crawl.fetch_join_s": (total("crawl.fetch_join"), "s"),
        "crawl.driver_s": (sum(driver), "s"),
        "crawl.waves": (len(driver), "count"),
        "crawl.jobs_per_wave": (_median(engine["jobs"]), "count"),
        "crawl.stages_per_wave": (_median(engine["stages"]), "count"),
        "crawl.tasks_per_wave": (_median(engine["tasks"]), "count"),
        "politeness.schedule_s": (total("politeness.schedule_budget"), "s"),
        "politeness.due_rows": (c["politeness.due_rows"], "count"),
        "politeness.scheduled_rows": (c["politeness.scheduled_rows"], "count"),
        "politeness.deferred_rows": (
            c["politeness.due_rows"] - c["politeness.scheduled_rows"], "count"),
        "robots.rules_s": (total("politeness.robots_rules"), "s"),
        "robots.filter_s": (total("politeness.robots_filter"), "s"),
        "robots.links_disallowed": (c["robots.links_disallowed"], "count"),
        "ordering.level_ranks_s": (total("ordering.level_ranks"), "s"),
        "ordering.level_rows": (rows("ordering.level_ranks"), "count"),
        "ordering.first_wins_s": (total("ordering.first_discovery_wins"), "s"),
        "ordering.candidates_in": (c["ordering.candidates_in"], "count"),
        "ordering.candidates_out": (c["ordering.candidates_out"], "count"),
        "dedup.anti_join_s": (total("dedup.anti_join_new"), "s"),
        "dedup.candidates": (cand, "count"),
        "dedup.prefilter_maybe": (maybe, "count"),
        "dedup.fresh": (c["dedup.fresh"], "count"),
        "dedup.useful_ratio": (c["dedup.fresh"] / cand if cand else 0.0,
                               "ratio"),
        "dedup.prefilter_fp_ratio": (
            c["dedup.prefilter_maybe_fresh"] / maybe if maybe else 0.0,
            "ratio"),
        "dedup.add_keys_s": (total("dedup.add_keys") + total("dedup.grow"),
                             "s"),
        "dedup.add_keys_calls": (c["dedup.add_keys_calls"], "count"),
        "dedup.grow_count": (c["dedup.grow_count"], "count"),
        "dedup.bitset_mb": (tracer.bitset_mb, "MB"),
        "match.typecheck_s": (total("match.typecheck"), "s"),
        "match.typed_rows": (c["match.typed_rows"], "count"),
        "match.docs": (c["match.doc"], "count"),
        "match.missing": (c["match.missing"], "count"),
        "match.pruned": (c["match.pruned"], "count"),
        "tableio.write_wave_s": (total("tableio.write_wave")
                                 + total("tableio.compact"), "s"),
        "tableio.write_wave_calls": (c["tableio.write_wave_calls"], "count"),
        "tableio.metrics_write_s": (total("tableio.write_metrics"), "s"),
        "tableio.bytes_written_mb": (c["tableio.bytes_written"] / 1e6, "MB"),
        "tableio.files_written": (c["tableio.files_written"], "count"),
        "tableio.read_s": (total("tableio.read"), "s"),
        "tableio.compactions": (c["tableio.compactions"], "count"),
        "trace.crawl_wall_s": (wall, "s"),
        "trace.count_overhead_s": (overhead_s, "s"),
    }
    for layer in LAYERS:
        m[f"share.{layer}"] = (
            total(layer, "layer") / work if work > 0 else 0.0, "ratio")
    engine_by_layer: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for desc, acc in task_metrics_by_description(events).items():
        s = by_id.get(desc)
        if s is None:
            continue
        for k, v in acc.items():
            engine_by_layer[s["layer"]][k] += v
    for layer in LAYERS:
        acc = engine_by_layer[layer]
        for k, unit in (("task_s", "s"), ("gc_s", "s"),
                        ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
                        ("spill_mb", "MB")):
            m[f"spark.{layer}.{k}"] = (acc[k], unit)
    for k, unit in (("task_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MB"),
                    ("shuffle_read_mb", "MB"), ("spill_mb", "MB")):
        m[f"spark.{k}"] = (sum(engine_by_layer[ly][k] for ly in LAYERS), unit)
    return m
