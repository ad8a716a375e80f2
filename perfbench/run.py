"""Crawl benchmark: drives ``barkingowl_spark.plans.crawl.run_crawl`` on
one seeded workload and prints one JSON result line.

    python3 perfbench/run.py --workload mesh-dedup --seed 3 --seconds 30 --trace 0

Runs from any working directory; everything it writes goes under
``.perfbench-work/`` at the repository root. See perfbench/README.md for
the workloads, the metrics and how to read a traced run.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import importlib.util
import json
import multiprocessing
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field, replace
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench-work"
ORACLE_DIR = ROOT / "tests" / "oracle"
TRACE_COLS = ("seed_url", "url", "depth", "discovery_idx", "status",
              "text_sha256")
DOC_COLS = ("seed_url", "doc_url", "depth", "parent_url", "matched_by")
MAX_ATTEMPTS = 3

sys.path.insert(0, str(HERE))
from tracing import Tracer, spark_events, summarize  # noqa: E402
from workloads import (  # noqa: E402
    DOC_TYPE, WORKLOADS, Corpus, LazyPages, Workload, write_parquet)


class BenchError(Exception):
    """The benchmark cannot run here (missing program or oracle)."""


# -- frozen oracle -----------------------------------------------------------

def verify_oracle() -> str:
    """Check tests/oracle/SHA256SUMS; return a key naming the frozen set."""
    sums = ORACLE_DIR / "SHA256SUMS"
    if not sums.is_file():
        raise BenchError(f"missing {sums.relative_to(ROOT)}")
    text = sums.read_text()
    for line in text.splitlines():
        if not line.strip():
            continue
        want, rel = line.split()
        path = ROOT / rel
        if not path.is_file():
            raise BenchError(f"missing oracle file {rel}")
        got = hashlib.sha256(path.read_bytes()).hexdigest()
        if got != want:
            raise BenchError(f"oracle file {rel} does not match SHA256SUMS")
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def load_oracle():
    spec = importlib.util.spec_from_file_location(
        "perfbench_ref_crawler", ORACLE_DIR / "ref_crawler.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve through sys.modules
    spec.loader.exec_module(mod)
    return mod


def _digest(rows) -> str:
    h = hashlib.sha256()
    for row in sorted(tuple("" if v is None else str(v) for v in r)
                      for r in rows):
        h.update("\t".join(row).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def oracle_expect(oracle, corpus: Corpus) -> dict:
    pages = LazyPages(corpus)
    disallow = corpus.robots_disallow()
    trace, docs = [], []
    for seed_url in corpus.seed_urls():
        res = oracle.crawl(pages, seed_url, corpus.wl.max_link_level,
                           DOC_TYPE, disallow)
        for e in res.seen.values():
            trace.append((res.seed_url, e.url, e.depth, e.discovery_idx,
                          e.status, e.text_sha256))
            if e.status == "doc":
                docs.append((res.seed_url, e.url, e.depth, e.parent,
                             e.matched_by))
    return {"trace_sha": _digest(trace), "docs_sha": _digest(docs),
            "urls": len(trace), "docs": len(docs)}


@dataclass
class Inputs:
    corpus: Corpus
    pages_dir: str
    expect: dict


def build_inputs(wl: Workload, seed: int, oracle_key: str) -> tuple[str, dict]:
    """Corpus parquet + oracle digests, cached per (workload, seed, oracle).

    Runs in a child process, so corpus generation never shows in the
    driver's memory or competes with it for the interpreter."""
    key = hashlib.sha256(
        f"{wl!r}|{seed}|{oracle_key}".encode()).hexdigest()[:20]
    d = WORK / "inputs" / f"{wl.name}-{seed}-{key}"
    done = d / "expect.json"
    if not done.is_file():
        shutil.rmtree(d, ignore_errors=True)
        oracle = load_oracle()
        corpus = Corpus(wl, seed)
        nbytes = write_parquet(corpus, str(d / "pages"),
                               oracle.oracle_extract_text)
        expect = dict(oracle_expect(oracle, corpus), html_bytes=nbytes)
        tmp = d / "expect.json.tmp"
        tmp.write_text(json.dumps(expect))
        tmp.rename(done)
    return str(d / "pages"), json.loads(done.read_text())


# -- spark -------------------------------------------------------------------

def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(cores: int) -> None:
    """Point Spark, the JVM and the Python workers at this checkout: the
    workers import the package from it whatever the caller's working
    directory, and every scratch file lands under WORK."""
    for p in (WORK / "tmp", WORK / "spark-local"):
        p.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # no hsperfdata files in the system temp dir, for the launcher JVM of
    # spark-submit and (below) the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        [os.environ.get("SPARK_LAUNCHER_OPTS", ""), "-XX:-UsePerfData"]).strip()
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_spark(cores: int, event_log_dir: str | None):
    """SparkSession on local[cores] through the package's own builder."""
    from barkingowl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        # a pre-touched fixed-size heap: the JVM's share of peak RSS is the
        # configured driver memory, not an artefact of when G1 grew it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData "
            f"-XX:+AlwaysPreTouch -Xms{os.environ['SPARK_DRIVER_MEM']}"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def seeds_frame(spark, corpus: Corpus):
    from barkingowl_spark.schemas import SEED_SCHEMA

    return spark.createDataFrame(
        [(u, f"seed{i}", "bench", corpus.wl.max_link_level,
          DOC_TYPE, 0, i)
         for i, u in enumerate(corpus.seed_urls())],
        SEED_SCHEMA,
    )


# -- one crawl ---------------------------------------------------------------

@dataclass
class CrawlRun:
    wall_s: float
    urls: int
    first_doc_s: float | None
    resume_s: float | None
    commits: dict[int, float]
    stop_wave: int | None
    waves: int
    trace_sha: str
    docs_sha: str
    text_mismatch: int
    roots: list[dict] = field(default_factory=list)  # traced: run_crawl spans

    def wave_intervals(self) -> list[tuple[float, float]]:
        """(previous commit, commit] per wave, the resume gap excluded."""
        return [(self.commits[k - 1], self.commits[k])
                for k in sorted(self.commits)
                if k - 1 in self.commits
                and not (self.stop_wave is not None
                         and k == self.stop_wave + 1)]


def crawl_config(wl: Workload, ckpt: str):
    from barkingowl_spark.plans.crawl import CrawlConfig

    return CrawlConfig(
        checkpoint_dir=ckpt,
        host_budget=wl.host_budget,
        robots_from_corpus=wl.robots_every > 0,
        politeness_wave_seconds=wl.politeness_wave_seconds,
        max_waves=wl.stop_after_waves or CrawlConfig.max_waves,
        archive_compact_every=wl.archive_compact_every,
    )


def commit_times(ckpt: str) -> dict[int, float]:
    out = {}
    for e in os.listdir(ckpt):
        m = os.path.join(ckpt, e, "manifest.json")
        if e.startswith("wave=") and os.path.isfile(m):
            out[int(e.split("=", 1)[1])] = os.stat(m).st_mtime
    return out


def crawl_once(spark, wl: Workload, pages_dir: str, corpus: Corpus,
               ckpt: str, tracer: Tracer | None = None) -> CrawlRun:
    from pyspark.sql import functions as F

    from barkingowl_spark.plans.crawl import CrawlConfig, run_crawl

    shutil.rmtree(ckpt, ignore_errors=True)
    pages = spark.read.parquet(pages_dir)
    seeds = seeds_frame(spark, corpus)
    cfg = crawl_config(wl, ckpt)
    roots = []

    def call(c, resume=False):
        if tracer is None:
            return run_crawl(spark, seeds, pages, c, resume=resume)
        with tracer.span("crawl.run_crawl") as root:
            roots.append(root)
            return run_crawl(spark, seeds, pages, c, resume=resume)

    t_call = time.time()
    state = call(cfg)
    wall = time.time() - t_call
    t_resume = stop_wave = None
    if wl.stop_after_waves is not None:
        stop_wave = state.wave
        t_resume = time.time()
        state = call(replace(cfg, max_waves=CrawlConfig.max_waves),
                     resume=True)
        wall += time.time() - t_resume
    commits = commit_times(ckpt)

    trace = [tuple(r) for r in state.trace().select(*TRACE_COLS).collect()]
    docs = [tuple(r) for r in state.documents.select(*DOC_COLS).collect()]
    per_wave = {
        r["wave"]: (r["docs"], r["bad"])
        for r in state.metrics.groupBy("wave").agg(
            F.sum("docs_found").alias("docs"),
            F.sum("text_mismatch").alias("bad")).collect()
    }
    doc_waves = [w for w, (n, _) in per_wave.items() if (n or 0) > 0]
    first_doc_s = commits[min(doc_waves)] - t_call if doc_waves else None
    resume_s = (commits[stop_wave + 1] - t_resume
                if stop_wave is not None and stop_wave + 1 in commits
                else None)
    return CrawlRun(
        wall_s=wall, urls=len(trace), first_doc_s=first_doc_s,
        resume_s=resume_s, commits=commits, stop_wave=stop_wave,
        waves=state.wave,
        trace_sha=_digest(trace), docs_sha=_digest(docs),
        text_mismatch=sum(int(b or 0) for _, b in per_wave.values()),
        roots=roots,
    )


def check(run: CrawlRun, expect: dict) -> list[str]:
    errs = []
    if run.trace_sha != expect["trace_sha"]:
        errs.append(f"trace digest differs from the oracle "
                    f"({run.urls} urls vs {expect['urls']})")
    if run.docs_sha != expect["docs_sha"]:
        errs.append("document set differs from the oracle")
    if run.text_mismatch != 0:
        errs.append(f"text_mismatch = {run.text_mismatch}")
    return errs


class Attempts:
    """Counts crawl attempts; a crash is retried but stays counted."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, fn):
        last = None
        for _ in range(MAX_ATTEMPTS):
            self.attempted += 1
            try:
                return fn()
            except Exception as e:  # a crashed crawl is retried, then fatal
                self.failed += 1
                last = e
                print(f"perfbench: crawl attempt failed: {e!r}"[:2000],
                      file=sys.stderr)
        raise last


# -- memory ------------------------------------------------------------------

def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


# -- child processes ---------------------------------------------------------

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a process
    orphaned below it (a Python worker of the JVM, the input builder) is
    re-parented here instead of to init, so ``reap_all`` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(d))
    return out


def reap_all(grace_s: float = 10.0) -> None:
    """Stop every remaining descendant and wait until each has ended.

    Signals the direct children (TERM, then KILL after ``grace_s``) and
    reaps them until none is left; as the subreaper, this process also
    inherits and reaps whatever they leave behind."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        sig = (signal.SIGTERM if time.monotonic() < deadline
               else signal.SIGKILL)
        for pid in _children():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


# -- main --------------------------------------------------------------------

def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    oracle_key = verify_oracle()
    if not (ROOT / "barkingowl_spark" / "plans" / "crawl.py").is_file():
        raise BenchError("barkingowl_spark is not in this checkout")
    wl = WORKLOADS[args.workload]
    warm_wl = wl.warmup()
    run_id = f"{wl.name}-{args.seed}-{os.getpid()}"
    run_dir = WORK / "runs" / run_id
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    cores = cpu_count()
    attempts = Attempts()
    prepare_env(cores)
    event_log = str(run_dir / "eventlog") if args.trace else None

    # inputs are built (or found cached) in a child process while the JVM
    # starts; the session start is timed on its own. The child is forked
    # before any thread or JVM exists, and a fork context starts no
    # multiprocessing resource-tracker process that would outlive the pool.
    with ProcessPoolExecutor(
            max_workers=1, mp_context=multiprocessing.get_context("fork")) as pool:
        built = [pool.submit(build_inputs, w, args.seed, oracle_key)
                 for w in (wl, warm_wl)]
        t_session = time.monotonic()
        spark = start_spark(cores, event_log)
        session_s = time.monotonic() - t_session
        try:
            (pages_dir, expect), (warm_dir, warm_expect) = [
                f.result() for f in built]
        except BaseException:
            stop_spark(spark)
            raise
    inputs = Inputs(Corpus(wl, args.seed), pages_dir, expect)
    warm = Inputs(Corpus(warm_wl, args.seed), warm_dir, warm_expect)
    try:
        t_warm = time.monotonic()
        warm_run = attempts.run(lambda: crawl_once(
            spark, warm_wl, warm.pages_dir, warm.corpus,
            str(run_dir / "ckpt-warm")))
        setup_s = session_s + time.monotonic() - t_warm
        errors = check(warm_run, warm.expect)

        # timed crawls: at least one, then more while the next one (as
        # long as the last) still ends inside the --seconds window
        runs: list[CrawlRun] = []
        t_measure = time.monotonic()
        last = 0.0
        # (a traced run needs one untraced crawl, to compare against)
        while not errors and not (runs and args.trace) and (
                not runs or time.monotonic() - t_measure + last <= args.seconds):
            t_crawl = time.monotonic()
            r = attempts.run(lambda: crawl_once(
                spark, wl, inputs.pages_dir, inputs.corpus,
                str(run_dir / f"ckpt-{len(runs)}")))
            last = time.monotonic() - t_crawl
            errors += check(r, inputs.expect)
            if r.first_doc_s is None:  # every workload's corpus has documents
                errors.append("no wave reported a document")
            runs.append(r)
        rss = peak_rss_mb(spark)
        traced = tracer = None
        if args.trace and not errors:
            tracer = Tracer(spark, run_id)

            def traced_crawl():
                with tracer.patched():
                    try:
                        return crawl_once(spark, wl, inputs.pages_dir,
                                          inputs.corpus,
                                          str(run_dir / "ckpt-traced"),
                                          tracer)
                    finally:
                        tracer.release()

            traced = attempts.run(traced_crawl)
            errors += [f"traced crawl: {e}" for e in check(traced,
                                                           inputs.expect)]
    finally:
        stop_spark(spark)

    for e in errors:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
    if args.trace and traced is not None:
        layer = summarize(tracer, traced.roots, spark_events(event_log),
                          runs[-1].wave_intervals(),
                          inputs.expect["html_bytes"])
        layer["trace.overhead_s"] = (traced.wall_s - runs[-1].wall_s, "s")
        out_dir = WORK / "traces" / run_id
        out_dir.mkdir(parents=True, exist_ok=True)
        (out_dir / "spans.json").write_text(json.dumps(tracer.spans))
        (out_dir / "layers.json").write_text(json.dumps(
            {k: {"value": v, "unit": u} for k, (v, u) in layer.items()},
            indent=1))
        print(f"perfbench: trace written to {out_dir}", file=sys.stderr)
        m = {k: metric(v, u) for k, (v, u) in layer.items()}
    elif errors:
        m = {}
    else:
        gaps = [b - a for r in runs for a, b in r.wave_intervals()]
        m = {
            "urls_per_s": metric(statistics.median(
                r.urls / r.wall_s for r in runs), "urls/s"),
            "first_doc_s": metric(statistics.median(
                r.first_doc_s for r in runs), "s"),
            "wave_s_p50": metric(statistics.median(gaps), "s"),
            "setup_s": metric(setup_s, "s"),
            "resume_s": metric(statistics.median(
                r.resume_s for r in runs), "s"),
            "peak_rss_mb": metric(rss, "MB"),
        }
    print(json.dumps({"detail": {
        "crawls": len(runs), "urls": runs[-1].urls if runs else 0,
        "waves": [r.waves for r in runs],
        "wall_s": [round(r.wall_s, 3) for r in runs], "cores": cores,
    }}), file=sys.stderr)
    print(json.dumps({
        "correct": not errors,
        "attempted": attempts.attempted,
        "failed": attempts.failed,
        "metrics": m,
    }))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if not errors else 1


if __name__ == "__main__":
    adopt_orphans()
    try:
        code = main()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        code = 2
    finally:
        reap_all()
    sys.exit(code)
