#!/usr/bin/env python3
"""Crawl benchmark for spider_spark (see crawlbench/README.md).

    python3 crawlbench/run.py --workload bfs_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. One run sets the workload up once (session
start, corpus write to Parquet, warm-up crawl), then repeats the workload's
crawl through the engine's public API until ``--seconds`` would be passed,
and checks every crawl's output against an independent NumPy BFS. With
``--trace 0`` it reports end-to-end metrics. With ``--trace 1`` it splits
``--seconds`` into an untraced, a traced and another untraced window, and
reports per-layer metrics and the tracing overhead. Human-readable lines
come first; the last line of standard output is one JSON object. All files
go under crawlbench/.work/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

FILLER_REPEATS = 13  # pages of about 1.2 KB of HTML
PARSE_SAMPLE = 2000
DRIVER_MEM = "2g"
# C1 only: with the default tiered C2 compiler, crawls keep getting faster
# for 15 or more crawls in a JVM, longer than a run can warm up; with C1
# alone they level off after the first.
JIT_OPTS = "-XX:TieredStopAtLevel=1"


@dataclass(frozen=True)
class Workload:
    n_pages: int
    seed_div: int                 # seeds are n_pages // seed_div distinct page ids
    depth: int
    budget: int | None = None     # per-host fetches per round
    cut_rounds: int | None = None  # durable crawl cut after this many rounds, then resumed


# Each workload stresses different layers; README.md gives the reasons.
WORKLOADS = {
    "bfs_bulk": Workload(n_pages=20_000, seed_div=8, depth=2),
    # dead.example gets exactly one link per seed, so level 1 takes two
    # rounds whatever the seed; h0's ~50 seeds fit one round.
    "polite_hot_host": Workload(n_pages=10_000, seed_div=100, depth=1, budget=70),
    "durable_resume": Workload(n_pages=10_000, seed_div=100, depth=1, cut_rounds=1),
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


@dataclass
class Crawl:
    """One measured crawl (for durable_resume: the cut crawl plus resume)."""
    crawl_s: float
    resume_s: float | None
    rounds: list          # RoundMetrics of every round, in order
    phase_s: float        # sum of the engines' phase_times
    fetch_parse_s: float
    spark_jobs: int
    store_bytes: int
    fetched: int
    error: str | None
    trace_id: int = 0
    trace_counts: dict = field(default_factory=dict)


class Bench:
    def __init__(self, name: str, seed: int, run_dir: str):
        import oracle
        from spider_spark.sources.tableio import ParquetManifestIO

        self.name = name
        self.wl = WORKLOADS[name]
        self.run_dir = run_dir
        ids = oracle.seed_ids(self.wl.n_pages, self.wl.n_pages // self.wl.seed_div, seed)
        self.seeds = [oracle.page_url(int(i)) for i in ids]
        self.expected = oracle.Expected(self.wl.n_pages, ids, self.wl.depth)
        # half the usable cores run tasks; the rest are left to the Python
        # workers, this driver and the JVM's own threads
        self.cpus = max(1, len(os.sched_getaffinity(0)) // 2)
        self.spark = None
        self.pages = None
        self.corpus_path = os.path.join(run_dir, "pages")
        self.store = os.path.join(run_dir, "store")
        self.setup_times: dict[str, float] = {}
        self.warmup: Crawl | None = None
        # unwrapped, so a traced run does not count this benchmark's own commit
        self._append = ParquetManifestIO.append
        self._groups = 0

    # -- set-up -----------------------------------------------------------

    def _start_session(self):
        from spider_spark.session import get_spark

        spark = get_spark(
            app_name="crawlbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=2 * self.cpus,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
                "spark.ui.showConsoleProgress": "false",
                # a fixed-size heap: resident memory then tracks use, not
                # how far the collector happened to grow the heap
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} {JIT_OPTS}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> None:
        """Start the session (launching the JVM), write the corpus, and run
        one warm-up crawl, checked like the measured ones."""
        from spider_spark.sources.pages import synthetic_pages

        t0 = time.perf_counter()
        self.spark = self._start_session()
        t1 = time.perf_counter()
        synthetic_pages(self.spark, self.wl.n_pages, filler_repeats=FILLER_REPEATS) \
            .write.mode("overwrite").parquet(self.corpus_path)
        self.pages = self.spark.read.parquet(self.corpus_path)
        t2 = time.perf_counter()
        self.warmup = self.crawl()
        t3 = time.perf_counter()
        self.setup_times = {"session_s": t1 - t0, "write_s": t2 - t1,
                            "warmup_s": t3 - t2, "total_s": t3 - t0}

    # -- one crawl ----------------------------------------------------------

    def _config(self, **kw):
        from spider_spark.plans.crawl import CrawlConfig

        return CrawlConfig(depth=self.wl.depth, budget=self.wl.budget,
                           verify_text=True, **kw)

    def _engine(self, cfg):
        from spider_spark.plans.crawl import CrawlEngine
        from spider_spark.sources.tableio import ParquetManifestIO

        io = ParquetManifestIO(self.spark, self.store) if cfg.durable else None
        return CrawlEngine(self.spark, self.pages, cfg, io=io)

    def _tear_next_round(self) -> None:
        """Simulate a driver killed inside the round after the cut: commit
        that round's results delta without its metrics marker, which
        resume() must roll back."""
        from spider_spark.sources.tableio import ParquetManifestIO

        io = ParquetManifestIO(self.spark, self.store)
        marker = io.latest_meta("metrics")
        self._append(io, "results", io.read("results").limit(100),
                     meta={"round": marker["round"] + 1, "epoch": marker.get("epoch") or 0})

    def crawl(self) -> Crawl:
        """Run the workload's crawl and check its results."""
        sc = self.spark.sparkContext
        self._groups += 1
        group = f"crawlbench-{self._groups}"
        sc.setJobGroup(group, self.name)
        resume_s = None
        t0 = time.perf_counter()
        if self.wl.cut_rounds is None:
            eng = self._engine(self._config())
            res = eng.crawl(self.seeds)
            engines, rounds = [eng], list(res.metrics)
            crawl_s = time.perf_counter() - t0
        else:
            shutil.rmtree(self.store, ignore_errors=True)
            cut = self._engine(self._config(durable=True, max_rounds=self.wl.cut_rounds))
            first = cut.crawl(self.seeds)
            crawl_s = time.perf_counter() - t0
            self._tear_next_round()
            t1 = time.perf_counter()
            resumed = self._engine(self._config(durable=True))
            res = resumed.resume()
            resume_s = time.perf_counter() - t1
            crawl_s += resume_s
            engines = [cut, resumed]
            rounds = list(first.metrics) + res.metrics[len(first.metrics):]
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(f"{group}-check", self.name)
        phases = [e.phase_times for e in engines]
        out = Crawl(
            crawl_s=crawl_s, resume_s=resume_s, rounds=rounds,
            phase_s=sum(sum(p.values()) for p in phases),
            fetch_parse_s=sum(p.get("fetch_parse", 0.0) for p in phases),
            spark_jobs=jobs, store_bytes=_tree_bytes(self.store) if resume_s else 0,
            fetched=0, error=None,
        )
        rows = res.results.select("url", "fetched").collect()
        fetched = [r.url for r in rows if r.fetched]
        out.fetched = len(fetched)
        out.error = self.expected.mismatch(fetched, len(rows) - len(fetched))
        return out

    def window(self, seconds: float, tracer=None) -> tuple[list[Crawl], list[str]]:
        """Repeat the crawl until the next one would end past ``seconds``
        (at least one crawl). Returns the crawls and the tracebacks of a
        crawl that raised, which ends the window."""
        crawls, raised = [], []
        t0 = time.perf_counter()
        while True:
            if tracer is not None:
                tracer.crawl_id += 1
                tracer.counts.clear()
            try:
                c = self.crawl()
            except Exception:  # a failed crawl is reported, not fatal
                raised.append(traceback.format_exc())
                break
            if tracer is not None:
                c.trace_id, c.trace_counts = tracer.crawl_id, dict(tracer.counts)
            crawls.append(c)
            typical = median([x.crawl_s for x in crawls])
            if time.perf_counter() - t0 + typical > seconds:
                break
        return crawls, raised

    def parse_kpages_per_s(self) -> float:
        """``parse_page`` throughput over a fixed HTML sample of the corpus,
        read with pyarrow: the parse kernel alone, no Spark."""
        import pyarrow.parquet as pq
        from spider_spark.functions.parse import parse_page

        html = pq.read_table(self.corpus_path, columns=["html"]).column("html")
        sample = html.slice(0, PARSE_SAMPLE).to_pylist()
        n, t0 = 0, time.perf_counter()
        while (elapsed := time.perf_counter() - t0) < 0.5 or n == 0:
            for h in sample:
                parse_page(h)
            n += len(sample)
        return n / elapsed / 1000


def _tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def bytes_per_page(c: Crawl) -> float:
    return c.store_bytes / max(c.fetched, 1)


def quantile(xs: list[float], q: int) -> float:
    """The q-th percentile, by ``statistics.quantiles`` (inclusive)."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def eligible_ratio(rounds, n_seeds: int) -> float:
    """Eligible rows over frontier rows, summed over rounds. A round's
    frontier is the previous round's admissions plus its carryover; what is
    neither carried over nor blocked was eligible."""
    frontier_in, total_in, total_eligible = n_seeds, 0, 0
    for m in rounds:
        total_in += frontier_in
        total_eligible += frontier_in - m.carryover - m.blocked
        frontier_in = m.new_links + m.carryover
    return total_eligible / total_in if total_in else 0.0


def end_to_end(bench: Bench, crawls: list[Crawl], peak_rss_mb: float) -> dict:
    pooled = [m.elapsed_sec for c in crawls for m in c.rounds]
    return {
        "setup_s": (bench.setup_times["total_s"], "s"),
        "crawl_s": (median([c.crawl_s for c in crawls]), "s"),
        "pages_per_s": (median([c.fetched / c.crawl_s for c in crawls]), "1/s"),
        "round_p50_s": (median(pooled), "s"),
        "round_tail_s": (quantile(pooled, 90), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def per_layer(bench: Bench, untraced: list[Crawl], traced: list[Crawl], tracer) -> dict:
    def med(f):
        return median([f(c) for c in traced])

    def span(name):
        return med(lambda c: tracer.total(name, c.trace_id))

    def count(key):
        return med(lambda c: c.trace_counts.get(key, 0))

    durable = [c for c in untraced if c.resume_s is not None]
    return {
        "crawl.rounds": (med(lambda c: len(c.rounds)), "count"),
        "crawl.spark_jobs": (med(lambda c: c.spark_jobs), "count"),
        "crawl.other_s": (med(lambda c: c.crawl_s - c.phase_s), "s"),
        "fetch_parse.s": (med(lambda c: c.fetch_parse_s), "s"),
        "fetch.hit_ratio": (
            med(lambda c: c.fetched / (bench.wl.n_pages * len(c.rounds))), "ratio"),
        "parse.kpages_per_s": (bench.parse_kpages_per_s(), "kpages/s"),
        "schedule.s": (span("schedule"), "s"),
        "schedule.eligible_ratio": (
            med(lambda c: eligible_ratio(c.rounds, len(bench.seeds))), "ratio"),
        "dedupe.s": (span("dedupe"), "s"),
        "dedupe.admit_ratio": (
            med(lambda c: sum(m.new_links for m in c.rounds)
                / max(c.trace_counts.get("dedupe.candidates", 0), 1)), "ratio"),
        "bloom.build_s": (span("bloom.build"), "s"),
        "rank.s": (span("rank"), "s"),
        "rank.rows": (count("rank.rows"), "count"),
        "tableio.commits": (count("tableio.commits"), "count"),
        "tableio.commit_s": (span("tableio.commit"), "s"),
        "tableio.mirror_s": (span("tableio.mirror"), "s"),
        "tableio.restore_s": (span("tableio.restore"), "s"),
        "tableio.bytes_written": (med(lambda c: c.store_bytes), "bytes"),
        "resume_s": (median([c.resume_s for c in durable]), "s"),
        "store_bytes_per_page": (median([bytes_per_page(c) for c in durable]), "bytes"),
        "session.start_s": (bench.setup_times["session_s"], "s"),
        "corpus.write_s": (bench.setup_times["write_s"], "s"),
        "trace.overhead_s": (median([c.crawl_s for c in traced])
                             - median([c.crawl_s for c in untraced]), "s"),
    }


def main() -> int:
    args = parse_args()
    run_dir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    # Keep the JVMs' and Python's scratch files inside the run directory.
    os.environ["TMPDIR"] = run_dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)

    from procs import PeakRSS, stop_spark
    from tracing import Tracer

    os.makedirs(run_dir)
    tempfile.tempdir = run_dir
    bench = Bench(args.workload, args.seed, run_dir)
    tracer = None
    try:
        bench.setup()
        window_s = args.seconds / 3 if args.trace else args.seconds
        with PeakRSS() as rss:
            untraced, raised = bench.window(window_s)
        traced = []
        if args.trace and not raised:
            # untraced, traced, untraced: the overhead estimate then cancels
            # any drift from one crawl to the next
            tracer = Tracer()
            tracer.install()
            try:
                traced, raised = bench.window(window_s, tracer)
            finally:
                tracer.uninstall()
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            tracer.write(os.path.join(WORK, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
            if not raised:
                more, raised = bench.window(window_s)
                untraced += more
        checked = [bench.warmup, *untraced, *traced]
        failures = [c.error for c in checked if c.error] + raised
        attempted = len(checked) + len(raised)
        if not untraced or (args.trace and not traced):
            metrics = None
        elif args.trace:
            metrics = per_layer(bench, untraced, traced, tracer)
        else:
            metrics = end_to_end(bench, untraced, rss.peak_mb)
    finally:
        if bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    if metrics is None:
        print("\n".join(failures), file=sys.stderr)
        return 1
    for f in failures:
        print(f"FAILED: {f}", file=sys.stderr)
    st = bench.setup_times
    print(f"workload {args.workload} seed {args.seed}: setup {st['total_s']:.2f} s "
          f"(session {st['session_s']:.2f}, corpus write {st['write_s']:.2f}, "
          f"warm-up {st['warmup_s']:.2f})")
    for c in untraced:
        print(f"crawl {c.crawl_s:.2f} s, {c.fetched} pages fetched, {c.spark_jobs} Spark jobs, "
              f"rounds " + " ".join(f"{m.elapsed_sec:.2f}" for m in c.rounds))
    durable = [c.resume_s for c in untraced if c.resume_s is not None]
    extra = {"failed_frac": (len(failures) / attempted, "frac")}
    if durable:
        extra["resume_s"] = (median(durable), "s")
        extra["store_bytes_per_page"] = (median([bytes_per_page(c) for c in untraced]), "bytes")
    for name, (value, unit) in {**metrics, **extra}.items():
        print(f"{name:26s} {value:14.6f} {unit}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
