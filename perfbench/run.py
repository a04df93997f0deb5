"""Crawl-engine benchmark: one workload, one seed, one process, local[4].

    python3 perfbench/run.py --workload round_wide --seed 1 --seconds 10 --trace 0

A closed loop: one crawl at a time, each read from parquet and written out
the way ``scripts/crawl.py`` does it, each checked against the oracle.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (spans, counts, the kernel-only and scan-only probes, the local[1]
scaling pair). Every metric is printed by name with its unit; the last
line of stdout is the JSON result. The line before it carries ``nproc``,
the load average and a host-speed probe, and each result is appended to
``.perfbench/results.jsonl`` for ``perfbench/compare.py``. The exit code
is non-zero when any crawl raised or disagreed with the oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from geospatial_web_scraper_spark import corpus  # noqa: E402
from geospatial_web_scraper_spark.kernel import extract_links  # noqa: E402
from perfbench import gate, tracing, workloads  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
CORES = 4
# set-up samples per untraced run; setup_s is their median. Only the first
# starts the JVM, so the median is a restart in it; with four restarts it is
# not the slower of two
SETUPS = 5
# Unmeasured crawls before the measured ones. The first is twice as slow
# (JVM start, codegen, Python workers); in the second, JIT compilation still
# competes with the crawl for the cores, and its time varies most between
# runs. Later crawls vary least, though each is still a little faster.
WARMUPS = 2
# --seconds buys one measured crawl (in a traced run, one untraced + traced
# pair) per CRAWL_S; a traced run makes at least MIN_PAIRS. The count is
# fixed, not timed: a count that grew on a fast machine would also measure
# later, faster crawls
CRAWL_S = 10
MIN_PAIRS = 2
# no new measured crawl starts after this much time in the process; the
# traced run stops earlier because its probes and local[1] leg follow
DEADLINE_S = 140
TRACED_DEADLINE_S = 95
KERNEL_SAMPLE = 300  # pages the kernel-only probe parses per pass
PROBE_PASSES = 3


def session(cores: int, work: str):
    from geospatial_web_scraper_spark.session import get_spark

    # a fixed-size heap: with a growable one, peak RSS follows the
    # collector's resizing decisions and spreads by >10% between runs
    spark = get_spark(
        app="gwss-perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.driver.extraJavaOptions": (
                f"-Xms2g -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver Python plus the JVM."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm_kb = next(
            int(line.split()[1]) for line in f if line.startswith("VmHWM:")
        )
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + py_kb) / 1024


class Bench:
    def __init__(self, wl, seed: int, seconds: int, work: str):
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.t_process = time.perf_counter()
        self.attempted = 0
        self.failed = 0
        workloads.write_inputs(wl, seed, f"{work}/in")
        self.oracle = workloads.oracle_result(wl, seed)
        self.want = gate.oracle_digest(self.oracle)
        self.log(f"inputs written, oracle: {len(self.oracle.trace)} urls")
        self.spark = None
        self.cores = CORES

    # -- set-up ---------------------------------------------------------
    def setup(self) -> float:
        """Session start through the first finished job, inputs read."""
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = session(self.cores, self.work)
        self.pages = self.spark.read.parquet(f"{self.work}/in/pages")
        self.seeds = self.spark.read.parquet(f"{self.work}/in/seeds.parquet")
        self.seeds.count()
        secs = time.perf_counter() - t0
        self.log(f"setup local[{self.cores}]: {secs:.3f}s")
        return secs

    # -- crawls ---------------------------------------------------------
    def crawl(self, tracer=None, group: str | None = None):
        """One crawl with outputs written; returns (seconds, run) or raises."""
        pages, seeds = self.pages, self.seeds
        out, ckpt = f"{self.work}/out", f"{self.work}/ckpt"
        shutil.rmtree(ckpt, ignore_errors=True)
        if group is not None:
            self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        if tracer is None:
            run = workloads.run_crawl(self.spark, self.wl, pages, seeds, ckpt)
            workloads.write_outputs(run, out)
        else:
            with tracer.span("crawl"):
                run = workloads.run_crawl(self.spark, self.wl, pages, seeds, ckpt)
                with tracer.span("sink"):
                    workloads.write_outputs(run, out)
        secs = time.perf_counter() - t0
        self.log(f"crawl{' traced' if tracer else ''}: {secs:.3f}s")
        return secs, run

    def checked_crawl(self, **kw):
        """A crawl that counts toward ``attempted``; None when it raised or
        its outputs differ from the oracle's."""
        self.attempted += 1
        try:
            secs, run = self.crawl(**kw)
            got = gate.output_digest(f"{self.work}/out")
        except Exception:  # a failed crawl is a measured outcome
            traceback.print_exc()
            self.failed += 1
            return None
        if got != self.want:
            print(f"oracle mismatch: {got} != {self.want}", file=sys.stderr)
            self.failed += 1
            return None
        return secs, run

    def log(self, what: str) -> None:
        print(f"[{time.perf_counter() - self.t_process:7.2f}s] {what}", file=sys.stderr)

    def warm_up(self) -> None:
        for _ in range(WARMUPS):
            self.checked_crawl()

    def measured(self, deadline: float, at_least: int = 1):
        """Indices of the measured crawls (or pairs), failed ones included:
        ``--seconds // CRAWL_S``, at least ``at_least``, none started after
        ``deadline`` seconds in the process."""
        for i in range(max(at_least, self.seconds // CRAWL_S)):
            if time.perf_counter() - self.t_process > deadline:
                return
            yield i

    # -- untraced run: end-to-end metrics --------------------------------
    def end_to_end(self) -> dict:
        setups = [self.setup() for _ in range(SETUPS)]
        self.warm_up()
        times, rates = [], []
        for _ in self.measured(DEADLINE_S):
            res = self.checked_crawl()
            if res is not None:
                times.append(res[0])
                rates.append(res[1].recorded / res[0])
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "peak_rss_mb": (peak_rss_mb(self.spark), "MB"),
        }
        if times:
            metrics["crawl_s"] = (statistics.median(times), "s")
            metrics["urls_per_s"] = (statistics.median(rates), "1/s")
        return metrics

    # -- traced run: per-layer metrics -----------------------------------
    def per_layer(self) -> dict:
        self.setup()
        self.warm_up()
        tracer = tracing.Tracer()
        untraced, traced, rates, jobs = [], [], [], []
        # untraced and traced crawls alternate, each pair in the other order
        for i in self.measured(TRACED_DEADLINE_S, MIN_PAIRS):
            for is_traced in (False, True) if i % 2 == 0 else (True, False):
                if is_traced:
                    traced.extend(self.traced_crawl(tracer))
                else:
                    group = f"crawl-{self.attempted}"
                    res = self.checked_crawl(group=group)
                    if res is not None:
                        untraced.append(res[0])
                        rates.append(res[1].recorded / res[0])
                        tracker = self.spark.sparkContext.statusTracker()
                        jobs.append(len(tracker.getJobIdsForGroup(group)))
        if not traced or not untraced:
            return {}
        spans = tracer.with_self_times()
        layers = [
            tracing.layer_times([s for s in spans if s["crawl"] == crawl])
            for crawl, _, _, _ in traced
        ]

        def med(name: str) -> float:
            return statistics.median(lt.get(name, 0.0) for lt in layers)

        _, _, counts, run = traced[-1]
        candidates = counts["politeness.candidates"] or counts["ordering.rows"]
        m = self.counts_from_outputs(run)
        m.update(
            {
                "extract.s": (med("extract"), "s"),
                "extract.rows_out": (counts["extract.rows_out"], "count"),
                "ordering.s": (med("ordering"), "s"),
                "ordering.rows": (counts["ordering.rows"], "count"),
                "politeness.admit_ratio": (counts["ordering.rows"] / candidates, "ratio"),
                "politeness.deferred": (counts["politeness.deferred"], "count"),
                "bfs.self_s": (med("crawl"), "s"),
                "bfs.jobs": (statistics.median(jobs), "count"),
                "store.write_s": (med("store.write"), "s"),
                "store.commit_s": (med("store.commit"), "s"),
                "store.read_s": (med("store.read"), "s"),
                "sink.write_s": (med("sink"), "s"),
                "trace.count_s": (med("trace.count"), "s"),
                "trace.crawl_s": (statistics.median(t for _, t, _, _ in traced), "s"),
                "trace.untraced_crawl_s": (statistics.median(untraced), "s"),
            }
        )
        m["trace.overhead_ratio"] = (
            m["trace.crawl_s"][0] / m["trace.untraced_crawl_s"][0],
            "ratio",
        )
        kernel, n_parsed = self.kernel_probe()
        m.update(kernel)
        m["scan.s"] = (self.scan_probe(), "s")
        kernel_share = m["kernel.us_per_page"][0] * n_parsed / 1e6 / CORES
        m["extract.handoff_s"] = (
            m["extract.s"][0] - m["scan.s"][0] - kernel_share,
            "s",
        )
        rate1 = self.local1_rate()
        if rate1 is not None:
            m["scaling_eff_1to4"] = (statistics.median(rates) / (CORES * rate1), "ratio")
        with open(f"{WORK}/spans-{self.wl.name}-seed{self.seed}.json", "w") as f:
            json.dump(spans, f)
        return m

    def traced_crawl(self, tracer) -> list[tuple]:
        """One checked crawl with spans on: [(crawl id, seconds, counts,
        run)], or [] when it failed."""
        tracer.crawl = self.attempted
        counts = dict.fromkeys(
            ("extract.rows_out", "ordering.rows", "politeness.candidates",
             "politeness.deferred"),
            0,
        )
        uninstall = tracing.install(tracer, counts)
        try:
            res = self.checked_crawl(tracer=tracer)
        finally:
            uninstall()
        return [] if res is None else [(tracer.crawl, res[0], counts, res[1])]

    def counts_from_outputs(self, run) -> dict:
        """Exact counts from the crawl's lineage rows and snapshot store."""
        import pyarrow.parquet as pq

        lin = pq.read_table(f"{self.work}/out/lineage").to_pylist()
        rounds = [r for r in lin if r["partition_id"] == -1]
        parts = [r for r in lin if r["partition_id"] >= 0]
        files = mb = 0
        for dirpath, _, names in os.walk(f"{self.work}/ckpt"):
            for name in names:
                files += 1
                mb += os.path.getsize(os.path.join(dirpath, name)) / 1e6
        return {
            "bfs.rounds": (run.rounds, "count"),
            "bfs.candidates": (sum(r["candidates"] for r in rounds), "count"),
            "bfs.dedup_hits": (sum(r["dedup_hits"] for r in rounds), "count"),
            "extract.html_mb": (sum(r["bytes_fetched"] for r in parts) / 1e6, "MB"),
            "store.files_written": (files, "count"),
            "store.mb_written": (mb, "MB"),
        }

    def kernel_probe(self) -> tuple[dict, int]:
        """``extract_links`` alone, no Spark, over a sample of the pages the
        crawl parses, with the HTML the crawl reads; also the number of
        pages the crawl parses."""
        parsed = workloads.parsed_page_ids(self.wl, self.oracle)
        sample = random.Random(self.seed).sample(
            parsed, min(KERNEL_SAMPLE, len(parsed))
        )
        docs = [
            (corpus.html_of(i, self.wl.n_pages, self.wl.filler_paras).encode(),
             corpus.url_of(i))
            for i in sample
        ]
        passes, links = [], 0
        for _ in range(PROBE_PASSES):
            links = 0
            t0 = time.perf_counter()
            for html, url in docs:
                links += len(extract_links(html, url))
            passes.append(time.perf_counter() - t0)
        return {
            "kernel.us_per_page": (statistics.median(passes) / len(docs) * 1e6, "us"),
            "kernel.links_per_page": (links / len(docs), "count"),
        }, len(parsed)

    def scan_probe(self) -> float:
        """Pages scan + broadcast fetch join of each round's recorded slice,
        consuming the HTML natively: the extraction job minus Python."""
        from pyspark.sql import functions as F

        by_round: dict[int, list] = {}
        for _seq, url, _d, _p, rnd in self.oracle.trace:
            by_round.setdefault(rnd, []).append((url,))
        pages = self.pages.select("url", "status", "content_type", "html")
        slices = [
            self.spark.createDataFrame(urls, "url string").localCheckpoint()
            for urls in by_round.values()
        ]
        passes = []
        for _ in range(PROBE_PASSES):
            t0 = time.perf_counter()
            for s in slices:
                pages.join(F.broadcast(s), "url").agg(
                    F.sum(F.length("html")), F.count("*")
                ).collect()
            passes.append(time.perf_counter() - t0)
        return statistics.median(passes)

    def local1_rate(self) -> float | None:
        """URLs/s of one checked crawl on the same inputs at local[1], after
        a warm-up crawl that starts the new session's Python worker."""
        self.cores = 1
        try:
            self.setup()
            self.checked_crawl()
            res = self.checked_crawl()
        finally:
            self.cores = CORES
        return None if res is None else res[1].recorded / res[0]


def host_loop_ms() -> float:
    """Median time of a fixed pure-Python loop: on a shared host it shows
    how fast the machine ran, which the load average of a VM does not."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i % 7 for i in range(300_000))
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def context(args) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "loadavg": list(os.getloadavg()),
        "host_loop_ms": host_loop_ms(),
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # keep Spark's and Python's scratch files inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    ctx_before = context(args)
    bench = None
    try:
        bench = Bench(workloads.WORKLOADS[args.workload], args.seed, args.seconds, work)
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
    finally:
        if bench is not None and bench.spark is not None:
            shutdown(bench.spark)
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    error_rate = bench.failed / bench.attempted
    print(f"error_rate {error_rate:.6g} ratio ({bench.failed}/{bench.attempted})")
    ctx = {
        **ctx_before,
        "loadavg_end": list(os.getloadavg()),
        "host_loop_ms_end": host_loop_ms(),
    }
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps({"context": ctx}))
    with open(os.path.join(WORK, "results.jsonl"), "a") as f:
        f.write(json.dumps({**ctx, **result}) + "\n")
    print(json.dumps(result))
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
