"""The benchmark's crawl workloads: inputs from a seed, the crawl, the oracle.

Every workload crawls ``corpus.py``'s arithmetic link graph, so
``oracle.crawl_oracle`` over ``corpus.pages_dict`` is its reference. The
workload seed only picks the seed URLs; the pages table of a workload is the
same for every seed.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from geospatial_web_scraper_spark import corpus
from geospatial_web_scraper_spark.oracle import crawl_oracle

# the pages table is written as this many equal parquet files, so the
# scan splits into one partition per core at local[4]
PAGE_FILES = 8
N_SALTS = 8  # scripts/crawl.py --n-salts default


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    filler_paras: int
    n_seeds: int
    max_depth: int
    max_rounds: int = 64
    # PolitenessScheduler(default_tokens_per_round=tokens); None = FIFO
    tokens: int | None = None
    # rounds the first engine runs before a fresh engine resume()s from the
    # snapshot store; None = no store
    resume_after: int | None = None

    def seed_ids(self, seed: int) -> list[int]:
        return random.Random(f"{self.name}:{seed}").sample(
            range(self.n_pages), self.n_seeds
        )

    def scheduler_spec(self) -> dict | None:
        if self.tokens is None:
            return None
        return {"default_tokens": self.tokens, "n_salts": N_SALTS}


WORKLOADS = {
    w.name: w
    for w in (
        # one frontier round over heavy pages (⅔ of them as seeds); the depth
        # gate lets round 1 record the extracted links without parsing
        # again. The extraction kernel and its Arrow hand-off are the largest
        # layer; no scheduler, no store
        Workload(
            name="round_wide",
            n_pages=6000,
            filler_paras=80,
            n_seeds=4000,
            max_depth=2,
        ),
        # two rounds over light pages with per-host tokens and a hot host, a
        # snapshot per round, the second round resumed by a fresh engine:
        # the per-round driver floor, J1, the salted dequeue and K5. Every
        # host exceeds its tokens in both rounds, so each crawl records 400
        # URLs whatever the seed.
        Workload(
            name="crawl_polite_ckpt",
            n_pages=1000,
            filler_paras=0,
            n_seeds=400,
            max_depth=4,
            max_rounds=2,
            tokens=20,
            resume_after=1,
        ),
    )
}


def write_inputs(wl: Workload, seed: int, dest: str) -> None:
    """``dest/pages`` (parquet files) and ``dest/seeds.parquet``, written
    without Spark so that input generation stays outside the set-up time."""
    n_pages = wl.n_pages
    ids = range(n_pages)
    pages = pa.table(
        {
            "page_id": pa.array(ids, pa.int64()),
            "url": [corpus.url_of(i) for i in ids],
            "html": pa.array(
                [corpus.html_of(i, n_pages, wl.filler_paras).encode() for i in ids],
                pa.binary(),
            ),
            "status": pa.array([corpus.status_of(i) for i in ids], pa.int32()),
            "content_type": [corpus.content_type_of(i) for i in ids],
            "host": [f"host{corpus.host_of(i)}.example.org" for i in ids],
        }
    )
    os.makedirs(f"{dest}/pages", exist_ok=True)
    for k in range(PAGE_FILES):
        lo, hi = k * n_pages // PAGE_FILES, (k + 1) * n_pages // PAGE_FILES
        pq.write_table(pages.slice(lo, hi - lo), f"{dest}/pages/part-{k:05d}.parquet")
    sids = wl.seed_ids(seed)
    pq.write_table(
        pa.table(
            {
                "seed_order": pa.array(range(len(sids)), pa.int32()),
                "url": [corpus.url_of(i) for i in sids],
                "description": [f"Seed {i}" for i in sids],
            }
        ),
        f"{dest}/seeds.parquet",
    )


def oracle_result(wl: Workload, seed: int):
    """The reference crawl. It reads the filler-free twin of every page:
    ``html_of``'s filler blocks sit in boilerplate-gated divs, so links and
    text are the same at any filler level, and a kernel that mishandled the
    heavy pages would show as a mismatch, never as a pass."""
    return crawl_oracle(
        corpus.pages_dict(wl.n_pages),
        [corpus.url_of(i) for i in wl.seed_ids(seed)],
        max_crawl=None,
        max_depth=wl.max_depth,
        scheduler=wl.scheduler_spec(),
        max_rounds=wl.max_rounds,
    )


def parsed_page_ids(wl: Workload, oracle) -> list[int]:
    """Ids of the pages whose links the crawl extracts: recorded, fetched
    with status 200, not a geo download, and above the depth gate."""
    geo = "application/zip"
    out = []
    for _seq, url, depth, _parent, _rnd in oracle.trace:
        if depth + 1 >= wl.max_depth or "/page/" not in url:
            continue
        i = int(url.rsplit("/", 1)[1].split(".")[0])
        if corpus.status_of(i) == 200 and corpus.content_type_of(i) != geo:
            out.append(i)
    return out


def run_crawl(spark, wl: Workload, pages, seeds, ckpt_dir: str):
    """The crawl as ``scripts/crawl.py`` runs it (budget off): lineage
    detail on, FIFO or the politeness scheduler, and for a checkpointed
    workload a fresh engine that resumes from the snapshot store."""
    from geospatial_web_scraper_spark.operators.politeness import (
        PolitenessScheduler,
    )
    from geospatial_web_scraper_spark.plans.bfs import CrawlEngine
    from geospatial_web_scraper_spark.plans.store import SnapshotStore

    def engine(max_rounds: int):
        scheduler = None
        if wl.tokens is not None:
            scheduler = PolitenessScheduler(
                default_tokens_per_round=wl.tokens, n_salts=N_SALTS
            )
        store = SnapshotStore(spark, ckpt_dir) if wl.resume_after else None
        return CrawlEngine(
            spark,
            pages,
            max_depth=wl.max_depth,
            max_crawl=None,
            store=store,
            scheduler=scheduler,
            max_rounds=max_rounds,
        )

    if wl.resume_after is None:
        return engine(wl.max_rounds).run(seeds)
    first = engine(wl.resume_after).run(seeds)
    run = engine(wl.max_rounds - wl.resume_after).resume()
    run.rounds += first.rounds
    return run


def write_outputs(run, out_dir: str) -> None:
    """The output sink of ``scripts/crawl.py``: trace, downloads with their
    file names, lineage."""
    from pyspark.sql import functions as F

    from geospatial_web_scraper_spark.functions.urls import filename_for_download

    run.trace.write.mode("overwrite").parquet(f"{out_dir}/trace")
    run.downloads.withColumn(
        "filename", filename_for_download(F.col("url"))
    ).write.mode("overwrite").parquet(f"{out_dir}/downloads")
    run.lineage.write.mode("overwrite").parquet(f"{out_dir}/lineage")
