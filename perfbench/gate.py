"""Correctness gate: a crawl's written trace + downloads against the oracle.

Both sides reduce to one digest over the same canonical form, so the gate
compares one string per crawl. The oracle digest is computed once per
(workload, seed), outside every timed region.
"""

from __future__ import annotations

import hashlib
import json

import pyarrow.parquet as pq

TRACE_COLS = ("seq", "url", "depth", "parent_url", "round")


def digest(trace_rows, download_urls) -> str:
    """sha256 over the sorted trace rows and the sorted download URLs."""
    rows = sorted(json.dumps(list(r)) for r in trace_rows)
    body = json.dumps([rows, sorted(download_urls)])
    return hashlib.sha256(body.encode()).hexdigest()


def oracle_digest(result) -> str:
    return digest(result.trace, result.downloads)


def read_trace(out_dir: str) -> list[tuple]:
    cols = pq.read_table(f"{out_dir}/trace", columns=list(TRACE_COLS)).to_pydict()
    return list(zip(*(cols[c] for c in TRACE_COLS)))


def output_digest(out_dir: str) -> str:
    """Digest of what a crawl wrote under ``out_dir`` (trace/, downloads/)."""
    urls = pq.read_table(f"{out_dir}/downloads", columns=["url"]).column("url")
    return digest(read_trace(out_dir), urls.to_pylist())
