"""The benchmark's correctness gate fails a perturbed trace.

    python3 -m pytest perfbench -q

No Spark: the crawl outputs are written the way the engine writes them,
from the oracle's own result, then perturbed.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gate, run, workloads  # noqa: E402

WL = workloads.Workload(
    name="tiny", n_pages=150, filler_paras=0, n_seeds=4, max_depth=4
)


@pytest.fixture(scope="module")
def oracle():
    return workloads.oracle_result(WL, seed=7)


def write_outputs(out_dir: str, trace: list[tuple], downloads: list[str]) -> None:
    cols = list(zip(*trace))
    os.makedirs(f"{out_dir}/trace", exist_ok=True)
    os.makedirs(f"{out_dir}/downloads", exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "seq": pa.array(cols[0], pa.int64()),
                "url": pa.array(cols[1], pa.string()),
                "depth": pa.array(cols[2], pa.int32()),
                "parent_url": pa.array(cols[3], pa.string()),
                "round": pa.array(cols[4], pa.int32()),
                "host": pa.array(["h"] * len(trace), pa.string()),
            }
        ),
        f"{out_dir}/trace/part-00000.parquet",
    )
    pq.write_table(
        pa.table({"url": pa.array(downloads, pa.string())}),
        f"{out_dir}/downloads/part-00000.parquet",
    )


def perturbations(trace: list[tuple]):
    t = [list(r) for r in trace]
    yield "row dropped", [tuple(r) for r in t[:-1]]
    swapped = [r[:] for r in t]
    swapped[1][0], swapped[2][0] = swapped[2][0], swapped[1][0]
    yield "two seqs swapped", [tuple(r) for r in swapped]
    deeper = [r[:] for r in t]
    deeper[-1][2] += 1
    yield "depth changed", [tuple(r) for r in deeper]
    moved = [r[:] for r in t]
    moved[-1][4] -= 1
    yield "round changed", [tuple(r) for r in moved]


def test_oracle_outputs_pass_the_gate(oracle, tmp_path):
    assert len(oracle.trace) > 10 and oracle.downloads
    write_outputs(str(tmp_path), oracle.trace, list(reversed(oracle.downloads)))
    assert gate.output_digest(str(tmp_path)) == gate.oracle_digest(oracle)


def test_perturbed_trace_fails_the_gate(oracle, tmp_path):
    want = gate.oracle_digest(oracle)
    for i, (what, trace) in enumerate(perturbations(oracle.trace)):
        out = str(tmp_path / str(i))
        write_outputs(out, trace, oracle.downloads)
        assert gate.output_digest(out) != want, what
    out = str(tmp_path / "downloads")
    write_outputs(out, oracle.trace, oracle.downloads[1:])
    assert gate.output_digest(out) != want


def test_mismatch_and_exception_count_as_failed(oracle, tmp_path):
    bench = run.Bench.__new__(run.Bench)
    bench.work, bench.want, bench.t_process = str(tmp_path), gate.oracle_digest(oracle), 0.0
    bench.attempted = bench.failed = 0

    def bad_crawl(**_):
        write_outputs(f"{tmp_path}/out", list(perturbations(oracle.trace))[1][1],
                      oracle.downloads)
        return 1.0, None

    def raising_crawl(**_):
        raise RuntimeError("crawl failed")

    def good_crawl(**_):
        write_outputs(f"{tmp_path}/out", oracle.trace, oracle.downloads)
        return 1.0, "run"

    for crawl, ok in ((bad_crawl, False), (raising_crawl, False), (good_crawl, True)):
        bench.crawl = crawl
        assert (bench.checked_crawl() is not None) == ok
    assert (bench.attempted, bench.failed) == (3, 2)
