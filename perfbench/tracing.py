"""Spans around the calls into each crawl layer, recorded from outside.

``install(tracer, counts)`` wraps the public functions the engine calls into
and returns the function that restores them. A span is (id, crawl, name,
parent, start, end); spans stay in memory and are written out when the
benchmark ends.

Spark evaluates lazily, so a span holds whatever work its call forces:

* ``extract``: ``extract_round_outputs`` plus the eager local checkpoint
  the engine applies to its result, which runs the pages scan, the
  broadcast fetch join, the Arrow hand-off and the kernel.
* ``ordering``: ``with_global_seq``, whose range-partition checkpoint
  forces the round's lazy F1 dedup, J1 seen anti-join and, with a
  scheduler, the salted ranking.
* ``politeness``: ``PolitenessScheduler.apply`` builds a plan only; its
  work runs inside ``ordering``.
* ``store.write`` / ``store.commit`` / ``store.read``: ``SnapshotStore``
  writes (each recomputes the frame it writes), the manifest flip, and the
  resume-side reads, which list files and read footers; the scans they set
  up run later, inside the resumed rounds' spans.
* ``sink``: the output writes, which recompute the trace parts from their
  round checkpoints.
* ``trace.count``: row counts taken for the benchmark only (overhead).

The root span ``crawl`` covers engine construction through the sink; its
self time is the driver loop of ``plans.bfs``: frontier and dedup counts,
the seen merge, lineage collects and the gaps between jobs.
"""

from __future__ import annotations

import contextlib
import time

from geospatial_web_scraper_spark.operators.politeness import PolitenessScheduler
from geospatial_web_scraper_spark.plans import bfs
from geospatial_web_scraper_spark.plans.store import SnapshotStore


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.crawl = 0
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        # a nested call into the same layer (read_series → read) belongs to
        # the outer span
        if self._stack and self._stack[-1]["name"] == name:
            yield self._stack[-1]
            return
        rec = {
            "id": len(self.spans),
            "crawl": self.crawl,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def with_self_times(self) -> list[dict]:
        """Every span with ``self``: its duration minus the part its direct
        children cover. Over one crawl the self times sum to the root's
        duration."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [
            {**s, "self": s["end"] - s["start"] - child.get(s["id"], 0.0)}
            for s in self.spans
        ]


def layer_times(spans: list[dict]) -> dict[str, float]:
    """Per span name, the summed self time of one crawl's spans."""
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["self"]
    return out


def install(tracer: Tracer, counts: dict):
    """Wrap the layer entry points. ``counts`` accumulates, per crawl,
    ``extract.rows_out``, ``ordering.rows`` and, with a scheduler,
    ``politeness.candidates`` and ``politeness.deferred``. Returns the
    function that unwraps them."""
    originals: list[tuple[object, str, object]] = []
    # the scheduler input of the current round, counted once ordering has
    # forced it, so that the count moves no work out of the ordering span
    scheduled: list[tuple[PolitenessScheduler, object]] = []

    def patch(owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        originals.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def extract(orig):
        def wrapped(*a, **k):
            with tracer.span("extract"):
                df = orig(*a, **k).localCheckpoint(eager=True)
            with tracer.span("trace.count"):
                counts["extract.rows_out"] += df.count()
            # the engine checkpoints this frame eagerly; that materialization
            # already ran inside the span, so its own call becomes a no-op
            return _already_checkpointed(df)

        return wrapped

    def ordering(orig):
        def wrapped(*a, **k):
            with tracer.span("ordering"):
                out, n = orig(*a, **k)
            counts["ordering.rows"] += n
            while scheduled:
                sched, candidates = scheduled.pop()
                with tracer.span("trace.count"):
                    counts["politeness.candidates"] += candidates.count()
                    if sched.deferred is not None:
                        counts["politeness.deferred"] += sched.deferred.count()
            return out, n

        return wrapped

    def politeness(orig):
        def wrapped(sched, df, rnd):
            with tracer.span("politeness"):
                out = orig(sched, df, rnd)
            scheduled.append((sched, df))
            return out

        return wrapped

    def spanned(name):
        def make(orig):
            def wrapped(*a, **k):
                with tracer.span(name):
                    return orig(*a, **k)

            return wrapped

        return make

    patch(bfs, "extract_round_outputs", extract)
    patch(bfs, "with_global_seq", ordering)
    patch(PolitenessScheduler, "apply", politeness)
    patch(SnapshotStore, "write", spanned("store.write"))
    patch(SnapshotStore, "commit", spanned("store.commit"))
    patch(SnapshotStore, "read", spanned("store.read"))
    patch(SnapshotStore, "read_series", spanned("store.read"))

    def uninstall() -> None:
        while originals:
            owner, attr, orig = originals.pop()
            setattr(owner, attr, orig)

    return uninstall


def _already_checkpointed(df):
    cls = type(
        "CheckpointedDataFrame",
        (type(df),),
        {"localCheckpoint": lambda self, eager=True, storageLevel=None: self},
    )
    return cls(df._jdf, df.sparkSession)
