"""Crawl-snapshot delta — change detection between two crawls.

An incremental crawl/index pipeline needs, after every crawl, the set of
pages ADDED, REMOVED, CHANGED or UNCHANGED relative to the previous
snapshot: added pages enter the processing pipeline, changed ones
invalidate downstream artifacts (extracted text, embeddings, dedup
clusters), removed ones tombstone, unchanged ones are skipped entirely.
At 100 TB the skip IS the economics — a daily recrawl typically touches
a few percent of the corpus, and everything downstream of this diff runs
on that slice instead of the whole table.

Dataflow: both snapshots are projected to ``(key, md5(content))`` BEFORE
the join, so the wide text column never shuffles; the delta is ONE
full-outer equi-join on the key and the status is a pure null-ness /
hash-compare expression — whole-stage codegen, no UDF. At 10^10 URLs
this is the cheapest possible diff: two narrow column-pruned scans plus
one shuffle of (url, 32-hex-char) pairs. Feed the ``changed`` slice to
``CrawlEngine.run_with_seen`` as expired seeds (the TTL-recrawl entry)
and the ``removed`` slice to the snapshot store as tombstones.

Reference parity note: the Go engine keeps no cross-run history — its
``Manager.seen`` map dies with the process (reference
internal/crawler/structs.go:11-24) — so snapshot diffing is the first
thing a persistent deployment of it would need; this operator is that
stage, built on the same first-wins URL-key contract as F1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: status values, fixed vocabulary (stable for downstream routing)
STATUSES = ("added", "removed", "changed", "unchanged")


def snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    text_col: str = "text",
    hash_col: str | None = None,
) -> DataFrame:
    """Diff two crawl snapshots → ``(key, status, old_hash, new_hash)``.

    ``status``: ``added`` (key only in ``new``), ``removed`` (only in
    ``old``), ``changed`` (both, hash differs), ``unchanged`` (both, hash
    equal). Hashes are ``md5(text_col)`` computed under the scan
    projection — pass ``hash_col`` instead to reuse a persisted content
    hash (the snapshot store keeps one per URL) and skip the text read
    entirely. Keys must be unique per snapshot (the engine's first-wins
    seen contract guarantees it for crawl traces); duplicate keys would
    fan out the join.

    Scale shape: narrow projection → one full-outer hash equi-join →
    codegen status expression. No window, no UDF, text never moves.
    """
    h = (
        F.col(hash_col)
        if hash_col is not None
        else F.md5(F.col(text_col))
    )
    # side-presence is keyed on the KEY, not on hash nullness: a row whose
    # text (or persisted hash) is NULL is still PRESENT in its snapshot —
    # status must read changed/unchanged, never added/removed (a live page
    # must never be tombstoned because its hash was null). NULL-safe
    # equality treats two null hashes as unchanged.
    o = old.select(
        F.col(key_col).alias("_k"),
        h.alias("old_hash"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col(key_col).alias("_k"),
        h.alias("new_hash"),
        F.lit(True).alias("_in_new"),
    )
    joined = o.join(n, "_k", "full_outer")
    status = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(
            F.col("old_hash").eqNullSafe(F.col("new_hash")),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        F.col("_k").alias(key_col),
        status.alias("status"),
        "old_hash",
        "new_hash",
    )


def delta_report(delta: DataFrame) -> DataFrame:
    """→ (status, n): one map-side-combining count per status — the
    audit row every incremental crawl logs (and the alert when
    ``changed + added`` spikes past the recrawl budget)."""
    return delta.groupBy("status").agg(F.count("*").alias("n"))


#: Cho & Garcia-Molina (TOIT 2003) bias-reduced Poisson change-rate
#: estimator: with a URL observed over n recrawl intervals and seen
#: changed in x of them, lambda_hat = -ln((n - x + 0.5) / (n + 0.5))
#: changes per interval. The +0.5 terms keep the estimate finite when
#: x == n (changed every time) and positive-biased-corrected when x == 0.
CHO_GM_OFFSET = 0.5


def change_rates(
    history: DataFrame,
    key_col: str = "url",
    status_col: str = "status",
    max_interval: int = 64,
) -> DataFrame:
    """Per-URL change-rate estimation over a history of snapshot deltas —
    the feedback loop that turns :func:`snapshot_delta` outputs into a
    recrawl SCHEDULE: crawl fast-changing URLs often, park static ones.

    ``history`` is the union of delta outputs across runs (any extra
    columns like run_id are ignored); only rows observed on both sides of
    a diff (``changed`` / ``unchanged``) are evidence — added/removed rows
    say nothing about the page's change process. Output per URL:

    * ``n_obs`` / ``n_changed`` — observation intervals and changes seen;
    * ``change_rate`` — the Cho–Garcia-Molina estimator above, rounded to
      6 decimals (changes per recrawl interval);
    * ``next_interval`` — recrawl cadence in intervals:
      ``clamp(round(1/rate), 1, max_interval)``, with the rate-0 (never
      seen changed) case parked at ``max_interval``. Feed it into the
      scheduler the same way as the PageRank rank table (higher
      1/interval = recrawl sooner), or gate ``run_with_seen`` seed
      batches on ``round % next_interval == 0``.

    Scale shape: ONE map-side-combining groupBy on the key (counts only —
    the hash columns are dropped before the shuffle); the estimator is
    pure codegen arithmetic on the aggregated counts. No window, no UDF.
    """
    obs = history.where(
        F.col(status_col).isin("changed", "unchanged")
    ).select(
        F.col(key_col),
        (F.col(status_col) == "changed").cast("int").alias("_c"),
    )
    agg = obs.groupBy(key_col).agg(
        F.count("*").alias("n_obs"), F.sum("_c").alias("n_changed")
    )
    return change_rates_from_counts(agg, key_col=key_col, max_interval=max_interval)


def change_rates_from_counts(
    counts: DataFrame,
    key_col: str = "url",
    max_interval: int = 64,
) -> DataFrame:
    """The estimator half of :func:`change_rates`, over pre-aggregated
    evidence counts ``(key, n_obs, n_changed)`` — the form a STREAMING
    accumulator keeps (streaming/delta_stream.py folds per-batch counts;
    counts are associative, so stream state == batch history exactly).
    Same output columns and arithmetic as :func:`change_rates`."""
    rate = -F.log(
        (F.col("n_obs") - F.col("n_changed") + F.lit(CHO_GM_OFFSET))
        / (F.col("n_obs") + F.lit(CHO_GM_OFFSET))
    )
    interval = F.when(
        F.col("n_changed") == 0, F.lit(max_interval)
    ).otherwise(
        F.least(
            F.lit(max_interval),
            F.greatest(F.lit(1), F.round(F.lit(1.0) / rate, 0).cast("int")),
        )
    )
    return counts.select(
        key_col,
        "n_obs",
        "n_changed",
        F.round(rate, 6).alias("change_rate"),
        interval.cast("int").alias("next_interval"),
    )


def due_for_recrawl(
    rates: DataFrame,
    tick: int,
    key_col: str = "url",
    interval_col: str = "next_interval",
) -> DataFrame:
    """The scheduler tick: from a :func:`change_rates` table, the URLs due
    for recrawl at interval-counter ``tick`` — everything whose cadence
    divides the tick (``tick % next_interval == 0``). Feed the result to
    ``CrawlEngine.run_with_seen`` as the expired slice (seeds = due ∩
    previous trace, seen = previous trace ∖ due): fast-changing pages
    re-fetch every tick, parked pages only at ``max_interval`` multiples.
    URLs with no change evidence never appear in ``rates`` and therefore
    never expire here — schedule their first revisit by TTL instead.

    Pure codegen filter over the (already tiny, counts-only) rates table;
    at 10^10 URLs the due slice is the recrawl economics — each tick's
    fetch volume is proportional to the corpus' real churn, not its size.
    """
    if tick <= 0:
        raise ValueError(f"tick must be >= 1, got {tick}")
    return rates.where(F.lit(tick) % F.col(interval_col) == 0).select(
        key_col, interval_col
    )
