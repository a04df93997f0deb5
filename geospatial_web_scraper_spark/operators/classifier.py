"""Hash-n-gram linear text classifier — model-based quality filtering.

The quality-filter stage every large LLM corpus build runs after the
heuristic gates: a linear classifier over hashed bag-of-n-gram features
(the fastText architecture of Joulin et al. 2016, the CCNet / GPT-3
"quality model" stage — Wenzek et al. 2019, Brown et al. 2020 §2.2
describe exactly this shape). Training happens offline; what the 100 TB
pipeline needs is the INFERENCE pass, and that is embarrassingly
parallel: hash each token (and optionally each word bigram) into one of
``n_buckets`` buckets, sum the bucket weights, average, threshold. No
shuffle, no model server, no per-row Python below the dispatch bound.

Determinism contract (the same micro-unit trick as operators/lm.py):
weights are quantized to integer MICRO-units (round(w * 1e6)) before any
summation, so the per-document score is an exact integer sum — immune to
float summation order — and the keep decision is an integer comparison
(sum_micro >= thr_micro * n_features), never a float threshold on a
rounded value. The feature hash is the md5-60-bit family every dedup
operator here uses (bit-identical in any SQL engine, so a DuckDB oracle
value-checks the whole pass; reference parity note: the Go engine has no
learned filtering — `internal/crawler/crawler.go` keeps every fetched
page — this is a beyond-the-reference corpus-pipeline stage).

Scale shape: with ``n_buckets`` under the Janino literal budget the whole
scorer is ONE whole-stage-codegen expression (array literal + in-order
fold); past it, the weight table rides an Arrow pandas_udf as broadcast
model weights — the pq._lut_col dispatch pattern. Either way the text
column is read once under the scan and nothing shuffles.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .textstats import tokens_expr, word_ngrams_expr

__all__ = [
    "MICRO",
    "NATIVE_BUCKET_BUDGET",
    "classifier_keep_expr",
    "feature_bucket_expr",
    "quality_classifier",
    "synthetic_weights",
]

#: micro-unit scale for integer-exact weight summation
MICRO = 1_000_000

#: past this many weight literals the scorer dispatches to an Arrow
#: kernel — an N-literal native array costs seconds of uncached Janino
#: compile per execution above ~256 (measured for the PQ LUTs; see
#: operators/pq.py _LUT_LITERAL_BUDGET)
NATIVE_BUCKET_BUDGET = 256


def feature_bucket_expr(feature: Column, n_buckets: int) -> Column:
    """md5-60-bit bucket of a feature string: positive, engine-portable
    (DuckDB: ``('0x' || substr(md5(s), 1, 15))::BIGINT % n``)."""
    return (
        F.conv(F.substring(F.md5(feature), 1, 15), 16, 10).cast("long")
        % n_buckets
    )


def synthetic_weights(n_buckets: int) -> list[float]:
    """Deterministic stand-in weight vector in [-1.0, 1.0] (deci-steps):
    ``w[b] = ((b * 37 + 11) % 21 - 10) / 10``. A real deployment loads
    trained weights; the formula exists so catalog queries and SQL
    oracles can rebuild the identical model arithmetically."""
    return [((b * 37 + 11) % 21 - 10) / 10.0 for b in range(n_buckets)]


def _micro_weights(weights: list[float]) -> list[int]:
    return [int(round(w * MICRO)) for w in weights]


def _native_sum_expr(feats: Column, w_micro: list[int]) -> Column:
    """The in-order integer micro-unit fold over a feature array — ONE
    whole-stage-codegen expression. Shared by quality_classifier's native
    dispatch and :func:`classifier_keep_expr`, so there is exactly one
    copy of the fold to keep in sync with the Arrow kernel and the SQL
    oracle. The weight array is bound ONCE per row via the transform-wrap
    trick: subtrees inside a higher-order-function lambda get no CSE, so
    a bare ``element_at(warr, …)`` would rebuild the n_buckets-literal
    array per FEATURE (measured 1.8× the whole fold at 64 buckets); as a
    lambda variable it is constructed once. element_at is 1-based."""
    n_buckets = len(w_micro)
    warr = F.array(*[F.lit(w).cast("long") for w in w_micro])
    return F.transform(
        F.array(warr),
        lambda wa: F.aggregate(
            feats,
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + F.element_at(
                wa, (feature_bucket_expr(t, n_buckets) + 1).cast("int")
            ),
        ),
    )[0]


def classifier_keep_expr(
    text: Column,
    weights: list[float],
    threshold: float = 0.0,
    use_bigrams: bool = True,
) -> Column:
    """The model-based quality gate as ONE scan-local boolean expression
    over the text column — zero shuffle, zero join, so a curation
    pipeline can fold it into its stage-1 WHERE exactly like the
    heuristic gates (operators/curate.py quality_gate='classifier').
    Identical keep decisions to ``quality_classifier(...)["kept"]``
    (integer-exact ``sum_micro >= round(threshold·1e6)·n_features``,
    zero-feature docs dropped) — parity pinned in tests/test_classifier.py.
    Native codegen path only: above :data:`NATIVE_BUCKET_BUDGET` buckets
    use :func:`quality_classifier` (Arrow dispatch) and join its ``kept``
    column instead."""
    n_buckets = len(weights)
    if n_buckets < 1:
        raise ValueError("weights must be non-empty")
    if n_buckets > NATIVE_BUCKET_BUDGET:
        raise ValueError(
            f"classifier_keep_expr is the native-codegen path: {n_buckets}"
            f" buckets exceeds NATIVE_BUCKET_BUDGET={NATIVE_BUCKET_BUDGET}"
            " (the Janino literal-compile cliff); use quality_classifier"
        )
    w_micro = _micro_weights(weights)
    thr_micro = int(round(threshold * MICRO))
    low = F.lower(text)
    toks = tokens_expr(low)
    ntok = F.size(toks)
    if use_bigrams:
        feats = F.concat(toks, word_ngrams_expr(low, 2))
        nfeat = F.when(ntok > 0, ntok * 2 - 1).otherwise(F.lit(0))
    else:
        feats = toks
        nfeat = ntok
    return F.when(
        nfeat > 0, _native_sum_expr(feats, w_micro) >= F.lit(thr_micro) * nfeat
    ).otherwise(F.lit(False))


def quality_classifier(
    docs: DataFrame,
    weights: list[float],
    threshold: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    use_bigrams: bool = True,
) -> DataFrame:
    """Score and gate documents with a hashed-feature linear model →
    ``(id_col, n_features, score, kept)``.

    Features are the lower-cased whitespace tokens plus (by default) the
    word bigrams, hashed into ``len(weights)`` buckets. ``score`` is the
    mean bucket weight over the document's features, rounded to 6
    decimals; ``kept`` is the integer-exact comparison
    ``sum_micro >= round(threshold * 1e6) * n_features`` (never a float
    compare, so the gate can't flip on the last rounded digit). Documents
    with zero features score NULL and are dropped — no evidence, no keep
    (the cosine zero-vector contract).

    Weights are quantized to 1e-6 on entry; the per-doc sum is a single
    in-order integer fold over the feature array — pure whole-stage
    codegen below :data:`NATIVE_BUCKET_BUDGET` buckets, an Arrow batch
    kernel with broadcast numpy weights above it (identical outputs —
    integer sums have no accumulation-order ambiguity).
    """
    n_buckets = len(weights)
    if n_buckets < 1:
        raise ValueError("weights must be non-empty")
    w_micro = _micro_weights(weights)
    thr_micro = int(round(threshold * MICRO))

    low = F.lower(F.col(text_col))
    toks = tokens_expr(low)
    feats = toks
    # n_features from the token count ALONE (n tokens -> n + (n-1)
    # bigram features): size(feats) would re-derive the whole bigram
    # transform a second time just to count it — higher-order functions
    # are CodegenFallback, so Catalyst never CSEs the duplicate.
    ntok = F.size(toks)
    if use_bigrams:
        feats = F.concat(feats, word_ngrams_expr(low, 2))
        nfeat = F.when(ntok > 0, ntok * 2 - 1).otherwise(F.lit(0))
    else:
        nfeat = ntok

    d = docs.select(F.col(id_col), feats.alias("_f"), nfeat.alias("_n"))

    if n_buckets <= NATIVE_BUCKET_BUDGET:
        # the transform-wrap fold, shared with classifier_keep_expr —
        # one copy of the weight-binding trick (see _native_sum_expr)
        summ = _native_sum_expr(F.col("_f"), w_micro)
        d = d.select(
            id_col, F.col("_n").alias("n_features"), summ.alias("_sum")
        )
    else:
        wvec = np.asarray(w_micro, dtype=np.int64)

        @F.pandas_udf(T.LongType())
        def _score(feat_lists: pd.Series) -> pd.Series:
            out: list[int | None] = []
            for feats_row in feat_lists:
                if feats_row is None:
                    # NULL text -> NULL feature array: mirror the native
                    # fold (aggregate over NULL is NULL), keeping the two
                    # dispatch paths value-identical (r4 review finding)
                    out.append(None)
                    continue
                s = 0
                for t in feats_row:
                    b = (
                        int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                        % n_buckets
                    )
                    s += int(wvec[b])
                out.append(s)
            return pd.Series(out, dtype="Int64")

        d = d.select(
            id_col, F.col("_n").alias("n_features"), _score("_f").alias("_sum")
        )

    nf = F.col("n_features")
    score = F.when(
        nf > 0,
        F.round(F.col("_sum") / nf.cast("double") / F.lit(float(MICRO)), 6),
    )
    kept = F.when(
        nf > 0, F.col("_sum") >= F.lit(thr_micro) * nf
    ).otherwise(F.lit(False))
    return d.select(
        id_col,
        "n_features",
        score.alias("score"),
        kept.alias("kept"),
    )
