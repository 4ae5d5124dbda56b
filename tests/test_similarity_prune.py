"""The shared Arrow pair-scoring driver (operators/similarity.py
``_pair_scores``): losslessness of its per-task top-k prune against the
unpruned kernel for every scorer, the _PRUNE_MARGIN rounding-safety
property it relies on, and Spark-free checks of the batch driver on
hand-made Arrow batches (sliced ListArray, width mismatch, NaN)."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from functools import partial

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from gravity_books_datalakehouse_spark.operators.similarity import (
    _PRUNE_MARGIN,
    _TOPK,
    _cosine_ladder,
    _pair_batches,
    _pair_scores,
    _quantized,
    _quantized_cosine,
    collect_query_vectors,
    pair_cosine_arrow,
)
from gravity_books_datalakehouse_spark.sources.catalog import load_table
from tests.conftest import SF_SMOKE


def _kernel(spark, scorer: str, per_task_topk):
    """(pair frame, score columns) for one of the three scorers."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    if scorer == "int64":
        qv = _quantized(e)
        qids, qvecs = collect_query_vectors(
            qv.filter(F.col("vec_id") < 10), "vec_id", "q"
        )
        kern = _pair_scores(
            qv, "q", qids, np.asarray(qvecs, dtype=np.int64),
            _quantized_cosine, ["cos_q"], per_task_topk,
        )
        return kern, ["cos_q"]
    qids, qvecs = collect_query_vectors(
        e.filter(F.col("vec_id") < 10), "vec_id", "embedding"
    )
    dims = (8, 16) if scorer == "ladder" else ()
    kern = pair_cosine_arrow(
        e, qids, qvecs, dims=dims, per_task_topk=per_task_topk
    )
    return kern, [f"c{d}" for d in dims] + ["cs"]


@pytest.mark.parametrize("scorer", ["cosine", "ladder", "int64"])
def test_pruned_topk_bit_identical(spark, scorer):
    """Per score column, the windowed top-k over the pruned kernel
    equals the unpruned one row-for-row INCLUDING the raw score doubles
    (the prune only drops rows, never touches values; the ladder keeps
    the union over its rungs)."""
    outs = []
    for k in (None, _TOPK + 1):
        kern, cols = _kernel(spark, scorer, k)
        kern = kern.filter(F.col("qid") != F.col("nid"))
        rows = []
        for col in cols:
            w = Window.partitionBy("qid").orderBy(F.desc(col), F.asc("nid"))
            rows.extend(
                kern.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= _TOPK)
                .select(F.lit(col).alias("score"), "qid", "nid", "rk", col)
                .collect()
            )
        outs.append(sorted(rows))
    assert len(outs[0]) == 10 * _TOPK * len(cols)
    assert outs[0] == outs[1]


def test_zero_norm_query_fails_loudly(spark):
    """A zero-norm query makes every one of its cosines NaN; the pruned
    kernel must raise instead of silently emitting no rows for it."""
    e = load_table(spark, SF_SMOKE, "embeddings")
    qids, qvecs = collect_query_vectors(
        e.filter(F.col("vec_id") < 2), "vec_id", "embedding"
    )
    qvecs[1] = [0.0] * len(qvecs[1])
    kern = pair_cosine_arrow(e, qids, qvecs, per_task_topk=_TOPK + 1)
    with pytest.raises(Exception, match="NaN pair score"):
        kern.collect()


def test_prune_margin_is_rounding_safe():
    """Two doubles more than _PRUNE_MARGIN apart can never round to the
    same 6-dp value (so a row beaten by > margin also loses under any
    rounded-6 comparator). Checked on adversarial near-boundary pairs."""
    q = Decimal("0.000001")

    def r6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))

    bases = [0.1234565, 0.9999995, -0.0000005, 0.5, 0.1234575]
    for b in bases:
        for eps in (2.0000001e-6, 2.1e-6, 3e-6, 1e-5):
            hi, lo = b + eps, b
            assert r6(hi) > r6(lo), (hi, lo, r6(hi), r6(lo))


# --- Spark-free: the batch driver on hand-made Arrow batches -----------

_D = 16


def _batch(vecs, ids=None):
    ids = np.arange(len(vecs)) if ids is None else ids
    return pa.record_batch(
        [
            pa.array(np.asarray(ids, dtype=np.int64)),
            pa.array([list(v) for v in vecs], type=pa.list_(pa.float32())),
        ],
        names=["nid", "embedding"],
    )


def _drive(batches, Q, per_task_topk=None, dims=()):
    score = partial(_cosine_ladder, dims)
    names = [f"c{d}" for d in dims] + ["cs"]
    qids = np.arange(100, 100 + len(Q), dtype=np.int64)
    out = pa.Table.from_batches(
        list(_pair_batches(iter(batches), qids, Q, score, names, per_task_topk))
    )
    return {c: out.column(c).to_numpy() for c in out.column_names}


def test_driver_honors_sliced_list_array():
    """A sliced batch (nonzero offsets[0]) scores exactly the rows of the
    slice — bit-equal to the same rows in a fresh, unsliced batch."""
    rng = np.random.default_rng(3)
    X = rng.standard_normal((40, _D)).astype(np.float32)
    Q = X[:3].astype(np.float64)
    sliced = _batch(X).slice(25, 10)
    assert sliced.column(1).offsets[0].as_py() == 25 * _D
    fresh = _batch(X[25:35], ids=np.arange(25, 35))
    for k in (None, 2):
        got = _drive([sliced], Q, k, dims=(4,))
        want = _drive([fresh], Q, k, dims=(4,))
        assert list(got) == ["qid", "nid", "c4", "cs"]
        for c in got:
            assert got[c].tobytes() == want[c].tobytes(), (k, c)
    assert sorted(set(_drive([sliced], Q)["nid"])) == list(range(25, 35))


def test_driver_rejects_width_mismatch():
    rng = np.random.default_rng(4)
    X = rng.standard_normal((5, _D)).astype(np.float32)
    Q = X[:2].astype(np.float64)
    ragged = pa.record_batch(
        [
            pa.array(np.arange(3, dtype=np.int64)),
            pa.array(
                [list(X[0]), list(X[1][:-1]), list(X[2])],
                type=pa.list_(pa.float32()),
            ),
        ],
        names=["nid", "embedding"],
    )
    with pytest.raises(ValueError, match="width differs"):
        _drive([ragged], Q)


def test_driver_raises_on_nan_score_when_pruning():
    """Unpruned, a zero-norm query scores NaN like the fold does; pruned,
    the NaN would zero that query's threshold test, so it raises."""
    rng = np.random.default_rng(5)
    X = rng.standard_normal((20, _D)).astype(np.float32)
    Q = np.vstack([X[0].astype(np.float64), np.zeros(_D)])
    with np.errstate(invalid="ignore"):  # 0/0 is the point of the test
        unpruned = _drive([_batch(X)], Q)
        assert np.isnan(unpruned["cs"][unpruned["qid"] == 101]).all()
        with pytest.raises(ValueError, match="NaN pair score"):
            _drive([_batch(X)], Q, per_task_topk=3)
