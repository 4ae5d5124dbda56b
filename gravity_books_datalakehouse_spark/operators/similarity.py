"""Similarity search over embeddings (beyond-reference, SURVEY.md §2.8).

Operators over the ``embeddings`` table (``array<float>`` column), built
on three core shapes:

- **brute-force cosine top-k** — the correctness baseline: cross join of a
  bounded query set against the corpus, exact cosine, per-query window
  top-k. O(|Q|·N); correct at any scale where |Q| is bounded.
- **LSH-bucketed top-k** — the scale path: random-hyperplane signatures
  (sparse e_i − e_j hyperplanes ⇒ sign bits are exact float *comparisons*,
  no arithmetic, hence bit-portable), bucket self-join, top-k within
  bucket. O(N²/2^bits) expected pair work, shuffle keyed on the bucket id.
- **embedding near-dup pairs** — cosine ≥ τ pairs within LSH buckets:
  the embedding leg of the dedup suite (operators/dedup.py).

Vector math comes in two forms, both bit-equal to the DuckDB oracles'
``list_dot_product(embedding::DOUBLE[], …)`` (scores are additionally
rounded to 6 dp in the output for belt-and-braces):

- ``zip_with`` + ``aggregate`` folds over DOUBLE (``cosine``) score the
  pairs a join produces (LSH/IVF buckets, range search, re-ranking);
- every bounded-query-set × corpus scan (brute-force truth legs, the
  quantized scorer, the Matryoshka ladder) runs through ONE Arrow batch
  driver, ``_pair_scores``: a ``mapInArrow`` pass that decodes each
  batch, scores it with NumPy (``_cosine_ladder`` or
  ``_quantized_cosine``) and prunes it per task (``_prune_topk``). Its
  docstring holds the bit-exactness and prune-losslessness contracts;
  ``kmeans._assign`` reuses its decode and in-order-cumsum pieces.

At 100 TB (billions of vectors) the same plans hold with two changes:
raise the signature width (more buckets) and pre-partition the corpus by
bucket id so each executor owns whole buckets — noted per operator.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gravity_books_datalakehouse_spark.plans._cache import session_memo
from gravity_books_datalakehouse_spark.plans.operator_queries import register
from gravity_books_datalakehouse_spark.sources.catalog import load_table

#: Sparse random-hyperplane family: bit i = sign(v[i] - v[i + _DIM_OFF]).
_SIG_BITS = 8
_DIM_OFF = 32

#: Bounded query set for top-k demos (per-query cost is O(N)).
_TOPK_QUERIES = 10
_TOPK = 5

@session_memo
def _signed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (vec_id, embedding, label, sig) frame reused by every
    bucketed operator (signature computed once per session/scale)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", "embedding", "label",
        _signature_spark("embedding").alias("sig"),
    ).persist()


def _dot(a: str, b: str) -> Column:
    """Σ aᵢ·bᵢ as an in-order double fold (matches DuckDB list_dot_product
    over DOUBLE[] exactly)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: str) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: str, b: str) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


_COS_SQL = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


def _inorder_cumsum(a):
    """In-place in-order cumulative sums along the last axis of a float64
    array — bit-identical to the ``aggregate(…, 0.0, (acc, x) -> acc + x)``
    fold at every position: cumsum adds left-to-right exactly like the
    fold, and the ``+ 0.0`` on the head element reproduces the fold's
    ``0.0 + x_1`` first step (which turns a -0.0 head into +0.0; every
    later add is unaffected). Column ``j`` of the result is the fold of
    the first j+1 elements; the last column is the full fold."""
    import numpy as np

    a[..., 0] += 0.0
    return np.add.accumulate(a, axis=-1, out=a)


#: Executor-side NumPy buffer pool, keyed by (tag, shape/dtype). Lives at
#: module level ON PURPOSE (guide §4.5): Python workers are reused across
#: tasks (spark.python.worker.reuse) and this module is importable on the
#: executors, so pooled buffers survive from one task to the next. This
#: matters because first-touch page faults on fresh large allocations are
#: pathologically slow on some hosts (measured here: ~6 s for one fresh
#: 33 MB array vs 3 ms pooled) — per-task allocation would re-pay that on
#: every worker a kernel task lands on.
_NP_POOL: dict = {}


def _np_pooled(tag: str, n: int, dtype="float64"):
    """A >= n-element 1-D pooled scratch array (grown geometrically)."""
    import numpy as np

    cur = _NP_POOL.get(tag)
    if cur is None or cur.size < n or str(cur.dtype) != str(dtype):
        size = max(n, 2 * cur.size if cur is not None else n)
        _NP_POOL[tag] = np.empty(size, dtype=dtype)
    return _NP_POOL[tag]


def _decode_rows(arr, d: int, dtype):
    """(nb, d) ``dtype`` matrix of an Arrow list column whose rows all
    have width ``d``. Honors a sliced ``ListArray`` (``arr.values`` is
    the UNSLICED child, so the rows start at ``offsets[0]``). A row of
    another width (or a NULL vector) raises: the fold path would emit
    NULL scores there (``zip_with`` pads), a data-contract violation
    that must fail loudly rather than silently diverge from it."""
    import numpy as np

    nb = len(arr)
    off = arr.offsets.to_numpy(zero_copy_only=False)
    if nb and not (off[1:] - off[:-1] == d).all():
        raise ValueError(f"vector width differs from the expected width {d}")
    base = int(off[0]) if nb else 0
    return np.asarray(arr.values.slice(base, nb * d), dtype=dtype).reshape(nb, d)


#: Rounding-safe margin for the in-kernel top-k prune: two doubles more
#: than 2e-6 apart can never round to the same 6-dp value, so a row
#: beaten by >= k batch-mates by MORE than this margin loses under the
#: raw comparator AND under any 6-dp-rounded one. Test-pinned in
#: tests/test_similarity_prune.py.
_PRUNE_MARGIN = 2e-6


def _prune_topk(scores: list, k: int | None):
    """Boolean (nb, m) keep-mask of the per-batch, per-query top-k
    prune over one or more (nb, m) score matrices, or None (keep every
    row) when ``k`` is None or the batch has <= k rows. A row is kept
    if, in ANY score matrix, it is within ``_PRUNE_MARGIN`` of that
    query's k-th largest score in the batch (the union over score
    columns). Losslessness is argued on ``_pair_scores``.

    A NaN score raises: ``np.partition`` would make the threshold NaN,
    and ``cs >= NaN - margin`` is all-False, so the query's rows would
    silently vanish. A NaN here means a zero-norm or non-finite vector
    — a broken input, exactly as in ``kmeans._assign``."""
    import numpy as np

    if k is None:
        return None
    nb = len(scores[0])
    keep = None
    for cs in scores:
        if np.isnan(cs).any():
            raise ValueError(
                "NaN pair score (zero-norm or non-finite vector): the "
                "top-k prune cannot rank it"
            )
        if nb > k:
            th = np.partition(cs, nb - k, axis=0)[nb - k]
            hit = cs >= th - _PRUNE_MARGIN
            keep = hit if keep is None else keep | hit
    return keep


def _cosine_ladder(dims: tuple, Q, X) -> list:
    """[cosine over the first d dims for d in ``dims``] + [full-width
    cosine], each (nb, m), for float64 query rows Q (m, d) against
    corpus rows X (nb, d). Per pair the element products run once; each
    rung's dot and both its squared norms are PREFIXES of one in-order
    cumsum — the in-order fold of the slice (same products, same
    left-to-right adds, same +0.0 head). The full-width rung reads the
    last column and never slices. Products run in ~4 MB slabs of pooled
    scratch (see _NP_POOL); the returned matrices are pooled views."""
    import numpy as np

    nb, (m, d) = len(X), Q.shape
    at = [k - 1 for k in dims] + [d - 1]  # cumsum column closing each rung
    qcum = _inorder_cumsum(Q * Q)
    xcum = _inorder_cumsum(X * X)
    qn = [np.sqrt(qcum[:, j]) for j in at]
    xn = [np.sqrt(xcum[:, j]) for j in at]
    outs = [
        _np_pooled(f"pair_cs{i}", nb * m)[: nb * m].reshape(nb, m)
        for i in range(len(at))
    ]
    chunk = max(1, (1 << 19) // (m * d))
    buf = _np_pooled("pair_buf", chunk * m * d)[: chunk * m * d].reshape(
        chunk, m, d
    )
    den = _np_pooled("pair_den", chunk * m)[: chunk * m].reshape(chunk, m)
    for s in range(0, nb, chunk):
        n = min(chunk, nb - s)
        b, dn = buf[:n], den[:n]
        np.multiply(X[s : s + n, None, :], Q[None, :, :], out=b)
        _inorder_cumsum(b)
        for j, qj, xj, out in zip(at, qn, xn, outs):
            np.multiply(xj[s : s + n, None], qj[None, :], out=dn)
            np.divide(b[..., j], dn, out=out[s : s + n])
    return outs


def _quantized_cosine(Q, X) -> list:
    """[cosine of int64 query rows Q (m, d) against int64 corpus rows
    X (nb, d)] — exact with no ordering argument at all: int64 sums are
    EXACT in any order, the int64 → double cast is exact
    (|dot| <= 127²·d << 2^53), and the sqrt/multiply/divide that remain
    are the same IEEE expressions as the fold."""
    import numpy as np

    qn = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
    xn = np.sqrt((X * X).sum(axis=1).astype(np.float64))
    return [(X @ Q.T).astype(np.float64) / (qn[None, :] * xn[:, None])]


def _pair_batches(batches, qids, Q, score, names: list, per_task_topk):
    """The ``mapInArrow`` body of ``_pair_scores``: per ``(nid, vector)``
    Arrow batch, decode the vectors to Q's dtype, score them against
    every query, prune, and emit (qid, nid, *names) rows in (nid, qid)
    order. The yielded columns are COPIES (``flatten`` / mask indexing)
    of any pooled score buffer (ADVICE r13 medium): a zero-copy
    ``pa.array`` over _NP_POOL memory is only safe if the serializer
    writes each batch before the generator resumes."""
    import numpy as np
    import pyarrow as pa

    m, d = Q.shape
    for batch in batches:
        nid = batch.column(0).to_numpy(zero_copy_only=False)
        nb = len(nid)
        scores = score(Q, _decode_rows(batch.column(1), d, Q.dtype))
        keep = _prune_topk(scores, per_task_topk)
        cols = [
            np.broadcast_to(qids[None, :], (nb, m)),
            np.broadcast_to(nid[:, None], (nb, m)),
            *scores,
        ]
        yield pa.record_batch(
            [pa.array(c.flatten() if keep is None else c[keep]) for c in cols],
            names=["qid", "nid", *names],
        )


def _pair_scores(
    corpus: DataFrame,
    vec_col: str,
    q_ids: list,
    Q,
    score,
    names: list,
    per_task_topk: int | None,
) -> DataFrame:
    """(qid, nid, *names) scores of every (query, corpus-row) pair as
    ONE vectorized ``mapInArrow`` pass over the corpus scan — the
    guide-§4.2 shape (whole Arrow batches into NumPy) replacing the
    interpreted per-pair ``zip_with``/``aggregate`` fold, which has no
    codegen and costs ~7 µs/pair (measured round 13: 400 k pairs 10.3 s
    JVM fold vs 0.56 s here, bit-equal). ``score(Q, X)`` returns one
    (nb, m) matrix per name: ``_cosine_ladder`` or ``_quantized_cosine``.

    BIT-EXACTNESS CONTRACT (why every consumer's oracle hash is safe):
    float32 → float64 widening is exact on both paths; per-element
    products are one IEEE multiply each; dots and squared norms are
    LEFT-TO-RIGHT folds via ``np.add.accumulate`` (sequential by
    definition — see _inorder_cumsum for the 0.0-head detail), exactly
    the ``aggregate`` fold's order; the denominator is one multiply
    (IEEE multiplication is bitwise commutative) and one division.
    Verified bit-equal against the fold on all 399 800 sf0.1 pairs.
    The int64 scorer needs no ordering argument (_quantized_cosine).

    SCALE CONTRACT: the query side is the op's bounded |Q| set that the
    previous plan already shipped through ``F.broadcast(q)`` — a driver
    collect either way; the corpus is never shuffled (mapInArrow is a
    narrow map over the scan, and only ``(id, vec)`` columns cross the
    Python boundary). Scratch buffers are pooled across batches and
    tasks (guide §4.5).

    PRUNE CONTRACT: ``per_task_topk=K`` emits, per Arrow batch and per
    query, only the rows ``_prune_topk`` keeps — those within
    ``_PRUNE_MARGIN`` of the batch's K-th largest score in at least one
    score column. LOSSLESS for every consumer that window-ranks per
    (score column, qid) by (score DESC, nid ASC) and keeps
    rank <= K' <= K: a dropped row is beaten in that column by >= K
    batch-mates by MORE than the margin, so it loses under the raw
    comparator (scores are untouched — the kept rows are bit-identical)
    and under any 6-dp-rounded one (values > 2e-6 apart cannot round
    equal). It is the threshold-based top-k pruning of incremental
    top-k similarity search (EDBT 2020; REPOSE, ICDE 2021). Callers
    that pre-filter the self pair (qid != nid) pass K = k + 1. At the
    20x-replica scale this turns the |Q| x N window input into
    |Q| x (K + ties) per batch. A NaN score raises instead of silently
    dropping a query's rows."""
    import numpy as np

    schema = "qid long, nid long, " + ", ".join(f"{c} double" for c in names)
    if not q_ids:
        return corpus.sparkSession.createDataFrame([], schema)
    qids = np.asarray(q_ids, dtype=np.int64)

    def fn(batches):
        return _pair_batches(batches, qids, Q, score, names, per_task_topk)

    return corpus.select(
        F.col("vec_id").cast("long").alias("nid"), F.col(vec_col)
    ).mapInArrow(fn, schema=schema)


def pair_cosine_arrow(
    corpus: DataFrame,
    q_ids: list,
    q_vecs: list,
    *,
    dims: tuple = (),
    vec_col: str = "embedding",
    out_name: str = "cs",
    per_task_topk: int | None = None,
) -> DataFrame:
    """(qid, nid, c{d}..., ``out_name``): full-precision cosine of every
    (query, corpus-row) pair over each dim-PREFIX in ``dims`` (the
    Matryoshka ladder) plus the full width, bit-identical to the
    ``aggregate`` folds (``cosine`` / the slice-folds) — see
    ``_pair_scores`` for the exactness, scale and prune contracts."""
    import numpy as np

    return _pair_scores(
        corpus,
        vec_col,
        q_ids,
        np.asarray(q_vecs, dtype=np.float64),
        partial(_cosine_ladder, tuple(dims)),
        [f"c{d}" for d in dims] + [out_name],
        per_task_topk,
    )


def collect_query_vectors(df: DataFrame, id_col: str, vec_col: str):
    """Driver-collect a BOUNDED query set as (ids, vectors) — the same
    rows the previous plans shipped via ``F.broadcast``; sorted by id so
    the kernel's output order is deterministic."""
    rows = df.select(id_col, vec_col).collect()
    rows.sort(key=lambda r: r[0])
    return [r[0] for r in rows], [list(r[1]) for r in rows]


@register(
    "sim_topk_cosine_bruteforce",
    f"""SELECT qid, nid, rank, cos_sim FROM (
         SELECT a.vec_id AS qid, b.vec_id AS nid,
                ROUND({_COS_SQL}, 6) AS cos_sim,
                row_number() OVER (PARTITION BY a.vec_id
                                   ORDER BY {_COS_SQL} DESC, b.vec_id ASC) AS rank
         FROM embeddings a, embeddings b
         WHERE a.vec_id < {_TOPK_QUERIES} AND a.vec_id != b.vec_id
       ) WHERE rank <= {_TOPK}""",
)
def sim_topk_cosine_bruteforce(spark, sf_dir):
    """Exact ANN baseline: top-{k} cosine neighbors for a bounded query set.

    Plan (round 13, guide §4.2): the |Q| query vectors — previously an
    ``F.broadcast`` cross join, i.e. a driver collect either way — feed
    ONE vectorized mapInArrow pass over the corpus scan
    (pair_cosine_arrow, bit-identical to the zip_with/aggregate fold by
    the kernel's in-order-cumsum contract); per-query window top-k on
    full-precision cosine with vec_id tiebreak, score rounded to 6 dp
    for display. Measured 2.35 s → 0.9 s at sf0.1; the 20x-replica
    probe gates the scale direction.
    """
    e = load_table(spark, sf_dir, "embeddings")
    qids, qvecs = collect_query_vectors(
        e.filter(F.col("vec_id") < _TOPK_QUERIES), "vec_id", "embedding"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_full"), F.asc("nid"))
    return (
        pair_cosine_arrow(
            e, qids, qvecs, out_name="cos_full", per_task_topk=_TOPK + 1
        )
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("qid", "nid", "rank", F.round("cos_full", 6).alias("cos_sim"))
    )


def _signature_spark(vec: str) -> Column:
    """8-bit sparse-hyperplane signature: bit i = [v[i] > v[i+32]].

    Pure float *comparison* — exact and engine-portable, unlike a dot
    product against random Gaussian planes (which would need a shared
    RNG). These are genuine LSH hyperplanes (e_i − e_{i+off})."""
    sig = F.lit(0)
    for i in range(_SIG_BITS):
        bit = F.when(
            F.element_at(vec, i + 1) > F.element_at(vec, i + 1 + _DIM_OFF), 1
        ).otherwise(0)
        sig = sig + bit * (1 << i)
    return sig


def _signature_sql(alias: str) -> str:
    terms = [
        f"(CASE WHEN {alias}.embedding[{i + 1}] > {alias}.embedding[{i + 1 + _DIM_OFF}] "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(_SIG_BITS)
    ]
    return " + ".join(terms)


@register(
    "sim_lsh_bucket_stats",
    f"""SELECT sig AS bucket, COUNT(*) AS n_vectors,
              COUNT(DISTINCT label) AS n_labels
       FROM (SELECT a.vec_id, a.label, {_signature_sql('a')} AS sig
             FROM embeddings a)
       GROUP BY sig""",
)
def sim_lsh_bucket_stats(spark, sf_dir):
    """LSH bucket histogram — the partitioning the scale path relies on.
    At billions of vectors, widen _SIG_BITS and repartition by bucket so
    candidate generation is a per-bucket local problem."""
    return (
        _signed_embeddings(spark, sf_dir)
        .select("vec_id", "label", F.col("sig").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("label").alias("n_labels"),
        )
    )


@register(
    "sim_lsh_bucketed_topk",
    f"""SELECT qid, nid, rank, cos_sim FROM (
         SELECT a.vec_id AS qid, b.vec_id AS nid,
                ROUND({_COS_SQL}, 6) AS cos_sim,
                row_number() OVER (PARTITION BY a.vec_id
                                   ORDER BY {_COS_SQL} DESC, b.vec_id ASC) AS rank
         FROM embeddings a
         JOIN embeddings b
           ON ({_signature_sql('a')}) = ({_signature_sql('b')})
          AND a.vec_id != b.vec_id
         WHERE a.vec_id < 50
       ) WHERE rank <= 3""",
)
def sim_lsh_bucketed_topk(spark, sf_dir):
    """Approximate top-k: candidates restricted to the query's LSH bucket.
    The join is keyed on the signature — a shuffle of ids+vectors by
    bucket, never an N×N cross join. Recall < 1 by design; raise recall
    with multi-probe (flip one signature bit) or more tables."""
    e = _signed_embeddings(spark, sf_dir)
    a = e.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("va"),
        F.col("sig").alias("sig_a"),
    ).filter(F.col("qid") < 50)
    b = e.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("vb"),
        F.col("sig").alias("sig_b"),
    )
    cos = cosine("va", "vb")
    w = Window.partitionBy("qid").orderBy(F.desc("cos_full"), F.asc("nid"))
    return (
        a.join(b, (F.col("sig_a") == F.col("sig_b")) & (F.col("qid") != F.col("nid")))
        .select("qid", "nid", cos.alias("cos_full"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("qid", "nid", "rank", F.round("cos_full", 6).alias("cos_sim"))
    )


_NEAR_DUP_TAU = 0.35


@register(
    "dedup_embedding_near_dup",
    f"""SELECT vec_a, vec_b, cos_sim FROM (
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                ROUND({_COS_SQL}, 6) AS cos_sim
         FROM embeddings a
         JOIN embeddings b
           ON ({_signature_sql('a')}) = ({_signature_sql('b')})
          AND a.vec_id < b.vec_id
       ) WHERE cos_sim >= {_NEAR_DUP_TAU}""",
)
def dedup_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (dedup suite, semantic leg):
    cosine ≥ τ among same-LSH-bucket pairs. The threshold filter is applied
    to the 6-dp-rounded score so both engines cut identically."""
    e = _signed_embeddings(spark, sf_dir)
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"),
        F.col("sig").alias("sig_a"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"),
        F.col("sig").alias("sig_b"),
    )
    cos = cosine("va", "vb")
    return (
        a.join(b, (F.col("sig_a") == F.col("sig_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= _NEAR_DUP_TAU)
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: a coarse quantizer partitions the corpus into
# k cluster lists; a query probes only the nprobe nearest clusters. The
# complement to LSH bucketing: data-adaptive partitions instead of fixed
# hyperplanes. Centroids here are the k lowest-vec_id vectors taken
# verbatim (exact floats — no averaging, so both engines agree bit-for-bit
# and no RNG is needed); swap in k-means centroids at production scale
# without touching the assignment/search plans.

_IVF_K = 16
_IVF_NPROBE = 2
_IVF_QUERIES = 50
_IVF_TOPK = 3


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine between two DOUBLE[] expressions (bit-equal twin of
    the Spark zip_with/aggregate fold)."""
    dot = f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
    na = f"sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
    nb = f"sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[]))"
    return f"({dot} / ({na} * {nb}))"


def _centroids(e: DataFrame) -> DataFrame:
    return e.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )


def _ivf_assign(e: DataFrame) -> DataFrame:
    """(vec_id, nvec, label, cluster_id): every vector → its nearest
    centroid, label carried through the aggregation (no post-hoc join
    against a vec→label map, which would broadcast O(N) rows).

    Plan: broadcast the k centroids against the corpus scan (map-side
    cross join, k rows per vector), then ONE groupBy(vec_id) with
    ``max_by(cid, struct(cos, -cid))`` — partial aggregation collapses the
    k candidates to 1 before the exchange, so the shuffle carries one row
    per vector regardless of k. No window, no k× shuffle inflation. The
    struct tiebreak (highest cosine, then lowest cid) is what the oracle's
    QUALIFY row_number() expresses — same result, different plan idiom.
    """
    scored = e.crossJoin(F.broadcast(_centroids(e))).select(
        "vec_id", "embedding", "label", "cid",
        cosine("embedding", "cvec").alias("cos_c"),
    )
    return scored.groupBy("vec_id").agg(
        F.first("embedding").alias("nvec"),
        F.first("label").alias("label"),
        F.max_by("cid", F.struct(F.col("cos_c"), -F.col("cid"))).alias("cluster_id"),
    )


@session_memo
def _ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF assignment. The per-call recompute of the
    full-corpus centroid assignment was the measured reason sim_ivf_topk
    read SLOWER than brute force at the 20× docs replica (BENCH_r08–r10
    docs_replica_probe ratio 5.6→9.1→10.3, 11.0 s vs 6.3 s): three
    registry entries each rebuilt the same corpus×k broadcast pass. At
    production scale this is the "pre-partition the corpus by cluster_id"
    step the search docstrings name — an index you build once, not per
    query."""
    return _ivf_assign(load_table(spark, sf_dir, "embeddings")).persist()


_IVF_ASSIGN_SQL = f"""cent AS (
    SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {_IVF_K}
  ),
  assign AS (
    SELECT e.vec_id, e.label, c.cid AS cluster_id
    FROM embeddings e CROSS JOIN cent c
    QUALIFY row_number() OVER (
      PARTITION BY e.vec_id
      ORDER BY {_cos_sql('e.embedding', 'c.cvec')} DESC, c.cid ASC) = 1
  )"""


@register(
    "sim_ivf_cluster_stats",
    f"""WITH {_IVF_ASSIGN_SQL}
  SELECT cluster_id, COUNT(*) AS n_vectors, COUNT(DISTINCT label) AS n_labels
  FROM assign GROUP BY cluster_id""",
)
def sim_ivf_cluster_stats(spark, sf_dir):
    """IVF inverted-list histogram — the partition-balance dashboard for
    the coarse quantizer (a skewed list means a hot probe partition)."""
    return (
        _ivf_assigned(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("label").alias("n_labels"),
        )
    )


@register(
    "sim_ivf_topk",
    f"""WITH {_IVF_ASSIGN_SQL},
  probes AS (
    SELECT vec_id AS qid, cid FROM (
      SELECT q.vec_id, c.cid,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_cos_sql('q.embedding', 'c.cvec')} DESC, c.cid ASC) AS pr
      FROM embeddings q CROSS JOIN cent c
      WHERE q.vec_id < {_IVF_QUERIES}
    ) WHERE pr <= {_IVF_NPROBE}
  ),
  cand AS (
    SELECT p.qid, a.vec_id AS nid
    FROM probes p JOIN assign a ON a.cluster_id = p.cid AND a.vec_id != p.qid
  )
  SELECT qid, nid, rank, cos_sim FROM (
    SELECT cd.qid, cd.nid,
           ROUND({_cos_sql('q.embedding', 'n.embedding')}, 6) AS cos_sim,
           row_number() OVER (
             PARTITION BY cd.qid
             ORDER BY {_cos_sql('q.embedding', 'n.embedding')} DESC, cd.nid ASC) AS rank
    FROM cand cd
    JOIN embeddings q ON q.vec_id = cd.qid
    JOIN embeddings n ON n.vec_id = cd.nid
  ) WHERE rank <= {_IVF_TOPK}""",
)
def sim_ivf_topk(spark, sf_dir):
    """IVF ANN search: each query scores only the vectors whose inverted
    list is among its nprobe nearest centroids — expected candidate work
    N·nprobe/k per query instead of N.

    Plan: probe selection is a tiny |Q|×k window; the candidate join keys
    the corpus on cluster_id (probes broadcast); exact cosine + per-query
    top-k window finishes. At billions of vectors, pre-partition the
    corpus by cluster_id so each probe reads only its lists."""
    e = load_table(spark, sf_dir, "embeddings")
    assign = _ivf_assigned(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _IVF_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    pw = Window.partitionBy("qid").orderBy(F.desc("cos_qc"), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(_centroids(e)))
        .select("qid", "qvec", "cid", cosine("qvec", "cvec").alias("cos_qc"))
        .withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= _IVF_NPROBE)
        .select("qid", "qvec", "cid")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_full"), F.asc("nid"))
    return (
        F.broadcast(probes)
        .join(assign, probes.cid == assign.cluster_id)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            cosine("qvec", "nvec").alias("cos_full"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _IVF_TOPK)
        .select("qid", "nid", "rank", F.round("cos_full", 6).alias("cos_sim"))
    )


def _probe_sigs_spark() -> F.Column:
    """The query vector's probe set: its own signature + every 1-bit flip
    (Hamming-1 multi-probe). Exploded query-side so the candidate join
    stays a plain equi-join on the signature — never a nested-loop IN."""
    sig = F.col("sig")
    return F.array(sig, *[sig.bitwiseXOR(F.lit(1 << j)) for j in range(_SIG_BITS)])


_PROBE_SQL = "[{}]".format(
    ", ".join(["s"] + [f"xor(s, {1 << j})" for j in range(_SIG_BITS)])
)


@register(
    "sim_lsh_multiprobe_topk",
    f"""SELECT qid, nid, rank, cos_sim FROM (
         SELECT a.vec_id AS qid, b.vec_id AS nid,
                ROUND({_COS_SQL}, 6) AS cos_sim,
                row_number() OVER (PARTITION BY a.vec_id
                                   ORDER BY {_COS_SQL} DESC, b.vec_id ASC) AS rank
         FROM (
           SELECT vec_id, embedding,
                  unnest({_PROBE_SQL.replace('s', 'sig')}) AS probe
           FROM (SELECT e.vec_id, e.embedding, {_signature_sql('e')} AS sig
                 FROM embeddings e WHERE e.vec_id < 50)
         ) a
         JOIN (SELECT e.vec_id, e.embedding, {_signature_sql('e')} AS sig
               FROM embeddings e) b
           ON a.probe = b.sig AND a.vec_id != b.vec_id
       ) WHERE rank <= 3""",
)
def sim_lsh_multiprobe_topk(spark, sf_dir):
    """Multi-probe ANN: each query additionally probes all Hamming-1
    neighbor buckets (9 probes for 8 bits) — recall rises sharply for a
    9x bounded candidate cost, with NO extra hash tables. Candidate
    generation stays one equi-join on the signature."""
    e = _signed_embeddings(spark, sf_dir)
    a = (
        e.filter(F.col("vec_id") < 50)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("va"),
            F.explode(_probe_sigs_spark()).alias("probe"),
        )
    )
    b = e.select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("vb"),
        F.col("sig").alias("sig_b"),
    )
    cos = cosine("va", "vb")
    w = Window.partitionBy("qid").orderBy(F.desc("cos_full"), F.asc("nid"))
    return (
        a.join(b, (F.col("probe") == F.col("sig_b")) & (F.col("qid") != F.col("nid")))
        .select("qid", "nid", cos.alias("cos_full"))
        .distinct()
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("qid", "nid", "rank", F.round("cos_full", 6).alias("cos_sim"))
    )


@register(
    "sim_label_centroids",
    """SELECT label, idx, n_vectors,
              ROUND(mean_val, 6) AS mean_val
       FROM (
         SELECT label, idx,
                COUNT(*) AS n_vectors,
                AVG(CAST(val AS DOUBLE)) AS mean_val
         FROM (
           SELECT label,
                  unnest(embedding) AS val,
                  generate_subscripts(embedding, 1) AS idx
           FROM embeddings
         )
         GROUP BY label, idx
       )""",
)
def sim_label_centroids(spark, sf_dir):
    """Per-label centroid, long format (label, idx, mean component):
    the class-prototype computation under clustering quality checks and
    the k-means refinement step for the IVF quantizer.

    Plan: posexplode (dim rows per vector) then ONE groupBy(label, idx)
    with partial aggregation — shuffle carries labels × dim rows, not
    vectors. Output rounded to 6 dp: float summation order differs across
    partitions/engines in the last ulp, and rounding absorbs it."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .select("label", (F.col("pos") + 1).alias("idx"), F.col("val").cast("double").alias("val"))
        .groupBy("label", "idx")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("val"), 6).alias("mean_val"),
        )
    )


_QUANT_SQL = f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS s
      FROM embeddings
    ), qv AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(floor(x * (127.0 / s) + 0.5) AS BIGINT)) AS q
      FROM base
    ), pairs AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid,
             list_dot_product(a.q::DOUBLE[], b.q::DOUBLE[]) /
             (sqrt(list_dot_product(a.q::DOUBLE[], a.q::DOUBLE[])) *
              sqrt(list_dot_product(b.q::DOUBLE[], b.q::DOUBLE[]))) AS cos_q
      FROM qv a, qv b
      WHERE a.vec_id < {_TOPK_QUERIES} AND a.vec_id != b.vec_id
    )
    SELECT qid, nid, rank, ROUND(cos_q, 6) AS cos_sim_q FROM (
      SELECT qid, nid, cos_q,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_q DESC, nid ASC) AS rank
      FROM pairs
    ) WHERE rank <= {_TOPK}
"""


def _quantized(e: DataFrame) -> DataFrame:
    """(vec_id, q): per-vector int8-range quantization
    q_i = floor(x_i * 127 / max|x| + 0.5) as bigints. The scale is
    materialized behind a projection first — inlining array_max into
    the transform would recompute it per element (O(d²) per vector)."""
    base = e.select(
        "vec_id",
        "embedding",
        F.array_max(
            F.transform("embedding", lambda x: F.abs(x.cast("double")))
        ).alias("s"),
    )
    return base.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") * (F.lit(127.0) / F.col("s")) + F.lit(0.5)
            ).cast("bigint"),
        ).alias("q"),
    )


@register("sim_quantized_topk", _QUANT_SQL)
def sim_quantized_topk(spark, sf_dir):
    """Top-k cosine over int8-scalar-quantized vectors — the memory-side
    half of an ANN system (IVF/LSH shrink the candidate set; quantization
    shrinks the BYTES: 64 floats → 64 int8 lanes + 1 scale = 4× less to
    scan, broadcast, and cache, and at billions of vectors the index
    fits in executor memory where floats would spill).

    Per-vector symmetric quantization q_i = round(x_i * 127 / max|x|);
    cosine needs NO dequantization — the two scale factors cancel, so
    scoring is pure integer dot products (exact in int64, exact in
    DuckDB's double fold since |Σ| < 2^53) with one double division at
    the end: bit-equal across engines with no rounding discipline beyond
    the cosmetic 6 dp on output. round() is floor(x+0.5) in both engines
    by construction.

    The scale max|x| is materialized behind a projection before the
    per-element lambda references it (_quantized)."""
    qv = _quantized(load_table(spark, sf_dir, "embeddings"))
    # The integer dots run through the shared Arrow pair driver with the
    # exact int64 scorer: as zip_with/aggregate folds they are
    # interpreted (~7 µs per pair, no codegen). The quantization stays
    # in Spark. Pruned per task to the window's k (+1 for the self
    # pair) — lossless per the _pair_scores prune contract.
    import numpy as np

    q_ids, q_vecs = collect_query_vectors(
        qv.filter(F.col("vec_id") < _TOPK_QUERIES), "vec_id", "q"
    )
    pairs = _pair_scores(
        qv, "q", q_ids, np.asarray(q_vecs, dtype=np.int64),
        _quantized_cosine, ["cos_q"], _TOPK + 1,
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_q"), F.asc("nid"))
    return (
        pairs.filter(F.col("qid") != F.col("nid"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
        .select("qid", "nid", "rank", F.round("cos_q", 6).alias("cos_sim_q"))
    )


_RANGE_TAU = 0.30
_RANGE_QUERY_ID = 1

_COS_RQ_SQL = (
    "(list_dot_product(e.embedding::DOUBLE[], q.qv) / "
    "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(q.qv, q.qv))))"
)


@register(
    "sim_range_search",
    f"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                   WHERE vec_id = {_RANGE_QUERY_ID})
        SELECT e.vec_id, ROUND({_COS_RQ_SQL}, 6) AS cos_sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id != {_RANGE_QUERY_ID}
          AND ROUND({_COS_RQ_SQL}, 6) >= {_RANGE_TAU}
        ORDER BY cos_sim DESC, e.vec_id ASC""",
)
def sim_range_search(spark, sf_dir):
    """Radius search: ALL vectors within cosine >= τ of the query — the
    complement of top-k (top-k bounds result count, radius bounds
    quality; dedup and recall evaluation want the radius form). The
    threshold cuts on the 6-dp-rounded score so both engines cut
    identically. Exact scan baseline, same contract as
    sim_topk_cosine_bruteforce; the LSH/IVF bucketed plans drop in for
    the scale path unchanged."""
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id") == _RANGE_QUERY_ID).select(
        F.col("embedding").alias("qv")
    )
    cos6 = F.round(cosine("embedding", "qv"), 6)
    return (
        e.filter(F.col("vec_id") != _RANGE_QUERY_ID)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", cos6.alias("cos_sim"))
        .filter(F.col("cos_sim") >= _RANGE_TAU)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    )


@register(
    "sim_ann_recall_report",
    f"""WITH exact AS (
         SELECT qid, nid FROM (
           SELECT a.vec_id AS qid, b.vec_id AS nid,
                  row_number() OVER (PARTITION BY a.vec_id
                                     ORDER BY {_COS_SQL} DESC, b.vec_id ASC) AS rank
           FROM embeddings a, embeddings b
           WHERE a.vec_id < {_TOPK_QUERIES} AND a.vec_id != b.vec_id
         ) WHERE rank <= {_TOPK}),
       cand AS (
         SELECT a.vec_id AS qid, b.vec_id AS nid
         FROM embeddings a
         JOIN embeddings b
           ON ({_signature_sql('a')}) = ({_signature_sql('b')})
          AND a.vec_id != b.vec_id
         WHERE a.vec_id < {_TOPK_QUERIES}),
       hits AS (
         SELECT e.qid, COUNT(*) AS n_hits
         FROM exact e JOIN cand c ON e.qid = c.qid AND e.nid = c.nid
         GROUP BY e.qid),
       ncand AS (SELECT qid, COUNT(*) AS n_candidates FROM cand GROUP BY qid)
       SELECT q.qid,
              CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
              CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
              ROUND(COALESCE(h.n_hits, 0) / {_TOPK}.0, 6) AS recall_at_{_TOPK}
       FROM (SELECT DISTINCT qid FROM exact) q
       LEFT JOIN hits h ON q.qid = h.qid
       LEFT JOIN ncand nc ON q.qid = nc.qid
       ORDER BY q.qid""",
)
def sim_ann_recall_report(spark, sf_dir):
    """ANN quality evaluation IN the engine: per probe, recall@k of the
    LSH bucket's candidate set against the exact cosine top-k — the
    number that decides whether the approximate index is usable before
    anything trains on its neighbors. Both legs are bounded: |Q| probes
    broadcast against the corpus for ground truth, the candidate leg is
    the same bucket join the ANN query uses. Also reports candidate-set
    size per probe (the recall/cost tradeoff in one table). The same
    recall discipline is asserted as a hard floor in
    tests/test_similarity_recall.py; this query makes it a monitorable
    pipeline artifact."""
    e = _signed_embeddings(spark, sf_dir)
    exact = (
        sim_topk_cosine_bruteforce(spark, sf_dir)
        .select("qid", "nid")
    )
    a = e.select(
        F.col("vec_id").alias("qid"), F.col("sig").alias("sig_a")
    ).filter(F.col("qid") < _TOPK_QUERIES)
    b = e.select(F.col("vec_id").alias("nid"), F.col("sig").alias("sig_b"))
    cand = a.join(
        b, (F.col("sig_a") == F.col("sig_b")) & (F.col("qid") != F.col("nid"))
    ).select("qid", "nid")
    hits = exact.join(cand, ["qid", "nid"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    ncand = cand.groupBy("qid").agg(F.count(F.lit(1)).alias("n_candidates"))
    return (
        exact.select("qid").distinct()
        .join(hits, "qid", "left")
        .join(ncand, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias("n_candidates"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / float(_TOPK), 6)
            .alias(f"recall_at_{_TOPK}"),
        )
        .orderBy("qid")
    )


# --------------------------------------------------------------------------
# MMR diversity re-rank: greedy maximal-marginal-relevance selection over
# each query's cosine top-candidates — the standard answer (Carbonell &
# Goldstein 1998, public) to "my nearest neighbors are 12 copies of the
# same document". Used in curation for diverse few-shot/example selection
# and in retrieval to de-redundify result lists.

_MMR_CAND = 12   #: cosine candidates per query fed to the greedy stage
_MMR_K = 5       #: selected (re-ranked) results per query
_MMR_LAMBDA = 0.7  #: relevance weight; 1-lambda weighs redundancy


def _mmr_oracle_sql() -> str:
    """Unrolled greedy MMR as a fixed CTE chain (same discipline as the
    Lloyd oracle in kmeans.py: a FIXED iteration count makes the greedy
    fixpoint SQL-expressible and hash-verifiable).

    Cross-engine determinism: candidate ranking reuses the full-precision
    cosine + vec_id tiebreak that sim_topk_cosine_bruteforce already
    hash-verifies; each greedy argmax ranks on the 6-dp-ROUNDED score
    with a vec_id tiebreak, so a ~1e-15 float drift between engines
    cannot flip a pick."""
    lam, mu = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 6)
    cos_ab = (
        "list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) / "
        "(sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) * "
        "sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[])))"
    )
    parts = [
        f"""WITH cand AS (
  SELECT qid, nid, rel FROM (
    SELECT a.vec_id AS qid, b.vec_id AS nid, {_COS_SQL} AS rel,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_COS_SQL} DESC, b.vec_id ASC) AS rnk
    FROM embeddings a, embeddings b
    WHERE a.vec_id < {_TOPK_QUERIES} AND a.vec_id != b.vec_id)
  WHERE rnk <= {_MMR_CAND}),
cp AS (
  SELECT c1.qid, c1.nid AS na, c2.nid AS nb, {cos_ab} AS sim
  FROM cand c1
  JOIN cand c2 ON c1.qid = c2.qid AND c1.nid != c2.nid
  JOIN embeddings ea ON ea.vec_id = c1.nid
  JOIN embeddings eb ON eb.vec_id = c2.nid),
s1 AS (
  SELECT qid, nid, 1 AS rank, {lam} * rel AS score FROM (
    SELECT qid, nid, rel,
           row_number() OVER (PARTITION BY qid
                              ORDER BY ROUND({lam} * rel, 6) DESC, nid ASC) AS rn
    FROM cand) WHERE rn = 1),
sel1 AS (SELECT qid, nid FROM s1)"""
    ]
    for i in range(2, _MMR_K + 1):
        parts.append(
            f"""m{i} AS (
  SELECT c.qid, c.nid, c.rel, MAX(p.sim) AS ms
  FROM cand c
  LEFT JOIN sel{i - 1} x ON x.qid = c.qid AND x.nid = c.nid
  JOIN cp p ON p.qid = c.qid AND p.na = c.nid
  JOIN sel{i - 1} s ON s.qid = p.qid AND s.nid = p.nb
  WHERE x.nid IS NULL
  GROUP BY c.qid, c.nid, c.rel),
s{i} AS (
  SELECT qid, nid, {i} AS rank, {lam} * rel - {mu} * ms AS score FROM (
    SELECT qid, nid, rel, ms,
           row_number() OVER (PARTITION BY qid
                              ORDER BY ROUND({lam} * rel - {mu} * ms, 6) DESC,
                                       nid ASC) AS rn
    FROM m{i}) WHERE rn = 1),
sel{i} AS (SELECT qid, nid FROM sel{i - 1} UNION ALL SELECT qid, nid FROM s{i})"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT qid, nid, rank, score FROM s{i}" for i in range(1, _MMR_K + 1)
    )
    return (
        ",\n".join(parts)
        + f"""
SELECT qid, rank, nid, ROUND(score, 6) AS mmr_score
FROM ({union})
ORDER BY qid, rank"""
    )


@register("sim_mmr_rerank", _mmr_oracle_sql())
def sim_mmr_rerank(spark, sf_dir):
    """Greedy MMR re-rank of each query's cosine top-{cand} down to a
    diverse top-{k}: step 1 takes the most relevant candidate; every
    later step takes argmax of lambda*rel - (1-lambda)*max-similarity-
    to-already-selected (6-dp-rounded score, vec_id tiebreak).

    Scale shape: the expensive part is the candidate top-{cand}, which
    reuses the bounded-query broadcast pattern (no corpus shuffle); the
    greedy stage then operates on |Q| x {cand} rows and |Q| x {cand}^2
    candidate-pair sims — BOUNDED frames independent of corpus size, so
    the five unrolled anti-join/argmax steps cost k tiny stages, never
    a data-sized shuffle. At 100 TB you'd swap the exact candidate leg
    for the LSH/IVF one (same contract); the greedy stage is unchanged.
    """
    from gravity_books_datalakehouse_spark.plans.operator_queries import (
        lit_rows_df,
    )

    e = load_table(spark, sf_dir, "embeddings")
    # round 13 (guide §4.2): the |Q|-bounded brute-force candidate leg
    # runs through the vectorized pair_cosine_arrow kernel (bit-identical
    # per its contract); the candidate vectors for the pair-sim stage are
    # re-attached by a tiny broadcast join on nid (|Q| x cand rows —
    # F.broadcast pins the build side deterministically, ADVICE r13).
    qids, qvecs = collect_query_vectors(
        e.filter(F.col("vec_id") < _TOPK_QUERIES), "vec_id", "embedding"
    )
    w = Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("nid"))
    lam, mu = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 6)
    # Round 14 (VERDICT r13 item 3): the 5-step greedy previously ran as
    # an unrolled chain of anti-join/argmax Spark jobs — 160+ stages of
    # pure scheduling floor over MODEL-SIZED frames (|Q| x 12 candidates,
    # |Q| x 132 candidate pairs). The greedy now runs on the DRIVER over
    # those same collected frames. Bit-exactness: every float the greedy
    # compares is computed BY SPARK before collection — rel/sim by the
    # unchanged kernel/fold expressions, and the full score domain
    # s1 = lam*rel (step 1) and ps = lam*rel - mu*sim (steps >= 2, one
    # row per ordered candidate pair) WITH their 6-dp HALF_UP roundings
    # (rs1/rps, Spark's own F.round — JVM BigDecimal semantics, never
    # re-implemented in Python). The step->=2 score lam*rel - mu*max(sim
    # over selected) equals ps at the argmax-sim pair bitwise (IEEE
    # multiply is monotone, equal sims give identical products), so the
    # driver only ever COMPARES Spark-computed doubles and picks rows —
    # zero Python float arithmetic, zero rounding reimplementation.
    cand = (
        pair_cosine_arrow(
            e, qids, qvecs, out_name="rel", per_task_topk=_MMR_CAND + 1
        )
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _MMR_CAND)
        .drop("rnk")
    )
    cwv = (
        F.broadcast(cand)
        .join(
            e.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("vb")),
            "nid",
        )
        .select("qid", "nid", "rel", "vb")
        .localCheckpoint()
    )
    c1 = cwv.select("qid", F.col("nid").alias("na"), F.col("vb").alias("va2"),
                    F.col("rel").alias("rel_a"))
    c2 = cwv.select(
        F.col("qid").alias("q2"), F.col("nid").alias("nb"), F.col("vb").alias("vb2")
    )
    sim = cosine("va2", "vb2")
    pair_rows = (
        c1.join(c2, (F.col("qid") == F.col("q2")) & (F.col("na") != F.col("nb")))
        .select(
            "qid",
            "na",
            "nb",
            sim.alias("sim"),
            (F.lit(lam) * F.col("rel_a") - F.lit(mu) * sim).alias("ps"),
            F.round(F.lit(lam) * F.col("rel_a") - F.lit(mu) * sim, 6).alias("rps"),
        )
        .collect()
    )
    cand_rows = cwv.select(
        "qid",
        "nid",
        (F.lit(lam) * F.col("rel")).alias("s1"),
        F.round(F.lit(lam) * F.col("rel"), 6).alias("rs1"),
    ).collect()

    by_q: dict = {}
    for r in cand_rows:
        by_q.setdefault(r[0], []).append((r[1], r[2], r[3]))
    pair: dict = {}
    for r in pair_rows:
        pair[(r[0], r[1], r[2])] = (r[3], r[4], r[5])

    out_rows: list = []
    for q in sorted(by_q):
        cands = sorted(by_q[q])  # (nid, s1, rs1), nid-ascending
        # step 1: argmax (round6(lam*rel) DESC, nid ASC)
        best = None
        for nid, s1, rs1 in cands:
            if best is None or rs1 > best[1]:
                best = (nid, rs1, s1)
        out_rows.append((q, 1, best[0], best[2]))
        selected = [best[0]]
        remaining = [c for c in cands if c[0] != best[0]]
        for rank in range(2, _MMR_K + 1):
            if not remaining:
                break
            best = None
            for nid, _s1, _rs1 in remaining:
                # ms = max sim to selected; score/rscore are the
                # Spark-computed ps/rps at that argmax pair (bitwise
                # equal to lam*rel - mu*ms by multiply monotonicity)
                ms = score = rscore = None
                for s in selected:
                    sv, psv, rpsv = pair[(q, nid, s)]
                    if ms is None or sv > ms:
                        ms, score, rscore = sv, psv, rpsv
                if best is None or rscore > best[1]:
                    best = (nid, rscore, score)
            out_rows.append((q, rank, best[0], best[2]))
            selected.append(best[0])
            remaining = [c for c in remaining if c[0] != best[0]]

    out = lit_rows_df(
        spark,
        [("qid", "bigint"), ("rank", "int"), ("nid", "bigint"),
         ("score", "double")],
        out_rows,
    )
    return out.select(
        "qid", "rank", "nid", F.round("score", 6).alias("mmr_score")
    ).orderBy("qid", "rank")


# --------------------------------------------------------------------------
# Hard-negative mining (the contrastive-training data op: Schroff et al.
# 2015 triplet semi-hard selection; DPR/SimCSE-style retrieval negatives):
# for each query, the most-similar vectors with a DIFFERENT label, plus
# the triplet margin against the query's best same-label positive. The
# rows a training pipeline feeds straight into a triplet/InfoNCE loss.

_HARDNEG_SQL = f"""WITH scored AS (
    SELECT a.vec_id AS qid, a.label AS q_label,
           b.vec_id AS nid, b.label AS n_label,
           {_COS_SQL} AS cos
    FROM embeddings a, embeddings b
    WHERE a.vec_id < {_TOPK_QUERIES} AND a.vec_id != b.vec_id
  ),
  pos AS (
    SELECT qid, MAX(cos) AS pos_best
    FROM scored WHERE n_label = q_label GROUP BY qid
  ),
  neg AS (
    SELECT qid, q_label, nid, n_label, cos,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos DESC, nid ASC) AS rank
    FROM scored WHERE n_label != q_label
  )
  SELECT n.qid, n.q_label, n.nid, n.n_label, n.rank,
         ROUND(n.cos, 6) AS cos_neg,
         ROUND(p.pos_best - n.cos, 6) AS margin,
         n.cos > p.pos_best AS is_violating
  FROM neg n JOIN pos p ON p.qid = n.qid
  WHERE n.rank <= {_TOPK}
  ORDER BY n.qid, n.rank"""


@register("sim_hard_negatives", _HARDNEG_SQL)
def sim_hard_negatives(spark, sf_dir):
    """Top-{k} hard negatives per query with triplet margins: for each
    bounded query vector, the most-cosine-similar OTHER-label vectors
    (the negatives a contrastive loss learns the most from), each
    carrying ``margin = best_same_label_cosine − negative_cosine`` and
    an ``is_violating`` flag (negative closer than the best positive —
    the pairs that actively break a max-margin embedding).

    Float discipline: cosine is the same in-order double fold on both
    engines (bit-identical, see _dot/_COS_SQL); margin is a DIFFERENCE
    of two such values and is_violating a raw comparison of them, so
    the flag is engine-exact without any rounding epsilon; display
    columns round at 6 dp as usual.

    Plan shape: the |Q|-row query side broadcasts against ONE corpus
    scan (no corpus shuffle, same contract as the brute-force
    baseline); positives and negatives are two aggregations of that
    joined stream, re-joined on the |Q|-row key. Labeled the exact
    baseline: at 100 TB the negative stream feeds from an ANN
    candidate stage (sim_lsh_bucketed_topk / sim_ivf_topk) instead of
    the full scan — identical downstream algebra.
    """
    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("va"),
    ).filter(F.col("qid") < _TOPK_QUERIES)
    b = e.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("n_label"),
        F.col("embedding").alias("vb"),
    )
    scored = (
        F.broadcast(a)
        .crossJoin(b)
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "q_label", "nid", "n_label", cosine("va", "vb").alias("cos"))
    )
    pos = (
        scored.filter(F.col("n_label") == F.col("q_label"))
        .groupBy("qid")
        .agg(F.max("cos").alias("pos_best"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    neg = (
        scored.filter(F.col("n_label") != F.col("q_label"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOPK)
    )
    return (
        neg.join(F.broadcast(pos), "qid")
        .select(
            "qid",
            "q_label",
            "nid",
            "n_label",
            "rank",
            F.round("cos", 6).alias("cos_neg"),
            F.round(F.col("pos_best") - F.col("cos"), 6).alias("margin"),
            (F.col("cos") > F.col("pos_best")).alias("is_violating"),
        )
        .orderBy("qid", "rank")
    )


@register(
    "sim_label_separation_matrix",
    """WITH c AS (
      SELECT label, idx, AVG(CAST(val AS DOUBLE)) AS cv
      FROM (
        SELECT label,
               unnest(embedding) AS val,
               generate_subscripts(embedding, 1) AS idx
        FROM embeddings)
      GROUP BY label, idx),
    p AS (
      SELECT a.label AS label_a, b.label AS label_b,
             SUM(a.cv * b.cv) AS dot,
             SUM(a.cv * a.cv) AS na,
             SUM(b.cv * b.cv) AS nb,
             SUM((a.cv - b.cv) * (a.cv - b.cv)) AS d2
      FROM c a JOIN c b ON a.idx = b.idx AND a.label < b.label
      GROUP BY 1, 2)
    SELECT label_a, label_b,
           ROUND(sqrt(d2), 4) AS eucl_dist,
           ROUND(dot / (sqrt(na) * sqrt(nb)), 4) AS centroid_cos
    FROM p ORDER BY label_a, label_b""",
)
def sim_label_separation_matrix(spark, sf_dir):
    """Pairwise class-separability matrix over the label centroids:
    Euclidean distance and cosine between every centroid pair. THE
    embedding-space sanity report before training a classifier on the
    labels (two centroids at cosine ~1 means the classes are not
    linearly separable in this space) and the cluster-merge signal for
    semantic dedup (labels this op puts close are candidates for
    joint near-dup clustering). Companion to sim_label_centroids —
    this consumes exactly its per-(label, idx) means.

    Float contract: centroid components drift ~1e-13 across engines
    (partial-agg summation order); the |labels|² pairwise sums drift
    similarly, and 4-dp rounding absorbs both (the
    mm_center_embeddings_per_label precedent — distances are O(0.1-2),
    thirteen orders above the drift).

    Scale shape: one posexplode + groupBy(label, idx) shuffle (labels
    x dims rows), then a self-join keyed on idx over the CENTROID
    relation (|labels| x dims rows — model-state-sized at any corpus
    size); output |labels|²/2 rows. Vectors themselves never pair."""
    e = load_table(spark, sf_dir, "embeddings")
    c = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .select(
            "label",
            (F.col("pos") + 1).alias("idx"),
            F.col("val").cast("double").alias("val"),
        )
        .groupBy("label", "idx")
        .agg(F.avg("val").alias("cv"))
    )
    a = c.select(
        F.col("label").alias("label_a"), "idx", F.col("cv").alias("ca")
    )
    b = c.select(
        F.col("label").alias("label_b"),
        F.col("idx").alias("idx_b"),
        F.col("cv").alias("cb"),
    )
    p = (
        a.join(
            b,
            (F.col("idx") == F.col("idx_b"))
            & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).alias("dot"),
            F.sum(F.col("ca") * F.col("ca")).alias("na"),
            F.sum(F.col("cb") * F.col("cb")).alias("nb"),
            F.sum(
                (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))
            ).alias("d2"),
        )
    )
    return p.select(
        "label_a",
        "label_b",
        F.round(F.sqrt("d2"), 4).alias("eucl_dist"),
        F.round(
            F.col("dot") / (F.sqrt("na") * F.sqrt("nb")), 4
        ).alias("centroid_cos"),
    ).orderBy("label_a", "label_b")


def _method_agreement_sql() -> str:
    from gravity_books_datalakehouse_spark.operators.dedup import _MINHASH_SQL

    return (
        _MINHASH_SQL
        + f""",
  lex AS (SELECT doc_a, doc_b FROM pairs),
  sem AS (
    SELECT vec_a AS doc_a, vec_b AS doc_b FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ROUND({_COS_SQL}, 6) AS cos_sim
      FROM embeddings a
      JOIN embeddings b
        ON ({_signature_sql('a')}) = ({_signature_sql('b')})
       AND a.vec_id < b.vec_id
    ) WHERE cos_sim >= {_NEAR_DUP_TAU}),
  u AS (
    SELECT COALESCE(l.doc_a, s.doc_a) AS doc_a,
           CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_lex,
           CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_sem
    FROM lex l
    FULL JOIN sem s ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b)
  SELECT CAST(SUM(in_lex) AS BIGINT) AS n_lexical,
         CAST(SUM(in_sem) AS BIGINT) AS n_semantic,
         CAST(SUM(in_lex * in_sem) AS BIGINT) AS n_both,
         ROUND(SUM(in_lex * in_sem) * 1.0 /
               (SUM(in_lex) + SUM(in_sem) - SUM(in_lex * in_sem)), 6)
           AS pair_jaccard
  FROM u"""
    )


@register("dedup_method_agreement", _method_agreement_sql())
def dedup_method_agreement(spark, sf_dir):
    """Cross-method dedup agreement: the MinHash-LSH (lexical) candidate
    pair set vs the embedding-cosine (semantic) near-dup pair set, as a
    single-row overlap report (counts + pair-set Jaccard). The two
    methods see different phenomena — shingle overlap catches verbatim
    and near-verbatim copies, embedding cosine catches paraphrase — so
    LOW agreement is expected and the interesting signal is each
    method's exclusive mass: semantic-only pairs are what a
    lexical-only dedup pipeline ships as "clean" duplicates (the
    SemDeDup motivation, Abbas et al. 2023). The testdata's vec_id
    space is 1:1 with doc_id, making the pair keys directly joinable.

    Scale shape: both pair relations come from their production
    generators (banded LSH self-join; signature-bucketed cosine join) —
    the agreement layer adds one pair-keyed FULL OUTER join and a
    single-row aggregate, costing |L|+|S| rows regardless of corpus
    size."""
    from gravity_books_datalakehouse_spark.operators.dedup import (
        dedup_minhash_lsh_pairs,
    )

    lex = dedup_minhash_lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_lex")
    )
    sem = dedup_embedding_near_dup(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"),
        F.col("vec_b").alias("doc_b"),
        F.lit(1).alias("in_sem"),
    )
    u = lex.join(sem, ["doc_a", "doc_b"], "full").select(
        F.coalesce("in_lex", F.lit(0)).alias("in_lex"),
        F.coalesce("in_sem", F.lit(0)).alias("in_sem"),
    )
    both = F.sum(F.col("in_lex") * F.col("in_sem"))
    return u.agg(
        F.sum("in_lex").cast("bigint").alias("n_lexical"),
        F.sum("in_sem").cast("bigint").alias("n_semantic"),
        both.cast("bigint").alias("n_both"),
        F.round(
            both * F.lit(1.0)
            / (F.sum("in_lex") + F.sum("in_sem") - both),
            6,
        ).alias("pair_jaccard"),
    )


_HUB_K = 5
_HUB_SAMPLE_RATE = 0.10
_HUB_NIBBLES = 4


def _hubness_sql() -> str:
    from gravity_books_datalakehouse_spark.plans.sampling_queries import (
        rate_threshold_hex,
    )

    thr = rate_threshold_hex(_HUB_SAMPLE_RATE, _HUB_NIBBLES)
    return f"""WITH q AS (
      SELECT vec_id AS qid, embedding FROM embeddings
      WHERE substring(md5(CAST(vec_id AS VARCHAR)), 1, {_HUB_NIBBLES})
            < '{thr}'),
    p AS (
      SELECT a.qid, b.vec_id AS nid,
             ROUND(list_dot_product(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                          a.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(b.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]))), 6)
               AS cs
      FROM q a JOIN embeddings b ON b.vec_id != a.qid),
    top AS (
      SELECT qid, nid FROM (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cs DESC, nid) AS rn
        FROM p) WHERE rn <= {_HUB_K}),
    ind AS (SELECT nid, CAST(COUNT(*) AS BIGINT) AS d FROM top GROUP BY nid),
    hist AS (
      SELECT d AS in_degree, CAST(COUNT(*) AS BIGINT) AS n_vectors
      FROM ind GROUP BY d)
    SELECT in_degree, n_vectors FROM hist
    UNION ALL
    SELECT CAST(0 AS BIGINT),
           (SELECT COUNT(*) FROM embeddings) - (SELECT COUNT(*) FROM ind)
    ORDER BY in_degree"""


@register("sim_hubness_report", _hubness_sql())
def sim_hubness_report(spark, sf_dir):
    """Hubness profile of the embedding space: the in-degree histogram
    of the k=5 cosine NN graph (queries = deterministic 10% md5 sample,
    neighbors = the full corpus). A heavy in-degree tail — hub vectors
    that appear in everyone's top-k — is the classic
    high-dimensionality pathology (Radovanović et al. 2010, JMLR):
    hubs poison ANN recall, near-dup clustering, AND retrieval mixes,
    so this histogram is the go/no-go check before trusting any
    cosine-based curation leg. In-degree 0 (never retrieved) is
    reported too — the anti-hub mass.

    Determinism: cosine rounded to 6 dp before ranking with a vec_id
    tiebreak (the sim family contract); sample membership is an md5
    projection. Scale shape: |Q| sample queries broadcast against one
    corpus scan (|Q|x|N| bounded by the sample rate); in-degree and
    histogram aggregates are vector- and degree-bounded. The 100 TB
    path swaps the brute-force leg for the IVF/LSH candidate join and
    measures REALIZED hubness of the production index instead."""
    from gravity_books_datalakehouse_spark.plans.sampling_queries import (
        hash_fraction_hex,
        rate_threshold_hex,
    )

    thr = rate_threshold_hex(_HUB_SAMPLE_RATE, _HUB_NIBBLES)
    e = load_table(spark, sf_dir, "embeddings")
    # round 13 (guide §4.2): the sample queries were already broadcast —
    # a driver collect either way — so they now feed the vectorized
    # pair_cosine_arrow kernel over one corpus scan (bit-identical per
    # its in-order-cumsum contract). Measured 13.1 s → ~1.5 s at sf0.1.
    qids, qvecs = collect_query_vectors(
        e.where(hash_fraction_hex(F.col("vec_id"), _HUB_NIBBLES) < thr),
        "vec_id",
        "embedding",
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cs"), F.asc("nid"))
    top = (
        pair_cosine_arrow(
            e, qids, qvecs, out_name="cs_full", per_task_topk=_HUB_K + 1
        )
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid", F.round("cs_full", 6).alias("cs"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _HUB_K)
    )
    # |Q| x k rows — checkpoint so the histogram and the anti-hub total
    # branch from ONE kernel pass (round 13: the un-checkpointed plan
    # executed the whole pair stage twice, once per branch)
    ind = (
        top.groupBy("nid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .localCheckpoint()
    )
    hist = ind.groupBy(F.col("d").alias("in_degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    totals = e.agg(F.count(F.lit(1)).alias("n_all")).crossJoin(
        ind.agg(F.count(F.lit(1)).alias("n_hit"))
    )
    zero = totals.select(
        F.lit(0).cast("bigint").alias("in_degree"),
        (F.col("n_all") - F.col("n_hit")).cast("bigint").alias("n_vectors"),
    )
    return hist.unionByName(zero).orderBy("in_degree")


_CURVE_NPROBES = (1, 2, 4, 8)
_CURVE_TOPK = 5


def _nprobe_curve_sql() -> str:
    probes_union = ", ".join(str(p) for p in _CURVE_NPROBES)
    return f"""WITH {_IVF_ASSIGN_SQL},
  pr AS (
    SELECT q.vec_id AS qid, c.cid,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_cos_sql('q.embedding', 'c.cvec')} DESC,
                      c.cid ASC) AS pr
    FROM embeddings q CROSS JOIN cent c
    WHERE q.vec_id < {_IVF_QUERIES}),
  truth AS (
    SELECT qid, nid FROM (
      SELECT q.vec_id AS qid, n.vec_id AS nid,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY ROUND({_cos_sql('q.embedding', 'n.embedding')}, 6)
                          DESC, n.vec_id ASC) AS rk
      FROM embeddings q JOIN embeddings n ON n.vec_id != q.vec_id
      WHERE q.vec_id < {_IVF_QUERIES}
    ) WHERE rk <= {_CURVE_TOPK}),
  truth_pr AS (
    SELECT t.qid, pr.pr
    FROM truth t
    JOIN assign a ON a.vec_id = t.nid
    JOIN pr ON pr.qid = t.qid AND pr.cid = a.cluster_id),
  cand_pr AS (
    SELECT pr.qid, pr.pr
    FROM pr JOIN assign a ON a.cluster_id = pr.cid
    WHERE a.vec_id != pr.qid),
  lv AS (SELECT unnest([{probes_union}]) AS nprobe)
  SELECT lv.nprobe,
         CAST({_IVF_QUERIES} AS BIGINT) AS n_queries,
         CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
         CAST((SELECT COUNT(*) FROM truth_pr t WHERE t.pr <= lv.nprobe)
              AS BIGINT) AS n_hits,
         ROUND((SELECT COUNT(*) FROM truth_pr t WHERE t.pr <= lv.nprobe)
               * 1.0 / (SELECT COUNT(*) FROM truth), 6) AS recall,
         CAST((SELECT COUNT(*) FROM cand_pr c WHERE c.pr <= lv.nprobe)
              AS BIGINT) AS n_candidates
  FROM lv ORDER BY nprobe"""


@register("sim_ivf_nprobe_curve", _nprobe_curve_sql())
def sim_ivf_nprobe_curve(spark, sf_dir):
    """The IVF tuning curve: CANDIDATE recall@5 and candidate volume at
    nprobe = 1/2/4/8 — the recall-vs-cost trade that decides the probe
    setting (the exact re-rank inside the candidate set can't lose a
    neighbor the lists contain, so candidate recall IS the index's
    recall ceiling; cf. the IVF analysis in Jégou et al. 2011, PQ/IVF).
    sim_ann_recall_report grades ONE configuration; this sweeps the
    knob, which is what you actually publish when sizing an index.

    Exactness: a truth neighbor is 'hit at nprobe=p' iff its inverted
    list's probe rank for that query is <= p — integer rank compares on
    rounded-6 cosine orderings (the sim family contract); every output
    is an integer count or a single division. Plan shape: probe ranks
    are a |Q|x k window; truth is the sample-bounded brute-force leg
    (ground truth is ALWAYS brute-force somewhere — bounded by |Q|);
    the curve rows are conditional sums over the truth-rank and
    candidate-rank relations — one pass each, all four nprobe levels
    from the same ranked frames, no per-level re-scan."""
    e = load_table(spark, sf_dir, "embeddings")
    assign = _ivf_assigned(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _IVF_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    pw = Window.partitionBy("qid").orderBy(F.desc("cos_qc"), F.asc("cid"))
    pr = (
        q.crossJoin(F.broadcast(_centroids(e)))
        .select("qid", "cid", cosine("qvec", "cvec").alias("cos_qc"))
        .withColumn("pr", F.row_number().over(pw))
        .select("qid", "cid", "pr")
    )
    # round 13 (guide §4.2): the brute-force truth leg — already a
    # broadcast of the bounded |Q| set — runs through the vectorized
    # pair_cosine_arrow kernel (bit-identical per its contract)
    t_ids, t_vecs = collect_query_vectors(
        e.filter(F.col("vec_id") < _IVF_QUERIES), "vec_id", "embedding"
    )
    tw = Window.partitionBy("qid").orderBy(F.desc("cs"), F.asc("nid"))
    truth = (
        pair_cosine_arrow(
            e, t_ids, t_vecs, out_name="cs_full", per_task_topk=_CURVE_TOPK + 1
        )
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid", F.round("cs_full", 6).alias("cs"))
        .withColumn("rk", F.row_number().over(tw))
        .filter(F.col("rk") <= _CURVE_TOPK)
        .select("qid", "nid")
    )
    truth_pr = (
        truth.join(
            assign.select(F.col("vec_id").alias("nid"), "cluster_id"), "nid"
        )
        .join(
            pr.select("qid", F.col("cid").alias("cluster_id"), "pr"),
            ["qid", "cluster_id"],
        )
        .select("qid", "pr")
    )
    cand_pr = (
        F.broadcast(pr)
        .join(assign.select("vec_id", "cluster_id"), pr.cid == F.col("cluster_id"))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("pr")
    )
    t_agg = truth_pr.agg(
        F.count(F.lit(1)).alias("n_true"),
        *[
            F.sum(F.when(F.col("pr") <= p, 1).otherwise(0)).alias(f"h{p}")
            for p in _CURVE_NPROBES
        ],
    )
    c_agg = cand_pr.agg(
        *[
            F.sum(F.when(F.col("pr") <= p, 1).otherwise(0)).alias(f"c{p}")
            for p in _CURVE_NPROBES
        ]
    )
    # one row; the four legs below project from it — exchange reuse
    # already dedupes the shared pipeline (checkpointing it here was
    # MEASURED SLOWER in r13: eager materialization beat the reuse)
    wide = t_agg.crossJoin(c_agg)
    legs = [
        wide.select(
            F.lit(p).cast("int").alias("nprobe"),
            F.lit(_IVF_QUERIES).cast("bigint").alias("n_queries"),
            F.col("n_true").cast("bigint").alias("n_true"),
            F.col(f"h{p}").cast("bigint").alias("n_hits"),
            F.round(
                F.col(f"h{p}") * F.lit(1.0) / F.col("n_true"), 6
            ).alias("recall"),
            F.col(f"c{p}").cast("bigint").alias("n_candidates"),
        )
        for p in _CURVE_NPROBES
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("nprobe")


# --------------------------------------------------------------------------
# Product quantization distortion report (Jégou, Douze, Schmid 2011,
# "Product Quantization for Nearest Neighbor Search") — the memory-side
# sibling of sim_quantized_topk: int8 scalar quantization shrinks bytes
# 4x with near-zero ranking damage; PQ shrinks them 64x (4 one-byte
# codes for 64 float32 lanes) and the damage is MEASURABLE. This report
# publishes the two numbers that size a PQ index: reconstruction MSE
# (codebook distortion) and ADC recall@k against the exact float
# ranking — the same ranked-frame evaluation pattern as
# sim_ivf_nprobe_curve.

_PQ_M = 4        #: subspaces (64 dims -> 4 x 16)
_PQ_SUB = 16     #: dims per subspace
_PQ_K = 16       #: codes per sub-codebook (fits 4 bits; 1 byte budgeted)
_PQ_QUERIES = 50
_PQ_TOPK = 5
#: float32 corpus bytes per vector / PQ code bytes per vector
_PQ_COMPRESSION = (_PQ_M * _PQ_SUB * 4) // _PQ_M


def _dot_sql(a: str, b: str) -> str:
    return f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"


def _pq_recon_ctes() -> str:
    """The PQ encode/reconstruct CTE chain (sub → sub2 → cb → enc →
    recon), shared verbatim by the distortion report and the composed
    IVF-PQ oracle so the two can never desync."""
    ms = ", ".join(str(m) for m in range(_PQ_M))
    d2 = f"s.s2 - 2 * {_dot_sql('s.svec', 'c.cvec')} + c.c2"
    return f"""sub AS (
    SELECT e.vec_id, m.m,
           list_slice(e.embedding, m.m * {_PQ_SUB} + 1,
                      (m.m + 1) * {_PQ_SUB}) AS svec
    FROM embeddings e CROSS JOIN (SELECT unnest([{ms}]) AS m) m),
  sub2 AS (
    SELECT vec_id, m, svec, {_dot_sql('svec', 'svec')} AS s2 FROM sub),
  cb AS (
    SELECT m, vec_id AS cid, svec AS cvec, s2 AS c2
    FROM sub2 WHERE vec_id < {_PQ_K}),
  enc AS (
    SELECT vec_id, m, d2, cvec FROM (
      SELECT s.vec_id, s.m, c.cid, c.cvec, {d2} AS d2,
             row_number() OVER (PARTITION BY s.vec_id, s.m
                                ORDER BY {d2} ASC, c.cid ASC) AS rn
      FROM sub2 s JOIN cb c USING (m)) WHERE rn = 1),
  recon AS (
    SELECT vec_id, flatten(list(cvec ORDER BY m)) AS rvec,
           SUM(d2) AS dist
    FROM enc GROUP BY vec_id)"""


def _pq_sql() -> str:
    dot = _dot_sql
    cos_qn = (
        f"{dot('q.embedding', 'n.embedding')} / "
        f"(sqrt({dot('q.embedding', 'q.embedding')}) * "
        f"sqrt({dot('n.embedding', 'n.embedding')}))"
    )
    cos_qr = (
        f"{dot('q.embedding', 'r.rvec')} / "
        f"(sqrt({dot('q.embedding', 'q.embedding')}) * "
        f"sqrt({dot('r.rvec', 'r.rvec')}))"
    )
    return f"""WITH {_pq_recon_ctes()},
  mse AS (
    SELECT AVG(dist) AS mse, CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM recon),
  truth AS (
    SELECT qid, nid FROM (
      SELECT q.vec_id AS qid, n.vec_id AS nid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ROUND({cos_qn}, 6) DESC, n.vec_id ASC) AS rk
      FROM embeddings q JOIN embeddings n ON n.vec_id != q.vec_id
      WHERE q.vec_id < {_PQ_QUERIES}) WHERE rk <= {_PQ_TOPK}),
  pq AS (
    SELECT qid, nid FROM (
      SELECT q.vec_id AS qid, r.vec_id AS nid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ROUND({cos_qr}, 6) DESC, r.vec_id ASC) AS rk
      FROM embeddings q JOIN recon r ON r.vec_id != q.vec_id
      WHERE q.vec_id < {_PQ_QUERIES}) WHERE rk <= {_PQ_TOPK}),
  hits AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM truth t JOIN pq p ON p.qid = t.qid AND p.nid = t.nid)
  SELECT CAST({_PQ_M} AS INT) AS pq_m,
         CAST({_PQ_K} AS INT) AS pq_k,
         mse.n_vectors AS n_vectors,
         ROUND(mse.mse, 6) AS mse,
         CAST({_PQ_QUERIES} AS BIGINT) AS n_queries,
         CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
         hits.n_hits AS n_hits,
         ROUND(hits.n_hits * 1.0 / (SELECT COUNT(*) FROM truth), 6)
           AS recall_at_{_PQ_TOPK},
         CAST({_PQ_COMPRESSION} AS BIGINT) AS compression_x
  FROM mse, hits"""


@register("sim_pq_distortion_report", _pq_sql())
def sim_pq_distortion_report(spark, sf_dir):
    """PQ index sizing report in one row: codebook distortion
    (reconstruction MSE) and asymmetric-distance recall@5 vs the exact
    float ranking, at M=4 subspaces x K=16 codes over the 64-dim
    embeddings (compression_x = 64 vs float32 storage).

    Determinism across engines: sub-codebooks are SLICES of the first K
    vectors (the IVF _centroids convention), so reconstructed vectors
    are exact stored doubles, never computed means — every cosine and
    every d2 is an in-order fold over identical bits and therefore
    bit-equal in both engines. Encoding argmins break ties on code id;
    rankings follow the sim-family rounded-6/id-tiebreak contract. The
    only order-dependent float op is the global MSE mean (rounded to 6,
    compared at the harness's 4 dp — the established centroid-mean
    tolerance).

    Plan shape: the encode stage is the intrinsic linear ADC cost —
    |corpus| x (M*K) map-side rows against a broadcast 64-row codebook,
    collapsed by partial aggregation to M rows/vector before the
    exchange; per-row self-dots (s2, c2) are precomputed and carried so
    the per-pair expression is one fold + two flops (the kmeans
    interning lesson); the two ranking legs are sample-bounded
    (|Q| = 50) brute-force frames, the evaluation's irreducible truth
    cost. At 100 TB: codebooks train on a sample upstream; encode stays
    one map-side pass; the report's truth leg stays |Q|-bounded."""
    e = load_table(spark, sf_dir, "embeddings")
    # corpus-sized but narrow (64 floats + 1 double per vector);
    # checkpointed because BOTH the MSE row and the ADC ranking leg
    # consume it — un-checkpointed, the encode stage ran twice (r13)
    recon = _pq_recon(e).localCheckpoint()
    mse = recon.agg(
        F.avg("dist").alias("mse"),
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
    )
    # round 13 (guide §4.2): BOTH |Q|-bounded brute-force legs (exact
    # truth and full-scan ADC ranking) run through the vectorized
    # pair_cosine_arrow kernel (bit-identical per its contract)
    q_ids, q_vecs = collect_query_vectors(
        e.where(F.col("vec_id") < _PQ_QUERIES), "vec_id", "embedding"
    )
    tw = Window.partitionBy("qid").orderBy(F.desc("cs"), F.asc("nid"))
    truth = (
        pair_cosine_arrow(
            e, q_ids, q_vecs, out_name="cs_full", per_task_topk=_PQ_TOPK + 1
        )
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid", F.round("cs_full", 6).alias("cs"))
        .withColumn("rk", F.row_number().over(tw))
        .where(F.col("rk") <= _PQ_TOPK)
        .select("qid", "nid")
        # |Q| x k rows; checkpointed — the hit count AND the truth
        # total both consume it (one kernel pass instead of two)
        .localCheckpoint()
    )
    pq_rank = (
        pair_cosine_arrow(
            recon, q_ids, q_vecs, vec_col="rvec", out_name="cs_full",
            per_task_topk=_PQ_TOPK + 1,
        )
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid", F.round("cs_full", 6).alias("cs"))
        .withColumn("rk", F.row_number().over(tw))
        .where(F.col("rk") <= _PQ_TOPK)
        .select("qid", "nid")
    )
    counts = truth.join(pq_rank, ["qid", "nid"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    return (
        mse.crossJoin(n_true)
        .crossJoin(counts)
        .select(
            F.lit(_PQ_M).cast("int").alias("pq_m"),
            F.lit(_PQ_K).cast("int").alias("pq_k"),
            "n_vectors",
            F.round("mse", 6).alias("mse"),
            F.lit(_PQ_QUERIES).cast("bigint").alias("n_queries"),
            "n_true",
            "n_hits",
            F.round(F.col("n_hits") * F.lit(1.0) / F.col("n_true"), 6).alias(
                f"recall_at_{_PQ_TOPK}"
            ),
            F.lit(_PQ_COMPRESSION).cast("bigint").alias("compression_x"),
        )
    )


def _pq_recon(e: DataFrame) -> DataFrame:
    """(vec_id, rvec, dist): PQ-encode every vector against the
    first-K-slices codebook and reconstruct — the shared encode stage
    of the distortion report and the composed IVF-PQ search. One
    map-side pass against the broadcast M x K codebook, collapsed by
    partial aggregation to M rows/vector; self-dots precomputed and
    carried (the kmeans interning lesson)."""
    slices = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice("embedding", m * _PQ_SUB + 1, _PQ_SUB).alias("svec"),
            )
            for m in range(_PQ_M)
        ]
    )
    sub = (
        e.select("vec_id", F.explode(slices).alias("x"))
        .select("vec_id", "x.m", "x.svec")
        .withColumn("s2", _dot("svec", "svec"))
    )
    cb = sub.where(F.col("vec_id") < _PQ_K).select(
        "m",
        F.col("vec_id").alias("cid"),
        F.col("svec").alias("cvec"),
        F.col("s2").alias("c2"),
    )
    scored = sub.join(F.broadcast(cb), "m").select(
        "vec_id",
        "m",
        "cid",
        "cvec",
        (
            F.col("s2") - F.lit(2.0) * _dot("svec", "cvec") + F.col("c2")
        ).alias("d2"),
    )
    enc = (
        scored.groupBy("vec_id", "m")
        .agg(
            F.min_by(
                F.struct(F.col("d2").alias("d2"), F.col("cvec").alias("cvec")),
                F.struct(F.col("d2"), F.col("cid")),
            ).alias("best")
        )
        .select("vec_id", "m", F.col("best.d2").alias("d2"), F.col("best.cvec").alias("cvec"))
    )
    return enc.groupBy("vec_id").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "cvec"))),
                lambda s: s.getField("cvec"),
            )
        ).alias("rvec"),
        F.sum("d2").alias("dist"),
    )


# --------------------------------------------------------------------------
# Simplified silhouette — cluster/label quality in one number per label.
# Rousseeuw's silhouette (1987, public literature) with the O(n^2)
# pairwise distances replaced by centroid distances (the "simplified
# silhouette" of Hruschka et al.): a(i) = ||x_i - c_label(i)||,
# b(i) = min over other labels of ||x_i - c_l||, s = (b-a)/max(a,b).
# The label-coherence readout that sim_label_separation_matrix's
# centroid-to-centroid distances can't give: separation says the
# PROTOTYPES are far apart; silhouette says the POINTS actually sit
# nearer their own prototype than any other.

_SIL_SQL = """
    WITH ex AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS d,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings),
    c AS (SELECT label AS clabel, d, AVG(x) AS cx
          FROM ex GROUP BY label, d),
    d2 AS (SELECT e.vec_id, e.label, c.clabel,
                  SUM((e.x - c.cx) * (e.x - c.cx)) AS dd
           FROM ex e JOIN c ON c.d = e.d
           GROUP BY e.vec_id, e.label, c.clabel),
    ab AS (SELECT vec_id, label,
                  SQRT(MAX(CASE WHEN clabel = label THEN dd END)) AS a,
                  SQRT(MIN(CASE WHEN clabel <> label THEN dd END)) AS b
           FROM d2 GROUP BY vec_id, label),
    s AS (SELECT label, a, b,
                 CASE WHEN GREATEST(a, b) = 0 THEN 0.0
                      ELSE (b - a) / GREATEST(a, b) END AS sil
          FROM ab)
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           AVG(a) AS mean_intra, AVG(b) AS mean_nearest_other,
           AVG(sil) AS mean_silhouette
    FROM s GROUP BY label ORDER BY label"""


@register("sim_silhouette_by_label", _SIL_SQL)
def sim_silhouette_by_label(spark, sf_dir):
    """Per-label simplified silhouette: (label, n_vecs, mean_intra,
    mean_nearest_other, mean_silhouette). mean_silhouette near 1 =
    tight, well-separated labels; near 0 = boundary overlap; negative =
    points sit closer to a foreign prototype (label noise or a
    collapsed embedding space) — the go/no-go number before trusting
    labels for stratified sampling or hard-negative mining.

    Scale shape (the kmeans _assign idiom): centroids are ONE
    posexplode aggregate (labels x dims rows — model state), collected
    and re-entered as a literal array, so the per-vector pass is a
    narrow zero-shuffle map stage: transform() evaluates each centroid
    distance fold exactly once per row, then a/b are in-row array
    lookups — no (vector x centroid) join materializes at any corpus
    size. The final aggregate carries |labels| rows. Cross-engine
    float discipline: all arithmetic on doubles, raw (un-rounded)
    means pass through — summation-order noise lives at 1e-15, far
    under the harness's 4-dp compare; the only discrete decision
    (array_min over other-label distances) picks a VALUE, so an
    ulp-level tie cannot move the output."""
    e = load_table(spark, sf_dir, "embeddings")
    cents = (
        e.select("label", F.posexplode("embedding").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.avg(F.col("x").cast("double")).alias("cx"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("d", "cx"))).alias("cv"))
        .collect()
    )
    centarr = ",".join(
        "named_struct('lbl',{lbl},'cvec',array({vals}))".format(
            lbl=int(r["label"]),
            vals=",".join(
                f"CAST('{float(s['cx'])!r}' AS DOUBLE)" for s in r["cv"]
            ),
        )
        for r in sorted(cents, key=lambda r: r["label"])
    )
    dists = F.expr(
        f"""transform(
          array({centarr}),
          c -> named_struct(
            'lbl', c.lbl,
            'dist', sqrt(aggregate(
              zip_with(embedding, c.cvec,
                       (x, y) -> (CAST(x AS DOUBLE) - y)
                                 * (CAST(x AS DOUBLE) - y)),
              CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))))"""
    )
    ab = e.select("label", dists.alias("ds")).select(
        "label",
        F.expr("filter(ds, p -> p.lbl = label)[0].dist").alias("a"),
        F.expr(
            "array_min(transform(filter(ds, p -> p.lbl <> label),"
            " p -> p.dist))"
        ).alias("b"),
    )
    sil = F.when(F.greatest("a", "b") == 0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    return (
        ab.select("label", "a", "b", sil.alias("sil"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.avg("a").alias("mean_intra"),
            F.avg("b").alias("mean_nearest_other"),
            F.avg("sil").alias("mean_silhouette"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Composed IVF-PQ search (the FAISS IndexIVFPQ architecture, Jégou et
# al. 2011 — public literature): the coarse quantizer restricts each
# query to its nprobe inverted lists, then PQ asymmetric-distance
# computation (exact query vs reconstructed neighbor) ranks the
# candidates. The registry already grades each stage alone
# (sim_ivf_topk: candidate restriction at full precision;
# sim_pq_distortion_report: ADC at full candidate set) — this is the
# composition that actually ships in an ANN service, and its recall is
# NOT the product of the stage recalls (the two error sources overlap),
# which is exactly why it needs its own measured row.


def _ivfpq_sql() -> str:
    dot = _dot_sql
    cos_qr = (
        f"{dot('q.embedding', 'r.rvec')} / "
        f"(sqrt({dot('q.embedding', 'q.embedding')}) * "
        f"sqrt({dot('r.rvec', 'r.rvec')}))"
    )
    cos_qn = (
        f"{dot('q.embedding', 'n.embedding')} / "
        f"(sqrt({dot('q.embedding', 'q.embedding')}) * "
        f"sqrt({dot('n.embedding', 'n.embedding')}))"
    )
    return f"""WITH {_IVF_ASSIGN_SQL},
  {_pq_recon_ctes()},
  probes AS (
    SELECT vec_id AS qid, cid FROM (
      SELECT q.vec_id, c.cid,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_cos_sql('q.embedding', 'c.cvec')} DESC, c.cid ASC) AS pr
      FROM embeddings q CROSS JOIN cent c
      WHERE q.vec_id < {_PQ_QUERIES}
    ) WHERE pr <= {_IVF_NPROBE}),
  cand AS (
    SELECT p.qid, a.vec_id AS nid
    FROM probes p JOIN assign a ON a.cluster_id = p.cid AND a.vec_id != p.qid),
  adc AS (
    SELECT qid, nid FROM (
      SELECT cd.qid, cd.nid,
             row_number() OVER (PARTITION BY cd.qid
               ORDER BY ROUND({cos_qr}, 6) DESC, cd.nid ASC) AS rk
      FROM cand cd
      JOIN embeddings q ON q.vec_id = cd.qid
      JOIN recon r ON r.vec_id = cd.nid) WHERE rk <= {_PQ_TOPK}),
  truth AS (
    SELECT qid, nid FROM (
      SELECT q.vec_id AS qid, n.vec_id AS nid,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ROUND({cos_qn}, 6) DESC, n.vec_id ASC) AS rk
      FROM embeddings q JOIN embeddings n ON n.vec_id != q.vec_id
      WHERE q.vec_id < {_PQ_QUERIES}) WHERE rk <= {_PQ_TOPK}),
  hits AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM truth t JOIN adc p ON p.qid = t.qid AND p.nid = t.nid),
  mc AS (
    SELECT AVG(cnt) AS mean_candidates FROM (
      SELECT qid, COUNT(*) AS cnt FROM cand GROUP BY qid)),
  nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM embeddings)
  SELECT CAST({_IVF_K} AS INT) AS ivf_k,
         CAST({_IVF_NPROBE} AS INT) AS nprobe,
         CAST({_PQ_M} AS INT) AS pq_m,
         CAST({_PQ_K} AS INT) AS pq_k,
         nv.n_vectors AS n_vectors,
         CAST({_PQ_QUERIES} AS BIGINT) AS n_queries,
         ROUND(mc.mean_candidates, 6) AS mean_candidates,
         ROUND(mc.mean_candidates / (nv.n_vectors - 1), 6)
           AS scanned_fraction,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
         hits.n_hits AS n_hits,
         ROUND(hits.n_hits * 1.0 / (SELECT COUNT(*) FROM truth), 6)
           AS recall_at_{_PQ_TOPK}
  FROM mc, hits, nv"""


@register("sim_ivfpq_recall_report", _ivfpq_sql())
def sim_ivfpq_recall_report(spark, sf_dir):
    """End-to-end IVF-PQ recall report in one row: candidate
    restriction (ivf_k=16 lists, nprobe=2) composed with PQ ADC ranking
    (M=4 x K=16), graded against the exact-cosine top-5 — plus the cost
    side (mean candidates per query, scanned fraction of the corpus)
    so the recall number is read against what it saved. Constants are
    shared with sim_ivf_topk and sim_pq_distortion_report, making the
    three rows one tuning table: full-precision IVF recall, full-scan
    ADC recall, and this composition.

    Determinism: same contracts as its two parents — codebooks and
    centroids are stored vectors (every reconstruction is exact stored
    doubles, every cosine bit-equal across engines). The PROBE window
    orders by the UNROUNDED query↔centroid cosine with cid tiebreak:
    it is cross-engine deterministic because centroids are stored
    vectors whose cosines are bit-equal IEEE doubles on both engines,
    not because of a rounding contract. The ADC and truth RANK windows
    break ties on id after the rounded-6 score. Candidate counts are
    integers, and the two report divisions are single IEEE ops.

    Scale shape: the index build is one broadcast-centroid assignment
    pass plus the PQ encode pass (both map-side, corpus-sized but
    narrow); candidates key the corpus on cluster_id against broadcast
    probes; ADC joins the bounded candidate set to the recon relation
    on vec_id; truth is the |Q|-bounded brute-force leg (the
    evaluation's irreducible cost — production skips it). At 100 TB:
    pre-partition recon+assign by cluster_id so each probe reads only
    its lists; everything after the candidate join is |Q|-bounded."""
    e = load_table(spark, sf_dir, "embeddings")
    assign = _ivf_assigned(spark, sf_dir).select("vec_id", "cluster_id")
    recon = _pq_recon(e).select("vec_id", "rvec")
    q = e.where(F.col("vec_id") < _PQ_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    pw = Window.partitionBy("qid").orderBy(F.desc("cos_qc"), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(_centroids(e)))
        .select("qid", "qvec", "cid", cosine("qvec", "cvec").alias("cos_qc"))
        .withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= _IVF_NPROBE)
        .select("qid", "qvec", "cid")
    )
    cand = (
        F.broadcast(probes)
        .join(assign, probes.cid == assign.cluster_id)
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "qvec", F.col("vec_id").alias("nid"))
        .localCheckpoint()
    )
    tw = Window.partitionBy("qid").orderBy(F.desc("cs"), F.asc("nid"))
    adc = (
        cand.join(recon.withColumnRenamed("vec_id", "nid"), "nid")
        .select("qid", "nid", F.round(cosine("qvec", "rvec"), 6).alias("cs"))
        .withColumn("rk", F.row_number().over(tw))
        .where(F.col("rk") <= _PQ_TOPK)
        .select("qid", "nid")
    )
    # round 13 (guide §4.2): the |Q|-bounded brute-force truth leg runs
    # through the vectorized pair_cosine_arrow kernel (bit-identical per
    # its contract); checkpointed (|Q| x k rows) because BOTH the hit
    # count and the truth total consume it
    t_ids, t_vecs = collect_query_vectors(
        e.where(F.col("vec_id") < _PQ_QUERIES), "vec_id", "embedding"
    )
    truth = (
        pair_cosine_arrow(
            e, t_ids, t_vecs, out_name="cs_full", per_task_topk=_PQ_TOPK + 1
        )
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid", F.round("cs_full", 6).alias("cs"))
        .withColumn("rk", F.row_number().over(tw))
        .where(F.col("rk") <= _PQ_TOPK)
        .select("qid", "nid")
        .localCheckpoint()
    )
    hits = truth.join(adc, ["qid", "nid"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    n_true = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    mc = (
        cand.groupBy("qid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.avg("cnt").alias("mean_candidates"))
    )
    nv = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    return (
        mc.crossJoin(nv)
        .crossJoin(n_true)
        .crossJoin(hits)
        .select(
            F.lit(_IVF_K).cast("int").alias("ivf_k"),
            F.lit(_IVF_NPROBE).cast("int").alias("nprobe"),
            F.lit(_PQ_M).cast("int").alias("pq_m"),
            F.lit(_PQ_K).cast("int").alias("pq_k"),
            "n_vectors",
            F.lit(_PQ_QUERIES).cast("bigint").alias("n_queries"),
            F.round("mean_candidates", 6).alias("mean_candidates"),
            F.round(
                F.col("mean_candidates") / (F.col("n_vectors") - 1), 6
            ).alias("scanned_fraction"),
            "n_true",
            "n_hits",
            F.round(F.col("n_hits") * F.lit(1.0) / F.col("n_true"), 6).alias(
                f"recall_at_{_PQ_TOPK}"
            ),
        )
    )


# --------------------------------------------------------------------------
# kNN-graph reciprocity — the hubness report's complement. Hubness
# measures how unevenly in-degree concentrates (a few vectors become
# everyone's neighbor); reciprocity measures how often neighborhood is
# MUTUAL (i in topk(j) and j in topk(i)). High-dimensional degradation
# shows up as both: hubs soak up in-links, so reciprocity falls
# (Radovanović et al., JMLR 2010 — public literature). Mutual-kNN is
# also the edge rule many dedup/clustering pipelines use instead of a
# cosine threshold, so this rate is the direct feasibility number for
# that design. Graph restricted to the deterministic md5 sample on
# BOTH sides — mutuality is only well-defined inside one node set.


def _knn_recip_sql() -> str:
    from gravity_books_datalakehouse_spark.plans.sampling_queries import (
        rate_threshold_hex,
    )

    thr = rate_threshold_hex(_HUB_SAMPLE_RATE, _HUB_NIBBLES)
    dot = _dot_sql
    cos = (
        f"{dot('a.embedding', 'b.embedding')} / "
        f"(sqrt({dot('a.embedding', 'a.embedding')}) * "
        f"sqrt({dot('b.embedding', 'b.embedding')}))"
    )
    return f"""WITH q AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE substring(md5(CAST(vec_id AS VARCHAR)), 1, {_HUB_NIBBLES})
            < '{thr}'),
    p AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid, ROUND({cos}, 6) AS cs
      FROM q a JOIN q b ON a.vec_id != b.vec_id),
    top AS (
      SELECT qid, nid, cs FROM (
        SELECT qid, nid, cs,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cs DESC, nid) AS rn
        FROM p) WHERE rn <= {_HUB_K}),
    m AS (
      SELECT t.cs, CASE WHEN r.qid IS NOT NULL THEN 1 ELSE 0 END AS mut
      FROM top t LEFT JOIN top r ON r.qid = t.nid AND r.nid = t.qid)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM q) AS n_vectors,
           CAST({_HUB_K} AS INT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_directed_edges,
           CAST(SUM(mut) AS BIGINT) AS n_mutual_edges,
           ROUND(SUM(mut) * 1.0 / COUNT(*), 6) AS reciprocity_rate,
           AVG(CASE WHEN mut = 1 THEN cs END) AS mean_cs_mutual,
           AVG(CASE WHEN mut = 0 THEN cs END) AS mean_cs_oneway
    FROM m"""


@register("sim_knn_reciprocity", _knn_recip_sql())
def sim_knn_reciprocity(spark, sf_dir):
    """One-row kNN-graph reciprocity report on the deterministic 10%
    md5 sample (shared constants with sim_hubness_report: k=5,
    rounded-6 cosine, nid tiebreak): (n_vectors, k, n_directed_edges,
    n_mutual_edges, reciprocity_rate, mean_cs_mutual, mean_cs_oneway).
    mean_cs_mutual > mean_cs_oneway is the sanity direction (mutual
    edges are the confident ones); a reciprocity_rate far below 2/k x
    expectation flags hub domination — read beside the hubness
    histogram.

    Scale shape: the sample-bounded self-join is the measurement's
    intrinsic cost (|S|^2 pairs, |S| = rate x corpus — the same
    budget knob as the hubness and S-curve legs); top-k is one
    |S|-partition window; the mutual probe is a self-join of the
    k|S|-row top relation on the reversed key; one-row aggregate.
    Floats: means of rounded-6 cosines — summation-order noise at
    1e-15 under the 4-dp harness compare."""
    from gravity_books_datalakehouse_spark.plans.sampling_queries import (
        hash_fraction_hex,
        rate_threshold_hex,
    )

    thr = rate_threshold_hex(_HUB_SAMPLE_RATE, _HUB_NIBBLES)
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(hash_fraction_hex(F.col("vec_id"), _HUB_NIBBLES) < thr)
    # round 13 (guide §4.2): sample × sample via the vectorized kernel —
    # the sample side was already broadcast (driver collect either way)
    qids, qvecs = collect_query_vectors(q, "vec_id", "embedding")
    w = Window.partitionBy("qid").orderBy(F.desc("cs"), F.asc("nid"))
    top = (
        pair_cosine_arrow(
            q, qids, qvecs, out_name="cs_full", per_task_topk=_HUB_K + 1
        )
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid", F.round("cs_full", 6).alias("cs"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _HUB_K)
        .select("qid", "nid", "cs")
        .localCheckpoint()
    )
    rev = top.select(F.col("nid").alias("qid"), F.col("qid").alias("nid"),
                     F.lit(1).alias("mut"))
    m = top.join(rev, ["qid", "nid"], "left").select(
        "cs", F.coalesce("mut", F.lit(0)).alias("mut")
    )
    n_q = q.agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    return n_q.crossJoin(
        m.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_directed_edges"),
            F.sum("mut").cast("bigint").alias("n_mutual_edges"),
            F.round(
                F.sum("mut") * F.lit(1.0) / F.count(F.lit(1)), 6
            ).alias("reciprocity_rate"),
            F.avg(F.when(F.col("mut") == 1, F.col("cs"))).alias(
                "mean_cs_mutual"
            ),
            F.avg(F.when(F.col("mut") == 0, F.col("cs"))).alias(
                "mean_cs_oneway"
            ),
        )
    ).select(
        "n_vectors",
        F.lit(_HUB_K).cast("int").alias("k"),
        "n_directed_edges",
        "n_mutual_edges",
        "reciprocity_rate",
        "mean_cs_mutual",
        "mean_cs_oneway",
    )


# --------------------------------------------------------------------------
# Matryoshka-style dimension-truncation curve (Kusupati et al. 2022,
# "Matryoshka Representation Learning" — public literature). Modern
# embedding models are trained so PREFIXES of the vector remain usable;
# the index-sizing question is "how many dims can I drop before top-k
# quality breaks". This op ranks a bounded query set by cosine over the
# first d dims for d in the dyadic ladder and reports, per d, recall@k
# against the full-dimension ranking and the mean FULL cosine of the
# truncated top-k (the quality actually served) — the dimension-budget
# table beside the PQ/int8 compression reports.

_MRL_DIMS = (8, 16, 32, 64)


def _mrl_cos_sql(d: int) -> str:
    sl = f"[1:{d}]"
    return (
        f"list_dot_product((a.embedding::DOUBLE[]){sl},"
        f" (b.embedding::DOUBLE[]){sl}) / "
        f"(sqrt(list_dot_product((a.embedding::DOUBLE[]){sl},"
        f" (a.embedding::DOUBLE[]){sl})) * "
        f"sqrt(list_dot_product((b.embedding::DOUBLE[]){sl},"
        f" (b.embedding::DOUBLE[]){sl})))"
    )


def _mrl_sql() -> str:
    # The ladder's TOP rung ranks by the UNSLICED full-vector cosine
    # (no [1:d] slice), so the identity anchor survives any embedding
    # width change instead of silently truncating (ADVICE r12 item 3);
    # the current 64-dim corpus makes the two expressions bit-identical.
    legs = "\n      UNION ALL\n".join(
        f"""      SELECT {d} AS dim, a.vec_id AS qid, b.vec_id AS nid,
             {_COS_SQL if d == _MRL_DIMS[-1] else _mrl_cos_sql(d)} AS cos_d,
             {_COS_SQL} AS cos_full
      FROM embeddings a, embeddings b
      WHERE a.vec_id < {_TOPK_QUERIES} AND a.vec_id != b.vec_id"""
        for d in _MRL_DIMS
    )
    return f"""WITH pairs AS (
{legs}),
    ranked AS (
      SELECT dim, qid, nid, cos_full,
             row_number() OVER (PARTITION BY dim, qid
                                ORDER BY cos_d DESC, nid ASC) AS rnk
      FROM pairs),
    topd AS (SELECT dim, qid, nid, cos_full FROM ranked WHERE rnk <= {_TOPK}),
    full_top AS (SELECT qid, nid FROM topd WHERE dim = {_MRL_DIMS[-1]}),
    per_q AS (
      SELECT t.dim, t.qid,
             SUM(CASE WHEN f.nid IS NOT NULL THEN 1 ELSE 0 END) AS hits,
             SUM(t.cos_full) AS sum_full
      FROM topd t
      LEFT JOIN full_top f ON f.qid = t.qid AND f.nid = t.nid
      GROUP BY 1, 2)
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           ROUND(SUM(hits) * 1.0 / (COUNT(*) * {_TOPK}), 6) AS recall_at_k,
           ROUND(SUM(sum_full) / (COUNT(*) * {_TOPK}), 6)
             AS mean_full_cos_of_topk
    FROM per_q
    GROUP BY dim
    ORDER BY dim"""


@register("sim_matryoshka_truncation", _mrl_sql())
def sim_matryoshka_truncation(spark, sf_dir):
    """Dimension-truncation quality curve: for d in {8, 16, 32, 64},
    rank the bounded query set by cosine over the FIRST d dims and
    report (dim, n_queries, recall_at_k, mean_full_cos_of_topk) against
    the full-dimension ranking — recall@k answers "do I still find the
    same neighbors", the mean full cosine answers "how good are the
    ones I find instead". The ladder's top rung ranks by the UNSLICED
    full-vector cosine (identity row, recall 1.0) — never a prefix
    slice, so it stays the anchor even if the embedding width changes
    (ADVICE r12 item 3).

    Exactness: each truncated cosine is the same in-order double fold
    as the full one, over the dim prefix (F.slice / DuckDB list slice
    feeding list_dot_product), so ranking decisions are bit-identical
    on both engines; recall is exact integers over k; the two displayed
    means are engine-ordered float sums under the family's 6-dp round.

    Scale shape (round 13, guide §4.2): the |Q| queries feed ONE
    vectorized mapInArrow pass over the corpus scan
    (pair_cosine_arrow with dims) — per pair the element products run once
    and every level's dot is a PREFIX of one in-order cumulative sum,
    bit-identical to the per-level slice-folds it replaces (same
    products, same left-to-right adds; the full-width rung never
    slices); per-vector truncated norms are prefixes of the squared
    cumulative sum, computed per ROW, never per pair. The four cosines
    reach the Generate node as plain scalar columns (the r13 CSE
    lesson stands). The rank filter plans as partial+final
    WindowGroupLimit, so the shuffle carries ~k rows per (dim, qid)
    per task, not the |Q| x N pair fan-out; everything after the
    per-(dim, qid) window is |Q| x 4-sized. At production scale the
    truncated rankings reuse the IVF/LSH candidate sets like every
    other evaluation leg."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = list(_MRL_DIMS)
    trunc = dims[:-1]  # the top rung ranks by the unsliced full cosine
    q_ids, q_vecs = collect_query_vectors(
        e.filter(F.col("vec_id") < _TOPK_QUERIES), "vec_id", "embedding"
    )
    scored = pair_cosine_arrow(
        e, q_ids, q_vecs, dims=tuple(trunc), out_name="cf",
        per_task_topk=_TOPK + 1,
    ).filter(F.col("qid") != F.col("nid"))
    pairs = scored.select(
        "qid",
        "nid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("dim"),
                        F.col(
                            "cf" if d == dims[-1] else f"c{d}"
                        ).alias("cos_d"),
                        F.col("cf").alias("cos_full"),
                    )
                    for d in dims
                ]
            )
        ).alias("s"),
    ).select("qid", "nid", "s.dim", "s.cos_d", "s.cos_full")
    w = Window.partitionBy("dim", "qid").orderBy(
        F.desc("cos_d"), F.asc("nid")
    )
    topd = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= _TOPK)
        .select("dim", "qid", "nid", "cos_full")
        .localCheckpoint()
    )
    full_top = topd.where(F.col("dim") == dims[-1]).select(
        "qid", "nid", F.lit(1).alias("hit")
    )
    per_q = (
        topd.join(full_top, ["qid", "nid"], "left")
        .groupBy("dim", "qid")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).alias("hits"),
            F.sum("cos_full").alias("sum_full"),
        )
    )
    from gravity_books_datalakehouse_spark.operators.sort import bounded_sort

    return (
        per_q.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.round(
                F.sum("hits") * F.lit(1.0)
                / (F.count(F.lit(1)) * F.lit(_TOPK)),
                6,
            ).alias("recall_at_k"),
            F.round(
                F.sum("sum_full") / (F.count(F.lit(1)) * F.lit(_TOPK)), 6
            ).alias("mean_full_cos_of_topk"),
        )
        .transform(bounded_sort, "dim")
    )
