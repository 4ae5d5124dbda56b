"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE compact JSON line to stdout:
``{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "duckdb_sec": {...}, "ratio": {...}, ...}``

The driver captures stdout with a bounded buffer, so stdout carries only
the numbers it needs (per-query seconds, plus DuckDB self-baseline
seconds and spark/duckdb ratio for the star/TPC-H reference-parity
queries). Full per-query detail (shuffle bytes, spill, stage/task
counts) goes to stderr and ``BENCH_DETAIL.json``.

Each query is timed end-to-end (plan + execute + fetch) from a shared
SparkSession, mirroring how a user would run interactive analytics. The
flagship metric is the total wall-clock across all headline queries.

Self-baselining: the reference repo publishes no throughput numbers
(BASELINE.md: instrumentation only), so the same oracle SQL is timed in
DuckDB on the same parquet at the same SF — giving every round a real
ratio for the 2x gate on the reference-parity queries.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gravity_books_datalakehouse_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# Families timed against the DuckDB oracle as the self-baseline: the
# reference-parity star queries and the TPC-H-shaped analytics.
BASELINE_PREFIXES = ("star_", "q_")

# --- cross-round noise sentinel -------------------------------------------
# Round 5's wall-clock moved +20% round-over-round with ZERO code changes to
# the slow families — the DuckDB self-baseline slowed 17.6% on identical SQL
# and parquet, i.e. ambient host noise. This pinned query (fixed SQL, fixed
# tables, never derived from the registry so it cannot drift) is timed
# best-of-3 in DuckDB each run; normalized_total rescales the headline
# wall-clock by (ref / measured) so round-over-round deltas are attributable
# to code, not to the host's mood.
_SENTINEL_SQL = (
    "SELECT o.o_orderpriority, COUNT(*) AS n, "
    "SUM(l.l_extendedprice * (1 - l.l_discount)) AS rev, "
    "AVG(l.l_quantity) AS aq "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority"
)
#: Reference sentinel seconds: best-of-3 at sf0.1 measured on the driver
#: host in a quiet round-6 window (observed 0.082-0.090 across 4 trials).
#: Valid ONLY at sf0.1 (the driver's bench scale) — normalized_total_sec
#: is emitted as null at any other SF rather than rescaled nonsense.
_SENTINEL_REF_SEC = 0.085
_SENTINEL_REF_SF = 0.1


def _noise_sentinel_sec() -> float | None:
    """Best-of-3 DuckDB wall-time of the pinned sentinel at SF_DIR."""
    try:
        import duckdb
    except ImportError:
        return None
    con = duckdb.connect()
    try:
        for t in ("lineitem", "orders"):
            p = os.path.join(SF_DIR, f"{t}.parquet")
            if not os.path.exists(p):
                return None
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(_SENTINEL_SQL).fetchall()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 4)
    finally:
        con.close()


def _spark_parallel_sentinel_sec(spark) -> float | None:
    """Best-of-3 SPARK wall-time of the pinned sentinel SQL — the
    MULTI-CORE twin of the single-threaded DuckDB noise sentinel.
    Round-8 finding: the two disagree — a morning run showed duck
    sentinel +34% (single-core busy) with the star family FAST, an
    afternoon run duck sentinel quiet with star 2x SLOW — i.e. the
    host's single-core and multi-core headroom move independently, and
    spark/duck ratios bounce with the multi-core side the duck sentinel
    cannot see. This records it; no rescaling (a ratio of two noisy
    measurements is not a correction)."""
    try:
        for t in ("lineitem", "orders"):
            p = os.path.join(SF_DIR, f"{t}.parquet")
            if not os.path.exists(p):
                return None
            spark.read.parquet(p).createOrReplaceTempView(f"_sent_{t}")
        sql = _SENTINEL_SQL.replace("lineitem l", "_sent_lineitem l").replace(
            "orders o", "_sent_orders o"
        )
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            spark.sql(sql).toPandas()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 4)
    except Exception:
        return None


#: Reference Spark-sentinel seconds at sf0.1 (best-of-3, local[32]):
#: measured in the round-8 idle window INSIDE a fully-warmed bench
#: session (0.395; a fresh session reads 0.63-0.91 — compare only
#: bench-context values); the
#: same window timed the star family ~1.3-1.7x slower than round 7's
#: quiet window at an 0.085s duck sentinel — multi-core headroom is the
#: noisier axis). Recorded for cross-round comparison, never rescaled.
_SPARK_SENTINEL_REF_SEC = 0.40


def _spark_fixed_floor(spark) -> dict[str, float]:
    """Per-query fixed cost of the Spark harness itself, measured (not
    inferred): best-of-5 of (a) a plan-trivial local query and (b) a
    one-row parquet scan, both through the same toPandas path every
    timed query uses. At sf0.1 the q_ family's DuckDB times are 15-170
    ms, so this floor — Catalyst planning, stage scheduling, Arrow
    fetch — dominates the raw spark/duckdb ratio; the corrected ratio
    (spark_sec - floor) / duckdb_sec is the part a bigger SF would
    actually amortize (cross-checked by the sf1 probe below)."""
    floors: dict[str, float] = {}
    probes = (
        ("select1", lambda: spark.sql("SELECT 1 AS x").toPandas()),
        (
            "scan1row",
            lambda: spark.read.parquet(
                os.path.join(SF_DIR, "region.parquet")
            ).limit(1).toPandas(),
        ),
    )
    for label, fn in probes:
        best = None
        for _ in range(5):
            t0 = time.perf_counter()
            fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        floors[label] = round(best, 4)
    return floors


def _spark_stage_floor(spark) -> float | None:
    """Measured per-STAGE scheduling cost of this Spark session.

    Round 6 showed the per-QUERY floor (one-row scan, 0.087 s)
    under-corrects the q_ family: those queries run 10-19 *serialized*
    stages with ~5 ms median tasks, so the dominant fixed cost is per
    stage, not per query. This probe measures it directly: a one-row
    DataFrame pushed through k chained exchanges (each groupBy keys on a
    fresh expression, so Catalyst cannot collapse them and AQE
    materializes the k shuffle stages sequentially — the same serialized
    query-stage ladder the q_ plans walk). The slope between k=2 and
    k=12 isolates the marginal stage cost from the shared plan/fetch
    cost. Caveat, stated where the number is used: broadcast-build
    stages in real queries overlap, while the probed ladder is strictly
    sequential — so stages×floor_stage is an UPPER bound on scheduling
    overhead and the corrected ratio a LOWER bound on plan cost."""
    from pyspark.sql import functions as F

    def chain(k: int):
        df = spark.range(1).select(
            F.col("id").alias("x"), F.lit(1).cast("long").alias("v")
        )
        for _ in range(k):
            df = (
                df.groupBy("x")
                .agg(F.sum("v").alias("v"))
                .select((F.col("x") + 1).alias("x"), "v")
            )
        return df

    times = {}
    for k in (2, 12):
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            chain(k).toPandas()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        times[k] = best
    slope = (times[12] - times[2]) / 10.0
    return round(max(slope, 0.0), 4)


def _duckdb_version() -> str | None:
    try:
        import duckdb

        return duckdb.__version__
    except ImportError:
        return None


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _duckdb_baseline(oracles: dict[str, str]) -> dict[str, float]:
    """Best-of-2 DuckDB wall-time per reference-parity oracle query."""
    try:
        import duckdb
    except ImportError:
        return {}
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    times: dict[str, float] = {}
    for name, sql in oracles.items():
        if not name.startswith(BASELINE_PREFIXES):
            continue
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        times[name] = round(best, 3)
    con.close()
    return times


# One oracle-backed representative per query family, so the measured
# spark/duckdb ratio trend across 100x of data covers the whole engine
# surface (not just the scan-heavy TPC-H shapes).
SCALING_QUERIES = (
    "q_pricing_summary",            # q: full-scan aggregate
    "star_q1_monthly_sales",        # star: fact x broadcast-dim rollup
    "text_repetition_stats",        # text: array-math + digest-keyed shuffle
    "dedup_exact",                  # dedup: md5-digest groupBy
    "dedup_substring_spans",        # dedup: rolling-window hash + islands
    "sim_topk_cosine_bruteforce",   # sim: broadcast Q x corpus dot products
    "ev_tumbling_hourly",           # ev: windowed time-bucket aggregation
    "pipeline_curate_corpus",       # pipeline: quality + LSH verdict compose
    "op_sample_hash_bernoulli",     # sampling: hash-threshold row-local
)
SCALING_DIRS = tuple(
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if os.path.isdir(d)
)


def _scaling_probe(spark, entry_mod) -> dict:
    """Best-of-2 Spark and DuckDB seconds for one representative query
    per family at each SF dir — the measured spark/duckdb ratio trend
    across 100x of data. Compact stdout shape (the SF axis is keyed
    once): {"sfs": [...], "sec": {query: [[spark_s, duck_s], ...]}}."""
    try:
        import duckdb
    except ImportError:
        return {}
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    sfs = [str(_sf_from_dir(d)) for d in SCALING_DIRS]
    sec: dict[str, list[list[float]]] = {}
    for d in SCALING_DIRS:
        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(d, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for name in SCALING_QUERIES:
            s_best = d_best = None
            for _ in range(2):
                t0 = time.perf_counter()
                qs[name](spark, d).toPandas()
                dt = time.perf_counter() - t0
                s_best = dt if s_best is None else min(s_best, dt)
                t0 = time.perf_counter()
                con.execute(oracles[name]).fetchall()
                dt = time.perf_counter() - t0
                d_best = dt if d_best is None else min(d_best, dt)
            sec.setdefault(name, []).append(
                [round(s_best, 3), round(d_best, 3)]
            )
        con.close()
    return {"sfs": sfs, "sec": sec}


# --- synthetic sf~5 replica probe -------------------------------------------
# The round-5 compacted probe refuted the file-layout explanation for the q_
# family's spark/duckdb ratios; the remaining hypothesis is per-query fixed
# overhead that a larger SF amortizes. This probe measures the crossover
# DIRECTLY: lineitem and orders are replicated with the order keys offset
# per replica (each replica is a disjoint set of orders over the shared
# customer/part dims — exactly how a larger TPC-H SF behaves, preserving
# per-order join cardinalities), and three q_ shapes run on both engines.
# Round 6 ran 10 copies (~sf1, 6 M lineitem rows) and found BOTH engines
# still overhead-bound — DuckDB's own times barely grew — so the probe was
# inconclusive. 50 copies (~sf5, 30 M lineitem rows / ~1.5 GB) forces data
# cost to dominate; the one-time DuckDB COPY build is amortized across the
# round.
SF1_COPIES = 50
SF1_QUERIES = (
    "q_pricing_summary",          # full-scan aggregate (lineitem only)
    "q_large_volume_customers",   # TPC-H q18: wide join + HAVING semi-join
    "q_order_to_ship_lag",        # fact join + discrete percentiles
    "q_nation_pair_flows",        # TPC-H q7: two dim chains, AQE-managed joins
)


def _build_sf1_copy(src_dir: str) -> str:
    """Materialize the SF1_COPIES-x replica set under .bench-sf1/ via DuckDB
    (multi-row-group files, so both engines parallelize the scan); dim
    tables are shared with the source dir via symlink."""
    import shutil

    import duckdb

    dst = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench-sf1")
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)
    con = duckdb.connect()
    off = con.execute(
        f"SELECT MAX(o_orderkey) + 1 FROM read_parquet('{src_dir}/orders.parquet')"
    ).fetchone()[0]
    for t, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        con.execute(
            f"COPY (SELECT t.* REPLACE (t.{key} + i.range * {off} AS {key}) "
            f"FROM read_parquet('{src_dir}/{t}.parquet') t "
            f"CROSS JOIN range({SF1_COPIES}) i) "
            f"TO '{dst}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    for t in TABLES:
        if t in ("lineitem", "orders"):
            continue
        # absolute target: a relative SPARK_GRAFT_SF_DIR would otherwise
        # resolve relative to .bench-sf1/ and leave the links dangling
        src = os.path.abspath(os.path.join(src_dir, f"{t}.parquet"))
        if os.path.exists(src):
            os.symlink(src, os.path.join(dst, f"{t}.parquet"))
    return dst


def _sf1_probe(spark, entry_mod) -> dict:
    """Best-of-2 Spark and DuckDB seconds for SF1_QUERIES on the
    replica set: {"copies": N, "sec": {name: [spark_s, duck_s, ratio]}}.
    Read next to the same queries' sf0.1 ratios to see the fixed-overhead
    amortization directly instead of extrapolating it."""
    try:
        import duckdb
    except ImportError:
        return {}
    d = _build_sf1_copy(SF_DIR)
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(d, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out: dict = {"copies": SF1_COPIES, "sec": {}}
    for name in SF1_QUERIES:
        if name not in qs or name not in oracles:
            continue
        s_best = d_best = None
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                qs[name](spark, d).toPandas()
                dt = time.perf_counter() - t0
                s_best = dt if s_best is None else min(s_best, dt)
                t0 = time.perf_counter()
                con.execute(oracles[name]).fetchall()
                dt = time.perf_counter() - t0
                d_best = dt if d_best is None else min(d_best, dt)
        except Exception as exc:
            print(f"# sf1 {name}: ERROR {exc}", file=sys.stderr)
            continue
        out["sec"][name] = [
            round(s_best, 3),
            round(d_best, 3),
            round(s_best / d_best, 2) if d_best > 0 else None,
        ]
    con.close()
    return out


# --- documents replica probe -------------------------------------------------
# The sf~5 replica probe scales lineitem/orders; the text/dedup family's
# scale story needs DOCUMENT COUNT to grow. 20 copies of documents with
# offset doc_ids (each copy a verbatim duplicate set — the adversarial
# dedup workload: every doc gains 19 true near-dup partners). This probe
# caught a real bug on its first run (round 8): the SNM window join was
# bucket-quadratic and hung here while green at sf0.1.
DOCS_COPIES = 20
DOCS_QUERIES = (
    "text_token_stats",          # scan-shape baseline
    "dedup_exact",               # digest groupBy under 20x duplication
    "text_ngram_novelty",        # gram join with 20x df
    "op_ks_drift_by_source",     # value-domain-bounded spine at 20x rows
    "dedup_sorted_neighborhood",  # banded window join (spark-only: the
                                  # oracle keeps the quadratic relational
                                  # form, fine at sf0.01, not at 20x)
    "dedup_snm_multipass",        # both banded passes at 20x (spark-only,
                                  # same quadratic-oracle reason)
    "dedup_bloom_prefilter",      # bitset build + map-side prefilter at
                                  # 20x corpus (oracle = exact semi-join)
    "op_split_leakage_near_dup",  # round 10: expanded from the collapsed
                                  # rep-level pair graph (spark-only: the
                                  # oracle's doc-level pairs CTE is
                                  # clique-dense at 20x by design)
    "dedup_cluster_size_histogram",  # round 10: CC on the collapsed
                                  # graph + multiplicity expansion
                                  # (spark-only: recursive-CTE oracle
                                  # materializes |component|^2 at 20x)
    "dedup_dbscan_density_clusters",  # round 10: the density fixpoint on
                                  # the core-core rep graph — at 20x
                                  # every group is core, so this is the
                                  # adversarial full-graph case
                                  # (spark-only: same recursive-CTE
                                  # oracle shape as the histogram).
                                  # Measured ~10 s/call warm (engine
                                  # session, local[32]); the session
                                  # memo (_dbscan_assign) keeps repeat
                                  # calls free.
    "dedup_optics_eps_profile",   # round 11: the varying-eps sweep at 20x —
                                  # every group is core at tau=0 and the
                                  # exact-Jaccard pass runs on rep pairs
                                  # only (spark-only: the doc-level
                                  # oracle's pairs CTE is clique-dense
                                  # at 20x like the other rep-level ops)
    "text_substring_dedup_rewrite",  # round 11: difference-array interval
                                  # rewrite (2 events/window + per-doc
                                  # array slicing — no k-row coverage
                                  # explode, no per-token anti-join, no
                                  # collect_list reassembly); measured
                                  # 25.0 s cold (shared dup-window build)
                                  # / 4.5-4.8 s warm at 20x, no OOM in a
                                  # 32-thread session (spark-only: the
                                  # oracle keeps the coverage-explode
                                  # SQL, quadratic-ish at 20x)
    "dedup_cluster_persistence",  # round 12: the 6-level contracted-CC
                                  # cascade on the collapsed rep graph —
                                  # at 20x the rep graph is UNCHANGED
                                  # (exact-dedup-first), only mults grow
                                  # (spark-only: the per-level recursive
                                  # closure oracle is |component|^2 x 6
                                  # levels at doc level)
    "dedup_cluster_extraction",   # round 12: the S* DP + coverage descent
                                  # over the shared cascade (spark-only:
                                  # same closure-oracle shape)
)
# text_substring_dedup_rewrite 20x history: the round-10 form was
# measured once and NOT probed per-round. Isolated 4g/16-thread
# session: 28.4 s cold / 12.5 s warm — its duplicated-position set was
# materialized as rows (k-row coverage explode + per-token anti-join).
# Inside the 32-thread bench JVM that
# stage's 32 concurrent hash-agg buffers exceeded the 4g heap (OOM that
# poisoned every later probe in two round-10 runs — clearing the sf0.1
# memos first was not enough), and a probe that kills the shared
# session is worse than no probe.
# NOT probed, measured once round 8: dedup_fuzzy_prefix 87.9 s / 1.32 M
# pairs (output-bound: the replica really contains that many qualifying
# pairs); dedup_prefix_cosine_pairs's candidate stage scales k^2 under
# k-fold verbatim duplication (~4.4 G rows at 20x) — intrinsic to the
# exact answer; production order is dedup_exact FIRST, PPJoin on
# survivors (see the operator docstring). Measured once round 9 (engine
# session, local[16]): dedup_snm_multipass 11.5 s / 577 k pairs,
# dedup_bloom_prefilter 8.4 s, op_split_leakage_near_dup 34.3 s and
# dedup_cluster_size_histogram 58.2 s — the latter two dominated by the
# shared doc-level LSH pair graph, k^2-dense under k-fold verbatim
# replication (every dup group is a 20-clique). Round 10 composed the
# dedup_exact-FIRST order into those two consumers (collapsed rep-level
# pair graph + multiplicity expansion, operators/dedup.py
# _cached_rep_pairs): re-measured at 20x (engine session, local[16])
# op_split_leakage_near_dup 2.1 s, dedup_cluster_size_histogram 0.3 s
# warm — the k-clique mass never reaches a join; both now probed
# per-round above. Also round 10: the probe caught the single-pass
# dedup_sorted_neighborhood at 27.5 s (vs 4.7 s for the TWO-pass
# variant) — AQE's size-based coalescing squeezed its compact
# join+banded-Levenshtein stage to ~2 partitions (the round-8 lesson,
# measured 15.9 s -> 2.0 s in isolation); both SNM banded joins now
# pin explicit-count repartition(32) and the probe reads 3.6 s.
DOCS_SPARK_ONLY = {
    "dedup_sorted_neighborhood",
    "dedup_snm_multipass",
    "op_split_leakage_near_dup",
    "dedup_cluster_size_histogram",
    "dedup_dbscan_density_clusters",
    "text_substring_dedup_rewrite",
    "dedup_optics_eps_profile",
    "dedup_cluster_persistence",
    "dedup_cluster_extraction",
}
#: ANN-family queries probed on the 20x EMBEDDINGS replica (vec_id
#: offset per copy; 2k -> 40k vectors at sf0.1). Exact copies make
#: every vector's nearest neighbor its own clone — the adversarial
#: near-dup geometry for the similarity legs.
EMB_QUERIES = (
    "sim_topk_cosine_bruteforce",
    "sim_ivf_topk",
    # round 13: the one r12 operator with no scale signal (VERDICT r12
    # item 4) — same broadcast-Q x corpus shape as the brute-force leg,
    # x4 dim levels via in-row explode
    "sim_matryoshka_truncation",
)

#: events-family queries probed on the 20x EVENTS replica (round 11 —
#: the ev_ family previously had NO scale probe: the sf1 probe
#: replicates lineitem/orders, the docs probe documents/embeddings).
#: user_id/event_id offset per copy keeps every user's session
#: structure identical while hourly bucket mass and distinct users
#: scale 20x — stressing the hourly collapse, the user-partitioned
#: session windows, and the lag-window transition build. Oracles are
#: linear SQL (no clique blowup), so these rows keep the cross-engine
#: comparison at scale.
EV_QUERIES = (
    "ev_tumbling_hourly",         # windowed agg: 20x rows into the same cells
    "ev_top_session_paths",       # user-partitioned windows at 20x users
    "ev_seasonal_ewma_control",   # hourly collapse + 31-lag window pass
    "ev_markov_stationary",       # lag window + driver-side |types|^2 sweeps
    "ev_cusum_online",            # round 12: reflection-identity windows on
                                  # the same hourly spine as the seasonal
                                  # chart — a probe row proves the shared
                                  # shape costs the same at 20x
    "ev_seasonality_strength",    # round 12: 24-group ANOVA over the spine
    "ev_markov_attribution",      # round 12: session windows + driver-side
                                  # removal-effect chains at 20x journeys
    "ev_survival_km_error_budget",  # round 13: survival-family scale
                                  # signal — per-user clock aggregate +
                                  # budget rank window + duration-
                                  # histogram folds at 20x users
    "ev_drift_w1_weekly",         # round 13: the weeks x count-domain
                                  # W1 spine at 20x user-weeks
)


def _build_docs_copy(src_dir: str) -> str:
    import shutil

    import duckdb

    dst = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".bench-docs"
    )
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)
    con = duckdb.connect()
    src = os.path.abspath(os.path.join(src_dir, "documents.parquet"))
    off = con.execute(
        f"SELECT MAX(doc_id) + 1 FROM read_parquet('{src}')"
    ).fetchone()[0]
    con.execute(
        f"COPY (SELECT t.* REPLACE (t.doc_id + i.range * {off} AS doc_id) "
        f"FROM read_parquet('{src}') t CROSS JOIN range({DOCS_COPIES}) i) "
        f"TO '{dst}/documents.parquet' (FORMAT PARQUET)"
    )
    off_v = con.execute(
        "SELECT MAX(vec_id) + 1 FROM read_parquet("
        f"'{os.path.abspath(os.path.join(src_dir, 'embeddings.parquet'))}')"
    ).fetchone()[0]
    con.execute(
        f"COPY (SELECT t.* REPLACE (t.vec_id + i.range * {off_v} AS vec_id) "
        f"FROM read_parquet('{os.path.abspath(os.path.join(src_dir, 'embeddings.parquet'))}') t "
        f"CROSS JOIN range({DOCS_COPIES}) i) "
        f"TO '{dst}/embeddings.parquet' (FORMAT PARQUET)"
    )
    ev_src = os.path.abspath(os.path.join(src_dir, "events.parquet"))
    off_u, off_e = con.execute(
        f"SELECT MAX(user_id) + 1, MAX(event_id) + 1 FROM read_parquet('{ev_src}')"
    ).fetchone()
    con.execute(
        f"COPY (SELECT t.* REPLACE (t.user_id + i.range * {off_u} AS user_id, "
        f"t.event_id + i.range * {off_e} AS event_id) "
        f"FROM read_parquet('{ev_src}') t "
        f"CROSS JOIN range({DOCS_COPIES}) i) "
        f"TO '{dst}/events.parquet' (FORMAT PARQUET)"
    )
    con.close()
    for t in TABLES:
        if t in ("documents", "embeddings", "events"):
            continue
        p = os.path.abspath(os.path.join(src_dir, f"{t}.parquet"))
        if os.path.exists(p):
            os.symlink(p, os.path.join(dst, f"{t}.parquet"))
    return dst


def _docs_probe(spark, entry_mod) -> dict:
    """Best-of-2 seconds for DOCS_QUERIES on the 20x documents replica:
    {"copies": N, "sec": {name: [spark_s, duck_s|None, ratio|None]}}."""
    try:
        import duckdb
    except ImportError:
        return {}
    # Free every persisted sf0.1 memo before building 20x-scale ones:
    # after ~240 headline queries the session holds shingle/pair/CC/
    # signature caches for SF_DIR that nothing downstream reads, and
    # their heap is what pushed the probe's densest query
    # (text_substring_dedup_rewrite, fine in an isolated 4g session)
    # into an executor OOM in round 10's refreshed run.
    from gravity_books_datalakehouse_spark.plans._cache import (
        clear_session_caches,
    )

    clear_session_caches()
    d = _build_docs_copy(SF_DIR)
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet')"
    )
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet')"
    )
    out: dict = {"copies": DOCS_COPIES, "sec": {}}
    for name in DOCS_QUERIES + EMB_QUERIES + EV_QUERIES:
        if name not in qs:
            continue
        s_best = d_best = None
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                qs[name](spark, d).toPandas()
                dt = time.perf_counter() - t0
                s_best = dt if s_best is None else min(s_best, dt)
                if name in oracles and name not in DOCS_SPARK_ONLY:
                    t0 = time.perf_counter()
                    con.execute(oracles[name]).fetchall()
                    dt = time.perf_counter() - t0
                    d_best = dt if d_best is None else min(d_best, dt)
        except Exception as exc:
            print(f"# docs probe {name}: ERROR {exc}", file=sys.stderr)
            continue
        out["sec"][name] = [
            round(s_best, 3),
            round(d_best, 3) if d_best is not None else None,
            round(s_best / d_best, 2) if d_best else None,
        ]
    con.close()
    return out


# --- S-curve mid-decile probe ------------------------------------------------
# dedup_lsh_s_curve_calibration on driver data populates ONLY decile 0
# (near-dup mass in this corpus is either exact or absent), and verbatim
# replicas only add Jaccard-1.0 pairs — neither exercises the S-curve's
# transition region where (b, r) tuning decisions actually live. This
# probe builds a TRUNCATION corpus: 400 base docs plus 5 variants each
# keeping the first 85/70/55/40/25% of tokens — a token-prefix variant's
# shingle set is a prefix subset of the base's, so base-variant exact
# Jaccard lands near the kept fraction and variant-variant pairs fill
# the ratios between, spreading pairs across mid deciles by
# construction. Both engines run the UNCHANGED registry entry on it and
# the probe records times plus a value-match flag — a per-round
# cross-engine check exactly where the driver's data cannot reach.
_SCURVE_BASE_DOCS = 400
_SCURVE_KEEP_TWENTIETHS = (17, 14, 11, 8, 5)  # keep i/20 of the tokens


def _build_scurve_corpus(src_dir: str, dst_dir: str | None = None) -> str:
    import shutil

    import duckdb

    dst = dst_dir or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".bench-scurve"
    )
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)
    con = duckdb.connect()
    src = os.path.abspath(os.path.join(src_dir, "documents.parquet"))
    off = con.execute(
        f"SELECT MAX(doc_id) + 1 FROM read_parquet('{src}')"
    ).fetchone()[0]
    keeps = ", ".join(
        f"({i + 1}, {k})" for i, k in enumerate(_SCURVE_KEEP_TWENTIETHS)
    )
    con.execute(
        f"""COPY (
        WITH base AS (
          SELECT * FROM read_parquet('{src}')
          ORDER BY doc_id LIMIT {_SCURVE_BASE_DOCS}),
        tok AS (
          SELECT *, string_split_regex(lower(trim(text)), '\\s+') AS toks
          FROM base),
        keeps(i, k) AS (VALUES {keeps}),
        var AS (
          SELECT doc_id + i * {off} AS doc_id,
                 array_to_string(
                   toks[1 : greatest(3, (len(toks) * k) // 20)], ' ')
                   AS text,
                 lang, source, n_chars
          FROM tok CROSS JOIN keeps)
        SELECT doc_id, text, lang, source, n_chars FROM base
        UNION ALL
        SELECT doc_id, text, lang, source, n_chars FROM var
      ) TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.close()
    return dst


def _scurve_probe(spark, entry_mod) -> dict:
    """dedup_lsh_s_curve_calibration on the truncation corpus, both
    engines: {"sec": [spark_s, duck_s, ratio], "match": bool,
    "deciles_populated": n}. A match=False here is a correctness signal
    the sf0.01/sf0.1 differentials cannot produce (their pair mass sits
    in decile 0)."""
    try:
        import duckdb
    except ImportError:
        return {}
    name = "dedup_lsh_s_curve_calibration"
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    if name not in qs or name not in oracles:
        return {}
    d = _build_scurve_corpus(SF_DIR)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    try:
        s_best = d_best = None
        for _ in range(2):
            t0 = time.perf_counter()
            got = qs[name](spark, d).toPandas()
            dt = time.perf_counter() - t0
            s_best = dt if s_best is None else min(s_best, dt)
            t0 = time.perf_counter()
            want = con.execute(oracles[name]).fetchdf()
            dt = time.perf_counter() - t0
            d_best = dt if d_best is None else min(d_best, dt)

        def _norm(df):
            df = df[sorted(df.columns)]
            for c in df.columns:
                if df[c].dtype.kind == "f":
                    df[c] = df[c].round(4)
            return (
                df.astype(str)
                .sort_values(by=list(df.columns))
                .reset_index(drop=True)
            )

        g, w = _norm(got), _norm(want)
        match = list(g.columns) == list(w.columns) and g.equals(w)
        return {
            "sec": [round(s_best, 3), round(d_best, 3),
                    round(s_best / d_best, 2) if d_best else None],
            "match": bool(match),
            "deciles_populated": int(len(got)),
        }
    except Exception as exc:
        print(f"# scurve probe: ERROR {exc}", file=sys.stderr)
        return {}
    finally:
        con.close()


def _memory_pressure_probe() -> dict:
    """Graceful-degradation measurement on registry queries, per round.

    A CHILD Spark process (the core force-spill conf is JVM-launch-only)
    runs two registry queries under memory pressure and checks each
    pressured answer against its DuckDB oracle — the contract being
    proven: under pressure the engine degrades to its external/sort
    paths and stays correct, never OOMs, never returns garbage.

    - ``op_outliers_mad`` (the registry's largest raw-value shuffle:
      per-brand exact percentiles over every lineitem price): its
      ObjectHashAggregate is forced onto the sort-based fallback path
      (fallbackThreshold=1) with sorter force-spill every 5k elements.
      ObjectHashAggregateExec exposes no spillSize SQLMetric — the
      recorded evidence is ``numTasksFallBacked`` > 0 + a green hash.
    - ``q_revenue_pareto`` (one global cumulative window over the
      per-customer aggregate): WindowExec's in-memory buffer thresholds
      are dropped to 256/512 rows, so the ~10k-row partition must hand
      off to the external sorter; WindowExec DOES meter spillSize, so
      this is the measured graceful-spill byte count."""
    import subprocess

    child = r"""
import json, os, sys, time
sys.path.insert(0, %(repo)r)
from gravity_books_datalakehouse_spark.session import get_spark
from gravity_books_datalakehouse_spark.metrics import plan_metrics_sum
import __spark_entry__ as m
import duckdb
spark = get_spark(app_name="bench-spill-probe", extra_conf={
    "spark.shuffle.spill.numElementsForceSpillThreshold": "5000",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": "1",
    "spark.sql.windowExec.buffer.in.memory.threshold": "256",
    "spark.sql.windowExec.buffer.spill.threshold": "512",
})
spark.sparkContext.setLogLevel("ERROR")
sf = %(sf)r
con = duckdb.connect()
for t in %(tables)r:
    p = f"{sf}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
def norm(d):
    d = d[sorted(d.columns)]
    for c in d.columns:
        if d[c].dtype.kind == "f":
            d[c] = d[c].round(4)
    return d.astype(str).sort_values(by=list(d.columns)).reset_index(drop=True)
out = {}
for name, metric in (("op_outliers_mad", "numTasksFallBacked"),
                     ("q_revenue_pareto", "spillSize")):
    t0 = time.perf_counter()
    df = m.queries()[name](spark, sf)
    got = df.toPandas()
    sec = round(time.perf_counter() - t0, 3)
    mv = plan_metrics_sum(df, [metric])[metric]
    want = con.execute(m.oracle_sql()[name]).fetchdf()
    out[name] = {metric: int(mv), "sec_pressured": sec,
                 "hash_green": bool(norm(got).equals(norm(want)))}
print(json.dumps(out))
""" % {
        "repo": os.path.dirname(os.path.abspath(__file__)),
        "sf": SF_DIR,
        "tables": TABLES,
    }
    out = subprocess.run(
        [sys.executable, "-c", child], capture_output=True, text=True,
        timeout=600,
    )
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"spill probe produced no JSON: {out.stderr[-300:]}")


def _build_compacted_copy(spark, src_dir: str) -> str:
    """Rewrite each driver parquet table into multiple ~8 MB files under
    .bench-compacted/<sf>/ — the layout plans/medallion.py's silver layer
    produces by construction. The driver's pyarrow-written tables have
    exactly ONE row group per file, so neither Spark nor DuckDB can
    parallelize the raw scan.

    This probe is a HYPOTHESIS TEST for "the q_/star_ ratio is that
    single-row-group file layout, not plan quality" — and the round-5
    measurement REFUTED it: compacted_ratio 7.52 vs the raw layout's
    6.15 (DuckDB got *faster* on multi-file input, Spark barely moved),
    so file layout does NOT explain the gap. The surviving explanation —
    per-query fixed overhead at toy scale — is measured directly by
    _spark_fixed_floor and _sf1_probe above. The probe stays so the
    layout axis keeps being measured rather than narrated."""
    import shutil

    dst_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".bench-compacted",
        os.path.basename(src_dir.rstrip("/")),
    )
    if os.path.isdir(dst_dir):
        shutil.rmtree(dst_dir)
    os.makedirs(dst_dir)
    for t in TABLES:
        src = os.path.join(src_dir, f"{t}.parquet")
        if not os.path.exists(src):
            continue
        total = os.path.getsize(src)
        # ~1.5 MB compressed per file ≈ 80 k lineitem rows — one sane
        # task's worth; cap at 16 so dims stay single-file
        n_files = max(1, min(16, total // (1536 * 1024)))
        dst = os.path.join(dst_dir, f"{t}.parquet")
        if n_files == 1:
            # small dims: single-file copy beats a Spark write job
            shutil.copyfile(src, dst)
        else:
            df = spark.read.parquet(src)
            df.repartition(int(n_files)).write.parquet(dst + ".d")
            os.rename(dst + ".d", dst)
    return dst_dir


def _star_batch_probe(spark, entry_mod) -> dict:
    """Quantify the per-query harness share of the star family: wall
    time of the five star queries submitted SERIALLY (5 toPandas
    round-trips, exactly how the headline loop times them) vs
    CONCURRENTLY (5 threads, one shared SparkSession — Spark schedules
    the jobs in parallel). The serial−concurrent gap is driver-side
    scheduling + Arrow-fetch latency that query-level parallelism (or
    one batched collect) hides; the concurrent floor approximates what
    a user pipelining the family would see. Both passes run on the warm
    star cache (the headline loop already materialized it)."""
    from concurrent.futures import ThreadPoolExecutor

    qs = entry_mod.queries()
    names = [n for n in sorted(qs) if n.startswith("star_")]
    if not names:
        return {}

    def run(name):
        qs[name](spark, SF_DIR).toPandas()

    for n in names:  # warm
        run(n)
    serial = concurrent = None
    for _ in range(2):
        t0 = time.perf_counter()
        for n in names:
            run(n)
        dt = time.perf_counter() - t0
        serial = dt if serial is None else min(serial, dt)
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=len(names)) as ex:
            list(ex.map(run, names))
        dt = time.perf_counter() - t0
        concurrent = dt if concurrent is None else min(concurrent, dt)
    return {
        "serial_sec": round(serial, 3),
        "concurrent_sec": round(concurrent, 3),
        "harness_share": round(max(serial - concurrent, 0.0) / serial, 2),
    }


def _compacted_probe(spark, entry_mod) -> dict:
    """Best-of-2 Spark + DuckDB seconds for the reference-parity families
    (star_/q_) over the compacted copies — same queries, same engines,
    multi-file layout; subset totals + ratio. See _build_compacted_copy:
    this is the layout-hypothesis measurement (refuted in round 5), kept
    so the axis stays measured."""
    try:
        import duckdb
    except ImportError:
        return {}
    cdir = _build_compacted_copy(spark, SF_DIR)
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(cdir, f"{t}.parquet")
        if os.path.isfile(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        elif os.path.isdir(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
            )
    # Warm the star for the compacted dir BEFORE the timed loop: the star memo
    # keys on sf_dir, so the first timed star query would otherwise pay the
    # full star build + cache materialization (round 5 measured: star_q1
    # 1.29 s here vs 0.37 s in the main loop) and compacted_ratio would
    # compare cache states, not file layouts. One untimed pass over the five
    # star queries materializes every persisted star table.
    for name in sorted(qs):
        if name.startswith("star_"):
            try:
                qs[name](spark, cdir).toPandas()
            except Exception:
                pass
    spark_tot = duck_tot = 0.0
    per_q: dict[str, list[float]] = {}
    for name in sorted(oracles):
        if not name.startswith(BASELINE_PREFIXES) or name not in qs:
            continue
        s_best = d_best = None
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                qs[name](spark, cdir).toPandas()
                dt = time.perf_counter() - t0
                s_best = dt if s_best is None else min(s_best, dt)
                t0 = time.perf_counter()
                con.execute(oracles[name]).fetchall()
                dt = time.perf_counter() - t0
                d_best = dt if d_best is None else min(d_best, dt)
        except Exception as exc:
            print(f"# compacted {name}: ERROR {exc}", file=sys.stderr)
            continue
        spark_tot += s_best
        duck_tot += d_best
        per_q[name] = [round(s_best, 3), round(d_best, 3)]
    con.close()
    return {
        "spark_sec": round(spark_tot, 3),
        "duckdb_sec": round(duck_tot, 3),
        "ratio": round(spark_tot / duck_tot, 2) if duck_tot > 0 else None,
        "per_query": per_q,
    }


def main() -> None:
    import __spark_entry__ as entry_mod

    spark = get_spark(app_name="gravity-books-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Untimed warmup: JVM task pipeline, codegen, and one Python worker
    # spin-up — so per-query numbers measure the engine, not cold-start
    # (the DuckDB baseline has no JVM to warm).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    warm = spark.createDataFrame([(1,)], "x int")
    warm.mapInPandas(lambda it: it, schema="x int").collect()

    # Shared-cache build cost, recorded ONCE and visibly (VERDICT r8
    # "What's wrong" #3): per-query seconds below are WARM numbers by
    # design (best-of-2 over session-persisted silver relations — the
    # production shape is a checkpointed table built once per corpus);
    # building the memos here makes their one-time cost readable next to
    # them instead of hiding it inside whichever query runs first. The
    # seconds are the memo registry's own build_s (see
    # plans/_cache.session_memo), keyed by memo name.
    from gravity_books_datalakehouse_spark.operators import components as _cmp
    from gravity_books_datalakehouse_spark.operators import dedup as _dd
    from gravity_books_datalakehouse_spark.operators import graph as _gr
    from gravity_books_datalakehouse_spark.operators import kmeans as _km
    from gravity_books_datalakehouse_spark.operators import similarity as _sim
    from gravity_books_datalakehouse_spark.plans import advanced_queries as _aq
    from gravity_books_datalakehouse_spark.plans._cache import MEMOS
    from gravity_books_datalakehouse_spark.streaming import event_queries as _ev

    for warm_memo in (
        lambda: _dd._cached_shingles(spark, SF_DIR).count(),
        lambda: _dd._cached_bigrams(spark, SF_DIR).count(),
        lambda: _dd._cached_bigram_ids(spark, SF_DIR),
        lambda: _km._fitted_assignment(spark, SF_DIR).count(),
        lambda: _sim._ivf_assigned(spark, SF_DIR).count(),
        lambda: _aq._pooled_cum(spark, SF_DIR),
        # shared by the OPTICS eps sweep and the r12 cluster-persistence
        # cascade
        lambda: _cmp._cached_rep_jaccard(spark, SF_DIR),
        # the r12 HDBSCAN contracted-CC cascade shared by
        # dedup_cluster_persistence/_extraction
        lambda: _cmp._persistence_levels(spark, SF_DIR),
        # the r13 survival per-user frame shared by the seven batch
        # survival ops
        lambda: _ev._survival_user_frame(spark, SF_DIR),
        # the r13 co-purchase edge list shared by the six graph ops
        lambda: _gr._cached_copurchase_edges(spark, SF_DIR),
    ):
        try:
            warm_memo()
        except Exception as exc:  # best-effort: never kill the bench
            print(f"# cache build failed: {exc}", file=sys.stderr)
    cache_build = {
        name: round(m.build_s, 3)
        for name, m in MEMOS.items()
        if m.build_s is not None
    }
    print(f"# cache_build_sec: {cache_build}", file=sys.stderr)

    from gravity_books_datalakehouse_spark.metrics import (
        job_group_profile,
        plan_metrics_sum,
        task_time_profile,
    )

    sc = spark.sparkContext
    qs = entry_mod.queries()
    timings: dict[str, float] = {}
    detail: dict[str, dict] = {}
    total = 0.0
    total_shuffle = 0
    total_spill = 0
    errors: dict[str, str] = {}
    for name in sorted(qs):
        best, n, df = None, -1, None
        # best-of-2: first run pays scan/materialization, second measures
        # the engine; reporting the min damps host-contention noise.
        # toPandas() (not count()) so projections are actually evaluated
        # and results fetched Arrow-batched — the end-to-end cost a user
        # pays, and exactly how the driver harness consumes results.
        try:
            for it in range(2):
                # a job group per (query, iteration) lets the status tracker
                # attribute jobs/stages/tasks to exactly this run
                sc.setJobGroup(f"{name}#{it}", name)
                t0 = time.perf_counter()
                df = qs[name](spark, SF_DIR)
                n = len(df.toPandas())
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
        except Exception as exc:  # one broken query must not kill the bench
            sc.setJobGroup("bench-idle", "between queries")
            msg = f"{type(exc).__name__}: {exc}"[:300]
            errors[name] = msg
            detail[name] = {"err": msg}
            print(f"# {name}: ERROR {msg}", file=sys.stderr)
            continue
        sc.setJobGroup("bench-idle", "between queries")
        timings[name] = round(best, 3)
        try:
            # SQLMetric map key is 'spillSize' on every spilling node
            # (HashAggregate/Sort/Window); 'spill size' is only the UI
            # display name, never a key — rounds 1-3 summed the display
            # name and therefore always reported zero spill
            pm = plan_metrics_sum(df, ["shuffleBytesWritten", "spillSize"])
            sb = pm["shuffleBytesWritten"]
            sp = pm["spillSize"]
            prof = job_group_profile(spark, f"{name}#1")
            straggle = task_time_profile(spark, f"{name}#1")
        except Exception:  # metrics are best-effort; never kill the bench
            sb, sp, prof, straggle = 0, 0, {"stages": -1, "tasks": -1}, {}
        detail[name] = {
            "sec": round(best, 3),
            "rows": n,
            "shuffle_bytes": sb,
            "spill_bytes": sp,
            "stages": prof["stages"],
            "tasks": prof["tasks"],
            **straggle,
        }
        total_shuffle += sb
        total_spill += sp
        total += best
        print(
            f"# {name}: {best:.3f}s rows={n} shuffle={sb}B spill={sp}B "
            f"stages={prof['stages']} tasks={prof['tasks']}",
            file=sys.stderr,
        )

    try:
        duck = _duckdb_baseline(entry_mod.oracle_sql())
    except Exception as exc:
        print(f"# duckdb baseline failed: {exc}", file=sys.stderr)
        duck = {}

    # Scaling probe: the same two scan-heavy queries at every available
    # SF, both engines. At toy scale Spark's fixed per-query cost (~0.3 s
    # of stage scheduling) dominates the ratio; the probe MEASURES how
    # the gap closes as data grows instead of asserting it.
    try:
        scaling = _scaling_probe(spark, entry_mod)
    except Exception as exc:
        print(f"# scaling probe failed: {exc}", file=sys.stderr)
        scaling = {}

    # serial-vs-concurrent star family (per-query harness share); must
    # run BEFORE the compacted probe evicts the SF_DIR star cache
    try:
        star_batch = _star_batch_probe(spark, entry_mod)
    except Exception as exc:
        print(f"# star batch probe failed: {exc}", file=sys.stderr)
        star_batch = {}

    # NOTE: the compacted and sf1 probes MUST stay after the headline and
    # scaling loops: build_star(cdir) evicts the main SF_DIR star/fact
    # caches (evict_other_scales keys per sf_dir), so running them earlier
    # would silently force cache rebuilds inside timed flagship queries.
    try:
        compacted = _compacted_probe(spark, entry_mod)
    except Exception as exc:
        print(f"# compacted probe failed: {exc}", file=sys.stderr)
        compacted = {}

    try:
        sf1 = _sf1_probe(spark, entry_mod)
    except Exception as exc:
        print(f"# sf1 probe failed: {exc}", file=sys.stderr)
        sf1 = {}

    try:
        docs_probe = _docs_probe(spark, entry_mod)
    except Exception as exc:
        print(f"# docs probe failed: {exc}", file=sys.stderr)
        docs_probe = {}

    try:
        scurve = _scurve_probe(spark, entry_mod)
    except Exception as exc:
        print(f"# scurve probe failed: {exc}", file=sys.stderr)
        scurve = {}

    try:
        floors = _spark_fixed_floor(spark)
    except Exception as exc:
        print(f"# floor probe failed: {exc}", file=sys.stderr)
        floors = {}
    # the one-row parquet scan is the floor every real query pays at minimum
    floor = floors.get("scan1row", 0.0)

    try:
        stage_floor = _spark_stage_floor(spark)
    except Exception as exc:
        print(f"# stage floor probe failed: {exc}", file=sys.stderr)
        stage_floor = None

    try:
        spill_probe = _memory_pressure_probe()
    except Exception as exc:
        print(f"# memory pressure probe failed: {exc}", file=sys.stderr)
        spill_probe = None

    sentinel = None
    spark_sentinel = None
    try:
        sentinel = _noise_sentinel_sec()
        spark_sentinel = _spark_parallel_sentinel_sec(spark)
    except Exception as exc:
        print(f"# noise sentinel failed: {exc}", file=sys.stderr)

    def _ratio(spark_s: float, duck_s: float):
        if duck_s <= 0:
            return None
        r = spark_s / duck_s
        return round(r) if r >= 10 else round(r, 1)

    ratios = {
        n: _ratio(timings[n], duck[n]) for n in duck if n in timings
    }
    spark_sub = sum(timings[n] for n in duck if n in timings)
    duck_sub = sum(duck.values())
    def _stage_overhead(n: str) -> float | None:
        """stages×floor_stage for query n — an upper bound on its
        serialized stage-scheduling overhead (see _spark_stage_floor)."""
        st = detail.get(n, {}).get("stages", -1)
        if stage_floor is None or st is None or st <= 0:
            return None
        return st * stage_floor

    for n in duck:
        if n in detail:
            detail[n]["duckdb_sec"] = duck[n]
            detail[n]["ratio"] = ratios.get(n)
            if duck[n] > 0 and floor:
                # the plan-cost share of the ratio: fixed harness floor
                # subtracted (measured by _spark_fixed_floor this run)
                detail[n]["ratio_overhead_corrected"] = round(
                    max(timings[n] - floor, 0.0) / duck[n], 2
                )
            so = _stage_overhead(n)
            if duck[n] > 0 and so is not None:
                # per-STAGE decomposition (round-7): stages×floor_stage
                # subtracted. Broadcast stages overlap in real queries
                # while the probe ladder is sequential, so this corrects
                # MORE than scheduling can cost — the residual is a
                # lower bound on true plan cost vs DuckDB.
                detail[n]["ratio_stage_corrected"] = round(
                    max(timings[n] - so, 0.0) / duck[n], 2
                )

    # family-level overhead-corrected ratios (the round-6 decomposition:
    # how much of the q_/star_ gap is the per-query fixed floor)
    def _fam_corrected(prefix: str):
        names = [n for n in duck if n.startswith(prefix) and n in timings]
        if not names or not floor:
            return None
        dsum = sum(duck[n] for n in names)
        if dsum <= 0:
            return None
        ssum = sum(max(timings[n] - floor, 0.0) for n in names)
        return round(ssum / dsum, 2)

    # family-level per-stage decomposition (round-7): subtract each
    # query's stages×floor_stage instead of one per-query scan floor
    def _fam_stage_corrected(prefix: str):
        names = [
            n for n in duck
            if n.startswith(prefix) and n in timings
            and _stage_overhead(n) is not None
        ]
        if not names:
            return None
        dsum = sum(duck[n] for n in names)
        if dsum <= 0:
            return None
        ssum = sum(max(timings[n] - _stage_overhead(n), 0.0) for n in names)
        return round(ssum / dsum, 2)

    # The two sums BEHIND the stage-corrected ratio, recorded separately
    # (VERDICT r10 item 4): the q_ ratio drifted 2.56→2.65→2.8 over
    # rounds 8–10 and only the decomposition says which side moved —
    # a shrinking DuckDB denominator reads as Spark regression in the
    # ratio alone. duckdb_version is alongside because a silent DuckDB
    # upgrade is the most likely denominator mover.
    def _fam_stage_parts(prefix: str):
        names = [
            n for n in duck
            if n.startswith(prefix) and n in timings
            and _stage_overhead(n) is not None
        ]
        if not names:
            return None
        dsum = sum(duck[n] for n in names)
        ssum = sum(max(timings[n] - _stage_overhead(n), 0.0) for n in names)
        return {
            "spark_stage_corrected_sec": round(ssum, 3),
            "duckdb_sec": round(dsum, 3),
        }

    # Per-family totals summarize the 105-query registry without blowing
    # the stdout budget (the driver keeps only the last ~2000 chars).
    fam_totals: dict[str, float] = {}
    for n, s in timings.items():
        fam = n.split("_", 1)[0]
        if n.startswith(("op_sample", "op_split")):
            fam = "sampling"
        fam_totals[fam] = round(fam_totals.get(fam, 0.0) + s, 2)

    # headline entry per reference-parity query: [spark_sec, ratio] —
    # merging the ratio in beats a second parallel dict on bytes.
    headline = {
        n: [round(timings[n], 2), ratios.get(n)]
        for n in timings
        if n.startswith(BASELINE_PREFIXES)
    }
    payload = {
        "metric": "headline_queries_total_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries_sec_and_ratio_vs_duckdb": headline,
        "sf": _sf_from_dir(SF_DIR),
        "n_queries": len(timings),
        # loud contract check (VERDICT r10 stretch): every registry entry
        # must have been timed or errored — BENCH_SELF_r10 silently ran
        # 244/245 because an operator landed after the final solo run
        "n_registry": len(qs),
        "registry_complete": len(timings) + len(errors) == len(qs),
        "n_errors": len(errors),
        "errored_queries": sorted(errors)[:10],
        "family_sec": fam_totals,
        "total_shuffle_bytes": total_shuffle,
        "total_spill_bytes": total_spill,
        # worst task-time skew across all queries (max/p50 executor run
        # time of the dominant stage, stages with p50 >= 50 ms only):
        # the one number wall-clock on local[32] cannot show
        "worst_straggler": max(
            (
                [d["straggler_ratio"], n]
                for n, d in detail.items()
                if d.get("straggler_ratio") and d.get("task_ms_p50", 0) >= 50
            ),
            default=None,
        ),
        # one-time shared-cache (silver relation) build cost at bench
        # parallelism — per-query numbers are warm by design; this is the
        # visible amortized cost (VERDICT r8 watch item)
        "cache_build_sec": cache_build or None,
        "baseline_subset_spark_sec": round(spark_sub, 3),
        "baseline_subset_duckdb_sec": round(duck_sub, 3),
        "baseline_subset_ratio": (
            round(spark_sub / duck_sub, 2) if duck_sub > 0 else None
        ),
        # measured per-query fixed cost of the Spark harness (best-of-5
        # one-row parquet scan through the same toPandas path) and the
        # subset ratios with that floor subtracted — the decomposition of
        # the raw ratio into fixed overhead vs plan cost
        "spark_fixed_floor_sec": floors or None,
        "q_family_ratio_overhead_corrected": _fam_corrected("q_"),
        "star_family_ratio_overhead_corrected": _fam_corrected("star_"),
        # measured marginal cost per serialized shuffle stage (slope of a
        # chained one-row k-exchange ladder) and the family ratios with
        # stages×floor_stage subtracted per query — an upper bound on
        # scheduling overhead, so these are lower bounds on plan cost
        "spark_stage_floor_sec": stage_floor,
        "q_family_ratio_stage_corrected": _fam_stage_corrected("q_"),
        "star_family_ratio_stage_corrected": _fam_stage_corrected("star_"),
        # drift decomposition (VERDICT r10 item 4): numerator/denominator
        # of the stage-corrected ratios + the DuckDB build, so a
        # cross-round ratio drift names the side that moved
        "q_family_stage_corrected_parts": _fam_stage_parts("q_"),
        "star_family_stage_corrected_parts": _fam_stage_parts("star_"),
        "duckdb_version": _duckdb_version(),
        # graceful-spill probe: op_outliers_mad under forced sorter
        # spills (child JVM), answer checked against the DuckDB oracle
        "memory_pressure_probe": spill_probe,
        # star family serial (5 toPandas round-trips) vs concurrent
        # (5 threads, one session): the gap is per-query driver-side
        # scheduling + Arrow fetch that pipelining hides
        "star_batch_probe": star_batch or None,
        # pinned-query ambient-noise thermometer (see _SENTINEL_SQL):
        # normalized_total = total * ref/measured, comparable across rounds
        "noise_sentinel_duckdb_sec": sentinel,
        "noise_sentinel_spark_sec": spark_sentinel,
        "noise_sentinel_spark_ref_sec": _SPARK_SENTINEL_REF_SEC,
        "noise_sentinel_ref_sec": _SENTINEL_REF_SEC,
        "normalized_total_sec": (
            round(total * _SENTINEL_REF_SEC / sentinel, 3)
            if sentinel
            and sentinel > 0
            and _sf_from_dir(SF_DIR) == _SENTINEL_REF_SF
            else None
        ),
        # replica-set crossover measurement for three q_ shapes (~sf5)
        "sf1_probe": sf1 or None,
        "docs_replica_probe": docs_probe or None,
        # S-curve calibration on the truncation corpus: the mid-decile
        # cross-engine check driver data can't exercise (see _scurve_probe)
        "scurve_middecile_probe": scurve or None,
        # the same star_/q_ subset re-run on multi-file (compacted) copies
        # of the driver tables, both engines: isolates the single-row-group
        # file layout from plan quality in the ratio above
        "compacted_ratio": compacted.get("ratio"),
        "compacted_spark_sec": compacted.get("spark_sec"),
        "compacted_duckdb_sec": compacted.get("duckdb_sec"),
        # The reference-parity gate readout is PINNED to the
        # noise-normalized number below (VERDICT r9 item 5): R8-10 and
        # R9-10 measured the same ambient swing twice — raw stays beside
        # it for transparency, but the gate is judged on the normalized
        # reading.
        "star_family_gate_metric": "star_family_ratio_noise_normalized",
        # raw 5-star-query aggregate spark/duckdb ratio (context only)
        "star_family_ratio": (
            round(
                sum(timings[n] for n in duck if n.startswith("star_") and n in timings)
                / max(
                    sum(
                        duck[n]
                        for n in duck
                        if n.startswith("star_") and n in timings
                    ),
                    1e-9,
                ),
                2,
            )
            if any(n.startswith("star_") and n in timings for n in duck)
            else None
        ),
        # the same gate with BOTH engines' pinned-sentinel drift divided
        # out (spark leg by the spark sentinel, duckdb leg by the duck
        # sentinel) — the quiet-window reading; raw stays beside it so
        # ambient host drift stops being re-litigated each round
        # (VERDICT r8 item 7). Recorded, never used to rescale raw.
        "star_family_ratio_noise_normalized": (
            round(
                (
                    sum(
                        timings[n]
                        for n in duck
                        if n.startswith("star_") and n in timings
                    )
                    * (_SPARK_SENTINEL_REF_SEC / spark_sentinel)
                )
                / max(
                    sum(
                        duck[n]
                        for n in duck
                        if n.startswith("star_") and n in timings
                    )
                    * (_SENTINEL_REF_SEC / sentinel),
                    1e-9,
                ),
                2,
            )
            if sentinel
            and spark_sentinel
            and any(n.startswith("star_") and n in timings for n in duck)
            else None
        ),
        "scaling_spark_vs_duckdb_sec": scaling,
        "detail_file": "BENCH_DETAIL.json",
    }
    # Round 14 (VERDICT r13 item 2): the driver keeps only the LAST ~2000
    # chars of stdout, and a longer line is cut MID-JSON at the front —
    # the driver then parses nothing and the round-over-round per-query
    # comparison (PERF per_query) comes back empty (it did, two rounds
    # running). The old stepwise truncation still left the probe blocks
    # (sf1/docs_replica/scurve/memory_pressure/star_batch/cache_build/
    # floors/stage-parts) inline, ~7 KB. Fix: those blocks live ONLY in
    # BENCH_DETAIL.json (payload_stdout_full there preserves the exact
    # old stdout payload, so no number is lost round-over-round); stdout
    # carries scalars + gate ratios + the slowest-15 headline dict, and
    # is guaranteed to fit. No timed region changed.
    payload_full = dict(payload)
    for k in (
        "family_sec",
        "cache_build_sec",
        "spark_fixed_floor_sec",
        "q_family_stage_corrected_parts",
        "star_family_stage_corrected_parts",
        "memory_pressure_probe",
        "star_batch_probe",
        "sf1_probe",
        "docs_replica_probe",
        "scurve_middecile_probe",
        "scaling_spark_vs_duckdb_sec",
    ):
        payload.pop(k, None)
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1900:
        slowest = sorted(headline, key=lambda n: headline[n][0])[-15:]
        payload["queries_sec_and_ratio_vs_duckdb"] = {
            n: headline[n] for n in slowest
        }
        payload["queries_truncated_to_slowest"] = 15
        line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1900:
        payload["errored_queries"] = payload["errored_queries"][:3]
        line = json.dumps(payload, separators=(",", ":"))

    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    # keep the previous run's detail so round-over-round per-query diffs
    # never need git archaeology (r11 verdict "What's wrong" #4)
    if os.path.exists(detail_path):
        os.replace(detail_path, detail_path.replace(".json", ".prev.json"))
    with open(detail_path, "w") as f:
        json.dump(
            {"sf": _sf_from_dir(SF_DIR), "total_sec": round(total, 3),
             # reading guide: at toy SF a high straggler_ratio on a
             # small-shuffle query is usually an AQE-coalesced-partition
             # artifact (one partition holds most of a few-hundred-KB
             # shuffle), not data skew — check shuffle_bytes before
             # treating it as a skew finding
             "straggler_note": (
                 "straggler_ratio = max/p50 task ms of the dominant "
                 "stage; at this SF values on queries with <1MB shuffle "
                 "reflect AQE partition coalescing, not key skew"),
             "family_sec": fam_totals,
             "scaling_spark_vs_duckdb_sec": scaling,
             "compacted_star_q_subset": compacted,
             "sf1_probe": sf1,
             "docs_replica_probe": docs_probe,
             "scurve_middecile_probe": scurve,
             "spark_fixed_floor_sec": floors,
             "spark_stage_floor_sec": stage_floor,
             "memory_pressure_probe": spill_probe,
             "star_batch_probe": star_batch,
             "noise_sentinel_duckdb_sec": sentinel,
             "noise_sentinel_spark_sec": spark_sentinel,
             "normalized_total_sec": payload.get("normalized_total_sec"),
             "cache_build_sec": cache_build or None,
             # the exact pre-truncation stdout payload (round 14: probe
             # blocks moved off stdout so the line always parses; the old
             # numbers all remain here)
             "payload_stdout_full": payload_full,
             "queries": detail},
            f,
            indent=1,
            sort_keys=True,
        )
    print(f"# stdout JSON bytes: {len(line)}; detail -> {detail_path}",
          file=sys.stderr)
    print(line)


if __name__ == "__main__":
    main()
