"""The benchmark's workloads.

Each runs closed loop with one client: a call starts when the previous
one returns. A workload is a sequence of rounds; ``round_s`` times one.

- ``medallion_refresh``: raw tables -> bronze -> silver -> gold -> gold
  views -> the reference's 5 queries as Spark SQL over those views. The
  only workload that writes; no Python kernels.
- ``corpus_curation``: 14 dedup, similarity and text-quality queries on a
  corpus the session has never seen, so every memo is built inside the
  round. Python/Arrow kernels, candidate-pair shuffles, graph components.

Each run is a fresh process, as a refresh or curation batch job is, so
its first round also pays for loading and compiling Spark's code paths.

Every round is cold in the engine's memos: it reads its inputs through a
directory path the session has not seen (hard links to the seed's
files), and the engine keys its memos by that path. Clearing the memos is
never needed for isolation.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import traceback

import pandas as pd

import __spark_entry__ as entry
from gravity_books_datalakehouse_spark.plans import medallion
from gravity_books_datalakehouse_spark.plans._cache import clear_session_caches
from gravity_books_datalakehouse_spark.plans.star import STAR_CTE_SQL, star_oracle_sql

CURATION_QUERIES = [
    "dedup_exact", "dedup_minhash_lsh_pairs", "dedup_jaccard_verify",
    "dedup_prefix_cosine_pairs", "dedup_clusters_connected_components",
    "dedup_semantic_kmeans", "dedup_simhash",
    "sim_topk_cosine_bruteforce", "sim_quantized_topk", "sim_ivf_topk",
    "text_quality_scores", "text_repetition_stats", "text_pii_redact",
    "pipeline_curate_corpus",
]


class Workload:
    """One workload in one run: rounds, per-call samples, kept answers."""

    name = ""

    def __init__(self, spark, tracer, inputs: str, workdir: str):
        self.spark = spark
        self.tr = tracer
        self.inputs = inputs
        self.workdir = workdir
        self.queries = entry.queries()
        self.calls: list[tuple[str, float]] = []  # (query, seconds)
        self.answers: list[tuple[str, object]] = []  # (query name, pandas frame)
        self.attempted = 0
        self.failures: list[str] = []

    def oracle_sql(self, name: str) -> str:
        return entry.oracle_sql()[name]

    def round(self, i: int) -> None:
        raise NotImplementedError

    def _fail(self, what: str) -> None:
        self.failures.append(f"{what}: {traceback.format_exc(limit=2)}")

    def step(self, name: str, fn) -> None:
        """One engine call that is not a query (an ETL layer)."""
        self.attempted += 1
        try:
            with self.tr.span(name), self.tr.job_group(name) as group:
                fn()
            self.tr.record_group(group)
        except Exception:
            self._fail(name)

    def query(self, name: str, build) -> None:
        """Build one query's DataFrame, collect it to pandas, keep the answer
        for the oracle check that runs after the loop."""
        self.attempted += 1
        try:
            with self.tr.span("query", query=name) as rec:
                with self.tr.job_group(name) as group:
                    with self.tr.span("plans.build"):
                        df = build()
                    with self.tr.span("exec.collect"):
                        answer = df.toPandas()
            self.tr.record_query(df, group)
        except Exception:
            self._fail(name)
            return
        self.calls.append((name, rec["end"] - rec["start"]))
        self.answers.append((name, answer))

    def fresh_inputs(self, i: int) -> str:
        """The seed's input files under a path no earlier round used."""
        path = os.path.join(self.workdir, f"inputs-{i}")
        shutil.copytree(self.inputs, path, copy_function=os.link,
                        ignore=shutil.ignore_patterns("oracle"))
        return path

    def after_round(self, i: int) -> None:
        """Clean-up outside the timed round."""


class MedallionRefresh(Workload):
    name = "medallion_refresh"
    GOLD_SQL = {n: sql.replace(STAR_CTE_SQL, "") for n, sql in star_oracle_sql().items()}

    def oracle_sql(self, name: str) -> str:
        return star_oracle_sql()[name]

    def round(self, i: int) -> None:
        spark = self.spark
        src = self.fresh_inputs(i)
        lake = os.path.join(self.workdir, f"lake-{i}")
        self.step("medallion.bronze", lambda: medallion.run_bronze(spark, src, lake))
        self.step("medallion.silver", lambda: medallion.run_silver(spark, lake))
        self.step("medallion.gold", lambda: medallion.run_gold(spark, src, lake))
        self.step("medallion.register", lambda: medallion.register_gold_views(spark, lake))
        for name, sql in self.GOLD_SQL.items():
            self.query(name, lambda sql=sql: spark.sql(sql))
        self.lake = lake

    def after_round(self, i: int) -> None:
        if self.tr.enabled:
            self.tr.record_lake(self.lake, self.inputs)
        shutil.rmtree(self.lake, ignore_errors=True)
        shutil.rmtree(os.path.join(self.workdir, f"inputs-{i}"), ignore_errors=True)


class CorpusCuration(Workload):
    name = "corpus_curation"

    def round(self, i: int) -> None:
        src = self.fresh_inputs(i)
        for name in CURATION_QUERIES:
            self.query(name, lambda name=name: self.queries[name](self.spark, src))

    def after_round(self, i: int) -> None:
        # Frees executor storage only; isolation comes from the fresh path.
        clear_session_caches()
        shutil.rmtree(os.path.join(self.workdir, f"inputs-{i}"), ignore_errors=True)


WORKLOADS = {w.name: w for w in (MedallionRefresh, CorpusCuration)}


def oracle_answer(workload: Workload, con, normalize, name: str):
    """The normalized oracle answer for ``name`` on the seed's inputs, kept
    beside the inputs under the hash of the oracle's SQL, so a run on a seed
    seen before skips the DuckDB query and a changed oracle recomputes."""
    sql = workload.oracle_sql(name)
    path = os.path.join(workload.inputs, "oracle",
                        f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.parquet")
    if os.path.exists(path):
        return pd.read_parquet(path).astype(str)
    want = normalize(con.execute(sql).fetchdf())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    want.to_parquet(path + ".tmp", index=False)
    os.replace(path + ".tmp", path)
    return want


def check(workload: Workload, con, normalize) -> None:
    """Compare every kept answer with its DuckDB oracle on the same inputs
    and record each mismatch."""
    want: dict[str, object] = {}
    for name, got in workload.answers:
        try:
            if name not in want:
                want[name] = oracle_answer(workload, con, normalize, name)
            g, w = normalize(got), want[name]
            ok = list(g.columns) == list(w.columns) and g.equals(w)
        except Exception:
            workload._fail(f"oracle {name}")
            continue
        if not ok:
            workload.failures.append(f"{name}: answer differs from the oracle")
