"""Unit tests for the operator library over tiny local frames
(SURVEY.md §5: per-operator unit tests alongside the differential gate)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gravity_books_datalakehouse_spark.operators import (
    add_surrogate_key,
    cast_columns,
    distinct_rows,
    drop_null_rows,
    equi_join,
    group_concat_sorted,
    project,
    rename,
    top_k,
)
from gravity_books_datalakehouse_spark.operators.skew import salted_join

SF = "/root/testdata/sf0.001"


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_project_rename_cast(spark):
    df = _df(spark, [(1, "a", "2.5")], "id int, name string, amt string")
    out = cast_columns(rename(project(df, ["id", "amt"]), {"amt": "amount"}),
                       {"amount": "double"})
    assert out.columns == ["id", "amount"]
    assert out.first().amount == 2.5


def test_drop_null_rows_subset(spark):
    df = _df(spark, [(1, None), (2, 3)], "a int, b int")
    assert drop_null_rows(df, ["b"]).count() == 1
    assert drop_null_rows(df).count() == 1


def test_equi_join_differing_keys_left(spark):
    left = _df(spark, [(1, 10), (2, 99)], "id int, method_id int")
    right = _df(spark, [(10, "std")], "mid int, name string")
    out = equi_join(left, right, left.method_id == right.mid, "left",
                    broadcast_right=True)
    rows = {r.id: r.name for r in out.collect()}
    assert rows == {1: "std", 2: None}


def test_group_concat_sorted_defined_order(spark):
    df = _df(spark, [(1, "b"), (1, "a"), (2, "z")], "k int, v string")
    out = {r.k: r.names for r in
           group_concat_sorted(df, ["k"], "v", alias="names").collect()}
    assert out == {1: "a, b", 2: "z"}


def test_distinct_rows_projection(spark):
    df = _df(spark, [(1, "x", 9), (1, "x", 8)], "a int, b string, c int")
    assert distinct_rows(df, ["a", "b"]).count() == 1


def test_top_k_tiebreak(spark):
    df = _df(spark, [(1, 5), (2, 5), (3, 1)], "id int, score int")
    rows = top_k(df, [F.desc("score"), F.asc("id")], 2).collect()
    assert [r.id for r in rows] == [1, 2]


def test_surrogate_key_row_number_dense(spark):
    df = _df(spark, [("c",), ("a",), ("b",)], "k string")
    out = add_surrogate_key(df, "k", "sk")
    rows = {r.k: r.sk for r in out.collect()}
    assert rows == {"a": 1, "b": 2, "c": 3}
    assert out.columns[0] == "sk"


def test_surrogate_key_zip_index_matches_row_number(spark):
    df = _df(spark, [(x,) for x in "fedcba"], "k string")
    rn = {r.k: r.sk for r in add_surrogate_key(df, "k", "sk").collect()}
    zi = {r.k: r.sk for r in
          add_surrogate_key(df, "k", "sk", method="zip_index").collect()}
    assert rn == zi


def test_surrogate_key_dense_matches_row_number_at_scale(spark):
    """The distributed dense method must reproduce the global-window
    row_number assignment exactly, across many partitions and skewed
    key distributions."""
    df = spark.range(50_000).select(
        ((F.col("id") * 2654435761) % 1_000_003).alias("k")
    ).distinct().repartition(16)
    rn = {r.k: r.sk for r in add_surrogate_key(df, "k", "sk").collect()}
    dn = {r.k: r.sk
          for r in add_surrogate_key(df, "k", "sk", method="dense").collect()}
    assert rn == dn
    assert sorted(dn.values()) == list(range(1, len(dn) + 1))


def test_surrogate_key_dense_plan_has_no_data_path_single_partition(spark):
    """Scale guard: the dense SK plan's only SinglePartition exchange is
    over the per-partition counts (metadata, n_partitions rows) — the
    data path itself must be range/hash partitioned end to end."""
    df = spark.range(10_000).select(F.col("id").alias("k"))
    out = add_surrogate_key(df, "k", "sk", method="dense")
    out.collect()
    plan = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]  # AQE string repeats the plan
    )
    assert "rangepartitioning" in plan
    # exactly one SinglePartition exchange, and it must sit inside the
    # broadcast (offsets) subtree, not on the main data path
    assert plan.count("Exchange SinglePartition") == 1
    main_path = plan.split("BroadcastQueryStage")[0]
    assert "SinglePartition" not in main_path


def test_star_dim_build_has_no_global_window(spark):
    """The star dims use the dense method: no unpartitioned row_number
    window (single-task funnel) anywhere in the dim build."""
    from gravity_books_datalakehouse_spark.plans.star import _build_star_plans

    dims = _build_star_plans(spark, SF)
    for name in ("dim_customer", "dim_part", "dim_priority"):
        plan = dims[name]._jdf.queryExecution().executedPlan().toString()
        main_path = plan.split("BroadcastExchange")[0]
        assert "SinglePartition" not in main_path, name


def test_surrogate_key_hash_stable_not_dense(spark):
    df = _df(spark, [("a",), ("b",)], "k string")
    h1 = {r.k: r.sk for r in add_surrogate_key(df, "k", "sk", method="hash").collect()}
    h2 = {r.k: r.sk for r in add_surrogate_key(df, "k", "sk", method="hash").collect()}
    assert h1 == h2
    assert len(set(h1.values())) == 2


def test_salted_join_matches_plain_join(spark):
    fact = _df(spark, [(1, i) for i in range(50)] + [(2, 0)], "k int, v int")
    dim = _df(spark, [(1, "hot"), (2, "cold"), (3, "unused")], "k int, label string")
    plain = fact.join(dim, "k").groupBy("label").count().collect()
    salted = salted_join(fact, dim, "k").groupBy("label").count().collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, salted))


def test_char_shingles_sliding_window(spark):
    from gravity_books_datalakehouse_spark.operators.text import char_shingles

    df = _df(spark, [(1, "abcdefg"), (2, "xy")], "doc_id int, text string")
    got = {}
    for r in char_shingles(df, n=5).collect():
        got.setdefault(r.doc_id, set()).add(r.shingle)
    assert got[1] == {"abcde", "bcdef", "cdefg"}
    assert 2 not in got  # shorter than n → no shingles


def test_char_shingles_feed_minhash(spark):
    from gravity_books_datalakehouse_spark.operators.dedup import (
        minhash_signatures,
    )
    from gravity_books_datalakehouse_spark.operators.text import char_shingles

    df = _df(
        spark,
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "zzz completely different qqq")],
        "doc_id int, text string",
    )
    sigs = minhash_signatures(char_shingles(df), num_perm=4)
    by_doc = {}
    for r in sigs.collect():
        by_doc.setdefault(r.doc_id, {})[r.p] = r.sig
    assert by_doc[1] == by_doc[2]          # identical text → identical signature
    assert by_doc[1] != by_doc[3]


def _cached_rdds(spark) -> list[int]:
    return [
        info.id()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.numCachedPartitions() > 0
    ]


def test_clear_session_caches_rebuilds_cleanly(spark):
    """Every memo is built, then cleared: the clear frees all the storage
    the builds left cached before it returns (no sleep, no GC), empties
    every registered memo, and the next call rebuilds the same answer.
    RDDs cached before the test (other tests share the session) are left
    out of the count."""
    from gravity_books_datalakehouse_spark.operators import (
        components,
        dedup,
        graph,
        kmeans,
        similarity,
    )
    from gravity_books_datalakehouse_spark.plans import advanced_queries
    from gravity_books_datalakehouse_spark.plans._cache import (
        MEMOS,
        clear_session_caches,
    )
    from gravity_books_datalakehouse_spark.plans.star import build_star
    from gravity_books_datalakehouse_spark.streaming import event_queries
    from tests.conftest import SF_SMOKE

    clear_session_caches()
    earlier = set(_cached_rdds(spark))
    n1 = build_star(spark, SF_SMOKE)["fact_sales"].count()
    before = set(_cached_rdds(spark))
    graph._cached_copurchase_edges(spark, SF_SMOKE)
    # the pre-relayout checkpoint is freed: the edges memo pins one RDD
    assert len(set(_cached_rdds(spark)) - before) == 1
    for build in (
        dedup._cached_shingles,
        dedup._cached_bigrams,
        dedup._cached_bigram_ids,
        dedup.dedup_minhash_lsh_pairs,
        dedup.dedup_substring_spans,
        advanced_queries._pooled_cum,
        kmeans._fitted_assignment,
        similarity._signed_embeddings,
        similarity._ivf_assigned,
        components.dedup_clusters_connected_components,
        components.dedup_cluster_persistence,
        components.dedup_cluster_extraction,
        event_queries._survival_user_frame,
    ):
        out = build(spark, SF_SMOKE)
        if isinstance(out, DataFrame):
            out.count()
    components._dbscan_assign(spark, SF_SMOKE, components._DBSCAN_MIN_PTS).count()
    assert all(m.entries for m in MEMOS.values()), [
        name for name, m in MEMOS.items() if not m.entries
    ]
    assert set(_cached_rdds(spark)) - earlier
    clear_session_caches()
    assert set(_cached_rdds(spark)) - earlier == set()
    assert not any(m.entries for m in MEMOS.values())
    assert build_star(spark, SF_SMOKE)["fact_sales"].count() == n1
    clear_session_caches()


def test_switching_scale_dir_evicts_previous_scale_cache(spark):
    """A long-lived session sweeping multiple scale dirs must not pin
    persisted star tables for every scale it touched: building at a new
    sf_dir evicts (and unpersists) the old sf_dir's entry."""
    from gravity_books_datalakehouse_spark.plans._cache import (
        MEMOS,
        clear_session_caches,
    )
    from gravity_books_datalakehouse_spark.plans.star import build_star
    from tests.conftest import SF_SMOKE

    other_sf = "/root/testdata/sf0.01"  # distinct from SF_SMOKE by design
    star = MEMOS["star.build_star"]
    clear_session_caches()
    build_star(spark, SF_SMOKE)["dim_priority"].count()
    first, _ = next(iter(star.entries.values()))
    assert first["dim_priority"].storageLevel.useMemory
    build_star(spark, other_sf)["dim_priority"].count()
    # only the new scale remains, and the old entry was unpersisted
    assert [k[1] for k in star.entries] == [other_sf]
    assert not first["dim_priority"].storageLevel.useMemory
    clear_session_caches()


def test_expectations_gate_counts_violations(spark, tmp_path):
    from gravity_books_datalakehouse_spark.operators.expectations import (
        expectations_report,
    )

    docs = spark.createDataFrame(
        [
            (1, "good text", "en", "s", 9),
            (2, "", "en", "s", 0),          # violates text_nonempty
            (3, "bad count", "en", "s", 42) # violates n_chars_matches_text
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rules = [
        ("documents", "n_chars_matches_text", "n_chars = length(text)"),
        ("documents", "text_nonempty", "length(text) > 0"),
    ]
    out = {
        r.rule: r
        for r in expectations_report(spark, str(tmp_path), rules).collect()
    }
    assert out["text_nonempty"].n_violations == 1
    assert not out["text_nonempty"]["pass"]
    assert out["n_chars_matches_text"].n_violations == 1
    assert out["n_chars_matches_text"].n_rows == 3
