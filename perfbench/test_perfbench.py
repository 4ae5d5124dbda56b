"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import pytest

import gen
from compare import trace_accounting, verdict
from spans import self_times
from stats import tail


def _bytes(directory: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = f.read()
    return out


def test_same_seed_gives_byte_identical_files(tmp_path):
    a, ma = gen.ensure(3, str(tmp_path / "a"))
    b, mb = gen.ensure(3, str(tmp_path / "b"))
    assert _bytes(a) == _bytes(b)
    assert ma == mb
    assert {t: ma[t]["rows"] for t in gen.SIZES} == gen.SIZES


def test_other_seed_gives_other_content_and_same_rows(tmp_path):
    a, ma = gen.ensure(3, str(tmp_path))
    b, mb = gen.ensure(4, str(tmp_path))
    for t in gen.TABLES:
        assert ma[t]["rows"] == mb[t]["rows"]
    differ = [t for t in gen.TABLES
              if _bytes(a)[f"{t}.parquet"] != _bytes(b)[f"{t}.parquet"]]
    # region and nation are fixed reference tables; everything else moves
    assert set(differ) == set(gen.TABLES) - {"region", "nation"}
    total_a = sum(v["bytes"] for v in ma.values())
    total_b = sum(v["bytes"] for v in mb.values())
    assert abs(total_a - total_b) < 0.02 * total_a


def test_key_remap_is_bijective():
    t = gen.generate(5)
    for table, key in (("customer", "c_custkey"), ("orders", "o_orderkey"),
                       ("part", "p_partkey"), ("supplier", "s_suppkey")):
        keys = t[table].column(key).to_pylist()
        assert sorted(keys) == list(range(gen.SIZES[table]))
        assert keys != sorted(keys)
    orders = set(t["orders"].column("o_orderkey").to_pylist())
    assert set(t["lineitem"].column("l_orderkey").to_pylist()) <= orders


def test_corpus_has_near_and_exact_duplicates():
    texts = gen.generate(5)["documents"].column("text").to_pylist()
    n = gen.SIZES["documents"]
    assert n - len(set(texts)) >= int(n * gen.EXACT_DUP_SHARE)
    near = 0
    token_sets = [t.split() for t in texts]
    for i, toks in enumerate(token_sets):
        for other in token_sets[: n // 10]:
            if other is not toks and len(other) == len(toks) and 0 < sum(
                    a != b for a, b in zip(toks, other)) <= 3:
                near += 1
                break
    assert near >= int(n * gen.NEAR_DUP_SHARE) * 0.9


@pytest.mark.parametrize("n, rank, pct", [
    (34, 24, 100 * 24 / 34),   # ten samples beyond rank 24
    (20, 10, 50.0),            # the median is the lowest tail allowed
    (100, 90, 90.0),
])
def test_tail_is_highest_percentile_with_ten_beyond(n, rank, pct):
    samples = [float(i) for i in range(n, 0, -1)]  # unsorted input
    value, p, count = tail(samples)
    assert value == float(rank)
    assert sum(x > value for x in samples) == 10
    assert p == pytest.approx(pct)
    assert count == n


def test_tail_below_twenty_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert tail([float(i) for i in range(19)]) == (18.0, 100.0, 19)
    with pytest.raises(ValueError):
        tail([])


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),    # overlaps span 1: [1, 5] counted once
        _span(3, 0, 7.0, 8.0),
        _span(4, 3, 7.0, 7.5),    # grandchild: not subtracted from span 0
        _span(5, 0, 9.5, 11.0),   # runs past its parent: clipped at 10
    ]
    s = self_times(spans)
    assert s[0] == pytest.approx(10 - 4 - 1 - 0.5)
    assert s[1] == pytest.approx(2.0)
    assert s[3] == pytest.approx(0.5)
    assert s[4] == pytest.approx(0.5)
    # a tree without overlaps: self times add up to the root's duration
    tree = spans[:2] + [_span(2, 0, 3.0, 5.0)] + spans[3:5]
    st = self_times(tree)
    assert sum(st.values()) == pytest.approx(10.0)


BASE = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]


def test_verdict_improved_needs_nine_in_ten_wins_beyond_base_spread():
    faster = [x * 0.8 for x in BASE]
    assert verdict(BASE, faster, "lower", 0.1)["verdict"] == "improved"
    # same gain but only 8 of 10 pairs won: not a claimable gain
    mixed = faster[:8] + [x * 1.01 for x in BASE[8:]]
    r = verdict(BASE, mixed, "lower", 0.1)
    assert r["change_wins"] == 8 and r["verdict"] == "unchanged"


def test_verdict_worse_beyond_bound_and_unchanged_within():
    assert verdict(BASE, [x * 1.2 for x in BASE], "lower", 0.1)["verdict"] == "worse"
    assert verdict(BASE, [x * 1.05 for x in BASE], "lower", 0.1)["verdict"] == "unchanged"
    # higher-is-better metrics flip the direction
    assert verdict(BASE, [x * 0.8 for x in BASE], "higher", 0.1)["verdict"] == "worse"


def test_verdict_unresolved_when_spread_exceeds_bound():
    noisy = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert verdict(BASE, noisy, "lower", 0.1)["verdict"] == "unresolved"
    assert verdict(noisy, BASE, "lower", 0.1)["verdict"] == "unresolved"


def test_verdict_not_unresolved_when_every_change_run_beats_every_base_run():
    # A skewed base: every change run is better than every base run, but
    # the gain (0.1) is within the base's quartile distance (20), so the
    # change is not improved; with its spread over the bound it is still
    # not unresolved.
    skewed = [10.0] * 7 + [30.0] * 3
    r = verdict(skewed, [9.9] * 10, "lower", 0.1)
    assert r["change_wins"] == 10 and r["base"][2] - r["base"][0] == 20.0
    assert r["verdict"] == "unchanged"


def test_trace_accounting_pairs_traced_and_untraced_runs_by_seed():
    def run(round_s=None, walls=None, layer=None):
        if layer is None:
            return {"metrics": {"round_s": {"value": round_s}}}
        return {"round_walls_s": walls, "metrics": {"trace.layer_s": {"value": layer}}}
    # seed 1 ran untraced on a slower host; only seed 2 ran both ways
    runs = {("w", 0): {1: run(round_s=30.0), 2: run(round_s=20.0)},
            ("w", 1): {2: run(walls=[21.0], layer=19.0)}}
    [row] = trace_accounting(runs)
    assert row["untraced_round_s"] == 20.0
    assert row["overhead_s"] == pytest.approx(1.0)
    assert row["accounted"] == pytest.approx(0.95) and row["within_tolerance"]
