"""Behavioral tests for the round-5 analytics operators: fixed-point
PageRank (ext/graph.py), bucketed 2-D skyline (operators/skyline.py),
per-series autocorrelation (operators/timeseries.py), and the
data-quality screen (pipeline/quality.py::rule_screen /
fk_orphan_count). Each is pinned against a hand-computed or pure-
Python reference on planted fixtures."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from monzo_data_pipeline_spark.ext import graph as G
from monzo_data_pipeline_spark.operators import skyline as SKY
from monzo_data_pipeline_spark.operators import timeseries as TS
from monzo_data_pipeline_spark.pipeline import quality as Q

SCALE = G.RANK_SCALE


def _py_pagerank(nodes, edges, iters=3, damping=85):
    out = {}
    for s, _, w in edges:
        out[s] = out.get(s, 0) + w
    rank = {n: SCALE for n in nodes}
    base = (100 - damping) * SCALE // 100
    for _ in range(iters):
        inw = {n: 0 for n in nodes}
        for s, d, w in edges:
            inw[d] += rank[s] * w // out[s]
        rank = {n: base + inw[n] * damping // 100 for n in nodes}
    return rank


# ---------------------------------------------------------------------------
# pagerank


def _graph(spark, nodes, edges):
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long, w long")
    return ndf, edf


def test_pagerank_matches_python_reference(spark):
    nodes = list(range(6))
    edges = [
        (0, 1, 3),
        (0, 2, 1),
        (1, 2, 2),
        (2, 0, 1),
        (3, 2, 5),
        (4, 3, 1),
    ]  # node 5 isolated, node 4 is a source, node 2 a hub
    ndf, edf = _graph(spark, nodes, edges)
    got = {r["node"]: r["rank_q"] for r in G.pagerank(ndf, edf).collect()}
    assert got == _py_pagerank(nodes, edges)


def test_pagerank_isolated_node_keeps_base_rank(spark):
    ndf, edf = _graph(spark, [0, 1, 2], [(0, 1, 1)])
    got = {r["node"]: r["rank_q"] for r in G.pagerank(ndf, edf).collect()}
    base = 15 * SCALE // 100
    assert got[2] == base  # no in-edges: pure (1-d) term
    assert got[1] > got[2]  # receiving node outranks the isolated one


def test_pagerank_weight_proportionality(spark):
    # one source splitting 3:1 between two sinks — after round 1 the
    # heavier target holds 3x the damped in-mass of the lighter one
    ndf, edf = _graph(spark, [0, 1, 2], [(0, 1, 3), (0, 2, 1)])
    got = {r["node"]: r["rank_q"] for r in G.pagerank(ndf, edf, iters=1).collect()}
    base = 15 * SCALE // 100
    assert (got[1] - base) == 3 * (got[2] - base)


def test_pagerank_partition_invariance(spark):
    nodes = list(range(20))
    rng = random.Random(5)
    edges = [
        (rng.randrange(20), rng.randrange(20), rng.randint(1, 9))
        for _ in range(60)
    ]
    edges = [(s, d, w) for s, d, w in edges if s != d]
    ndf, edf = _graph(spark, nodes, edges)
    a = {r["node"]: r["rank_q"] for r in G.pagerank(ndf, edf).collect()}
    b = {
        r["node"]: r["rank_q"]
        for r in G.pagerank(ndf.repartition(7), edf.repartition(5)).collect()
    }
    assert a == b == _py_pagerank(nodes, edges)


# ---------------------------------------------------------------------------
# skyline_2d


def _py_skyline(rows):
    from collections import Counter

    pairs = Counter(rows)
    out = []
    for (c, b), n in pairs.items():
        dominated = any(
            c2 <= c and b2 >= b and (c2 < c or b2 > b) for (c2, b2) in pairs
        )
        if not dominated:
            out.append((c, b, n))
    return sorted(out)


def _sky(spark, rows):
    df = spark.createDataFrame(rows, "cost double, benefit int")
    got = SKY.skyline_2d(df, "cost", "benefit").collect()
    return [(r["cost"], r["benefit"], r["n_rows"]) for r in got]


def test_skyline_hand_fixture(spark):
    rows = [
        (1.0, 5),  # frontier
        (1.0, 3),  # dominated (same cost, smaller benefit)
        (2.0, 5),  # dominated (same benefit, higher cost)
        (2.0, 7),  # frontier
        (3.0, 7),  # dominated
        (3.0, 9),  # frontier
        (3.0, 9),  # duplicate of a frontier point -> counted
        (9.0, 1),  # dominated by everything
    ]
    assert _sky(spark, rows) == [(1.0, 5, 1), (2.0, 7, 1), (3.0, 9, 2)]


def test_skyline_single_point_and_all_equal(spark):
    assert _sky(spark, [(4.0, 4)]) == [(4.0, 4, 1)]
    assert _sky(spark, [(4.0, 4)] * 5) == [(4.0, 4, 5)]


def test_skyline_matches_bruteforce_random(spark):
    rng = random.Random(11)
    rows = [
        (float(rng.randint(0, 30)), rng.randint(0, 30)) for _ in range(400)
    ]
    assert _sky(spark, rows) == _py_skyline(rows)


def test_skyline_bucket_boundary_stress(spark):
    # all mass in very few distinct costs: exercises empty buckets and
    # the prefix-max broadcast path
    rows = [(0.0, i % 4) for i in range(10)] + [(100.0, 10)]
    assert _sky(spark, rows) == _py_skyline(rows)


# ---------------------------------------------------------------------------
# autocorrelation


def _acf(spark, rows, max_lag=2):
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, eid long, value double"
    )
    out = TS.autocorrelation(
        df, ["k"], "ts", "value", order_tiebreak="eid", max_lag=max_lag
    ).collect()
    return {(r["k"], r["lag"]): (r["n_pairs"], r["acf_ppm"]) for r in out}


def _ts(i):
    from datetime import datetime, timedelta

    return datetime(2024, 1, 1) + timedelta(hours=i)


def test_acf_linear_series_is_one(spark):
    rows = [("a", _ts(i), i, float(i)) for i in range(50)]
    got = _acf(spark, rows)
    n, ppm = got[("a", 1)]
    assert n == 49
    assert ppm >= 999_998  # Pearson of x vs x+1 is 1.0 up to float ulp


def test_acf_alternating_series_is_minus_one(spark):
    rows = [("a", _ts(i), i, float(i % 2)) for i in range(40)]
    n, ppm = _acf(spark, rows)[("a", 1)]
    assert n == 39
    assert ppm <= -999_999
    # lag 2 realigns: +1
    assert _acf(spark, rows)[("a", 2)][1] >= 999_998


def test_acf_constant_series_is_null(spark):
    rows = [("a", _ts(i), i, 7.0) for i in range(10)]
    assert _acf(spark, rows)[("a", 1)][1] is None


def test_acf_matches_numpy(spark):
    import numpy as np

    rng = random.Random(3)
    vals = [round(rng.uniform(0, 100), 3) for _ in range(200)]
    rows = [("a", _ts(i), i, v) for i, v in enumerate(vals)]
    got = _acf(spark, rows, max_lag=3)
    q = np.floor(np.array(vals) * 1000 + 0.5)
    for k in (1, 2, 3):
        x, y = q[:-k], q[k:]
        ref = np.corrcoef(x, y)[0, 1]
        n, ppm = got[("a", k)]
        assert n == 200 - k
        assert abs(ppm / 1e6 - ref) < 2e-5


def test_acf_null_values_excluded_from_series(spark):
    rows = [("a", _ts(i), i, float(i)) for i in range(20)]
    rows[5] = ("a", _ts(5), 5, None)
    n, _ = _acf(spark, rows)[("a", 1)]
    assert n == 18  # 19 non-null observations -> 18 lag-1 pairs


# ---------------------------------------------------------------------------
# rule_screen / fk_orphan_count


def test_rule_screen_counts_planted_violations(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, -3.0), (3, None), (4, 200.0)], "id long, v double"
    )
    got = {
        r["check_name"]: r["n_violations"]
        for r in Q.rule_screen(
            df,
            [Q.not_null("v"), Q.in_range("v", 0, 100)],
        ).collect()
    }
    assert got["not_null(v)"] == 1
    # NULL v is not an in_range violation (NULL predicate -> not counted)
    assert got["in_range(v,0,100)"] == 2


def test_fk_orphan_count_planted_orphans(spark):
    fact = spark.createDataFrame([(1,), (2,), (9,), (None,)], "fk long")
    dim = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    row = Q.fk_orphan_count(fact, dim, "fk", "pk", "fk(fact->dim)").collect()[0]
    assert row["check_name"] == "fk(fact->dim)"
    # 9 has no match; NULL joins nothing -> orphan by contract
    assert row["n_violations"] == 2


# ---------------------------------------------------------------------------
# chi_square_independence


def test_chi_square_independent_uniform_is_zero(spark):
    # perfectly proportional table: o == e everywhere -> chi2 == 0
    rows = [(a, b) for a in "xy" for b in "pq" for _ in range(10)]
    df = spark.createDataFrame(rows, "a string, b string")
    r = Q.chi_square_independence(df, "a", "b").collect()[0]
    assert r["n_cells"] == 4 and r["dof"] == 1
    assert r["chi2_ppm"] == 0
    assert r["cramers_v_ppm"] == 0


def test_chi_square_matches_scipy_formula(spark):
    rng = random.Random(9)
    rows = [
        (rng.choice("abc"), rng.choice("pqrs")) for _ in range(1000)
    ] + [("a", "p")] * 200  # skew one cell
    df = spark.createDataFrame(rows, "a string, b string")
    r = Q.chi_square_independence(df, "a", "b").collect()[0]

    from collections import Counter
    import math

    o = Counter(rows)
    nl = Counter(a for a, _ in rows)
    ns = Counter(b for _, b in rows)
    n = len(rows)
    chi2_ppm = sum(
        math.floor(
            (o.get((a, b), 0) - nl[a] * ns[b] / n) ** 2
            / (nl[a] * ns[b] / n)
            * 1_000_000
        )
        for a in nl
        for b in ns
    )
    assert r["chi2_ppm"] == chi2_ppm
    assert r["dof"] == 6 and r["n_cells"] == 12
    k = min(len(nl) - 1, len(ns) - 1)
    v = math.floor(math.sqrt(chi2_ppm / 1e6 / (n * k)) * 1_000_000)
    assert r["cramers_v_ppm"] == v


def test_chi_square_zero_observed_cell_contributes_expected(spark):
    # (y, q) never observed: its term is e itself
    rows = [("x", "p")] * 5 + [("x", "q")] * 5 + [("y", "p")] * 5
    df = spark.createDataFrame(rows, "a string, b string")
    r = Q.chi_square_independence(df, "a", "b").collect()[0]
    assert r["n_cells"] == 4
    assert r["chi2_ppm"] > 0


def test_chi_square_single_column_domain_null_cramers(spark):
    rows = [("x", "p")] * 5 + [("x", "q")] * 3
    df = spark.createDataFrame(rows, "a string, b string")
    r = Q.chi_square_independence(df, "a", "b").collect()[0]
    assert r["dof"] == 0
    assert r["cramers_v_ppm"] is None


def test_acf_chunked_matches_single_window_exactly(spark):
    # the chunked-carry plan must pair IDENTICALLY to the one-window
    # plan, including chunks holding fewer than max_lag rows
    rng = random.Random(17)
    rows = []
    eid = 0
    for day in range(8):
        # wildly uneven chunk sizes incl. empty days and 1-row days
        n = rng.choice([0, 1, 2, 3, 30])
        for j in range(n):
            from datetime import datetime, timedelta

            t = datetime(2024, 3, 1) + timedelta(days=day, minutes=j)
            rows.append(("a" if eid % 3 else "b", t, eid, rng.uniform(0, 50)))
            eid += 1
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, eid long, value double"
    )
    kw = dict(order_tiebreak="eid", max_lag=3)
    chunked = TS.autocorrelation(df, ["k"], "ts", "value", **kw).collect()
    plain = TS.autocorrelation(
        df, ["k"], "ts", "value", chunk_granularity=None, **kw
    ).collect()
    key = lambda r: (r["k"], r["lag"])
    assert {key(r): (r["n_pairs"], r["acf_ppm"]) for r in chunked} == {
        key(r): (r["n_pairs"], r["acf_ppm"]) for r in plain
    }


# ---------------------------------------------------------------------------
# PII pattern scan / redaction


def _pii_df(spark):
    from monzo_data_pipeline_spark.pipeline import erasure as ER

    rows = [
        (1, "contact bob.smith+x@mail.example.com or +44 20 7946 0958 now"),
        (2, "card 4111111111111111 expires soon"),
        (3, "clean text with no identifiers"),
        (4, None),
        (5, "two mails: a@b.co and c.d@e-f.org"),
    ]
    return ER, spark.createDataFrame(rows, "id long, text string")


def test_pii_pattern_counts_planted(spark):
    ER, df = _pii_df(spark)
    got = {
        r["pattern"]: (r["n_rows"], r["n_rows_matching"], r["n_matches"])
        for r in ER.pii_pattern_counts(
            df, "text", ER.PII_PATTERNS, "t"
        ).collect()
    }
    assert got["email"] == (4, 2, 3)
    assert got["card"] == (4, 1, 1)
    assert got["phone"][1] >= 1  # the +44 number
    # n_rows counts SCANNABLE texts: the NULL-text row is excluded
    assert all(r == 4 for r, _, _ in got.values())


def test_pii_redact_removes_all_patterns(spark):
    ER, df = _pii_df(spark)
    red = {r["id"]: r["text"] for r in ER.pii_redact(df, "text").collect()}
    assert "@" not in (red[1] or "")
    assert "4111111111111111" not in red[2]
    assert red[3] == "clean text with no identifiers"
    assert red[4] is None
    # rescanning the redacted text finds nothing
    df2 = ER.pii_redact(df, "text")
    got = {
        r["pattern"]: r["n_matches"]
        for r in ER.pii_pattern_counts(
            df2, "text", {"email": ER.PII_PATTERNS["email"],
                          "card": ER.PII_PATTERNS["card"]}, "t"
        ).collect()
    }
    assert got == {"email": 0, "card": 0}


def test_pii_scan_matches_python_reference(spark):
    import re

    ER, df = _pii_df(spark)
    rows = df.collect()
    for name, pat in ER.PII_PATTERNS.items():
        want = sum(
            len(re.findall(pat, r["text"])) for r in rows if r["text"]
        )
        got = {
            g["pattern"]: g["n_matches"]
            for g in ER.pii_pattern_counts(
                df, "text", {name: pat}, "t"
            ).collect()
        }[name]
        assert got == want, name


def test_pii_scan_empty_surface_emits_zero_rows_per_pattern(spark):
    from monzo_data_pipeline_spark.pipeline import erasure as ER

    df = spark.createDataFrame([], "id long, text string")
    got = {
        r["pattern"]: (r["n_rows"], r["n_rows_matching"], r["n_matches"])
        for r in ER.pii_pattern_counts(
            df, "text", {"email": ER.PII_PATTERNS["email"]}, "t"
        ).collect()
    }
    assert got == {"email": (0, 0, 0)}


def test_chi_square_empty_input_yields_nulls(spark):
    df = spark.createDataFrame([], "a string, b string")
    r = Q.chi_square_independence(df, "a", "b").collect()[0]
    assert r["n_cells"] == 0
    assert r["dof"] is None
    assert r["cramers_v_ppm"] is None


def test_pagerank_nonpositive_weights_excluded(spark):
    ndf = spark.createDataFrame([(0,), (1,), (2,)], "node long")
    edf = spark.createDataFrame(
        [(0, 1, 5), (0, 2, 0), (1, 2, -3)], "src long, dst long, w long"
    )
    got = {r["node"]: r["rank_q"] for r in G.pagerank(ndf, edf).collect()}
    # only the 0->1 edge survives: node 2 receives nothing
    base = 15 * SCALE // 100
    assert got[2] == base
    assert got[1] > base


def test_skyline_null_dimensions_excluded(spark):
    rows = [(1.0, 5), (None, 99), (0.5, None), (2.0, 7)]
    df = spark.createDataFrame(rows, "cost double, benefit int")
    got = [
        (r["cost"], r["benefit"], r["n_rows"])
        for r in SKY.skyline_2d(df, "cost", "benefit").collect()
    ]
    assert got == [(1.0, 5, 1), (2.0, 7, 1)]


def test_acf_null_timestamps_excluded(spark):
    rows = [("a", _ts(i), i, float(i)) for i in range(10)] + [
        ("a", None, 99, 5.0)
    ]
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, eid long, value double"
    )
    out = TS.autocorrelation(
        df, ["k"], "ts", "value", order_tiebreak="eid", max_lag=1
    ).collect()
    assert out[0]["n_pairs"] == 9  # the NULL-ts row joined no series


# ---------------------------------------------------------------------------
# HITS hubs/authorities


def _py_hits(edges, rounds=2):
    import math

    S = 1_000_000
    hubs = {l: S for l in {e[0] for e in edges}}
    auth = {}
    for _ in range(rounds):
        raw = {}
        for l, r, w in edges:
            raw[r] = raw.get(r, 0) + hubs[l] * w
        mx = max(raw.values())
        auth = {r: math.floor(float(v) * float(S) / float(mx)) for r, v in raw.items()}
        raw = {}
        for l, r, w in edges:
            raw[l] = raw.get(l, 0) + auth[r] * w
        mx = max(raw.values())
        hubs = {l: math.floor(float(v) * float(S) / float(mx)) for l, v in raw.items()}
    return hubs, auth


def test_hits_matches_python_reference(spark):
    rng = random.Random(23)
    edges = list(
        {
            (rng.randint(1, 12), rng.randint(100, 110), rng.randint(1, 9))
            for _ in range(60)
        }
    )
    edf = spark.createDataFrame(edges, "l long, r long, w long")
    hubs, auth = G.hits_bipartite(
        edf, rounds=2, left_col="l", right_col="r", weight_col="w"
    )
    ph, pa = _py_hits(edges)
    assert {r["l"]: r["score_q"] for r in hubs.collect()} == ph
    assert {r["r"]: r["score_q"] for r in auth.collect()} == pa


def test_hits_top_node_is_scale_and_weights_guarded(spark):
    edges = [(1, 10, 5), (2, 10, 5), (1, 11, 1), (3, 12, 0), (4, 12, -2)]
    edf = spark.createDataFrame(edges, "l long, r long, w long")
    hubs, auth = G.hits_bipartite(
        edf, left_col="l", right_col="r", weight_col="w"
    )
    a = {r["r"]: r["score_q"] for r in auth.collect()}
    assert a[10] == G.HITS_SCALE  # max-normalized top authority
    assert 12 not in a  # only non-positive-weight edges -> dropped
    assert a[11] < a[10]


# ---------------------------------------------------------------------------
# multi_touch_attribution / acceptance_bias_audit


def test_multi_touch_credit_sums_to_million_per_purchase(spark):
    from datetime import datetime, timedelta

    from monzo_data_pipeline_spark.operators import behavioral as BH

    base = datetime(2024, 5, 1, 12, 0, 0)
    # purchase 100 has 3 touches (view, view, click); purchase 101 has 1
    rows = [
        (1, base - timedelta(minutes=50), 1, "view", None),
        (1, base - timedelta(minutes=30), 2, "view", None),
        (1, base - timedelta(minutes=10), 3, "click", None),
        (1, base, 100, "purchase", None),
        (2, base - timedelta(minutes=5), 4, "click", None),
        (2, base, 101, "purchase", None),
        (2, base - timedelta(hours=3), 5, "view", None),  # outside window
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string, x string"
    )
    out = BH.multi_touch_attribution(
        df.filter(F.col("event_type").isin("view", "click")),
        df.filter(F.col("event_type") == "purchase"),
    ).collect()
    got = {r["channel"]: (r["n_touches"], r["credit_ppm"]) for r in out}
    # purchase 100: each touch 333333, earliest view gets +1 remainder
    assert got["view"] == (2, 333_333 * 2 + 1)
    assert got["click"] == (1 + 1, 333_333 + 1_000_000)
    assert sum(c for _, c in got.values()) == 2_000_000


def test_bias_audit_rates_and_lift(spark):
    from monzo_data_pipeline_spark.ext import corpus as CP

    scored = spark.createDataFrame(
        [(i, 1, i % 2 == 0) for i in range(8)]
        + [(10 + i, 1, True) for i in range(4)],
        "doc_id long, n_tokens long, accept boolean",
    ).select("doc_id", F.lit(0).alias("score"), "accept", "n_tokens")
    groups = spark.createDataFrame(
        [(i, "en") for i in range(8)] + [(10 + i, "fr") for i in range(4)],
        "doc_id long, lang string",
    )
    out = {
        r["lang"]: (r["n_docs"], r["n_accepted"], r["accept_ppm"], r["lift_ppm"])
        for r in CP.acceptance_bias_audit(scored, groups).collect()
    }
    # en: 4/8 accepted = 500000 ppm; fr: 4/4 = 1000000 ppm
    # overall: 8/12 -> 666666 ppm
    assert out["en"] == (8, 4, 500_000, 500_000 * 1_000_000 // 666_666)
    assert out["fr"] == (4, 4, 1_000_000, 1_000_000 * 1_000_000 // 666_666)


# ---------------------------------------------------------------------------
# gini_concentration / cusum_changepoint / triangle_stats


def test_gini_exact_known_values(spark):
    from monzo_data_pipeline_spark.operators import fin as FIN

    # x = [1,1,2,4] ascending: S1 = 1+2+6+16 = 25, S0 = 8, n = 4
    # gini = (2*25 - 5*8)/(4*8) = 10/32 -> 312500 ppm
    df = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2), (4, 4)], "k long, spend_cents long"
    )
    assert tuple(FIN.gini_concentration(df).collect()[0]) == (4, 8, 312_500)
    # all-equal -> 0; empty -> (0, NULL, NULL); negative total -> NULL
    eq = spark.createDataFrame([(i, 7) for i in range(5)], "k long, spend_cents long")
    assert FIN.gini_concentration(eq).collect()[0]["gini_ppm"] == 0
    assert tuple(
        FIN.gini_concentration(df.filter("k < 0")).collect()[0]
    ) == (0, None, None)
    neg = spark.createDataFrame([(1, -5), (2, 1)], "k long, spend_cents long")
    assert FIN.gini_concentration(neg).collect()[0]["gini_ppm"] is None


def test_gini_matches_global_rank_with_heavy_ties(spark):
    import random

    from pyspark.sql import functions as SF

    from monzo_data_pipeline_spark.operators import fin as FIN

    random.seed(23)
    rows = [(i, random.randint(-50, 200) * random.randint(1, 9)) for i in range(3000)]
    rows += [(10_000 + i, 42) for i in range(400)]
    df = spark.createDataFrame(rows, "k long, spend_cents long")
    got = tuple(FIN.gini_concentration(df).collect()[0])
    # reference: brute-force global rank in python
    xs = sorted(v for _, v in rows)
    n, s0 = len(xs), sum(xs)
    s1 = sum((i + 1) * x for i, x in enumerate(xs))
    exp = (n, s0, (2 * s1 - (n + 1) * s0) * 1_000_000 // (n * s0))
    assert got == exp


def test_cusum_finds_level_shift_with_earliest_tiebreak(spark):
    from datetime import date

    from monzo_data_pipeline_spark.operators import timeseries as TS

    rows = [("a", date(2024, 1, d), 10) for d in range(1, 11)]
    rows += [("a", date(2024, 1, d), 30) for d in range(11, 21)]
    # key b: constant series -> peak 0 at FIRST day (earliest tiebreak)
    rows += [("b", date(2024, 2, d), 5) for d in range(1, 6)]
    df = spark.createDataFrame(rows, "k string, t date, x long")
    out = {r["k"]: r for r in TS.cusum_changepoint(df, "k", "t", "x").collect()}
    # key a: shift after day 10 -> |S'| peaks at day 10
    assert out["a"]["cp_t"] == date(2024, 1, 10)
    assert out["a"]["n_points"] == 20 and out["a"]["total_x"] == 400
    # S'_10 = 20*100 - 10*400 = -2000; strength = 2000e6 // 8000
    assert out["a"]["cusum_peak"] == -2000
    assert out["a"]["strength_ppm"] == 2_000_000_000 // 8000
    assert out["b"]["cp_t"] == date(2024, 2, 1) and out["b"]["cusum_peak"] == 0


def test_triangle_stats_k4_pendant_and_hub_safety(spark):
    from monzo_data_pipeline_spark.ext import graph as G

    # K4 (4 triangles) + pendant node; degrees 3,3,3,4,1 -> wedges 15
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "a long, b long")
    r = tuple(G.triangle_stats(df).collect()[0])
    assert r == (5, 7, 15, 4, 3 * 4 * 1_000_000 // 15)
    # duplicate + reversed-order input rows collapse via a<b + distinct
    df2 = spark.createDataFrame(edges + [(1, 2), (2, 1)], "a long, b long")
    assert tuple(G.triangle_stats(df2).collect()[0]) == r
    # star graph (one hub): zero triangles, wedges C(5,2)
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "a long, b long")
    s = tuple(G.triangle_stats(star).collect()[0])
    assert s == (6, 5, 10, 0, 0)


# ---------------------------------------------------------------------------
# bfs_hops / degree_assortativity / conversion_latency


def test_bfs_hops_min_distance_and_hop_cap(spark):
    # path 1-2-3-4-5 plus a shortcut 1-4; sources {1}; undirected
    und = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    srcs = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["hops"] for r in G.bfs_hops(srcs, edges, 3).collect()}
    assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}
    # hop cap: max_hops=1 leaves 3 and 5 unreached (absent)
    got1 = {r["node"]: r["hops"] for r in G.bfs_hops(srcs, edges, 1).collect()}
    assert got1 == {1: 0, 2: 1, 4: 1}


def test_bfs_hops_multi_source_takes_min(spark):
    # directed chain 1->2->3->4; sources {1, 3}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    srcs = spark.createDataFrame([(1,), (3,)], "node long")
    got = {r["node"]: r["hops"] for r in G.bfs_hops(srcs, edges, 3).collect()}
    assert got == {1: 0, 3: 0, 2: 1, 4: 1}


def _py_assortativity_ppm(edges):
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    xs = [deg[a] for a, b in edges] + [deg[b] for a, b in edges]
    ys = [deg[b] for a, b in edges] + [deg[a] for a, b in edges]
    n = len(xs)
    sx, sxx, sxy = sum(xs), sum(x * x for x in xs), sum(
        x * y for x, y in zip(xs, ys)
    )
    num, den = n * sxy - sx * sx, n * sxx - sx * sx
    return None if den <= 0 else (num * 1_000_000) // den


def test_assortativity_star_is_minus_one(spark):
    star = [(0, i) for i in range(1, 6)]
    df = spark.createDataFrame(star, "a long, b long")
    r = G.degree_assortativity(df).collect()[0]
    assert (r["n_nodes"], r["n_edges"]) == (6, 5)
    assert r["assortativity_ppm"] == -1_000_000


def test_assortativity_regular_graph_is_null(spark):
    # 4-cycle: every degree 2 -> zero variance -> NULL
    cyc = [(1, 2), (2, 3), (3, 4), (1, 4)]
    df = spark.createDataFrame(cyc, "a long, b long")
    assert G.degree_assortativity(df).collect()[0]["assortativity_ppm"] is None


def test_assortativity_matches_python_reference_random(spark):
    rng = random.Random(7)
    edges = sorted(
        {
            (a, b)
            for _ in range(60)
            for a, b in [sorted(rng.sample(range(20), 2))]
        }
    )
    df = spark.createDataFrame(edges, "a long, b long")
    got = G.degree_assortativity(df).collect()[0]["assortativity_ppm"]
    assert got == _py_assortativity_ppm(edges)


def test_conversion_latency_first_touch_and_percentiles(spark):
    from datetime import datetime, timedelta

    from monzo_data_pipeline_spark.operators import behavioral as BH

    base = datetime(2024, 5, 1, 12, 0, 0)
    # four purchases whose FIRST in-window touch is a view, latencies
    # 10/20/30/40 s (later click touches must not win)
    ev = []
    pid = 100
    for i, lat in enumerate((10, 20, 30, 40)):
        p_ts = base + timedelta(hours=2 * i)
        ev.append((1, p_ts - timedelta(seconds=lat), 10 + i, "view"))
        ev.append((1, p_ts - timedelta(seconds=5), 50 + i, "click"))
        ev.append((1, p_ts, pid + i, "purchase"))
    # purchase with NO in-window touch -> absent from output
    ev.append((2, base, 999, "purchase"))
    df = spark.createDataFrame(
        ev, "user_id long, ts timestamp, event_id long, event_type string"
    )
    from pyspark.sql import functions as F2

    out = BH.conversion_latency(
        df.filter(F2.col("event_type").isin("view", "click")),
        df.filter(F2.col("event_type") == "purchase"),
        max_gap_seconds=3600,
    ).collect()
    got = {r["channel"]: r for r in out}
    assert set(got) == {"view"}
    v = got["view"]
    # latencies [10,20,30,40]: median 25, p90 = 30 + 0.7*10 = 37
    assert v["n_conversions"] == 4
    assert v["median_s"] == 25.0
    assert v["p90_s"] == 37.0


def test_conversion_latency_id_tiebreak_on_equal_ts(spark):
    from datetime import datetime

    from monzo_data_pipeline_spark.operators import behavioral as BH

    base = datetime(2024, 5, 1, 12, 0, 0)
    ev = [
        (1, base, 2, "click"),
        (1, base, 1, "view"),  # same ts, lower id -> first touch
        (1, base, 9, "purchase"),
    ]
    df = spark.createDataFrame(
        ev, "user_id long, ts timestamp, event_id long, event_type string"
    )
    out = BH.conversion_latency(
        df.filter(F.col("event_type") != "purchase"),
        df.filter(F.col("event_type") == "purchase"),
    ).collect()
    assert len(out) == 1 and out[0]["channel"] == "view"
    assert out[0]["median_s"] == 0.0


# ---------------------------------------------------------------------------
# rankstats: spearman_corr / mann_whitney_u


def _py_avg_ranks(xs):
    """Brute-force textbook average ranks (1-based, ties -> mean)."""
    order = sorted(range(len(xs)), key=lambda i: xs[i])
    ranks = [0.0] * len(xs)
    i = 0
    while i < len(order):
        j = i
        while j + 1 < len(order) and xs[order[j + 1]] == xs[order[i]]:
            j += 1
        avg = (i + j + 2) / 2.0
        for k in range(i, j + 1):
            ranks[order[k]] = avg
        i = j + 1
    return ranks


def _py_spearman_ppm(xs, ys):
    import math

    rx, ry = _py_avg_ranks(xs), _py_avg_ranks(ys)
    n = len(xs)
    # mirror the engine: exact integer moments on DOUBLED ranks
    dx = [int(2 * r) for r in rx]
    dy = [int(2 * r) for r in ry]
    sx, sy = sum(dx), sum(dy)
    sxx = sum(a * a for a in dx)
    syy = sum(a * a for a in dy)
    sxy = sum(a * b for a, b in zip(dx, dy))
    num = n * sxy - sx * sy
    ddx = n * sxx - sx * sx
    ddy = n * syy - sy * sy
    if ddx <= 0 or ddy <= 0:
        return None
    # mirror the engine's fixed IEEE order: round each exact integer
    # to double FIRST, then multiply/sqrt/divide
    return math.floor(
        float(num) / math.sqrt(float(ddx) * float(ddy)) * 1_000_000.0
    )


def test_spearman_known_values(spark):
    from monzo_data_pipeline_spark.operators import rankstats as RS

    # perfectly monotone -> rho = 1
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 35), (4, 99)], "x long, y long"
    )
    r = RS.spearman_corr(df, "x", "y").collect()[0]
    assert (r["n_keys"], r["spearman_ppm"]) == (4, 1_000_000)
    # perfectly anti-monotone -> rho = -1
    df2 = spark.createDataFrame(
        [(1, 99), (2, 35), (3, 20), (4, 10)], "x long, y long"
    )
    assert RS.spearman_corr(df2, "x", "y").collect()[0][
        "spearman_ppm"
    ] == -1_000_000
    # zero-variance marginal -> NULL
    df3 = spark.createDataFrame([(1, 5), (2, 5)], "x long, y long")
    assert RS.spearman_corr(df3, "x", "y").collect()[0][
        "spearman_ppm"
    ] is None
    # empty -> n 0, NULL
    r0 = RS.spearman_corr(df.filter("x < 0"), "x", "y").collect()[0]
    assert (r0["n_keys"], r0["spearman_ppm"]) == (0, None)


def test_spearman_randomized_vs_bruteforce(spark):
    import random

    from monzo_data_pipeline_spark.operators import rankstats as RS

    random.seed(71)
    # heavy ties, negatives, zeros — exercise the exponent buckets
    rows = [
        (random.randint(-30, 30) * 7, random.randint(-10, 10) ** 3)
        for _ in range(2500)
    ]
    df = spark.createDataFrame(rows, "x long, y long")
    got = RS.spearman_corr(df, "x", "y").collect()[0]
    xs = [a for a, _ in rows]
    ys = [b for _, b in rows]
    assert got["n_keys"] == len(rows)
    assert got["spearman_ppm"] == _py_spearman_ppm(xs, ys)


def test_mann_whitney_known_values(spark):
    from monzo_data_pipeline_spark.operators import rankstats as RS

    # A = {1,2}, B = {3,4}: U_A = 0 -> u2 = 0, biserial = -1
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b")], "v long, g string"
    )
    r = RS.mann_whitney_u(df, "v", "g", "a").collect()[0]
    assert (r["n_a"], r["n_b"], r["u2_a"], r["rank_biserial_ppm"]) == (
        2, 2, 0, -1_000_000,
    )
    # A dominates: U_A = n_a*n_b = 4 -> biserial = +1
    df2 = spark.createDataFrame(
        [(9, "a"), (8, "a"), (3, "b"), (4, "b")], "v long, g string"
    )
    r2 = RS.mann_whitney_u(df2, "v", "g", "a").collect()[0]
    assert (r2["u2_a"], r2["rank_biserial_ppm"]) == (8, 1_000_000)
    # all tied: U_A = n_a*n_b/2 -> biserial = 0
    df3 = spark.createDataFrame(
        [(5, "a"), (5, "a"), (5, "b"), (5, "b")], "v long, g string"
    )
    r3 = RS.mann_whitney_u(df3, "v", "g", "a").collect()[0]
    assert (r3["u2_a"], r3["rank_biserial_ppm"]) == (4, 0)
    # one empty group -> effect size NULL, u2 still defined
    df4 = spark.createDataFrame([(5, "a"), (6, "a")], "v long, g string")
    r4 = RS.mann_whitney_u(df4, "v", "g", "a").collect()[0]
    assert (r4["n_a"], r4["n_b"], r4["rank_biserial_ppm"]) == (2, 0, None)


def test_mann_whitney_randomized_vs_bruteforce(spark):
    import random

    from monzo_data_pipeline_spark.operators import rankstats as RS

    random.seed(137)
    rows = [
        (random.randint(-40, 40), "a" if random.random() < 0.3 else "b")
        for _ in range(2000)
    ]
    df = spark.createDataFrame(rows, "v long, g string")
    got = RS.mann_whitney_u(df, "v", "g", "a").collect()[0]
    a = sorted(v for v, g in rows if g == "a")
    b = sorted(v for v, g in rows if g == "b")
    # brute force 2*U_A: wins*2 + ties (pairwise)
    u2 = sum(
        2 * sum(1 for y in b if x > y) + sum(1 for y in b if x == y)
        for x in a
    )
    n_a, n_b = len(a), len(b)
    assert (got["n_a"], got["n_b"], got["u2_a"]) == (n_a, n_b, u2)
    assert got["rank_biserial_ppm"] == (
        (u2 - n_a * n_b) * 1_000_000 // (n_a * n_b)
    )


# ---------------------------------------------------------------------------
# benford_screen / tvd_token_drift


def test_benford_known_counts_and_spine_zeros(spark):
    from monzo_data_pipeline_spark.operators import fin as FIN

    # digits: 1,1,2,3,9 (0 and negatives excluded); total 5
    df = spark.createDataFrame(
        [(1,), (19,), (25,), (3,), (99,), (0,), (-7,)], "cents long"
    )
    out = {r["digit"]: r for r in FIN.benford_screen(df, "cents").collect()}
    assert sorted(out) == list(range(1, 10))  # full 9-digit spine
    assert out[1]["n_amounts"] == 2 and out[1]["observed_ppm"] == 400_000
    assert out[2]["n_amounts"] == 1 and out[2]["observed_ppm"] == 200_000
    assert out[4]["n_amounts"] == 0 and out[4]["observed_ppm"] == 0
    assert out[1]["dev_ppm"] == 400_000 - 301_029
    assert out[4]["dev_ppm"] == -96_910
    # expected shares come from the hardcoded literal table
    assert out[9]["expected_ppm"] == 45_757


def test_benford_empty_input_yields_null_ppm(spark):
    from monzo_data_pipeline_spark.operators import fin as FIN

    df = spark.createDataFrame([(0,)], "cents long").filter("cents > 99")
    out = FIN.benford_screen(df, "cents").collect()
    assert len(out) == 9
    assert all(r["n_amounts"] == 0 for r in out)
    assert all(r["observed_ppm"] is None for r in out)
    assert all(r["dev_ppm"] is None for r in out)


def _src_docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, s) for i, (s, t) in enumerate(rows)],
        "doc_id long, text string, source string",
    )


def test_tvd_identical_zero_disjoint_full(spark):
    from monzo_data_pipeline_spark.ext import corpus as CP

    same = _src_docs(spark, [("a", "x y z"), ("b", "x y z")])
    r = CP.tvd_token_drift(same, "a", "b").collect()[0]
    assert (r["n1"], r["n2"], r["tvd_ppm"]) == (3, 3, 0)
    disj = _src_docs(spark, [("a", "x x"), ("b", "y z")])
    r2 = CP.tvd_token_drift(disj, "a", "b").collect()[0]
    assert r2["tvd_ppm"] == 1_000_000
    assert r2["n_words"] == 3


def test_tvd_known_value_and_empty_source_guard(spark):
    from monzo_data_pipeline_spark.ext import corpus as CP

    # A: [a a b], B: [a b b] -> S = |2*3-1*3| + |1*3-2*3| = 6
    # tvd = 6e6 // (2*3*3) = 333333
    d = _src_docs(spark, [("a", "a a b"), ("b", "a b b")])
    r = CP.tvd_token_drift(d, "a", "b").collect()[0]
    assert (r["n1"], r["n2"], r["n_words"], r["tvd_ppm"]) == (
        3, 3, 2, 333_333,
    )
    # one source absent entirely -> NULL (the ks_drift contract)
    solo = _src_docs(spark, [("a", "a a b")])
    r2 = CP.tvd_token_drift(solo, "a", "b").collect()[0]
    assert (r2["n1"], r2["n2"], r2["tvd_ppm"]) == (3, 0, None)


# ---------------------------------------------------------------------------
# km_survival


def _py_km(durs_churn, durs_cens, horizons=(7, 30, 60, 90)):
    """Python mirror of the engine's exact fold (IEEE order included)."""
    import math
    from collections import Counter

    d = Counter(durs_churn)
    c = Counter(durs_cens)
    days = sorted(set(d) | set(c))
    rem = float(len(durs_churn) + len(durs_cens))
    s = {h: 1.0 for h in horizons}
    for t in days:
        factor = 1.0 - d[t] / rem if rem > 0 else 1.0
        for h in horizons:
            if t <= h:
                s[h] = s[h] * factor
        rem = rem - d[t] - c[t]
    n = len(durs_churn) + len(durs_cens)
    return {
        "n_users": n,
        "n_churned": len(durs_churn),
        "n_censored": len(durs_cens),
        **{
            f"s{h}_ppm": (math.floor(s[h] * 1000000.0) if n else None)
            for h in horizons
        },
    }


def _km_events(spark, user_days):
    """user_days: list of (user, first_day, last_day) as day offsets."""
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u, f, l in user_days:
        for day in {f, l}:
            rows.append((u, base + timedelta(days=day), eid))
            eid += 1
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long"
    )


def test_km_hand_fixture_no_mid_censoring(spark):
    from monzo_data_pipeline_spark.operators import behavioral as BH

    # u1 dur 0, u2 dur 2, u3 dur 5 (all churn); u9 dur 100 censored
    # (defines the global max, last event inside the 7-day window)
    ev = _km_events(spark, [(1, 0, 0), (2, 0, 2), (3, 0, 5), (9, 0, 100)])
    r = BH.km_survival(ev).collect()[0]
    exp = _py_km([0, 2, 5], [100])
    assert r.asDict() == exp
    # survival flat between day 5 and the horizons
    assert r["s7_ppm"] == r["s90_ppm"]


def test_km_censoring_shrinks_risk_set_not_churn(spark):
    from monzo_data_pipeline_spark.operators import behavioral as BH

    # churns at 2 and 5; u4 censored at 3 (still at risk for day 2's
    # factor, gone before day 5's); u9 is the end-of-log censor
    ev = _km_events(
        spark, [(1, 0, 2), (2, 0, 5), (4, 97, 100), (9, 0, 100)]
    )
    # durations: u1=2 churn, u2=5 churn, u4=3 censored, u9=100 censored
    r = BH.km_survival(ev).collect()[0]
    exp = _py_km([2, 5], [3, 100])
    assert r.asDict() == exp
    # sanity: the day-5 factor used n=2 (u4 already censored out)
    assert exp["s7_ppm"] == exp["s30_ppm"]


def test_km_empty_input(spark):
    from monzo_data_pipeline_spark.operators import behavioral as BH

    ev = _km_events(spark, [(1, 0, 0)]).filter("user_id < 0")
    r = BH.km_survival(ev).collect()[0]
    assert (r["n_users"], r["n_churned"], r["n_censored"]) == (0, 0, 0)
    assert r["s7_ppm"] is None and r["s90_ppm"] is None


def test_km_randomized_vs_python_reference(spark):
    import random

    from monzo_data_pipeline_spark.operators import behavioral as BH

    rng = random.Random(29)
    user_days, churn, cens = [], [], []
    max_day = 365
    for u in range(400):
        f = rng.randint(0, 300)
        l = min(max_day, f + rng.randint(0, 120))
        user_days.append((u, f, l))
    # pin the global max so censoring is predictable
    user_days.append((9999, 0, max_day))
    gmax = max(l for _, _, l in user_days)
    for _, f, l in user_days:
        (cens if l >= gmax - 7 else churn).append(l - f)
    ev = _km_events(spark, user_days)
    r = BH.km_survival(ev).collect()[0]
    assert r.asDict() == _py_km(churn, cens)


# ---------------------------------------------------------------------------
# kendall_tau_binned


def _py_ntile(rows, key, n):
    """ntile(n) OVER (ORDER BY value, key): first N%n buckets one extra."""
    order = sorted(range(len(rows)), key=key)
    n_rows = len(rows)
    base, extra = divmod(n_rows, n)
    out = [0] * n_rows
    pos = 0
    for b in range(1, n + 1):
        size = base + (1 if b <= extra else 0)
        for _ in range(size):
            if pos < n_rows:
                out[order[pos]] = b
                pos += 1
    return out


def _py_kendall_binned(pairs, n_bins=10):
    import math

    xs = [p[1] for p in pairs]
    ys = [p[2] for p in pairs]
    bx = _py_ntile(pairs, lambda i: (xs[i], pairs[i][0]), n_bins)
    by = _py_ntile(pairs, lambda i: (ys[i], pairs[i][0]), n_bins)
    n = len(pairs)
    conc = disc = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = (bx[i] > bx[j]) - (bx[i] < bx[j])
            dy = (by[i] > by[j]) - (by[i] < by[j])
            if dx == 0:
                tx += 1
            if dy == 0:
                ty += 1
            if dx != 0 and dy != 0:
                if dx == dy:
                    conc += 1
                else:
                    disc += 1
    n0 = n * (n - 1) // 2
    tau = None
    if n0 - tx > 0 and n0 - ty > 0:
        tau = math.floor(
            float(conc - disc)
            / math.sqrt(float(n0 - tx) * float(n0 - ty))
            * 1_000_000.0
        )
    return n, conc, disc, tau


def test_kendall_perfect_monotone_and_antitone(spark):
    from monzo_data_pipeline_spark.operators import rankstats as RS

    rows = [(i, i * 3, i * 7) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, x long, y long")
    r = RS.kendall_tau_binned(df, "x", "y", "k").collect()[0]
    assert (r["n_rows"], r["tau_b_ppm"]) == (100, 1_000_000)
    anti = spark.createDataFrame(
        [(i, i, -i) for i in range(100)], "k long, x long, y long"
    )
    assert RS.kendall_tau_binned(anti, "x", "y", "k").collect()[0][
        "tau_b_ppm"
    ] == -1_000_000


def test_kendall_empty_input(spark):
    from monzo_data_pipeline_spark.operators import rankstats as RS

    df = spark.createDataFrame(
        [(1, 2, 3)], "k long, x long, y long"
    ).filter("k < 0")
    r = RS.kendall_tau_binned(df, "x", "y", "k").collect()[0]
    assert (r["n_rows"], r["conc_pairs"], r["disc_pairs"], r["tau_b_ppm"]) \
        == (0, 0, 0, None)


def test_kendall_randomized_vs_bruteforce(spark):
    import random

    from monzo_data_pipeline_spark.operators import rankstats as RS

    rng = random.Random(41)
    rows = [
        (i, rng.randint(-20, 20) * 5, rng.randint(0, 9) ** 2)
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, "k long, x long, y long")
    r = RS.kendall_tau_binned(df, "x", "y", "k").collect()[0]
    n, conc, disc, tau = _py_kendall_binned(rows)
    assert (
        r["n_rows"], r["conc_pairs"], r["disc_pairs"], r["tau_b_ppm"]
    ) == (n, conc, disc, tau)


# ---------------------------------------------------------------------------
# welch_t_test / weighted_percentiles


def test_welch_known_values_and_guards(spark):
    from monzo_data_pipeline_spark.operators import rankstats as RS

    # A = [10, 14] (mean 12, var 8), B = [1, 3] (mean 2, var 2)
    # t = 10 / sqrt(8/2 + 2/2) = 10/sqrt(5)
    import math

    df = spark.createDataFrame(
        [(10, "a"), (14, "a"), (1, "b"), (3, "b")], "v long, g string"
    )
    r = RS.welch_t_test(df, "v", "g", "a").collect()[0]
    assert (r["n_a"], r["n_b"]) == (2, 2)
    assert (r["mean_a_cents"], r["mean_b_cents"]) == (12, 2)
    exp = math.floor(
        (12.0 - 2.0) / math.sqrt(8.0 / 2.0 + 2.0 / 2.0) * 1_000_000.0
    )
    assert r["t_ppm"] == exp
    # singleton group -> variance undefined -> NULL
    df2 = spark.createDataFrame(
        [(10, "a"), (1, "b"), (3, "b")], "v long, g string"
    )
    assert RS.welch_t_test(df2, "v", "g", "a").collect()[0][
        "t_ppm"
    ] is None
    # zero variance in both -> SE 0 -> NULL
    df3 = spark.createDataFrame(
        [(5, "a"), (5, "a"), (5, "b"), (5, "b")], "v long, g string"
    )
    assert RS.welch_t_test(df3, "v", "g", "a").collect()[0][
        "t_ppm"
    ] is None


def test_welch_randomized_vs_python_mirror(spark):
    import math
    import random

    from monzo_data_pipeline_spark.operators import rankstats as RS

    rng = random.Random(83)
    rows = [
        (rng.randint(0, 10_000), "a" if rng.random() < 0.4 else "b")
        for _ in range(3000)
    ]
    df = spark.createDataFrame(rows, "v long, g string")
    r = RS.welch_t_test(df, "v", "g", "a").collect()[0]
    a = [v for v, g in rows if g == "a"]
    b = [v for v, g in rows if g == "b"]
    na, nb = len(a), len(b)
    sa, sb = sum(a), sum(b)
    saa = sum(v * v for v in a)
    sbb = sum(v * v for v in b)
    # mirror the engine's IEEE order exactly
    va = (float(saa) - float(sa) * float(sa) / float(na)) / float(na - 1)
    vb = (float(sbb) - float(sb) * float(sb) / float(nb)) / float(nb - 1)
    se2 = va / float(na) + vb / float(nb)
    md = float(sa) / float(na) - float(sb) / float(nb)
    assert (r["n_a"], r["n_b"]) == (na, nb)
    assert r["mean_a_cents"] == sa // na
    assert r["t_ppm"] == math.floor(md / math.sqrt(se2) * 1_000_000.0)


def test_weighted_percentiles_known_and_vs_bruteforce(spark):
    from monzo_data_pipeline_spark.operators import rankstats as RS

    # values 1..4 with weights 1,1,1,7: median unit is 4 (cum 3 < 5),
    # p90 also 4
    df = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 7)], "v long, w long"
    )
    r = RS.weighted_percentiles(df, "v", "w").collect()[0]
    assert (r["total_weight"], r["n_values"]) == (10, 4)
    assert (r["p50_weighted"], r["p90_weighted"]) == (4, 4)
    # nonpositive weights excluded
    df2 = spark.createDataFrame(
        [(100, 0), (200, -5), (7, 3)], "v long, w long"
    )
    r2 = RS.weighted_percentiles(df2, "v", "w").collect()[0]
    assert (r2["total_weight"], r2["p50_weighted"]) == (3, 7)
    # randomized vs expanded-list brute force
    import random

    rng = random.Random(97)
    rows = [
        (rng.randint(-50, 50), rng.randint(1, 9)) for _ in range(1500)
    ]
    dfr = spark.createDataFrame(rows, "v long, w long")
    rr = RS.weighted_percentiles(dfr, "v", "w").collect()[0]
    expanded = sorted(v for v, w in rows for _ in range(w))
    W = len(expanded)
    for q, col in ((50, "p50_weighted"), (90, "p90_weighted")):
        # smallest value with cum*100 >= q*W == element at index
        # ceil(q*W/100) - 1 of the expanded sorted list
        idx = -(-q * W // 100) - 1
        assert rr[col] == expanded[idx]
    assert rr["total_weight"] == W


# ---------------------------------------------------------------------------
# theilsen_slope_binned


def _py_theilsen_binned(pairs, n_bins=10):
    from collections import Counter

    xs = [p[1] for p in pairs]
    ys = [p[2] for p in pairs]
    bx = _py_ntile(pairs, lambda i: (xs[i], pairs[i][0]), n_bins)
    by = _py_ntile(pairs, lambda i: (ys[i], pairs[i][0]), n_bins)
    cells = Counter(zip(bx, by))
    wk = Counter()
    for (ax, ay), an in cells.items():
        for (cx, cy), cn in cells.items():
            if ax < cx:
                wk[(cy - ay) * 2520 // (cx - ax)] += an * cn
    total = sum(wk.values())
    if total == 0:
        return len(pairs), 0, None
    cum = 0
    for key in sorted(wk):
        cum += wk[key]
        if 2 * cum >= total:
            return (
                len(pairs),
                total,
                (key * 1000000 - (key * 1000000 % 2520)) // 2520,
            )


def test_theilsen_monotone_and_degenerate(spark):
    from monzo_data_pipeline_spark.operators import rankstats as RS

    # perfectly monotone grid: every pairwise slope is dy/dx with
    # dy == dx (deciles move together) -> median slope exactly 1
    rows = [(i, i * 2, i * 5) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, x long, y long")
    r = RS.theilsen_slope_binned(df, "x", "y", "k").collect()[0]
    assert (r["n_rows"], r["slope_ppm"]) == (100, 1_000_000)
    # anti-monotone -> -1
    anti = spark.createDataFrame(
        [(i, i, -i) for i in range(100)], "k long, x long, y long"
    )
    assert RS.theilsen_slope_binned(anti, "x", "y", "k").collect()[0][
        "slope_ppm"
    ] == -1_000_000
    # empty -> NULL
    r0 = RS.theilsen_slope_binned(
        df.filter("k < 0"), "x", "y", "k"
    ).collect()[0]
    assert (r0["n_rows"], r0["pair_weight"], r0["slope_ppm"]) == (
        0, 0, None,
    )


def test_theilsen_randomized_vs_bruteforce(spark):
    import random

    from monzo_data_pipeline_spark.operators import rankstats as RS

    rng = random.Random(61)
    rows = [
        (i, rng.randint(-100, 100), rng.randint(-40, 40) * 3)
        for i in range(700)
    ]
    df = spark.createDataFrame(rows, "k long, x long, y long")
    got = RS.theilsen_slope_binned(df, "x", "y", "k").collect()[0]
    n, w, slope = _py_theilsen_binned(rows)
    assert (got["n_rows"], got["pair_weight"], got["slope_ppm"]) == (
        n, w, slope,
    )


# ---------------------------------------------------------------------------
# spearman_by_group


def test_spearman_by_group_matches_per_group_global(spark):
    """Each group's rho must equal spearman_corr run on that group's
    rows alone — the per-group operator is the global one fanned out."""
    import random

    from monzo_data_pipeline_spark.operators import rankstats as RS

    rng = random.Random(73)
    rows = []
    for g, rule in (("up", 1), ("down", -1), ("noise", 0)):
        for i in range(400):
            x = rng.randint(-30, 30) * 3
            y = rule * x + (rng.randint(-5, 5) if rule else rng.randint(-50, 50))
            rows.append((g, x, y))
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {
        r["g"]: (r["n_keys"], r["spearman_ppm"])
        for r in RS.spearman_by_group(df, "g", "x", "y").collect()
    }
    for g in ("up", "down", "noise"):
        solo = RS.spearman_corr(
            df.filter(F.col("g") == g), "x", "y"
        ).collect()[0]
        assert got[g] == (solo["n_keys"], solo["spearman_ppm"]), g
    assert got["up"][1] > 900_000 and got["down"][1] < -900_000


def test_spearman_by_group_degenerate_groups(spark):
    from monzo_data_pipeline_spark.operators import rankstats as RS

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 5, 7), ("b", 6, 7)],
        "g string, x long, y long",
    )
    got = {r["g"]: r for r in RS.spearman_by_group(df, "g", "x", "y").collect()}
    assert got["a"]["spearman_ppm"] == 1_000_000
    assert got["b"]["spearman_ppm"] is None  # zero-variance y marginal


def test_k_core_peels_chain_keeps_clique(spark):
    from monzo_data_pipeline_spark.ext import graph as G

    # K4 clique (nodes 1-4) + a chain 4-5-6 hanging off it: the
    # 3-core is exactly the clique (first peel drops 6, second drops
    # 5 — degree updates must CASCADE, which a single-pass degree
    # filter would miss)
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)]
    e = spark.createDataFrame(edges, "a long, b long")
    out = {r.node: r.core_degree for r in G.k_core(e, 3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    # 2-core keeps only cycles: clique survives, chain still peels
    out2 = {r.node: r.core_degree for r in G.k_core(e, 2).collect()}
    assert out2 == {1: 3, 2: 3, 3: 3, 4: 3}
    # k=1 drops nothing on a connected graph
    assert len(G.k_core(e, 1).collect()) == 6
    # k beyond max degree empties the graph
    assert G.k_core(e, 5).count() == 0


def test_k_core_round_cap_is_semantic(spark):
    from monzo_data_pipeline_spark.ext import graph as G

    # a long path: each 2-core peel removes only the two endpoints,
    # so max_rounds=2 must return the graph after EXACTLY two peels
    # (nodes 3..8 of the 1..10 path), not the empty fixpoint
    path = [(i, i + 1) for i in range(1, 10)]
    e = spark.createDataFrame(path, "a long, b long")
    after2 = {r.node for r in G.k_core(e, 2, max_rounds=2).collect()}
    assert after2 == set(range(3, 9))
    # and the fixpoint (enough rounds) is empty — a path has no 2-core
    assert G.k_core(e, 2, max_rounds=12).count() == 0


def _sssp_dict(spark, sources, edges, rounds):
    from monzo_data_pipeline_spark.ext import graph as G

    s = spark.createDataFrame([(n,) for n in sources], "node long")
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    return {r.node: r.dist for r in G.sssp(s, e, max_rounds=rounds).collect()}


def test_sssp_prefers_cheap_long_path(spark):
    # 1→2→3 costs 1+1=2; direct 1→3 costs 10: the weighted answer (2)
    # differs from the hop answer (1 hop) — the case BFS can't express
    edges = [(1, 2, 1), (2, 3, 1), (1, 3, 10), (3, 4, 5)]
    out = _sssp_dict(spark, [1], edges, rounds=6)
    assert out == {1: 0, 2: 1, 3: 2, 4: 7}


def test_sssp_multi_source_min_and_unreachable_absent(spark):
    # sources 1 and 10; node 5 reachable from both — min wins; node 99
    # is isolated (edge 99→1 is DIRECTED away) and never appears
    edges = [(1, 5, 7), (10, 5, 3), (99, 1, 1)]
    out = _sssp_dict(spark, [1, 10], edges, rounds=4)
    assert out == {1: 0, 10: 0, 5: 3}


def test_sssp_round_cap_is_semantic(spark):
    # chain 1→2→…→6, unit weights: after 2 rounds only nodes within 2
    # relaxations carry distances (the unrolled-oracle contract);
    # enough rounds reaches the fixpoint and stops early
    edges = [(i, i + 1, 1) for i in range(1, 6)]
    out2 = _sssp_dict(spark, [1], edges, rounds=2)
    assert out2 == {1: 0, 2: 1, 3: 2}
    out = _sssp_dict(spark, [1], edges, rounds=20)
    assert out == {i: i - 1 for i in range(1, 7)}


def test_sssp_delta_frontier_matches_full_relaxation(spark):
    # random-ish graph where a later round LOWERS an already-set
    # distance (the delta-frontier must re-open it): 1→4 direct w=9,
    # but 1→2→3→4 costs 3 — node 4 improves at round 3 after being
    # set at round 1
    edges = [(1, 4, 9), (1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 5, 1)]
    out = _sssp_dict(spark, [1], edges, rounds=6)
    assert out == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    # python Bellman-Ford mirror over the same rounds
    import itertools

    dist = {1: 0}
    for _ in range(6):
        new = dict(dist)
        for s, d, w in edges:
            if s in dist and dist[s] + w < new.get(d, 1 << 60):
                new[d] = dist[s] + w
        dist = new
    assert out == dist


def _lpa_mirror(edges, rounds):
    """Python mirror of the synchronous LPA contract: most frequent
    neighbor label, ties -> smallest label, keep own if no change."""
    from collections import Counter, defaultdict

    nbrs = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    labels = {n: n for n in nbrs}
    for _ in range(rounds):
        new = {}
        for n in labels:
            cnt = Counter(labels[v] for v in nbrs[n])
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        if new == labels:
            break
        labels = new
    return labels


def _lpa_dict(spark, edges, rounds):
    from monzo_data_pipeline_spark.ext import graph as G

    e = spark.createDataFrame(edges, "a long, b long")
    return {
        r.node: r.community
        for r in G.label_propagation(e, rounds=rounds).collect()
    }


def test_lpa_two_cliques_bridge(spark):
    # two K3s joined by one bridge: each clique settles on its own
    # minimum label (fixpoint within a few rounds)
    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    out = _lpa_dict(spark, edges, rounds=8)
    assert out == _lpa_mirror(edges, 8)
    # the two triangles end in different communities
    assert len({out[1], out[4]}) == 2


def test_lpa_round_cap_is_semantic_star_oscillates(spark):
    # star 1-{2,3,4}: synchronous LPA oscillates (center and leaves
    # swap every round) — rounds=1 and rounds=2 must each match the
    # mirror exactly, and they differ (this is WHY the cap is part of
    # the contract)
    edges = [(1, 2), (1, 3), (1, 4)]
    out1 = _lpa_dict(spark, edges, rounds=1)
    out2 = _lpa_dict(spark, edges, rounds=2)
    assert out1 == _lpa_mirror(edges, 1) == {1: 2, 2: 1, 3: 1, 4: 1}
    assert out2 == _lpa_mirror(edges, 2) == {1: 1, 2: 2, 3: 2, 4: 2}
    assert out1 != out2


def test_lpa_matches_mirror_on_random_graph(spark):
    import random

    rng = random.Random(7)
    nodes = list(range(1, 41))
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.choice(nodes), rng.choice(nodes)) for _ in range(120)
            )
            if a != b
        }
    )
    for rounds in (1, 3, 6):
        assert _lpa_dict(spark, edges, rounds) == _lpa_mirror(edges, rounds)


def test_modularity_known_values(spark):
    from monzo_data_pipeline_spark.ext import graph as G

    # two disjoint triangles, each its own community: Q = 1/2 exactly
    tri2 = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)]
    e = spark.createDataFrame(tri2, "a long, b long")
    lab = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4)],
        "node long, community long",
    )
    r = G.modularity_ppm(e, lab).collect()[0]
    assert (r.n_communities, r.n_edges, r.intra_edges) == (2, 6, 6)
    assert r.modularity_ppm == 500_000
    # everything in ONE community: Q = 0 exactly
    lab1 = spark.createDataFrame(
        [(n, 1) for n in range(1, 7)], "node long, community long"
    )
    assert G.modularity_ppm(e, lab1).collect()[0].modularity_ppm == 0


def test_modularity_negative_floor(spark):
    from monzo_data_pipeline_spark.ext import graph as G

    # 4-cycle with alternating labels: every edge crosses, Q = −1/2 —
    # exercises the pmod floor on a negative numerator
    cyc = [(1, 2), (2, 3), (3, 4), (1, 4)]
    e = spark.createDataFrame(cyc, "a long, b long")
    lab = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 10), (4, 20)], "node long, community long"
    )
    r = G.modularity_ppm(e, lab).collect()[0]
    assert r.intra_edges == 0
    assert r.modularity_ppm == -500_000


def test_sssp_rejects_negative_weights(spark):
    import pytest
    from monzo_data_pipeline_spark.ext import graph as G

    s = spark.createDataFrame([(1,)], "node long")
    e = spark.createDataFrame([(1, 2, -3)], "src long, dst long, w long")
    with pytest.raises(ValueError, match="negative"):
        G.sssp(s, e, max_rounds=3)


def test_zorder_key_known_interleave(spark):
    from monzo_data_pipeline_spark.operators.layout import zorder_key_expr

    # x=0b11 at even bit lanes, y=0b01 at odd: z = 0b0111 = 7
    row = spark.sql(
        f"SELECT {zorder_key_expr(['x', 'y'])} AS z "
        "FROM (SELECT CAST(3 AS BIGINT) x, CAST(1 AS BIGINT) y)"
    ).collect()[0]
    assert row.z == 7
    # single dim degenerates to identity on the masked bits
    row1 = spark.sql(
        f"SELECT {zorder_key_expr(['x'])} AS z "
        "FROM (SELECT CAST(12345 AS BIGINT) x)"
    ).collect()[0]
    assert row1.z == 12345


def test_zorder_dim_floor_mod_negative(spark):
    from monzo_data_pipeline_spark.operators.layout import (
        ZORDER_BITS,
        zorder_dim_expr,
    )

    row = spark.sql(
        f"SELECT {zorder_dim_expr('x')} AS d "
        "FROM (SELECT CAST(-1 AS BIGINT) x)"
    ).collect()[0]
    assert row.d == (1 << ZORDER_BITS) - 1


def test_zorder_layout_stats_bounds_both_dimensions(spark):
    from pyspark.sql import functions as F

    from monzo_data_pipeline_spark.operators.layout import (
        zorder_layout_stats,
    )

    # 64x64 uniform grid spread over the full 21-bit domain (<<15),
    # audited at 10 coarse bits: every prospective file bucket must
    # cover a small rectangle of BOTH dims (an x-sort layout would
    # show the full y range on every bucket)
    grid = spark.range(64 * 64).select(
        ((F.col("id") % 64) * 32768).alias("x"),
        ((F.col("id") / 64).cast("long") * 32768).alias("y"),
    )
    rows = zorder_layout_stats(grid, "x", "y", coarse_bits=10).collect()
    assert len(rows) >= 8
    assert sum(r.n for r in rows) == 64 * 64
    full = 63 * 32768
    assert all(
        r.max_x - r.min_x <= full // 2 and r.max_y - r.min_y <= full // 2
        for r in rows
    )


def test_sssp_matches_mirror_on_random_weighted_graphs(spark):
    import random

    rng = random.Random(11)
    for trial in range(3):
        nodes = list(range(1, 31))
        edges = [
            (rng.choice(nodes), rng.choice(nodes), rng.randint(1, 9))
            for _ in range(90)
        ]
        edges = [(s, d, w) for s, d, w in edges if s != d]
        sources = rng.sample(nodes, 2)
        rounds = rng.choice([2, 4, 8])
        got = _sssp_dict(spark, sources, edges, rounds)
        # python synchronous full-relaxation Bellman-Ford, same rounds
        dist = {s: 0 for s in sources}
        for _ in range(rounds):
            new = dict(dist)
            for s, d, w in edges:
                if s in dist and dist[s] + w < new.get(d, 1 << 60):
                    new[d] = dist[s] + w
            if new == dist:
                break
            dist = new
        assert got == dist, f"trial {trial} rounds {rounds}"


def test_seasonal_decompose_monthly_constructed(spark):
    """r8: on x_t = 100 + s_{month} (no trend slope, exact 12-period
    seasonality over whole years), the 2x12 MA trend is the flat 100
    base, the seasonal index recovers s exactly, and residuals vanish
    wherever trend is defined; the first/last 6 months have NULL
    trend (standard edge behavior)."""
    import datetime

    from monzo_data_pipeline_spark.operators.timeseries import (
        seasonal_decompose_monthly,
    )

    s = [0, 12, -12, 24, -24, 6, -6, 18, -18, 3, -3, 0]
    rows = []
    for yr in (2020, 2021, 2022, 2023):
        for mo in range(1, 13):
            rows.append(
                (datetime.datetime(yr, mo, 15), float(100 + s[mo - 1]))
            )
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    out = {
        r.order_month: r
        for r in seasonal_decompose_monthly(df, "ts", "v").collect()
    }
    assert len(out) == 48
    # edges: 6 NULL-trend months at each end
    nulls = [m for m, r in out.items() if r.trend_ppm is None]
    assert sorted(nulls) == (
        [f"2020-{m:02d}" for m in range(1, 7)]
        + [f"2023-{m:02d}" for m in range(7, 13)]
    )
    for m, r in out.items():
        mo = int(m[-2:])
        assert r.revenue_cents == (100 + s[mo - 1]) * 100
        if r.trend_ppm is not None:
            # 2x12 MA of an exact-period signal = the flat base
            assert r.trend_ppm == 100 * 100 * 1_000_000
            assert r.residual_ppm == 0
        # seasonal index == the injected pattern (ppm of a cent)
        assert r.seasonal_ppm == s[mo - 1] * 100 * 1_000_000


# --- Holt linear-trend forecast (r9) -----------------------------------------


def test_holt_forecast_hand_computed(spark):
    """y = [10, 20, 30] cents: init l2=20, b2=10; t=3: l=30, b=10 ->
    forecast(h) = 30 + 10h."""
    from monzo_data_pipeline_spark.operators.timeseries import (
        holt_linear_forecast,
    )

    df = spark.createDataFrame(
        [("2020-01-15", 0.10), ("2020-02-15", 0.20), ("2020-03-15", 0.30)],
        "d string, v double",
    ).selectExpr("CAST(d AS TIMESTAMP) AS ts", "v")
    got = {
        r.h: (r.level_cents, r.trend_cents, r.forecast_cents)
        for r in holt_linear_forecast(df, "ts", "v").collect()
    }
    assert got == {1: (30, 10, 40), 2: (30, 10, 50), 3: (30, 10, 60)}


def test_holt_forecast_negative_trend_floor(spark):
    """Decreasing series: the trend is negative and every halving must
    FLOOR (the arithmetic-shift semantics), not truncate toward 0."""
    from monzo_data_pipeline_spark.operators.timeseries import (
        holt_linear_forecast,
    )

    df = spark.createDataFrame(
        [("2020-01-15", 0.30), ("2020-02-15", 0.20), ("2020-03-15", 0.10)],
        "d string, v double",
    ).selectExpr("CAST(d AS TIMESTAMP) AS ts", "v")
    got = {
        r.h: (r.level_cents, r.trend_cents, r.forecast_cents)
        for r in holt_linear_forecast(df, "ts", "v").collect()
    }
    # l2=20, b2=-10; t=3: l=floor(20/2)=10, b=floor(-20/2)=-10
    assert got == {1: (10, -10, 0), 2: (10, -10, -10), 3: (10, -10, -20)}


def test_holt_forecast_short_series(spark):
    from monzo_data_pipeline_spark.operators.timeseries import (
        holt_linear_forecast,
    )

    one = spark.createDataFrame(
        [("2020-01-15", 0.10)], "d string, v double"
    ).selectExpr("CAST(d AS TIMESTAMP) AS ts", "v")
    got = {
        r.h: r.forecast_cents
        for r in holt_linear_forecast(one, "ts", "v").collect()
    }
    assert got == {1: 10, 2: 10, 3: 10}  # flat at y1, b=0
    empty = one.filter("1 = 0")
    assert holt_linear_forecast(empty, "ts", "v").count() == 0


def test_personalized_pagerank_hand_computed(spark):
    """3-cycle with seed {1}: teleport mass returns only to the seed;
    hand-unrolled 3 integer fixed-point rounds."""
    from monzo_data_pipeline_spark.ext.graph import (
        personalized_pagerank,
    )

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 1), (3, 1, 1)], "src long, dst long, w long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r.node: r.rank_q
        for r in personalized_pagerank(
            nodes, edges, seeds, iters=3
        ).collect()
    }
    assert got == {1: 764125000, 2: 127500000, 3: 108375000}


def test_calibration_bins_hand_computed(spark):
    """Scores 0..9 with labels = (score >= 5): two clean bands when
    n_bins=2 — low band 0% positive, high band 100%."""
    from monzo_data_pipeline_spark.pipeline.quality import (
        calibration_bins,
    )

    df = spark.createDataFrame(
        [(s, s >= 5) for s in range(10)], "score long, y boolean"
    )
    got = {
        r.bin: (r.n, r.mean_score_milli, r.pos_rate_ppm)
        for r in calibration_bins(df, "score", "y", n_bins=2).collect()
    }
    assert got == {0: (5, 2000, 0), 1: (5, 7000, 1000000)}


def test_calibration_bins_null_labels_dont_widen_range(spark):
    """r10: a row with a NULL label (or score) is excluded from the
    bands AND from the [lo, hi] range — before the fix an outlier
    score riding on a null label stretched the bins while its row was
    filtered out, shifting every band edge."""
    from monzo_data_pipeline_spark.pipeline.quality import (
        calibration_bins,
    )

    base = [(s, s >= 5) for s in range(10)]
    df = spark.createDataFrame(
        base + [(1_000_000, None), (None, True)],
        "score long, y boolean",
    )
    got = {
        r.bin: (r.n, r.mean_score_milli, r.pos_rate_ppm)
        for r in calibration_bins(df, "score", "y", n_bins=2).collect()
    }
    # identical to the clean-frame result: the null rows are invisible
    assert got == {0: (5, 2000, 0), 1: (5, 7000, 1000000)}


def test_cohens_kappa_known_values(spark):
    from monzo_data_pipeline_spark.pipeline.quality import cohens_kappa

    # perfect agreement -> kappa 1
    df = spark.createDataFrame(
        [(True, True)] * 3 + [(False, False)] * 3, "a boolean, b boolean"
    )
    r = cohens_kappa(df, "a", "b").collect()[0]
    assert (r.n, r.po_ppm, r.kappa_ppm) == (6, 1000000, 1000000)
    # independence-ish: a alternates, b constant -> pe == po, kappa NULL
    # (single-class b makes pe == max); use the textbook 2x2 instead:
    # po = 0.6, marginals a1=0.5, b1=0.5 -> pe = 0.5, kappa = 0.2
    df2 = spark.createDataFrame(
        [(True, True)] * 3
        + [(False, False)] * 3
        + [(True, False)] * 2
        + [(False, True)] * 2,
        "a boolean, b boolean",
    )
    r2 = cohens_kappa(df2, "a", "b").collect()[0]
    assert (r2.n, r2.po_ppm, r2.pe_ppm, r2.kappa_ppm) == (
        10, 600000, 500000, 200000,
    )
    # degenerate: both constant -> pe == 1, kappa NULL
    df3 = spark.createDataFrame(
        [(True, True)] * 4, "a boolean, b boolean"
    )
    assert cohens_kappa(df3, "a", "b").collect()[0].kappa_ppm is None


def test_shard_rebalance_hrw_minimal_movement(spark):
    """Adding one shard under rendezvous placement moves ~1/(N+1) of
    keys; modulo moves ~N/(N+1). Also: HRW movement is exactly the
    keys the NEW shard wins (keys never move between OLD shards)."""
    import pyspark.sql.functions as F

    from monzo_data_pipeline_spark.operators.layout import (
        shard_rebalance_audit,
    )

    df = spark.createDataFrame([(i,) for i in range(4000)], "k long")
    r = shard_rebalance_audit(df, "k", 8, 9).collect()[0]
    assert r.n_keys == 4000
    # modulo: ~8/9 of keys move (allow wide slack for the exact count)
    assert r.moved_modulo > r.n_keys * 7 // 10
    # HRW: ~1/9 move; strictly minimal vs modulo
    assert r.moved_hrw < r.n_keys // 5
    assert r.moved_hrw < r.moved_modulo
    # same shard count -> nothing moves under either scheme
    r0 = shard_rebalance_audit(df, "k", 8, 8).collect()[0]
    assert (r0.moved_modulo, r0.moved_hrw) == (0, 0)


def test_shard_rebalance_shrink_direction(spark):
    """Shrinking the shard count (r10 fix): the OLD argmax must be
    computed over the FULL old shard set, not a truncated one.
    Symmetry check: HRW movement on N->M equals movement on M->N
    (the placement pair is the same set of keys whose argmax differs),
    and every key on a removed shard must move."""
    from monzo_data_pipeline_spark.operators.layout import (
        shard_rebalance_audit,
    )

    # negative keys included: the r10 pmod-fold in _hrw_score must
    # place them deterministically (engine-shared, non-negative)
    df = spark.createDataFrame(
        [(i,) for i in range(-500, 1500)], "k long"
    )
    grow = shard_rebalance_audit(df, "k", 8, 9).collect()[0]
    shrink = shard_rebalance_audit(df, "k", 9, 8).collect()[0]
    assert shrink.n_keys == 2000
    # before the fix the shrink direction reported moved_hrw == 0
    assert shrink.moved_hrw > 0
    # grow/shrink between the same two shard counts move the SAME keys
    assert shrink.moved_hrw == grow.moved_hrw
    assert shrink.moved_modulo == grow.moved_modulo
    # HRW still strictly minimal vs modulo in the shrink direction
    assert shrink.moved_hrw < shrink.moved_modulo


def test_iterative_driver_finish_matches_distributed(spark, monkeypatch):
    """r11: pagerank / personalized_pagerank / sssp gained a bounded
    driver finisher (exact Python integer rounds under the
    ITER_DRIVER_FINISH_* collect caps). Force the distributed path by
    zeroing the caps and assert bit-identical output on a seeded
    random graph — `//` on the non-negative fixed-point ranks must be
    exactly Spark's DIV."""
    rng = random.Random(17)
    nodes = list(range(12))
    edges = sorted(
        {
            (rng.randrange(12), rng.randrange(12), rng.randint(1, 9))
            for _ in range(40)
        }
    )
    edges = [(s, d, w) for s, d, w in edges if s != d]
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long, w long")
    sdf = spark.createDataFrame([(0,), (3,)], "node long")

    pr_drv = {r.node: r.rank_q for r in G.pagerank(ndf, edf).collect()}
    ppr_drv = {
        r.node: r.rank_q
        for r in G.personalized_pagerank(ndf, edf, sdf).collect()
    }
    sssp_drv = {
        r.node: r.dist
        for r in G.sssp(sdf, edf, max_rounds=8).collect()
    }

    monkeypatch.setattr(G, "ITER_DRIVER_FINISH_NODES", 0)
    monkeypatch.setattr(G, "ITER_DRIVER_FINISH_EDGES", 0)
    pr_dist = {r.node: r.rank_q for r in G.pagerank(ndf, edf).collect()}
    ppr_dist = {
        r.node: r.rank_q
        for r in G.personalized_pagerank(ndf, edf, sdf).collect()
    }
    sssp_dist = {
        r.node: r.dist
        for r in G.sssp(sdf, edf, max_rounds=8).collect()
    }
    assert pr_drv == pr_dist
    assert ppr_drv == ppr_dist
    assert sssp_drv == sssp_dist


def test_hits_driver_finish_matches_distributed(spark, monkeypatch):
    """hits_bipartite's driver finisher (exact Python Σ score·w, then
    the distributed half's IEEE double normalization) must match the
    distributed half-rounds bit for bit — including weights large
    enough that the Σ passes 2^53 and the double conversion rounds."""
    rng = random.Random(29)
    for wmax in (9, 4 * 10**9):
        edges = sorted(
            {
                (rng.randrange(15), 100 + rng.randrange(12), rng.randint(1, wmax))
                for _ in range(60)
            }
        )
        edf = spark.createDataFrame(edges, "src long, dst long, w long")

        def run():
            hubs, auth = G.hits_bipartite(edf, rounds=2)
            return sorted(map(tuple, hubs.collect())), sorted(
                map(tuple, auth.collect())
            )

        drv = run()
        with monkeypatch.context() as m:
            m.setattr(G, "ITER_DRIVER_FINISH_EDGES", 0)
            dist = run()
        assert drv == dist and len(drv[0]) > 0 and len(drv[1]) > 0
