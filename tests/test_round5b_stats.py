"""Round-5 late-tranche statistics operators: brute-force ground truth
for the nonparametric tests (Wilcoxon signed-rank, Brown-Forsythe,
Friedman, Cronbach alpha, Ljung-Box, max drawdown) computed in plain
Python/numpy from the same collected rows — verifying the distributed
integer-identity forms against the textbook formulas directly, not
just against the DuckDB rewrite.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np

from spark_streaming_practicum_spark.catalog import table

from .conftest import SF_DIR, build_with_pinned_plans, built_query


def _events(spark):
    return (
        table(spark, SF_DIR, "events")
        .select("user_id", "event_type", "value", "ts")
        .collect()
    )


def _avg_ranks(vals):
    """Average ranks (1-based, ties averaged) of a list of floats."""
    order = sorted(range(len(vals)), key=lambda i: vals[i])
    ranks = [0.0] * len(vals)
    i = 0
    while i < len(order):
        j = i
        while j + 1 < len(order) and vals[order[j + 1]] == vals[order[i]]:
            j += 1
        avg = (i + j) / 2 + 1
        for t in range(i, j + 1):
            ranks[order[t]] = avg
        i = j + 1
    return ranks


def test_wilcoxon_matches_textbook(spark):
    rows = _events(spark)
    a, b = defaultdict(lambda: None), defaultdict(lambda: None)
    for r in rows:
        if r["event_type"] == "view":
            a[r["user_id"]] = max(a[r["user_id"]] or -1e18, r["value"])
        elif r["event_type"] == "click":
            b[r["user_id"]] = max(b[r["user_id"]] or -1e18, r["value"])
    diffs = [
        a[u] - b[u]
        for u in set(a) & set(b)
        if a[u] is not None and b[u] is not None and a[u] != b[u]
    ]
    n = len(diffs)
    ranks = _avg_ranks([abs(d) for d in diffs])
    w_plus = sum(rk for d, rk in zip(diffs, ranks) if d > 0)
    counts = defaultdict(int)
    for d in diffs:
        counts[abs(d)] += 1
    t_corr = sum(c**3 - c for c in counts.values())
    var = n * (n + 1) * (2 * n + 1) / 24 - t_corr / 48
    z = (w_plus - n * (n + 1) / 4) / math.sqrt(var)

    got = built_query("wilcoxon_signed_rank", spark).collect()[0]
    assert got["n_pairs"] == n
    assert got["w_plus"] == w_plus
    assert abs(got["z_stat"] - z) < 1e-5


def test_brown_forsythe_matches_textbook(spark):
    rows = _events(spark)
    groups = defaultdict(list)
    for r in rows:
        groups[r["event_type"]].append(r["value"])
    z = {g: np.abs(np.array(v) - np.quantile(v, 0.5)) for g, v in groups.items()}
    k = len(z)
    n = sum(len(v) for v in z.values())
    zbar = sum(v.sum() for v in z.values()) / n
    between = sum(len(v) * (v.mean() - zbar) ** 2 for v in z.values())
    within = sum(((v - v.mean()) ** 2).sum() for v in z.values())
    w = (n - k) / (k - 1) * between / within

    got = built_query("levene_brown_forsythe", spark).collect()[0]
    assert got["n_total"] == n and got["k_groups"] == k
    assert abs(got["w_stat"] - w) < 1e-4


def test_friedman_matches_textbook(spark):
    rows = _events(spark)
    counts = defaultdict(lambda: defaultdict(int))
    types = set()
    for r in rows:
        counts[r["user_id"]][r["event_type"]] += 1
        types.add(r["event_type"])
    k = len(types)
    blocks = {u: c for u, c in counts.items() if len(c) == k}
    n = len(blocks)
    order = sorted(types)
    rank_sums = defaultdict(float)
    a_sq = 0.0
    for u, c in blocks.items():
        vals = [c[t] for t in order]
        rks = _avg_ranks(vals)
        for t, rk in zip(order, rks):
            rank_sums[t] += rk
            a_sq += rk * rk
    s = sum((rank_sums[t] - n * (k + 1) / 2) ** 2 for t in order)
    q = (k - 1) * s / (a_sq - n * k * (k + 1) ** 2 / 4)

    got = built_query("friedman_rank_test", spark).collect()[0]
    assert got["n_blocks"] == n and got["k_treatments"] == k
    assert abs(got["q_stat"] - q) < 1e-5


def test_cronbach_matches_textbook(spark):
    rows = _events(spark)
    counts = defaultdict(lambda: defaultdict(int))
    types = set()
    for r in rows:
        counts[r["user_id"]][r["event_type"]] += 1
        types.add(r["event_type"])
    users = sorted(counts)
    order = sorted(types)
    mat = np.array([[counts[u][t] for t in order] for u in users], dtype=float)
    k = len(order)
    item_vars = mat.var(axis=0, ddof=1)
    total_var = mat.sum(axis=1).var(ddof=1)
    alpha = k / (k - 1) * (1 - item_vars.sum() / total_var)

    got = built_query("cronbach_alpha_reliability", spark).collect()[0]
    assert got["n_users"] == len(users) and got["k_items"] == k
    assert abs(got["alpha"] - alpha) < 1e-6


def test_ljung_box_matches_numpy_acf(spark):
    daily = defaultdict(int)
    for r in _events(spark):
        daily[r["ts"].date()] += 1
    days = sorted(daily)
    x = np.array([daily[d] for d in days], dtype=float)
    n = len(x)
    mu = x.mean()
    den = ((x - mu) ** 2).sum()
    got = {r["lag_k"]: r for r in built_query("ts_ljung_box_portmanteau", spark).collect()}
    q_prev = 0.0
    for lag in range(1, 11):
        # calendar-aligned pairs (the series has no gaps at sf0.001? —
        # align by date arithmetic, not position, to mirror the operator)
        pairs = [
            (daily[d], daily[dd])
            for d in days
            for dd in [d - np.timedelta64(lag, "D").astype("timedelta64[D]").item()]
            if dd in daily
        ]
        num = sum((a - mu) * (b - mu) for a, b in pairs)
        r_k = num / den
        assert abs(got[lag]["acf"] - r_k) < 1e-5
        q_prev += r_k * r_k / (n - lag)
        assert abs(got[lag]["q_stat"] - n * (n + 2) * q_prev) < 1e-3
        if lag > 1:
            assert got[lag]["q_stat"] >= got[lag - 1]["q_stat"] - 1e-9


def test_max_drawdown_matches_sequential(spark):
    o = (
        table(spark, SF_DIR, "orders")
        .select("o_custkey", "o_orderdate", "o_totalprice")
        .collect()
    )
    seg_of = {
        r["c_custkey"]: r["c_mktsegment"]
        for r in table(spark, SF_DIR, "customer").collect()
    }
    daily = defaultdict(float)
    for r in o:
        daily[(seg_of[r["o_custkey"]], r["o_orderdate"].date())] += r["o_totalprice"]
    series = defaultdict(list)
    for (seg, day), rev in daily.items():
        series[seg].append((day, rev))
    expect = {}
    for seg, pts in series.items():
        pts.sort()
        peak, best = -1e18, None
        for day, rev in pts:
            peak = max(peak, rev)
            draw = (peak - rev) / peak
            if best is None or draw > best[0] + 1e-12:
                best = (draw, day)
        expect[seg] = best
    got = built_query("ts_max_drawdown", spark).collect()
    assert len(got) == len(expect)
    for r in got:
        draw, day = expect[r["segment"]]
        assert abs(r["max_drawdown"] - draw) < 1e-4
        assert r["trough_day"] == day
        assert 0.0 <= r["max_drawdown"] < 1.0


def _windows_fed_by_single_partition(plan: str) -> bool:
    """True if any Window operator's subtree starts with an Exchange
    SinglePartition — the sort-every-row-in-one-task shape. A scalar
    aggregate's SinglePartition exchange (partials only) is fine and
    must not trip this."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Window" in line and "WindowGroupLimit" not in line:
            for nxt in lines[i + 1 : i + 4]:
                if "Exchange SinglePartition" in nxt:
                    return True
                if "Exchange" in nxt or "Scan" in nxt or "Aggregate" in nxt:
                    break
    return False


def test_stats_ops_have_no_single_partition_window(spark):
    """The rank/peak machinery must stay partitioned: wilcoxon ranks via
    the two-pass range-partition prefix sum, drawdown and friedman
    window by segment/user. (ts_ljung_box's lag window runs over 10
    rows post-aggregation — exempt by design, like ts_acf.)"""
    for name in ["wilcoxon_signed_rank", "ts_max_drawdown", "friedman_rank_test"]:
        # wilcoxon pins its ranked frame; the rank pass is upstream of it
        _, plans = build_with_pinned_plans(
            name, spark, lambda f: f._jdf.queryExecution().executedPlan().toString()
        )
        for plan in plans:
            plan = plan.split("== Initial Plan ==")[0]
            assert not _windows_fed_by_single_partition(plan), (name, plan[:3000])


# --- tranche B: WAND, Adamic-Adar, Hilbert curve -----------------------------


def test_wand_certificate_and_bound(spark):
    """pruned_topk_overlap must be 0 (the WAND bound is safe by
    construction) and the prune fraction must be real (> 0) — an audit
    that prunes nothing wouldn't justify the index structure."""
    got = built_query("retrieval_wand_prune_certificate", spark).collect()[0]
    assert got["pruned_topk_overlap"] == 0
    assert got["n_matching"] > 0
    assert 0.0 <= got["prune_fraction"] < 1.0
    assert got["n_prunable"] <= got["n_matching"]


def test_adamic_adar_matches_bruteforce(spark):
    from spark_streaming_practicum_spark.operators.graph import _topk_trade_und

    edges = {(r["a"], r["b"]) for r in _topk_trade_und(spark, SF_DIR).collect()}
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    scores = {}
    nodes = sorted(adj)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1 :]:
            if (a, b) in edges:
                continue
            common = adj[a] & adj[b]
            if common:
                scores[(a, b)] = (
                    len(common),
                    sum(1.0 / math.log(len(adj[z])) for z in common),
                )
    top = sorted(
        scores.items(), key=lambda kv: (-round(kv[1][1], 6), kv[0][0], kv[0][1])
    )[:10]
    got = built_query("graph_adamic_adar_link_pred", spark).collect()
    assert len(got) == len(top)
    for row, ((a, b), (cn, aa)) in zip(got, top):
        assert (row["a"], row["b"]) == (a, b)
        assert row["common_neighbors"] == cn
        assert abs(row["adamic_adar"] - aa) < 1e-5


def _xy2d_py(n, x, y):
    d, s = 0, n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_sql_exprs_equal_reference_xy2d(spark):
    """The dialect-agnostic CASE-arithmetic chain must reproduce the
    canonical xy2d on every cell of the 16x16 grid — the strongest
    possible check that query and oracle share a CORRECT curve, not
    merely the same wrong one."""
    from pyspark.sql import functions as F

    from spark_streaming_practicum_spark.operators.features import (
        _HC_N,
        _MORTON_EXPR,
        _hilbert_step_exprs,
    )

    grid = spark.createDataFrame(
        [(x, y) for x in range(_HC_N) for y in range(_HC_N)], "x int, y int"
    )
    h = grid.withColumns({"hx": F.col("x"), "hy": F.col("y"), "hd": F.lit(0)})
    for s in (8, 4, 2, 1):
        h = h.withColumns(
            {k: F.expr(v) for k, v in _hilbert_step_exprs(s).items()}
        )
    h = h.withColumn("z", F.expr(_MORTON_EXPR))
    rows = h.select("x", "y", "hd", "z").collect()
    assert len(rows) == _HC_N * _HC_N
    seen_h, seen_z = set(), set()
    for r in rows:
        assert r["hd"] == _xy2d_py(_HC_N, r["x"], r["y"]), (r["x"], r["y"])
        seen_h.add(r["hd"])
        seen_z.add(r["z"])
    # both curves are bijections onto [0, 255]
    assert seen_h == set(range(_HC_N * _HC_N))
    assert seen_z == set(range(_HC_N * _HC_N))


def test_hilbert_beats_zorder_on_bbox(spark):
    rows = {r["layout"]: r for r in built_query("opt_hilbert_vs_zorder_locality", spark).collect()}
    assert rows["hilbert"]["avg_bbox_area"] <= rows["zorder"]["avg_bbox_area"]
    assert rows["hilbert"]["n_chunks"] == rows["zorder"]["n_chunks"]
    assert rows["hilbert"]["band_rows"] == rows["zorder"]["band_rows"]
