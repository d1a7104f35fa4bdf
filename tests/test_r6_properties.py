"""Randomized property checks for the round-6 operators — seeded numpy
data, exact comparisons against independent reference implementations
(the test_asof_property.py style): the distributed formulation must agree
with the obvious single-node one on data it never saw during development,
including duplicates, ties, and degenerate groups.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.frontier import (
    pareto_frontier_2d,
)
from cassandra_analytics_example_spark.operators.graph import (
    label_propagation,
)
from cassandra_analytics_example_spark.operators.intervals import (
    bucketed_interval_join,
)
from cassandra_analytics_example_spark.operators.quantiles import (
    group_quantiles_exact,
)


def test_group_quantiles_match_numpy_linear(spark):
    rng = np.random.default_rng(20260814)
    # heavy duplicates + tiny and large groups + one single-row group
    vals = np.concatenate(
        [
            rng.integers(0, 50, 4000).astype(float),  # many ties
            rng.normal(100, 30, 3000),
            [7.5],  # group "z" has exactly one row
        ]
    )
    grps = np.concatenate(
        [
            rng.choice(["a", "b", "c"], 4000),
            rng.choice(["a", "d"], 3000),
            ["z"],
        ]
    )
    pdf = pd.DataFrame({"g": grps, "v": vals})
    for parts in (3, 64):
        got = (
            group_quantiles_exact(
                spark.createDataFrame(pdf),
                "g",
                "v",
                {"p25": 0.25, "p50": 0.5, "p99": 0.99},
                num_partitions=parts,
            )
            .toPandas()
            .set_index("g")
            .sort_index()
        )
        for g, sub in pdf.groupby("g"):
            v = np.sort(sub["v"].to_numpy())
            for name, q in (("p25", 0.25), ("p50", 0.5), ("p99", 0.99)):
                # the operator replicates DuckDB quantile_cont bit-for-bit:
                # lo*(1-frac) + hi*frac (numpy's lo + frac*(hi-lo) differs
                # by an ulp on some inputs — quantiles.py:130 note)
                r = q * (len(v) - 1)
                lo, hi = v[int(np.floor(r))], v[int(np.ceil(r))]
                frac = r - np.floor(r)
                want = lo if frac == 0 else lo * (1 - frac) + hi * frac
                assert got.loc[g, name] == want, (parts, g, name)


def test_pareto_frontier_matches_bruteforce_random_floats(spark):
    rng = np.random.default_rng(20260814)
    # clustered duplicates + fractional gaps — the r5 ADVICE regression zone
    pdf = pd.DataFrame(
        {
            "id": np.arange(500),
            "x": np.round(rng.normal(0, 2, 500), 1),
            "y": np.round(rng.normal(0, 2, 500), 1),
        }
    )
    dominated = set()
    xs, ys = pdf["x"].to_numpy(), pdf["y"].to_numpy()
    for i in range(len(pdf)):
        if ((xs > xs[i]) & (ys > ys[i])).any():
            dominated.add(i)
    want = sorted(set(range(len(pdf))) - dominated)
    for parts in (1, 16):
        got = sorted(
            r.id
            for r in pareto_frontier_2d(
                spark.createDataFrame(pdf), "x", "y", num_partitions=parts
            ).collect()
        )
        assert got == want, parts


def test_interval_join_matches_bruteforce_with_duplicates(spark):
    rng = np.random.default_rng(20260814)
    H = 1000
    ls = rng.integers(0, 20 * H, 300)
    left = pd.DataFrame(
        {"l_start": ls, "l_end": ls + rng.integers(0, 5 * H, 300)}
    )
    left = pd.concat([left, left.iloc[:20]], ignore_index=True)  # dup rows
    rs = rng.integers(0, 20 * H, 200)
    right = pd.DataFrame(
        {"r_start": rs, "r_end": rs + rng.integers(0, 3 * H, 200)}
    )
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    got = bucketed_interval_join(
        ldf, rdf, "l_start", "l_end", "r_start", "r_end", bucket_us=H
    )
    brute = ldf.crossJoin(rdf).where(
        (F.col("l_start") <= F.col("r_end"))
        & (F.col("r_start") <= F.col("l_end"))
    )
    cols = ["l_start", "l_end", "r_start", "r_end"]
    # multiset compare via collected tuples (exceptAll over these two
    # shared-lineage plans trips a Catalyst INTERNAL_ERROR attribute bug)
    g = sorted(map(tuple, got.select(cols).collect()))
    b = sorted(map(tuple, brute.select(cols).collect()))
    assert len(g) == len(b)
    assert g == b


def _lpa_reference(edges: pd.DataFrame, seeds: dict, rounds: int) -> dict:
    labels = dict(seeds)
    for _ in range(rounds):
        votes: dict = {}
        for src, dst in edges.itertuples(index=False):
            if src in labels:
                votes.setdefault(dst, {}).setdefault(labels[src], 0)
                votes[dst][labels[src]] += 1
        nxt = dict(seeds)
        for node, vv in votes.items():
            if node in seeds:
                continue
            best = sorted(vv.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            nxt[node] = best
        labels = nxt
    return labels


def test_label_propagation_matches_reference_and_pins_seeds(spark):
    rng = np.random.default_rng(20260814)
    n = 120
    und = pd.DataFrame(
        {
            "a": rng.integers(0, n, 400),
            "b": rng.integers(0, n, 400),
        }
    )
    und = und[und.a != und.b].drop_duplicates()
    edges = pd.concat(
        [und, und.rename(columns={"a": "b", "b": "a"})], ignore_index=True
    ).rename(columns={"a": "src", "b": "dst"}).drop_duplicates()
    seeds = {int(v): int(v) % 5 for v in range(0, n, 7)}
    want = _lpa_reference(edges[["src", "dst"]], seeds, rounds=2)

    edf = spark.createDataFrame(edges)
    sdf = spark.createDataFrame(
        pd.DataFrame(
            {"node": list(seeds), "label": list(seeds.values())}
        )
    )
    out = label_propagation(edf.repartition(13), sdf, rounds=2)
    got = {int(r.node): int(r.label) for r in out.collect()}
    assert got == want
    for node, lab in seeds.items():
        assert got[node] == lab


def test_weighted_quantile_matches_pandas_reference(spark):
    from cassandra_analytics_example_spark.operators.quantiles import (
        weighted_quantile_exact,
    )

    rng = np.random.default_rng(20260815)
    pdf = pd.DataFrame(
        {
            "id": np.arange(3000),
            "v": rng.integers(0, 500, 3000),  # heavy value ties
            "w": rng.integers(1, 40, 3000),
        }
    )
    sdf = spark.createDataFrame(pdf)
    for num, den in ((1, 2), (9, 10), (1, 4)):
        got = weighted_quantile_exact(
            sdf, "v", "w", num, den, "id", num_partitions=16
        ).collect()[0]
        s = pdf.sort_values(["v", "id"])
        cw = s["w"].cumsum()
        W = int(s["w"].sum())
        T = -(-W * num // den)  # ceil
        want = int(s.loc[cw >= T, "v"].iloc[0])
        assert got["quantile_value"] == want, (num, den)
        assert got["total_weight"] == W
        assert got["threshold"] == T


def test_exclusive_prefix_sums_match_pandas(spark):
    """The global exclusive prefix sum is ``grouped_prefix_sums`` with
    ``group_cols=[]``: one segment, running totals in key order."""
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    rng = np.random.default_rng(20260815)
    keys = rng.permutation(np.arange(5000))
    pdf = pd.DataFrame(
        {
            "k": keys,
            "a": rng.integers(0, 100, 5000),
            "b": rng.integers(-50, 50, 5000),
        }
    )
    for parts in (1, 7, 64):
        got = (
            grouped_prefix_sums(
                spark.createDataFrame(pdf), [], ["k"], ["a", "b"], parts
            )
            .toPandas()
            .sort_values("k")
            .reset_index(drop=True)
        )
        ref = pdf.sort_values("k").reset_index(drop=True)
        for c in ("a", "b"):
            want = ref[c].cumsum().shift(1, fill_value=0).astype("int64")
            assert (got[f"{c}_before"].to_numpy() == want.to_numpy()).all(), (
                parts,
                c,
            )


def test_roc_auc_matches_pair_counting(spark):
    from cassandra_analytics_example_spark.operators.ranking import (
        roc_auc_exact,
    )

    rng = np.random.default_rng(20260816)
    # heavy score ties (20 distinct scores for 2000 rows) so the
    # average-rank tie correction actually matters
    scores = rng.integers(0, 20, 2000)
    labels = (rng.random(2000) < (scores / 25.0 + 0.1)).astype(int)
    pdf = pd.DataFrame({"score": scores, "is_pos": labels})
    got = roc_auc_exact(
        spark.createDataFrame(pdf), "score", "is_pos", num_partitions=13
    ).toPandas()
    pos = pdf[pdf.is_pos == 1].score.to_numpy()
    neg = pdf[pdf.is_pos == 0].score.to_numpy()
    wins = (pos[:, None] > neg[None, :]).sum()
    ties = (pos[:, None] == neg[None, :]).sum()
    u2 = 2 * int(wins) + int(ties)
    assert got.n_pos[0] == len(pos) and got.n_neg[0] == len(neg)
    assert got.u2[0] == u2
    assert got.auc_ppm[0] == u2 * 500000 // (len(pos) * len(neg))


def _random_edges(rng, n_nodes, n_edges):
    a = rng.integers(0, n_nodes, n_edges)
    b = rng.integers(0, n_nodes, n_edges)
    keep = a != b
    lo, hi = np.minimum(a[keep], b[keep]), np.maximum(a[keep], b[keep])
    return sorted(set(zip(lo.tolist(), hi.tolist())))


def test_bfs_hop_counts_match_python_bfs(spark):
    from cassandra_analytics_example_spark.operators.graph import (
        bfs_hop_counts,
    )

    rng = np.random.default_rng(20260817)
    edges = _random_edges(rng, 400, 900)
    adj: dict[int, set] = {}
    for x, y in edges:
        adj.setdefault(x, set()).add(y)
        adj.setdefault(y, set()).add(x)
    seeds = [n for n in adj if n % 7 == 0]
    dist = {n: 0 for n in seeds}
    frontier = set(seeds)
    for h in (1, 2, 3):
        frontier = {
            m for n in frontier for m in adj[n] if m not in dist
        }
        for m in frontier:
            dist[m] = h
    want = {
        h: sum(1 for d in dist.values() if d == h) for h in (0, 1, 2, 3)
    }
    want[-1] = len(adj) - len(dist)

    e = spark.createDataFrame(edges, "a bigint, b bigint")
    s = spark.createDataFrame([(n,) for n in range(0, 400, 7)], "node bigint")
    got = {
        int(r["dist"]): int(r["n_nodes"])
        for r in bfs_hop_counts(e, s, max_hops=3).collect()
    }
    assert got == want


def test_k_core_rounds_match_python_peel(spark):
    from cassandra_analytics_example_spark.operators.graph import (
        k_core_rounds,
    )

    rng = np.random.default_rng(20260818)
    edges = _random_edges(rng, 150, 1400)
    nodes = {n for e in edges for n in e}
    k = (len(edges) * 8) // (len(nodes) * 5) + 1
    cur = list(edges)
    want = []
    for r in range(1, 5):
        deg: dict[int, int] = {}
        for x, y in cur:
            deg[x] = deg.get(x, 0) + 1
            deg[y] = deg.get(y, 0) + 1
        surv = {n for n, d in deg.items() if d >= k}
        cur = [(x, y) for x, y in cur if x in surv and y in surv]
        want.append((r, k, len(surv), len(cur)))

    e = spark.createDataFrame(edges, "a bigint, b bigint")
    got = [
        (int(r["round"]), int(r["k"]), int(r["n_nodes"]), int(r["n_edges"]))
        for r in k_core_rounds(e).orderBy("round").collect()
    ]
    assert got == want
