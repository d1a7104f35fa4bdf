"""Randomized property checks for operators/rankstats.py — seeded numpy
data, exact comparisons against independent single-node references
(pandas/pure-python), including heavy ties, tiny samples, and the
degenerate cases (constant columns, all-censored cohorts).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cassandra_analytics_example_spark.operators.rankstats import (
    doubled_average_ranks,
    gini_exact,
    kaplan_meier,
    ks_two_sample,
    spearman_rho,
)


def _spearman_reference(x: np.ndarray, y: np.ndarray) -> float:
    # tie-averaged ranks via pandas, then plain Pearson on the ranks
    rx = pd.Series(x).rank(method="average").to_numpy()
    ry = pd.Series(y).rank(method="average").to_numpy()
    rx = rx - rx.mean()
    ry = ry - ry.mean()
    return float((rx * ry).sum() / math.sqrt((rx * rx).sum() * (ry * ry).sum()))


def test_doubled_average_ranks_match_pandas(spark):
    rng = np.random.default_rng(20260814)
    vals = rng.integers(0, 40, 3000)  # heavy ties
    pdf = pd.DataFrame({"v": vals})
    got = (
        doubled_average_ranks(spark.createDataFrame(pdf), "v")
        .toPandas()
        .set_index("v")["__r2"]
        .sort_index()
    )
    ref = pd.DataFrame(
        {"v": vals, "r": pd.Series(vals).rank(method="average")}
    ).groupby("v")["r"].first()
    for v in ref.index:
        assert got[v] == int(round(2 * ref[v])), f"value {v}"


def test_spearman_matches_pandas_reference(spark):
    rng = np.random.default_rng(7)
    n = 4000
    x = rng.integers(0, 200, n)
    y = (x * 3 + rng.integers(-50, 50, n)).clip(0)  # correlated + ties
    pdf = pd.DataFrame({"x": x.astype(int), "y": y.astype(int)})
    row = spearman_rho(spark.createDataFrame(pdf), "x", "y").collect()[0]
    assert row["n"] == n
    ref = _spearman_reference(x, y)
    assert abs(row["rho"] - ref) < 1e-12
    # anti-correlated sanity
    pdf2 = pd.DataFrame({"x": x.astype(int), "y": (-x).astype(int)})
    row2 = spearman_rho(spark.createDataFrame(pdf2), "x", "y").collect()[0]
    assert abs(row2["rho"] + 1.0) < 1e-12


def test_spearman_excludes_null_rows_pairwise_complete(spark):
    """Round-9 review finding: the centered identity needs ranks computed
    over exactly the surviving rows.  With a NULL in one column, the old
    behavior ranked over ALL rows and then dropped the NULL row at the
    join, breaking sum(2r) = n(n+1) — the rewritten formula would report
    |rho| > 1 (or sqrt of a negative).  Pairwise-complete exclusion must
    restore the exact statistic of the complete rows."""
    pdf = pd.DataFrame(
        {"x": [1, 2, 3, None], "y": [2, 3, 4, 1]}, dtype="Int64"
    )
    row = spearman_rho(spark.createDataFrame(pdf), "x", "y").collect()[0]
    assert row["n"] == 3
    # complete rows are perfectly monotone (1.0 up to sqrt rounding;
    # the broken pre-fix formula returned ~1.372 here)
    assert abs(row["rho"] - 1.0) < 1e-12
    # grouped: one group carries a NULL row, the other is clean
    from cassandra_analytics_example_spark.operators.rankstats import (
        spearman_grouped,
    )

    pdf2 = pd.DataFrame(
        {
            "g": ["a", "a", "a", "a", "b", "b", "b"],
            "x": pd.array([1, 2, 3, None, 5, 6, 7], dtype="Int64"),
            "y": pd.array([2, 3, 4, 1, 9, 8, 7], dtype="Int64"),
        }
    )
    got = {
        r["g"]: (r["n"], r["rho"])
        for r in spearman_grouped(
            spark.createDataFrame(pdf2), "g", "x", "y"
        ).collect()
    }
    assert got["a"][0] == 3 and abs(got["a"][1] - 1.0) < 1e-12
    assert got["b"][0] == 3 and abs(got["b"][1] + 1.0) < 1e-12


def test_rank_metrics_exclude_null_measure_rows(spark):
    """Same exclusion contract across the family (round-9 review
    follow-through): a NULL measure row must change NOTHING — without the
    up-front filter it rode the prefix layer (engine-dependent NULL
    ordering) while the moment sums skipped its products, so n and the
    moments disagreed."""
    from cassandra_analytics_example_spark.operators.rankstats import (
        gini_exact,
        kaplan_meier,
        ks_two_sample,
    )

    vals = [3, 1, 4, 1, 5, 9, 2, 6]
    base = spark.createDataFrame([(v,) for v in vals], ["v"])
    withnull = base.unionByName(
        spark.sql("SELECT CAST(NULL AS BIGINT) AS v")
    )
    assert (
        gini_exact(base, "v").collect()
        == gini_exact(withnull, "v").collect()
    )
    ks_base = spark.createDataFrame(
        [(v, i % 2) for i, v in enumerate(vals)], ["v", "g"]
    )
    ks_null = ks_base.unionByName(
        spark.sql("SELECT CAST(NULL AS BIGINT) v, CAST(NULL AS BIGINT) g")
    )
    assert (
        ks_two_sample(ks_base, "v", "g").collect()
        == ks_two_sample(ks_null, "v", "g").collect()
    )
    km_base = spark.createDataFrame(
        [(v, 1 if v % 2 else 0) for v in vals], ["t", "e"]
    )
    km_null = km_base.unionByName(
        spark.sql("SELECT CAST(NULL AS BIGINT) t, CAST(1 AS BIGINT) e")
    )
    assert sorted(map(tuple, kaplan_meier(km_base, "t", "e").collect())) == (
        sorted(map(tuple, kaplan_meier(km_null, "t", "e").collect()))
    )


def test_spearman_formula_exact_at_near_ceiling_n(spark):
    """Formula-level proof of the documented exact range (~2.9e12 rows,
    4n^3 < 1e38): feed the rho expression the EXACT decimal moments of a
    synthetic untied ranking at n = 2.9e12 — identity permutation
    (rho = 1), reversal (rho = -1), and a half-reversed permutation with
    a Python-bigint reference — and require the decimal intermediates to
    match Python integer arithmetic digit-for-digit.  The old
    n*sxx - sx*sx form is O(n^4) and overflows decimal(38,0) ~1000x
    below this n; the centered form sxy - n(n+1)^2 stays O(n^3)."""
    n = 2_900_000_000_000
    # doubled ranks of an untied ranking are 2, 4, ..., 2n
    sq = 4 * n * (n + 1) * (2 * n + 1) // 6  # sum (2i)^2
    center = n * (n + 1) * (n + 1)
    assert 4 * n**3 < 10**38  # the documented bound itself

    def rho_of(sxy: int, sxx: int = sq, syy: int = sq):
        df = spark.sql(
            f"SELECT CAST({n} AS DECIMAL(38,0)) AS n,"
            f" CAST({sxy} AS DECIMAL(38,0)) AS sxy,"
            f" CAST({sxx} AS DECIMAL(38,0)) AS sxx,"
            f" CAST({syy} AS DECIMAL(38,0)) AS syy"
        ).selectExpr(
            "cast(sxy - n * (n + 1) * (n + 1) as decimal(38,0)) AS cxy",
            "cast(sxx - n * (n + 1) * (n + 1) as decimal(38,0)) AS cxx",
            "cast(sxy - n * (n + 1) * (n + 1) as double)"
            " / (sqrt(cast(sxx - n * (n + 1) * (n + 1) as double))"
            "    * sqrt(cast(syy - n * (n + 1) * (n + 1) as double)))"
            " AS rho",
        )
        return df.collect()[0]

    # identity permutation: x == y, rho exactly 1
    row = rho_of(sxy=sq)
    assert int(row["cxy"]) == sq - center  # decimal == Python bigint
    assert int(row["cxx"]) == sq - center
    assert row["rho"] == 1.0
    # reversal y_i = 2(n+1-i): sxy = 4[(n+1)*si - sq2] with si, sq2 the
    # plain integer first/second moments; rho exactly -1
    si, sq2 = n * (n + 1) // 2, n * (n + 1) * (2 * n + 1) // 6
    sxy_rev = 4 * ((n + 1) * si - sq2)
    row = rho_of(sxy=sxy_rev)
    assert int(row["cxy"]) == sxy_rev - center
    assert row["rho"] == -1.0
    # an intermediate correlation: Python-float reference from the same
    # exact bigints the engine must reproduce
    sxy_mid = (sq + sxy_rev) // 2
    row = rho_of(sxy=sxy_mid)
    want = float(sxy_mid - center) / (
        math.sqrt(float(sq - center)) * math.sqrt(float(sq - center))
    )
    assert row["rho"] == want


def test_gini_matches_bruteforce_sorted_formula(spark):
    rng = np.random.default_rng(99)
    for vals in (
        rng.integers(0, 10_000, 2500),
        np.full(100, 7),  # perfectly equal -> G = 0
        np.concatenate([np.zeros(999), [10_000]]),  # near-total concentration
    ):
        vals = vals.astype(int)
        pdf = pd.DataFrame({"v": vals})
        row = gini_exact(spark.createDataFrame(pdf), "v").collect()[0]
        s = np.sort(vals)
        n = len(s)
        num = 2 * int((np.arange(1, n + 1) * s).sum()) - (n + 1) * int(s.sum())
        want = num * 1_000_000 // (n * int(s.sum()))
        assert row["n"] == n and row["total"] == int(s.sum())
        assert row["gini_ppm"] == want


def test_ks_two_sample_matches_bruteforce_ecdf(spark):
    rng = np.random.default_rng(42)
    a = rng.integers(0, 300, 1500)
    b = rng.integers(50, 350, 900)  # shifted distribution
    pdf = pd.DataFrame(
        {
            "v": np.concatenate([a, b]).astype(int),
            "b": np.concatenate([np.zeros_like(a), np.ones_like(b)]),
        }
    )
    row = ks_two_sample(spark.createDataFrame(pdf), "v", "b").collect()[0]
    vs = np.unique(np.concatenate([a, b]))
    ca = np.searchsorted(np.sort(a), vs, side="right")
    cb = np.searchsorted(np.sort(b), vs, side="right")
    gaps = np.abs(ca.astype(object) * len(b) - cb.astype(object) * len(a))
    best = max(gaps)
    assert row["n_a"] == len(a) and row["n_b"] == len(b)
    assert row["d_ppm"] == best * 1_000_000 // (len(a) * len(b))
    assert row["d_at"] == int(vs[np.argmax(gaps == best)])


def _km_reference(durs, evs):
    df = pd.DataFrame({"t": durs, "e": evs})
    g = df.groupby("t").agg(n=("e", "size"), d=("e", "sum")).sort_index()
    N = len(df)
    out, below, log_nano, dead = [], 0, 0, False
    for t, r in g.iterrows():
        n_risk = N - below
        below += int(r["n"])
        if r["d"] == 0:
            continue
        if r["d"] >= n_risk:
            dead = True
        if not dead:
            log_nano += math.floor(
                1e9 * math.log((n_risk - int(r["d"])) / n_risk)
            )
        out.append(
            (
                int(t),
                n_risk,
                int(r["d"]),
                int(r["n"] - r["d"]),
                None if dead else log_nano,
            )
        )
    return out


@pytest.mark.parametrize("all_events", [False, True])
def test_kaplan_meier_matches_python_reference(spark, all_events):
    rng = np.random.default_rng(5)
    durs = rng.integers(0, 60, 800)
    evs = (
        np.ones(800, dtype=int)
        if all_events  # forces S(t)=0 at the max duration -> NULL tail
        else rng.integers(0, 2, 800)
    )
    pdf = pd.DataFrame({"t": durs.astype(int), "e": evs})
    got = [
        (r["t"], r["n_risk"], r["n_events"], r["n_censored"], r["log_s_nano"])
        for r in kaplan_meier(spark.createDataFrame(pdf), "t", "e")
        .orderBy("t")
        .collect()
    ]
    # NULL-after-death is the operator's contract: compare everything,
    # including the None tail
    ref = _km_reference(durs, evs)
    assert got == ref


def test_average_precision_matches_step_reference(spark):
    from cassandra_analytics_example_spark.operators.ranking import (
        average_precision_exact,
    )

    rng = np.random.default_rng(11)
    n = 3000
    score = rng.integers(0, 500, n)  # heavy ties
    # positives skew toward high scores
    pos = (rng.random(n) < (score / 700)).astype(int)
    if pos.sum() == 0:
        pos[score.argmax()] = 1
    pdf = pd.DataFrame({"score": score.astype(int), "is_pos": pos})
    row = average_precision_exact(
        spark.createDataFrame(pdf), "score", "is_pos"
    ).collect()[0]
    # single-node step-AP over descending distinct scores with the SAME
    # per-cell integer floors the operator defines
    g = (
        pdf.groupby("score")
        .agg(n=("is_pos", "size"), np=("is_pos", "sum"))
        .sort_index(ascending=False)
    )
    n_ge = g["n"].cumsum()
    tp_ge = g["np"].cumsum()
    P = int(pdf["is_pos"].sum())
    acc = 0
    for s in g.index:
        if g.loc[s, "np"] > 0:
            acc += (10**9 * int(g.loc[s, "np"]) * int(tp_ge[s])) // int(
                n_ge[s]
            )
    assert row["n_pos"] == P and row["n_total"] == n
    assert row["ap_ppm"] == acc // (1000 * P)
    # sanity: a perfect classifier has AP ~ 1
    perfect = pd.DataFrame(
        {"score": pos * 10 + rng.integers(0, 5, n), "is_pos": pos}
    )
    r2 = average_precision_exact(
        spark.createDataFrame(perfect), "score", "is_pos"
    ).collect()[0]
    assert r2["ap_ppm"] > 900_000


def test_kmv_estimator_path_accuracy(spark, tmp_path):
    # the shipped fixtures have tiny vocabularies (exact small-set path);
    # this drives the k-th-minimum ESTIMATOR path on a synthetic corpus
    # with known distinct counts and overlap
    from cassandra_analytics_example_spark.queries.llm import (
        q256_kmv_source_jaccard,
    )

    rng = np.random.default_rng(13)
    shared = [f"w{i}" for i in range(1500)]
    only_a = [f"a{i}" for i in range(1500)]
    only_b = [f"b{i}" for i in range(1500)]
    rows = []
    for i in range(300):
        pool = shared + only_a
        rows.append((i, " ".join(rng.choice(pool, 40)), "en", "srcA", 1))
    for i in range(300, 600):
        pool = shared + only_b
        rows.append((i, " ".join(rng.choice(pool, 40)), "en", "srcB", 1))
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    row = q256_kmv_source_jaccard(spark, str(tmp_path)).collect()[0]
    # each source saw ~3000 candidate terms, sampled 12000 draws -> close
    # to full coverage; KMV k=128 estimate should land within ~35%
    for est in (row["est_distinct_min"], row["est_distinct_max"]):
        assert 1500 < est < 4800, est
    # true vocab Jaccard ~ shared/(shared+onlyA+onlyB) ~ 1/3; sketch
    # estimate is coarse at k=128 but must be in the right region
    assert 150 < row["jaccard_permille"] < 550, row["jaccard_permille"]


def test_spatial_radius_join_matches_bruteforce(spark, tmp_path):
    # completeness check for the cell-bucketed candidate generation: the
    # md5-derived positions of 3000 users, brute-forced in pandas with
    # the same integer metric, must produce the exact same pair count
    import hashlib

    from cassandra_analytics_example_spark.queries.events import (
        q258_spatial_radius_join,
        _GEO_R2,
    )

    users = list(range(3000))
    pdf = pd.DataFrame(
        {
            "event_id": users,
            "ts": pd.to_datetime("2026-01-01"),
            "user_id": users,
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }
    )
    pdf.to_parquet(tmp_path / "events.parquet")
    got = q258_spatial_radius_join(spark, str(tmp_path)).collect()[0]

    # exact truncating division toward zero, like Spark div / DuckDB //
    def slon(lon):
        q, r = divmod(abs(lon) * 707, 1000)
        return q if lon >= 0 else -q

    pts = []
    for u in users:
        h = hashlib.md5(str(u).encode()).hexdigest()
        lat = int(h[0:6], 16) % 1_000_000 - 500_000
        lon = int(h[6:12], 16) % 1_000_000 - 500_000
        pts.append((u, lat, slon(lon)))
    arr = np.array([(p[1], p[2]) for p in pts], dtype=np.int64)
    d2 = (
        (arr[:, None, 0] - arr[None, :, 0]) ** 2
        + (arr[:, None, 1] - arr[None, :, 1]) ** 2
    )
    iu = np.triu_indices(len(users), k=1)
    want_pairs = int((d2[iu] <= _GEO_R2).sum())
    assert got["n_pairs"] == want_pairs, (got["n_pairs"], want_pairs)
    assert want_pairs > 0  # the fixture must actually exercise pairs


def test_daily_uptime_union_matches_bruteforce(spark, tmp_path):
    # random event times across several days -> per-day union length of
    # the 30-min-gap session intervals, brute-forced in python
    from cassandra_analytics_example_spark.queries.events import (
        q271_daily_uptime_union,
    )

    rng = np.random.default_rng(77)
    n = 4000
    base = 1_700_000_000_000_000  # µs epoch
    users = rng.integers(0, 40, n)
    ts = base + rng.integers(0, 5 * 86_400_000_000, n)
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "ts": pd.to_datetime(ts, unit="us"),
            "user_id": users,
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }
    )
    pdf.to_parquet(tmp_path / "events.parquet")
    got = {
        r["day"]: r["covered_seconds"]
        for r in q271_daily_uptime_union(spark, str(tmp_path)).collect()
    }

    # brute force: sessionize per user, union intervals per day
    GAP = 1_800_000_000
    DAY = 86_400_000_000
    intervals = []
    df = pd.DataFrame({"u": users, "t": ts}).sort_values(["u", "t"])
    for u, sub in df.groupby("u"):
        cur = None
        for t in sub["t"].tolist():
            if cur is None or t - cur[1] > GAP:
                if cur is not None:
                    intervals.append(cur)
                cur = [t, t]
            else:
                cur[1] = t
        intervals.append(cur)
    per_day = {}
    for a, b in intervals:
        b1 = b + 1
        for day in range(a // DAY, (b1 - 1) // DAY + 1):
            ca, cb = max(a, day * DAY), min(b1, (day + 1) * DAY)
            per_day.setdefault(day, []).append((ca, cb))
    want = {}
    for day, ivs in per_day.items():
        ivs.sort()
        tot, cur_a, cur_b = 0, None, None
        for a, b in ivs:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    tot += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        tot += cur_b - cur_a
        want[day] = tot // 1_000_000
    assert got == want


def test_group_quantiles_from_counts_matches_rowlevel(spark):
    from cassandra_analytics_example_spark.operators.quantiles import (
        group_quantiles_exact,
        group_quantiles_from_counts,
    )

    rng = np.random.default_rng(21)
    vals = rng.integers(0, 60, 5000)  # heavy ties
    grps = rng.choice(["a", "b", "c", "z"], 5000)
    pdf = pd.DataFrame({"g": grps, "v": vals.astype(float)})
    qs = {"p25": 0.25, "p50": 0.5, "p90": 0.9}
    row_level = (
        group_quantiles_exact(spark.createDataFrame(pdf), "g", "v", qs)
        .toPandas()
        .set_index("g")
        .sort_index()
    )
    counts = (
        pdf.groupby(["g", "v"]).size().reset_index(name="c")
    )
    from_counts = (
        group_quantiles_from_counts(
            spark.createDataFrame(counts), "g", "v", "c", qs
        )
        .toPandas()
        .set_index("g")
        .sort_index()
    )
    pd.testing.assert_frame_equal(row_level, from_counts)


def test_grouped_prefix_sums_match_pandas(spark):
    """Per-group running totals, and with ``group_cols=[]`` the global
    ones (one segment), against pandas cumsums at several partition
    counts; the rows arrive shuffled, so input order is not key order."""
    from cassandra_analytics_example_spark.operators.ranking import (
        grouped_prefix_sums,
    )

    rng = np.random.default_rng(31)
    n = 6000
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["a", "b", "c", "d", "solo"], n,
                            p=[0.4, 0.3, 0.2, 0.099, 0.001]),
            "k": np.arange(n),  # unique order key
            "x": rng.integers(-50, 50, n),
        }
    )
    pdf["y"] = rng.integers(0, 100, n)
    pdf = pdf.sample(frac=1, random_state=7).reset_index(drop=True)
    for group_cols in (["g"], []):
        ref = pdf.sort_values([*group_cols, "k"]).reset_index(drop=True)
        for c in ("x", "y"):
            cum = ref.groupby(group_cols)[c].cumsum() if group_cols else (
                ref[c].cumsum()
            )
            ref[f"{c}_before"] = cum - ref[c]
        for parts in (1, 3, 7, 64):
            got = (
                grouped_prefix_sums(
                    spark.createDataFrame(pdf), group_cols, ["k"], ["x", "y"],
                    num_partitions=parts,
                )
                .toPandas()
                .sort_values([*group_cols, "k"])
                .reset_index(drop=True)
            )
            for c in ("x_before", "y_before"):
                pd.testing.assert_series_equal(
                    got[c].astype("int64"),
                    ref[c].astype("int64"),
                    check_names=False,
                    obj=f"{c} group_cols={group_cols} parts={parts}",
                )


def test_gini_grouped_matches_global_per_group(spark):
    """Each grouped statistic equals its global form run on the group's
    rows alone: Gini, two-sample KS (without the global ``d_at``) and the
    CUSUM scan over dense per-group counts."""
    from cassandra_analytics_example_spark.operators.rankstats import (
        cusum_changepoint_from_counts,
        cusum_grouped_from_counts,
        gini_exact,
        gini_grouped,
        ks_grouped,
    )

    rng = np.random.default_rng(41)
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["x", "y", "z"], 3000),
            "v": rng.integers(0, 5000, 3000),
        }
    )
    pdf["s"] = rng.integers(0, 2, 3000)
    grouped = {
        r["g"]: r["gini_ppm"]
        for r in gini_grouped(spark.createDataFrame(pdf), "g", "v").collect()
    }
    ks = {
        r["g"]: (r["n_a"], r["n_b"], r["d_ppm"])
        for r in ks_grouped(spark.createDataFrame(pdf), "g", "v", "s").collect()
    }
    for g, sub in pdf.groupby("g"):
        solo = gini_exact(
            spark.createDataFrame(sub[["v"]]), "v"
        ).collect()[0]["gini_ppm"]
        assert grouped[g] == solo, g
        one = ks_two_sample(spark.createDataFrame(sub[["v", "s"]]), "v", "s")
        r = one.collect()[0]
        assert ks[g] == (r["n_a"], r["n_b"], r["d_ppm"]), g

    # dense hourly counts per group, with a level shift at a
    # group-specific hour so each group has its own changepoint
    rows = [
        (g, h, int(rng.poisson(20 if h < shift else 35)))
        for g, shift in (("x", 30), ("y", 55), ("z", 80))
        for h in range(100)
    ]
    d = pd.DataFrame(rows, columns=["g", "h", "c"])
    cusum = {
        r["g"]: tuple(r)[1:]
        for r in cusum_grouped_from_counts(
            spark.createDataFrame(d), "g"
        ).collect()
    }
    assert set(cusum) == {"x", "y", "z"}
    for g, sub in d.groupby("g"):
        one = cusum_changepoint_from_counts(
            spark.createDataFrame(sub[["h", "c"]])
        ).collect()[0]
        assert cusum[g] == tuple(one), g


def test_spearman_grouped_matches_pandas_per_group(spark):
    from cassandra_analytics_example_spark.operators.rankstats import (
        spearman_grouped,
    )

    rng = np.random.default_rng(51)
    n = 4000
    g = rng.choice(["p", "q", "r"], n)
    x = rng.integers(0, 120, n)
    y = np.where(g == "p", x * 2, -x) + rng.integers(0, 30, n)
    pdf = pd.DataFrame({"g": g, "x": x.astype(int), "y": y.astype(int)})
    got = {
        r["g"]: (r["n"], r["rho"])
        for r in spearman_grouped(
            spark.createDataFrame(pdf), "g", "x", "y"
        ).collect()
    }
    for grp, sub in pdf.groupby("g"):
        want = _spearman_reference(
            sub["x"].to_numpy(), sub["y"].to_numpy()
        )
        assert got[grp][0] == len(sub)
        assert abs(got[grp][1] - want) < 1e-12, grp


def test_kaplan_meier_grouped_matches_single_group(spark):
    from cassandra_analytics_example_spark.operators.rankstats import (
        kaplan_meier,
        kaplan_meier_grouped,
    )

    rng = np.random.default_rng(61)
    n = 1200
    pdf = pd.DataFrame(
        {
            "g": rng.choice(["c1", "c2", "c3"], n),
            "t": rng.integers(0, 40, n).astype(int),
            "e": rng.integers(0, 2, n),
        }
    )
    # force one cohort to go extinct (all events) to exercise NULL tails
    pdf.loc[pdf.g == "c3", "e"] = 1
    grouped = (
        kaplan_meier_grouped(spark.createDataFrame(pdf), "g", "t", "e")
        .toPandas()
        .sort_values(["g", "t"])
        .reset_index(drop=True)
    )
    for g, sub in pdf.groupby("g"):
        solo = (
            kaplan_meier(
                spark.createDataFrame(sub[["t", "e"]]), "t", "e"
            )
            .toPandas()
            .sort_values("t")
            .reset_index(drop=True)
        )
        got = (
            grouped[grouped.g == g]
            .drop(columns="g")
            .reset_index(drop=True)
        )
        # a cohort with NULL log-S tails surfaces as float64 in pandas;
        # compare values NaN-tolerantly
        pd.testing.assert_frame_equal(
            got.astype("float64"), solo.astype("float64")
        )


def test_single_class_rank_metrics_degenerate_rows(spark):
    # ADVICE r6: single-class input must yield a DEFINED degenerate row —
    # NULL auc_ppm / ap_ppm with correct counts — not an ANSI
    # divide-by-zero or an empty frame
    from cassandra_analytics_example_spark.operators.ranking import (
        average_precision_exact,
        roc_auc_exact,
    )

    all_pos = pd.DataFrame({"score": [3, 1, 4, 1, 5], "is_pos": [1] * 5})
    all_neg = pd.DataFrame({"score": [3, 1, 4, 1, 5], "is_pos": [0] * 5})

    r = roc_auc_exact(spark.createDataFrame(all_pos)).collect()
    assert len(r) == 1
    assert (r[0]["n_pos"], r[0]["n_neg"]) == (5, 0)
    assert r[0]["auc_ppm"] is None

    r = roc_auc_exact(spark.createDataFrame(all_neg)).collect()
    assert len(r) == 1
    assert (r[0]["n_pos"], r[0]["n_neg"]) == (0, 5)
    assert r[0]["auc_ppm"] is None

    r = average_precision_exact(spark.createDataFrame(all_neg)).collect()
    assert len(r) == 1
    assert (r[0]["n_pos"], r[0]["n_total"]) == (0, 5)
    assert r[0]["ap_ppm"] is None


def test_personalized_pagerank_sink_and_isolated_seeds(spark):
    # ADVICE r6: on a DIRECTED graph the node universe is src ∪ dst ∪
    # seeds — sink (dst-only) nodes keep the mass sent to them, and a
    # seed with no out-edges still gets teleport mass and an output row
    from cassandra_analytics_example_spark.operators.graph import (
        PAGERANK_QUANTUM,
        personalized_pagerank_integer,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src bigint, dst bigint"
    )  # 3 is a pure sink; 9 is an isolated seed
    seeds = spark.createDataFrame([(1,), (9,)], "node bigint")
    out = {
        r["node"]: r["r"]
        for r in personalized_pagerank_integer(
            edges, seeds, iterations=3
        ).collect()
    }
    assert set(out) == {1, 2, 3, 9}
    teleport = PAGERANK_QUANTUM * 15 // 100
    # isolated seed: receives only its teleport share every iteration
    assert out[9] == teleport
    # the sink accumulated real mass (contributions reached it)
    assert out[3] > 0
    # non-seed non-sink node got walk mass but no teleport
    assert out[2] > 0


def test_rank_metrics_empty_input_defined_rows(spark):
    """Zero-row input: both rank metrics must return their documented
    degenerate row (zero counts, NULL metric) — not a row of NULL counts
    (sum over empty is NULL without the coalesce guards)."""
    from cassandra_analytics_example_spark.operators.ranking import (
        average_precision_exact,
        roc_auc_exact,
    )

    empty = spark.createDataFrame([], "score bigint, is_pos int")
    ap = average_precision_exact(empty).collect()
    assert [(r.n_pos, r.n_total, r.ap_ppm) for r in ap] == [(0, 0, None)]
    auc = roc_auc_exact(empty).collect()
    assert [(r.n_pos, r.n_neg, r.u2, r.auc_ppm) for r in auc] == [
        (0, 0, 0, None)
    ]


def test_roc_auc_exact_survives_u2_overflow_scale(spark):
    """10M balanced rows: u2 * 500000 ≈ 1.25e19 exceeds bigint — the
    decimal-intermediate path must survive (the old int64 expression
    ANSI-raised near ~10M rows per class, far below design scale). With
    every score cell perfectly balanced the exact AUC is 1/2, so the
    ppm is exactly 500000 — overflow safety and exactness in one check."""
    from cassandra_analytics_example_spark.operators.ranking import (
        roc_auc_exact,
    )

    # (id div 2) pairs one pos with one neg at every score, so each of
    # the 1000 score cells is exactly balanced (np = nn = 5000) and the
    # tie-corrected AUC is exactly 1/2
    scored = spark.range(10_000_000).selectExpr(
        "(id div 2) % 1000 as score", "cast(id % 2 as int) as is_pos"
    )
    row = roc_auc_exact(scored).first()
    assert (row.n_pos, row.n_neg) == (5_000_000, 5_000_000)
    assert row.u2 == row.n_pos * row.n_neg  # 2U = 2 * (1/2) * np * nn
    assert row.auc_ppm == 500_000
