"""exact_quantiles: distributed-sort interpolated percentiles.

Semantics target: SQL percentile_cont (linear interpolation, type 7) —
the reference has no quantile operator; this is generalized-engine
surface verified against Python's statistics.quantiles / manual math.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from maillogsentinel_spark.operators.quantiles import exact_quantiles


def _cont(sorted_vals, q):
    pos = q * (len(sorted_vals) - 1)
    lo = math.floor(pos)
    frac = pos - lo
    vlo = sorted_vals[lo]
    vhi = sorted_vals[min(lo + 1, len(sorted_vals) - 1)]
    return vlo + frac * (vhi - vlo)


def test_matches_manual_interpolation(spark):
    rows = [("a", float(v)) for v in [1, 3, 2, 10, 4]] + [
        ("b", float(v)) for v in [7, 5]
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        r["g"]: r
        for r in exact_quantiles(
            df, ["g"], "v", {"p50": 0.5, "p90": 0.9}
        ).collect()
    }
    a = sorted([1.0, 2.0, 3.0, 4.0, 10.0])
    b = sorted([5.0, 7.0])
    assert out["a"]["p50"] == _cont(a, 0.5)
    assert out["a"]["p90"] == _cont(a, 0.9)
    assert out["b"]["p50"] == _cont(b, 0.5)
    assert out["b"]["p90"] == _cont(b, 0.9)


def test_endpoints_single_row_and_nulls(spark):
    df = spark.createDataFrame(
        [("g", 5.0), ("g", None), ("solo", 42.0)], "g string, v double"
    )
    out = {
        r["g"]: r
        for r in exact_quantiles(
            df, ["g"], "v", {"q0": 0.0, "q1": 1.0, "med": 0.5}
        ).collect()
    }
    # NULL excluded: group g has the single value 5.0
    assert out["g"]["q0"] == out["g"]["q1"] == out["g"]["med"] == 5.0
    assert out["solo"]["med"] == 42.0


def test_matches_builtin_percentile_closely(spark):
    df = spark.range(1000).select(
        (F.col("id") % 7).cast("string").alias("g"),
        (F.col("id") * 37 % 1000).cast("double").alias("v"),
    )
    ours = {
        r["g"]: r["p95"]
        for r in exact_quantiles(df, ["g"], "v", {"p95": 0.95}).collect()
    }
    theirs = {
        r["g"]: r["p95"]
        for r in df.groupBy("g")
        .agg(F.expr("percentile(v, 0.95)").alias("p95"))
        .collect()
    }
    for g, v in theirs.items():
        assert ours[g] == pytest.approx(v, rel=1e-12)


def test_rejects_out_of_range(spark):
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    with pytest.raises(ValueError):
        exact_quantiles(df, ["g"], "v", {"bad": 1.5})


def test_select_and_sort_strategies_agree(spark):
    import random

    rnd = random.Random(7)
    rows = []
    # adversarial shapes: constant group, 1-row group, 2-row group,
    # duplicate-heavy group, smooth group
    rows += [("const", 5.0)] * 400
    rows += [("solo", 3.25)]
    rows += [("pair", 1.0), ("pair", 2.0)]
    rows += [("dupes", float(rnd.choice([1, 2, 3]))) for _ in range(500)]
    rows += [("smooth", rnd.uniform(0, 1000)) for _ in range(800)]
    df = spark.createDataFrame(rows, "g string, v double")
    qs = {"q0": 0.0, "p25": 0.25, "p50": 0.5, "p95": 0.95, "q1": 1.0}
    a = {r["g"]: r for r in exact_quantiles(df, ["g"], "v", qs, method="select").collect()}
    b = {r["g"]: r for r in exact_quantiles(df, ["g"], "v", qs, method="sort").collect()}
    assert set(a) == set(b)
    for g in a:
        for name in qs:
            assert a[g][name] == b[g][name], (g, name, a[g][name], b[g][name])


def test_select_matches_builtin_many_groups(spark):
    df = spark.range(5000).select(
        (F.col("id") % 97).cast("string").alias("g"),
        ((F.col("id") * 7919) % 5000).cast("double").alias("v"),
    )
    ours = {
        r["g"]: r
        for r in exact_quantiles(
            df, ["g"], "v", {"p50": 0.5, "p99": 0.99}, method="select"
        ).collect()
    }
    theirs = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(
            F.expr("percentile(v, 0.5)").alias("p50"),
            F.expr("percentile(v, 0.99)").alias("p99"),
        )
        .collect()
    }
    assert set(ours) == set(theirs)
    for g in theirs:
        assert ours[g]["p50"] == pytest.approx(theirs[g]["p50"], rel=1e-12)
        assert ours[g]["p99"] == pytest.approx(theirs[g]["p99"], rel=1e-12)


def test_gated_ntile_both_ways(spark):
    from pyspark.sql import functions as F

    from maillogsentinel_spark.operators.quantiles import gated_ntile

    df = spark.range(103).withColumn("v", (F.col("id") * 37) % 103)
    lo = gated_ntile(df, 4, [F.desc("v"), "id"], "q", local_threshold=10**9)
    hi = gated_ntile(df, 4, [F.desc("v"), "id"], "q", local_threshold=0)
    a = {r["id"]: r["q"] for r in lo.collect()}
    b = {r["id"]: r["q"] for r in hi.collect()}
    assert a == b
    from collections import Counter

    sizes = Counter(a.values())
    assert sizes == {1: 26, 2: 26, 3: 26, 4: 25}  # 103 = 26+26+26+25


def test_median_mad_matches_two_pass_scaffold(spark):
    """The fused median+MAD operator (one shared stats pass, MAD window
    derived from the median pass's sketch) must be BIT-identical to two
    independent exact_quantiles runs — both above and below the
    _SMALL_N full-window gate, and under duplicate-heavy and constant
    distributions (mad = 0)."""
    import random

    from maillogsentinel_spark.operators.quantiles import median_mad

    rnd = random.Random(7)
    rows = []
    # group a: large (above _SMALL_N=1024), skewed continuous values
    rows += [("a", rnd.expovariate(0.3)) for _ in range(3000)]
    # group b: large, duplicate-heavy (integers from a narrow domain)
    rows += [("b", float(rnd.randint(0, 9))) for _ in range(2000)]
    # group c: small (below the gate), even count
    rows += [("c", float(v)) for v in [1, 3, 2, 10]]
    # group d: constant column — mad must be exactly 0
    rows += [("d", 5.0) for _ in range(50)]
    # group e: single row
    rows += [("e", 42.0)]
    # group f: large, LEFT-skewed (negated exponential) — the long tail
    # sits below the median, so the MAD window's upper bound must come
    # from the outer .24 fraction, not the inner .40 one
    rows += [("f", -rnd.expovariate(0.3)) for _ in range(3000)]
    df = spark.createDataFrame(rows, "g string, v double")

    fused = {
        r["g"]: (r["med"], r["mad"])
        for r in median_mad(df, ["g"], "v").collect()
    }
    med = exact_quantiles(df, ["g"], "v", {"med": 0.5})
    dev = df.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("v") - F.col("med")).alias("ad")
    )
    mad = exact_quantiles(dev, ["g"], "ad", {"mad": 0.5})
    two_pass = {
        r["g"]: (r["med"], r["mad"])
        for r in med.join(mad, "g").collect()
    }
    assert fused == two_pass
    assert fused["d"] == (5.0, 0.0)
    assert fused["e"] == (42.0, 0.0)


def test_weighted_median_matches_window_form(spark):
    """The bucketed weighted-median operator must equal the one-window
    cumulative form (and a Python brute force) on ties, duplicate-heavy
    domains, single-value groups, negatives, and domains much wider and
    much narrower than the bucket count."""
    import collections
    import random

    from maillogsentinel_spark.operators.quantiles import weighted_median

    rnd = random.Random(11)
    rows = []
    for gi in range(25):
        n = rnd.choice([1, 2, 3, 7, 50, 500, 3000])
        scale = rnd.choice([1, 1, 1000, 10_000_000])
        for _ in range(n):
            rows.append((f"g{gi}", rnd.randint(-50, 50) * scale,
                         rnd.randint(1, 9)))
    rows += [("const", 7, w) for w in (3, 4, 5)]  # single distinct value
    df = spark.createDataFrame(rows, "g string, v long, w long")

    got = {
        r["g"]: (r["wmedian"], r["total"])
        for r in weighted_median(df, ["g"], "v", "w", buckets=64).collect()
    }
    agg = collections.defaultdict(collections.Counter)
    for g, v, w in rows:
        agg[g][v] += w
    ref = {}
    for g, c in agg.items():
        tot = sum(c.values())
        cum = 0
        for v in sorted(c):
            cum += c[v]
            if cum * 2 >= tot:
                ref[g] = (v, tot)
                break
    assert got == ref
