

def test_nearest_rank_percentiles_matches_definition(spark):
    import math

    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.relational import nearest_rank_percentiles

    vals = [1, 1, 2, 3, 3, 3, 7, 9, 9, 50]  # n=10, heavy duplication
    df = spark.createDataFrame([("g", v) for v in vals], ["k", "v"])
    out = nearest_rank_percentiles(
        df, ["k"], "v", {"p10": (1, 10), "p50": (1, 2), "p90": (9, 10), "p100": (1, 1)}
    ).collect()[0]
    ref = sorted(vals)
    def nr(p_num, p_den):
        return ref[math.ceil(p_num * len(ref) / p_den) - 1]
    assert out["p10"] == nr(1, 10) == 1
    assert out["p50"] == nr(1, 2) == 3
    assert out["p90"] == nr(9, 10) == 9
    assert out["p100"] == nr(1, 1) == 50


def test_nearest_rank_percentiles_multi_group(spark):
    from etl_ml_pipeline_spark.operators.relational import nearest_rank_percentiles

    rows = [("a", i) for i in range(1, 101)] + [("b", 5)] * 7
    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        r["k"]: r
        for r in nearest_rank_percentiles(
            df, ["k"], "v", {"p01": (1, 100), "p99": (99, 100)}
        ).collect()
    }
    assert got["a"]["p01"] == 1 and got["a"]["p99"] == 99
    assert got["b"]["p01"] == 5 and got["b"]["p99"] == 5


def test_group_ols_recovers_exact_line(spark, sf_dir):
    """ml_group_ols_trend's moment formulation: a synthetic exact line
    y = 3x + 7 recovers slope/intercept with zero residual."""
    from pyspark.sql import functions as F

    df = spark.range(1, 31).select(
        F.lit("g").alias("k"),
        F.col("id").alias("x"),
        (F.col("id") * 3 + 7).alias("y"),
    )
    m = df.groupBy("k").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).collect()[0]
    num = m["n"] * m["sxy"] - m["sx"] * m["sy"]
    den = m["n"] * m["sxx"] - m["sx"] * m["sx"]
    slope = num / den
    intercept = (m["sy"] - slope * m["sx"]) / m["n"]
    assert slope == 3.0 and intercept == 7.0


def test_nearest_rank_percentiles_property(spark):
    """Property: for any multiset and percentile p, the operator returns
    sorted(vals)[ceil(p*n)-1] — checked against the direct definition
    over a grid of adversarial value sets (heavy duplication, negatives,
    single element)."""
    import math

    from etl_ml_pipeline_spark.operators.relational import nearest_rank_percentiles

    cases = [
        [5],
        [-3, -3, -3],
        [1, 2, 2, 2, 2, 2, 3],
        list(range(20)) + [7] * 30,
        [-10, 0, 0, 10, 10, 10, 10],
    ]
    pcts = {"p01": (1, 100), "p25": (1, 4), "p50": (1, 2), "p75": (3, 4), "p99": (99, 100)}
    rows = [(f"g{i}", v) for i, vals in enumerate(cases) for v in vals]
    got = {
        r["k"]: r
        for r in nearest_rank_percentiles(
            spark.createDataFrame(rows, ["k", "v"]), ["k"], "v", pcts
        ).collect()
    }
    for i, vals in enumerate(cases):
        ordered = sorted(vals)
        n = len(ordered)
        for name, (num, den) in pcts.items():
            expect = ordered[max(0, math.ceil(num * n / den) - 1)]
            assert got[f"g{i}"][name] == expect, (i, name)


def test_skyline_2d_matches_bruteforce_dominance(spark):
    """Grid-walk skyline == brute-force NOT-EXISTS dominance on a
    deterministic pseudo-random point set with heavy duplicate levels
    (duplicates exercise the equal-points-both-survive contract)."""
    from etl_ml_pipeline_spark.operators.relational import skyline_2d

    pts = [
        (i, (i * 2654435761) % 97, (i * 40503) % 13) for i in range(300)
    ]
    df = spark.createDataFrame(pts, ["id", "cost", "gain"])
    got = sorted(r.id for r in skyline_2d(df, "cost", "gain").collect())

    def dominated(b):
        return any(
            a[1] <= b[1] and a[2] >= b[2] and (a[1] < b[1] or a[2] > b[2])
            for a in pts
        )

    want = sorted(p[0] for p in pts if not dominated(p))
    assert got == want and got  # non-empty frontier


def test_group_ols_operator_exact_and_degenerate(spark):
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.relational import group_ols

    rows = [("a", x, 3 * x + 7) for x in range(1, 31)] + [("b", 5, 9)] * 4
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    got = {r["k"]: r for r in group_ols(df, ["k"], "x", "y").collect()}
    assert got["a"]["slope"] == 3.0 and got["a"]["intercept"] == 7.0
    # constant-x group: undefined fit -> nulls, never a crash
    assert got["b"]["slope"] is None and got["b"]["intercept"] is None
    assert got["b"]["n"] == 4


def test_compaction_binning_property(spark):
    """Property: for ANY file-size mix (zeros, files larger than the
    target, duplicates), the prefix-sum bin assignment partitions the
    manifest into contiguous, ordered, exactly-covering bins, and every
    bin except possibly the last stops only once its cumulative size
    has reached the target (a bin can exceed the target by at most one
    file — the classic adjacent bin-packing contract)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.relational import grouped_running_sum

    target = 100

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=350), min_size=1, max_size=40)
    )
    def run(sizes):
        rows = [(i, s) for i, s in enumerate(sizes)]
        df = spark.createDataFrame(rows, "file_id long, bytes long")
        cum = grouped_running_sum(df, "bytes", [], ["file_id"], "cum")
        binned = [
            (r["file_id"], r["bytes"], (r["cum"] - r["bytes"]) // target)
            for r in cum.collect()
        ]
        binned.sort()
        # exact cover, order-contiguous bins
        assert len(binned) == len(sizes)
        bins = [b for _, _, b in binned]
        assert bins == sorted(bins)
        # replay the naive sequential packer and compare bin cuts
        run_tot, naive = 0, []
        for s in sizes:
            naive.append(run_tot // target)
            run_tot += s
        assert bins == naive

    run()


def test_interpolated_percentiles_bitmatch_builtin(spark):
    """interpolated_percentiles must reproduce the builtin
    ``percentile()`` BIT-FOR-BIT (the r15 optimization swaps it in for
    the exact envelope of agg_approx_percentile_prices, whose contract
    booleans compare sketch outputs against these exact values — a
    1-ulp divergence could flip a boundary comparison). Adversarial
    sets: heavy duplication, negatives, single element, values whose
    interpolation lands between distinct neighbors, NULLs, and an
    all-NULL group."""
    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.relational import (
        interpolated_percentiles,
    )

    cases = {
        "a": [5.0],
        "b": [-3.25, -3.25, -3.25],
        "c": [1.0, 2.0, 2.0, 2.0, 2.5, 3.0, 107.125],
        "d": [float(x) for x in range(20)] + [7.0] * 30,
        "e": [-10.5, 0.0, 0.0, 10.1, 10.1, 10.1, 10.2, None],
        "f": [None, None],
    }
    ps = {"q1": 0.498, "q2": 0.502, "q3": 0.948, "q4": 0.952, "q5": 0.25}
    rows = [(k, v) for k, vals in cases.items() for v in vals]
    df = spark.createDataFrame(rows, "k string, v double")
    mine = {
        r["k"]: r
        for r in interpolated_percentiles(df, ["k"], "v", ps).collect()
    }
    plist = ", ".join(str(p) for p in ps.values())
    builtin = {
        r["k"]: r["ex"]
        for r in df.groupBy("k")
        .agg(F.expr(f"percentile(v, array({plist}))").alias("ex"))
        .collect()
    }
    for k in cases:
        if builtin[k] is None:
            assert k not in mine or all(
                mine[k][name] is None for name in ps
            ), k
            continue
        for i, name in enumerate(ps):
            got, want = mine[k][name], builtin[k][i]
            # bit equality, not approx — the contract depends on it
            assert got == want and str(got) == str(want), (k, name, got, want)
