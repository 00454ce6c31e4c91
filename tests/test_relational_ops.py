

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
    single element, a NULL key). The window form nearest_rank_cuts must
    put that same value on every grid row of the key, also with no
    keys at all."""
    import math

    from pyspark.sql import functions as F

    from etl_ml_pipeline_spark.operators.relational import (
        nearest_rank_cuts,
        nearest_rank_percentiles,
    )

    cases = {
        "g0": [5],
        "g1": [-3, -3, -3],
        "g2": [1, 2, 2, 2, 2, 2, 3],
        "g3": list(range(20)) + [7] * 30,
        "g4": [-10, 0, 0, 10, 10, 10, 10],
        None: [4, 4, 1, 9],
    }
    pcts = {"p01": (1, 100), "p25": (1, 4), "p50": (1, 2), "p75": (3, 4), "p99": (99, 100)}

    def nr(vals, num, den):
        ordered = sorted(vals)
        return ordered[max(0, math.ceil(num * len(ordered) / den) - 1)]

    rows = [(k, v) for k, vals in cases.items() for v in vals]
    df = spark.createDataFrame(rows, "k string, v long")
    got = {
        r["k"]: r
        for r in nearest_rank_percentiles(df, ["k"], "v", pcts).collect()
    }
    assert set(got) == set(cases)
    for k, vals in cases.items():
        for name, (num, den) in pcts.items():
            assert got[k][name] == nr(vals, num, den), (k, name)

    grid = df.groupBy("k", "v").agg(F.count("*").alias("__f"))
    cut = nearest_rank_cuts(grid, ["k"], "v", pcts).collect()
    assert len(cut) == grid.count()
    for r in cut:
        assert r["__f"] == cases[r["k"]].count(r["v"]), r
        for name in pcts:
            assert r[name] == got[r["k"]][name], (r["k"], name)

    everything = [v for _, v in rows]
    flat = nearest_rank_cuts(
        df.groupBy("v").agg(F.count("*").alias("__f")), [], "v", pcts
    ).collect()
    assert len(flat) == len(set(everything))
    for r in flat:
        for name, (num, den) in pcts.items():
            assert r[name] == nr(everything, num, den), name


def test_largest_remainder_property(spark):
    """Property: the Hamilton split sums to ``total`` exactly, gives
    each key its exact quota rounded down or up, and hands tied
    remainders to the lower key."""
    from fractions import Fraction

    from etl_ml_pipeline_spark.operators.relational import largest_remainder

    cases = [
        ([("a", 1), ("b", 1), ("c", 1)], 100),  # three-way remainder tie
        ([("x", 3), ("y", 1)], 10),
        ([("p", 7), ("q", 5), ("r", 2), ("s", 9), ("t", 1)], 97),
        ([("only", 4)], 13),
        ([("b", 2), ("a", 2), ("d", 1), ("c", 1)], 7),
    ]
    for weights, total in cases:
        df = spark.createDataFrame(weights, "key string, w long")
        got = {
            r["key"]: r["alloc"]
            for r in largest_remainder(df, "key", "w", total, "alloc").collect()
        }
        wsum = sum(w for _, w in weights)
        exact = {k: Fraction(total * w, wsum) for k, w in weights}
        assert sum(got.values()) == total, weights
        for k, q in exact.items():
            assert q - 1 < got[k] < q + 1, (k, got[k], q)
        # a key that got the extra unit never has a smaller remainder
        # than one that did not, and on equal remainders the lower key
        # gets it
        up = {k for k, q in exact.items() if got[k] > q}
        for k in up:
            for o in set(exact) - up:
                rk, ro = exact[k] % 1, exact[o] % 1
                assert rk > ro or (rk == ro and k < o), (k, o)
    # the three-way tie: 100 / 3 leaves one unit, which goes to "a"
    df = spark.createDataFrame(cases[0][0], "key string, w long")
    got = sorted(
        (r["key"], r["alloc"])
        for r in largest_remainder(df, "key", "w", 100, "alloc").collect()
    )
    assert got == [("a", 34), ("b", 33), ("c", 33)]


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
