"""Distribution drift (stats.ks_drift) and PII pseudonymization
(text.pseudonymize)."""

from __future__ import annotations

import pytest

# --------------------------------------------------------------- ks_drift
def test_ks_drift_identical_and_disjoint(spark):
    from getl_spark.functions import stats as S

    a = spark.range(0, 1000).selectExpr("CAST(id % 100 AS DOUBLE) AS x")
    same = S.ks_drift(a, a, "x").first()
    assert same.ks_stat == 0.0 and same.n_left == 1000 and same.n_right == 1000
    # fully disjoint supports -> KS = 1
    b = spark.range(0, 500).selectExpr("CAST(id % 100 + 1000 AS DOUBLE) AS x")
    assert S.ks_drift(a, b, "x").first().ks_stat == 1.0


def test_ks_drift_matches_scipy_formula(spark):
    """Differential vs a straightforward numpy two-sample KS on the
    collected values (small data, exact ECDF semantics)."""
    import numpy as np

    from getl_spark.functions import stats as S

    rng = np.random.RandomState(3)
    xs = rng.randn(400).round(2)
    ys = (rng.randn(300) * 1.3 + 0.4).round(2)
    l = spark.createDataFrame([(float(v),) for v in xs], "x DOUBLE")
    r = spark.createDataFrame([(float(v),) for v in ys], "x DOUBLE")
    got = S.ks_drift(l, r, "x").first()

    grid = np.unique(np.concatenate([xs, ys]))
    fl = np.searchsorted(np.sort(xs), grid, side="right") / len(xs)
    fr = np.searchsorted(np.sort(ys), grid, side="right") / len(ys)
    expect = round(float(np.max(np.abs(fl - fr))), 6)
    assert got.ks_stat == expect
    assert (got.n_left, got.n_right) == (400, 300)


def test_ks_drift_binned_bounds_exact(spark):
    import numpy as np

    from getl_spark.functions import stats as S

    rng = np.random.RandomState(4)
    l = spark.createDataFrame([(float(v),) for v in rng.randn(500)], "x DOUBLE")
    r = spark.createDataFrame(
        [(float(v),) for v in rng.randn(500) + 0.8], "x DOUBLE"
    )
    exact = S.ks_drift(l, r, "x").first().ks_stat
    binned = S.ks_drift(l, r, "x", bins=64).first().ks_stat
    assert 0 < binned <= exact  # binning can only lose resolution
    assert exact - binned < 0.1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="bins"):
        S.ks_drift(l, r, "x", bins=1)


def test_pseudonymize_joinable_and_null_safe(spark):
    from getl_spark.functions import text as T

    a = spark.createDataFrame(
        [(1, "u1"), (2, "u2"), (3, None)], "id BIGINT, user STRING"
    )
    b = spark.createDataFrame([(10, "u2")], "id BIGINT, user STRING")
    pa = T.pseudonymize(a, ["user"], salt="s3cret")
    pb = T.pseudonymize(b, ["user"], salt="s3cret")
    rows = {r.id: r.user for r in pa.collect()}
    assert rows[3] is None
    assert all(v is None or len(v) == 64 for v in rows.values())
    assert "u1" not in rows.values() and "u2" not in rows.values()
    # joinability: same salt -> same token
    assert pa.join(pb, "user").count() == 1
    # different salt -> different token space
    pc = T.pseudonymize(b, ["user"], salt="other")
    assert pa.join(pc, "user").count() == 0
    # keep_original adds a column instead of replacing
    kept = T.pseudonymize(a, ["user"], salt="x", keep_original=True)
    assert "user_pseudo" in kept.columns and "user" in kept.columns

    import pytest as _pytest

    with _pytest.raises(ValueError, match="salt"):
        T.pseudonymize(a, ["user"], salt="")
    with _pytest.raises(ValueError, match="num_bits"):
        T.pseudonymize(a, ["user"], salt="x", num_bits=100)


def test_psi_identical_zero_and_shift_detected(spark):
    import numpy as np

    from getl_spark.functions import stats as S

    a = spark.range(0, 2000).selectExpr("CAST(id % 97 AS DOUBLE) AS x")
    assert S.psi(a, a, "x").first().psi == 0.0

    rng = np.random.RandomState(9)
    l = spark.createDataFrame([(float(v),) for v in rng.randn(2000)], "x DOUBLE")
    r_same = spark.createDataFrame([(float(v),) for v in rng.randn(2000)], "x DOUBLE")
    r_shift = spark.createDataFrame(
        [(float(v),) for v in rng.randn(2000) + 1.5], "x DOUBLE"
    )
    stable = S.psi(l, r_same, "x").first().psi
    shifted = S.psi(l, r_shift, "x").first().psi
    assert stable < 0.1 < shifted  # rule-of-thumb bands hold
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bins"):
        S.psi(l, r_same, "x", bins=1)


def test_psi_matches_numpy_reference(spark):
    import numpy as np

    from getl_spark.functions import stats as S

    rng = np.random.RandomState(11)
    xs = rng.randn(500)
    ys = rng.randn(400) * 1.2 + 0.3
    l = spark.createDataFrame([(float(v),) for v in xs], "x DOUBLE")
    r = spark.createDataFrame([(float(v),) for v in ys], "x DOUBLE")
    got = S.psi(l, r, "x", bins=10).first()

    both = np.concatenate([xs, ys])
    lo, hi = both.min(), both.max()
    w = (hi - lo) / 10
    bl = np.minimum(((xs - lo) // w).astype(int), 9)
    br = np.minimum(((ys - lo) // w).astype(int), 9)
    eps = 1e-6
    expect = 0.0
    for b in range(10):
        pl = (bl == b).sum() / len(xs) + eps
        pr = (br == b).sum() / len(ys) + eps
        expect += (pl - pr) * np.log(pl / pr)
    assert abs(got.psi - round(float(expect), 6)) <= 1e-6
    assert (got.n_left, got.n_right) == (500, 400)


def test_ks_and_psi_fail_loud_on_empty_side(spark):
    """An empty input side must raise, not return a NULL that a
    `stat > threshold` alert silently ignores."""
    from pyspark.errors import SparkRuntimeException

    from getl_spark.functions import stats as S

    full = spark.range(0, 100).selectExpr("CAST(id AS DOUBLE) AS x")
    empty = spark.createDataFrame([], "x DOUBLE")
    for fn in (S.ks_drift, S.psi):
        with pytest.raises(SparkRuntimeException, match="non-null"):
            fn(full, empty, "x").collect()
        with pytest.raises(SparkRuntimeException, match="non-null"):
            fn(empty, full, "x").collect()


def test_ab_compare_matches_scipy_free_reference(spark):
    """Planted effect: treatment shifted by +2 on unit-variance noise —
    z and p must match the numpy/math Welch reference."""
    import math

    import numpy as np

    from getl_spark.functions import stats as S

    rng = np.random.default_rng(11)
    ctl = rng.normal(10.0, 1.0, 400)
    trt = rng.normal(12.0, 1.5, 500)
    rows = [("control", float(v)) for v in ctl] + [("treatment", float(v)) for v in trt]
    df = spark.createDataFrame(rows, "grp string, metric double")
    row = S.ab_compare(df, "grp", "metric", "control", "treatment").first()
    assert row.n_control == 400 and row.n_treatment == 500
    se = math.sqrt(ctl.var(ddof=1) / 400 + trt.var(ddof=1) / 500)
    z = (trt.mean() - ctl.mean()) / se
    assert abs(row.z - round(z, 6)) < 1e-5
    assert abs(row.p_value - round(math.erfc(abs(z) / math.sqrt(2)), 6)) < 1e-5
    assert row.p_value < 1e-6  # the planted effect is overwhelming


def test_ab_compare_null_effect_and_filtering(spark):
    from getl_spark.functions import stats as S

    rows = (
        [("a", float(i % 7)) for i in range(300)]
        + [("b", float((i + 3) % 7)) for i in range(300)]
        + [("c", 999.0)] * 50          # other groups ignored
        + [("a", None)]                # nulls ignored
    )
    df = spark.createDataFrame(rows, "grp string, metric double")
    row = S.ab_compare(df, "grp", "metric", "a", "b").first()
    assert row.n_control == 300 and row.n_treatment == 300
    assert row.p_value > 0.5  # same distribution → no significance


def test_ab_compare_empty_arm_fails_loud(spark):
    import pytest as _pytest

    from getl_spark.functions import stats as S

    df = spark.createDataFrame([("a", 1.0)], "grp string, metric double")
    with _pytest.raises(Exception, match="ab_compare"):
        S.ab_compare(df, "grp", "metric", "a", "missing").collect()


def test_ab_compare_constant_metric_fails_loud(spark):
    import pytest as _pytest

    from getl_spark.functions import stats as S

    rows = [("a", 1.0)] * 50 + [("b", 1.0)] * 50
    df = spark.createDataFrame(rows, "grp string, metric double")
    with _pytest.raises(Exception, match="ab_compare"):
        S.ab_compare(df, "grp", "metric", "a", "b").collect()


# ---------------------------------------------------------- mutual info
def test_mutual_info_hand_computed_2x2(spark):
    """Perfect dependence on a 2x2: MI = ln 2 nats, NMI = 1."""
    import math

    from getl_spark.functions import stats

    df = spark.createDataFrame(
        [("x", "p"), ("x", "p"), ("y", "q"), ("y", "q")], ["a", "b"]
    )
    row = stats.mutual_info(df, "a", "b", normalize=True).collect()[0]
    assert row["mi"] == pytest.approx(math.log(2), abs=1e-6)
    assert row["nmi"] == pytest.approx(1.0, abs=1e-6)
    assert row["n"] == 4


def test_mutual_info_independent_is_zero_and_nulls_dropped(spark):
    from getl_spark.functions import stats

    df = spark.createDataFrame(
        [("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"),
         (None, "p"), ("x", None)],
        ["a", "b"],
    )
    row = stats.mutual_info(df, "a", "b").collect()[0]
    assert row["mi"] == 0.0
    assert row["n"] == 4  # null-bearing rows excluded


def test_mutual_info_matches_sklearn_style_reference(spark):
    """Random joint distribution vs a direct numpy computation."""
    import math
    import random
    from collections import Counter

    from getl_spark.functions import stats

    rng = random.Random(9)
    rows = [
        (rng.choice("abcd"), rng.choice("pqr" if rng.random() < 0.7 else "pq"))
        for _ in range(500)
    ]
    df = spark.createDataFrame(rows, ["a", "b"])
    got = stats.mutual_info(df, "a", "b", normalize=True).collect()[0]
    n = len(rows)
    joint, ma, mb = Counter(rows), Counter(r[0] for r in rows), Counter(
        r[1] for r in rows
    )
    mi = sum(
        (c / n) * math.log(c * n / (ma[a] * mb[b]))
        for (a, b), c in joint.items()
    )
    ha = -sum((c / n) * math.log(c / n) for c in ma.values())
    hb = -sum((c / n) * math.log(c / n) for c in mb.values())
    assert got["mi"] == pytest.approx(mi, abs=1e-6)
    assert got["nmi"] == pytest.approx(mi / math.sqrt(ha * hb), abs=1e-6)


def test_mutual_info_constant_column_nmi_zero(spark):
    from getl_spark.functions import stats

    df = spark.createDataFrame([("x", "p"), ("x", "q")], ["a", "b"])
    row = stats.mutual_info(df, "a", "b", normalize=True).collect()[0]
    assert row["mi"] == 0.0 and row["nmi"] == 0.0


# ----------------------------------------------------------------- ece
def test_ece_hand_computed_and_guards(spark):
    """Two buckets hand-checked; perfect calibration gives 0; a logit
    outside [0,1] fails loudly."""
    import pytest
    from pyspark.sql import functions as F

    from getl_spark.functions import stats

    rows = [
        # bucket 0 (scores < 0.5): conf 0.2, acc 0.0 -> gap 0.2, n 2
        (0.1, 0), (0.3, 0),
        # bucket 1: conf 0.8, acc 0.5 -> gap 0.3, n 2
        (0.7, 1), (0.9, 0),
    ]
    df = spark.createDataFrame(rows, "score double, label int")
    r = stats.ece(df, "score", "label", bins=2).first()
    assert (r.ece, r.max_gap, r.n) == (0.25, 0.3, 4)

    perfect = spark.createDataFrame(
        [(0.0, 0), (1.0, 1), (1.0, 1)], "score double, label int"
    )
    assert stats.ece(perfect, "score", "label", bins=2).first().ece == 0.0

    with pytest.raises(Exception, match="probabilities"):
        stats.ece(
            spark.createDataFrame([(1.7, 1)], "score double, label int"),
            "score", "label",
        ).collect()
    # the range guard fires even when the out-of-range score's label is
    # null (such rows are excluded from the aggregates, not the check)
    with pytest.raises(Exception, match="probabilities"):
        stats.ece(
            spark.createDataFrame(
                [(1.7, None), (0.5, 1)], "score double, label int"
            ),
            "score", "label",
        ).collect()
    # null-label rows don't shift the calibration numbers
    with_null = spark.createDataFrame(
        rows + [(0.4, None), (0.8, None)], "score double, label int"
    )
    rn = stats.ece(with_null, "score", "label", bins=2).first()
    assert (rn.ece, rn.max_gap, rn.n) == (0.25, 0.3, 4)
    with pytest.raises(ValueError):
        stats.ece(df, "score", "label", bins=0)


def test_js_divergence_hand_cases(spark):
    """Identical mixes give 0; disjoint supports give 1 (base 2);
    a hand-computed asymmetric mix matches the closed form; an empty
    side fails loudly."""
    import math

    import pytest

    from getl_spark.functions import stats

    a = spark.createDataFrame([("x",), ("x",), ("y",), ("y",)], "c string")
    b = spark.createDataFrame([("x",), ("y",)], "c string")
    r = stats.js_divergence(a, b, "c").first()
    assert (r.js_div, r.n_left, r.n_right) == (0.0, 4, 2)

    disjoint = stats.js_divergence(
        a, spark.createDataFrame([("z",)], "c string"), "c"
    ).first()
    assert disjoint.js_div == 1.0

    # left {x:3/4, y:1/4} vs right {x:1/4, y:3/4}
    l = spark.createDataFrame([("x",)] * 3 + [("y",)], "c string")
    rr = spark.createDataFrame([("x",)] + [("y",)] * 3, "c string")
    got = stats.js_divergence(l, rr, "c").first().js_div
    m = lambda p, q: (p + q) / 2
    want = 0.5 * sum(
        p * math.log2(p / m(p, q)) + q * math.log2(q / m(p, q))
        for p, q in [(0.75, 0.25), (0.25, 0.75)]
    )
    assert abs(got - round(want, 6)) < 1e-9

    with pytest.raises(Exception, match="no non-null"):
        stats.js_divergence(
            a, spark.createDataFrame([], "c string"), "c"
        ).collect()
    with pytest.raises(ValueError):
        stats.js_divergence(a, b, "c", base=1.0)


def test_chi2_drift_hand_case_and_guard(spark):
    """Hand-computed 2x3 homogeneity statistic; identical sides give
    0; an empty side fails loudly."""
    import math

    import pytest

    from getl_spark.functions import stats

    left = spark.createDataFrame([("a",)] * 30 + [("b",)] * 10, "c string")
    right = spark.createDataFrame(
        [("a",)] * 20 + [("b",)] * 20 + [("c",)] * 10, "c string"
    )
    r = stats.chi2_drift(left, right, "c").first()
    # pooled a=50 b=30 c=10, n=90, nl=40, nr=50:
    # chi2 = sum over sides/values of (o-e)^2/e = 14.4 exactly
    assert (r.chi2, r.dof, r.n_left, r.n_right) == (14.4, 2, 40, 50)

    same = stats.chi2_drift(left, left, "c").first()
    assert same.chi2 == 0.0 and same.dof == 1

    empty = spark.createDataFrame([], "c string")
    with pytest.raises(Exception, match="no non-null"):
        stats.chi2_drift(left, empty, "c").collect()


def test_group_psi_per_group_and_one_sided(spark):
    """Planted drift in ONE group is visible per-group where the
    global PSI averages it away; one-sided groups surface with NULL
    psi; a degenerate single-value group scores 0."""
    import numpy as np

    from getl_spark.functions import stats as S

    rng = np.random.RandomState(7)
    stable = [("a", float(v)) for v in rng.randn(800)]
    l = spark.createDataFrame(
        stable
        + [("b", float(v)) for v in rng.randn(500)]
        + [("only_left", 1.0)] * 10
        + [("const", 5.0)] * 20,
        "g string, x double",
    )
    r = spark.createDataFrame(
        [("a", float(v)) for v in rng.randn(800)]            # stable
        + [("b", float(v)) for v in rng.randn(500) + 2.0]    # shifted
        + [("const", 5.0)] * 15,
        "g string, x double",
    )
    out = {row.g: row for row in S.group_psi(l, r, "x", "g").collect()}
    assert out["a"].psi < 0.1 < out["b"].psi  # drift localized to b
    assert out["const"].psi == 0.0
    assert out["only_left"].psi is None
    assert out["only_left"].n_left == 10 and out["only_left"].n_right == 0
    # the global gate on the union under-reports b's drift
    global_psi = S.psi(l.select("x"), r.select("x"), "x").first().psi
    assert global_psi < out["b"].psi

    import pytest as _pytest

    with _pytest.raises(ValueError, match="bins"):
        S.group_psi(l, r, "x", "g", bins=1)


def test_pass_at_k_matches_comb_formula(spark):
    """Product form equals the C(n-c,k)/C(n,k) definition; n<k tasks
    emit NULL; all-fail and all-pass edges behave."""
    from math import comb

    from getl_spark.functions import stats

    cases = [(0, 10, 3), (1, 6, 6), (2, 6, 0), (3, 3, 2), (4, 5, 4)]
    rows = [
        (t, 1 if i < c else 0) for t, n, c in cases for i in range(n)
    ]
    df = spark.createDataFrame(rows, "task INT, ok INT")
    out = {r["task"]: r for r in stats.pass_at_k(df, "task", "ok", 5).collect()}
    for t, n, c in cases:
        r = out[t]
        assert (r["n_samples"], r["n_correct"]) == (n, c)
        if n < 5:
            assert r["pass_at_k"] is None
        else:
            want = round(1 - comb(n - c, 5) / comb(n, 5), 6) if n - c >= 5 else 1.0
            assert r["pass_at_k"] == pytest.approx(want)
    ov = stats.pass_at_k(df, "task", "ok", 5, overall=True).collect()[0]
    est = [v for v in (out[t]["pass_at_k"] for t, _, _ in cases) if v is not None]
    assert ov["n_tasks"] == len(est)
    assert ov["avg_pass_at_k"] == pytest.approx(round(sum(est) / len(est), 6))


def test_pass_at_k_boolean_success_and_validation(spark):
    from getl_spark.functions import stats

    df = spark.createDataFrame(
        [(0, True), (0, False), (0, True)], "task INT, ok BOOLEAN"
    )
    r = stats.pass_at_k(df, "task", "ok", 2).collect()[0]
    # n=3, c=2: pass@2 = 1 - C(1,2)/C(3,2) = 1 (can't pick 2 failures)
    assert r["pass_at_k"] == 1.0
    with pytest.raises(ValueError, match="k must be"):
        stats.pass_at_k(df, "task", "ok", 0)


def test_bt_ratings_orders_strengths_and_anchor(spark):
    """Clear win-rate hierarchy recovers the ordering; anchor model
    rates exactly 1.0; ties credit half wins; probabilities implied by
    rating ratios track the observed win rates."""
    from getl_spark.functions import stats

    battles = (
        [("m1", "m2", "m1")] * 8 + [("m1", "m2", "m2")] * 2
        + [("m1", "m3", "m1")] * 7 + [("m3", "m1", "m3")] * 3
        + [("m2", "m3", "m2")] * 5 + [("m2", "m3", "m3")] * 3
        + [("m2", "m3", "tie")] * 2
    )
    df = spark.createDataFrame(
        battles, "model_a STRING, model_b STRING, winner STRING"
    )
    rows = {r["model"]: r for r in stats.bt_ratings(df, iters=30).collect()}
    assert rows["m1"]["rating"] == 1.0
    assert rows["m1"]["rating"] > rows["m2"]["rating"] > rows["m3"]["rating"]
    assert rows["m2"]["n_wins"] == 2 + 5 + 0.5 * 2  # tie half-credit
    assert rows["m2"]["n_games"] == 20
    # implied P(m1 beats m2) = r1/(r1+r2) should be near observed 0.8
    r1, r2 = rows["m1"]["rating"], rows["m2"]["rating"]
    assert abs(r1 / (r1 + r2) - 0.8) < 0.1


def test_bt_ratings_zero_win_model_and_validation(spark):
    from getl_spark.functions import stats

    df = spark.createDataFrame(
        [("a", "b", "a")] * 4, "model_a STRING, model_b STRING, winner STRING"
    )
    rows = {r["model"]: r for r in stats.bt_ratings(df).collect()}
    assert rows["b"]["rating"] == 0.0 and rows["a"]["rating"] == 1.0

    bad = spark.createDataFrame(
        [("a", "b", "c")], "model_a STRING, model_b STRING, winner STRING"
    )
    with pytest.raises(Exception, match="winner must equal"):
        stats.bt_ratings(bad).collect()
    selfb = spark.createDataFrame(
        [("a", "a", "a")], "model_a STRING, model_b STRING, winner STRING"
    )
    with pytest.raises(Exception, match="self-battles"):
        stats.bt_ratings(selfb).collect()
    with pytest.raises(ValueError, match="iters"):
        stats.bt_ratings(df, iters=0)
    with pytest.raises(ValueError, match="max_models"):
        stats.bt_ratings(df, max_models=1).collect()


def test_bootstrap_ci_brackets_and_determinism(spark):
    """CI brackets the true mean with width near the CLT prediction;
    identical across reruns; seeds move the bounds but not the mean;
    md5 and xxhash64 paths agree statistically."""
    from getl_spark.functions import stats

    df = spark.range(0, 2000).selectExpr("id", "CAST(id % 100 AS BIGINT) AS v")
    r = stats.bootstrap_ci(df, "v", ["id"], n_boot=100).collect()[0]
    assert (r["n_rows"], r["n_boot"]) == (2000, 100)
    assert r["mean"] == pytest.approx(49.5)
    assert r["ci_lo"] < 49.5 < r["ci_hi"]
    # CLT: se = std/sqrt(n) = 28.87/44.7 ~ 0.65 -> 95% width ~ 2.6
    width = r["ci_hi"] - r["ci_lo"]
    assert 1.0 < width < 5.0
    r2 = stats.bootstrap_ci(df, "v", ["id"], n_boot=100).collect()[0]
    assert tuple(r) == tuple(r2)
    r3 = stats.bootstrap_ci(df, "v", ["id"], n_boot=100, seed=9).collect()[0]
    assert (r3["ci_lo"], r3["ci_hi"]) != (r["ci_lo"], r["ci_hi"])
    rm = stats.bootstrap_ci(df, "v", ["id"], n_boot=100, hash_fn="md5").collect()[0]
    assert rm["ci_lo"] < 49.5 < rm["ci_hi"]
    assert abs((rm["ci_hi"] - rm["ci_lo"]) - width) < 2.0


def test_bootstrap_ci_validation(spark):
    from getl_spark.functions import stats

    df = spark.range(10).selectExpr("id", "id AS v")
    with pytest.raises(ValueError, match="id_cols"):
        stats.bootstrap_ci(df, "v", [])
    with pytest.raises(ValueError, match="alpha"):
        stats.bootstrap_ci(df, "v", ["id"], alpha=1.5)
    with pytest.raises(ValueError, match="n_boot"):
        stats.bootstrap_ci(df, "v", ["id"], n_boot=5)
    with pytest.raises(ValueError, match="hash_fn"):
        stats.bootstrap_ci(df, "v", ["id"], hash_fn="sha1")


def test_trimmed_mean_exact_and_winsorized(spark):
    """Cut counts and means equal the sorted-list reference; outliers
    are neutralized; winsorize clamps instead of dropping."""
    from getl_spark.functions import stats

    rows = (
        [(i, float(i % 10)) for i in range(100)]
        + [(1000, 1e6), (1001, 1e6), (2000, -1e6), (2001, -1e6)]
    )
    df = spark.createDataFrame(rows, "id BIGINT, v DOUBLE")
    vals = sorted((v, i) for i, v in rows)
    n, k = len(vals), int(0.05 * len(vals))
    core = [v for v, _ in vals[k:n - k]]
    r = stats.trimmed_mean(df, "v", ["id"], trim=0.05).collect()[0]
    assert tuple(r) == (n, k, round(sum(core) / len(core), 6))
    lo, hi = core[0], core[-1]
    wv = [min(max(v, lo), hi) for v, _ in vals]
    rw = stats.trimmed_mean(df, "v", ["id"], trim=0.05, winsorize=True).collect()[0]
    assert tuple(rw) == (n, k, round(sum(wv) / len(wv), 6))
    # plain mean is wrecked by the outliers; trimmed is not
    assert abs(r["trimmed_mean"] - 4.5) < 0.01
    # trim=0 degenerates to the plain mean
    r0 = stats.trimmed_mean(df, "v", ["id"], trim=0.0).collect()[0]
    assert r0["n_trimmed_each"] == 0
    assert r0["trimmed_mean"] == round(sum(v for _, v in rows) / n, 6)


def test_trimmed_mean_nulls_and_validation(spark):
    from getl_spark.functions import stats

    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 3.0), (4, 100.0)], "id BIGINT, v DOUBLE"
    )
    r = stats.trimmed_mean(df, "v", ["id"], trim=0.34).collect()[0]
    # 3 non-null, k=1: keeps only the median value 3.0
    assert tuple(r) == (3, 1, 3.0)
    with pytest.raises(ValueError, match="trim"):
        stats.trimmed_mean(df, "v", ["id"], trim=0.5)
    with pytest.raises(ValueError, match="id_cols"):
        stats.trimmed_mean(df, "v", [])


def test_mann_whitney_matches_rank_reference(spark):
    """U equals the pairwise-comparison definition (ties half); the
    tie-corrected z matches the textbook formula; a real location
    shift is detected, an identical split is not."""
    import bisect
    import random

    from getl_spark.functions import stats

    def ref_u(a, b):
        bs = sorted(b)
        u = 0.0
        for x in a:
            lt = bisect.bisect_left(bs, x)
            eq = bisect.bisect_right(bs, x) - lt
            u += lt + 0.5 * eq
        return u

    rnd = random.Random(5)
    lv = [rnd.gauss(0, 1) for _ in range(300)]
    rv = [rnd.gauss(0.4, 1) for _ in range(350)]
    L = spark.createDataFrame([(v,) for v in lv], "x DOUBLE")
    R = spark.createDataFrame([(v,) for v in rv], "x DOUBLE")
    r = stats.mann_whitney(L, R, "x").collect()[0]
    assert r["u_stat"] == pytest.approx(ref_u(lv, rv))
    n1, n2 = len(lv), len(rv)
    z = (r["u_stat"] - n1 * n2 / 2) / (n1 * n2 / 12 * (n1 + n2 + 1)) ** 0.5
    assert r["z"] == pytest.approx(round(z, 6), abs=1e-5)
    assert r["p_value"] < 0.01

    # tie-heavy integers: hand-checkable var = 15, z = -3/sqrt(15)
    la, rb = [1.0, 1.0, 2.0, 3.0], [1.0, 2.0, 2.0, 3.0, 3.0]
    r2 = stats.mann_whitney(
        spark.createDataFrame([(v,) for v in la], "x DOUBLE"),
        spark.createDataFrame([(v,) for v in rb], "x DOUBLE"),
        "x",
    ).collect()[0]
    assert r2["u_stat"] == ref_u(la, rb) == 7.0
    assert r2["z"] == pytest.approx(round(-3 / 15**0.5, 6))

    # no shift: same data both sides -> z == 0, p ~ 1
    r3 = stats.mann_whitney(L, L, "x").collect()[0]
    assert r3["z"] == 0.0 and r3["p_value"] > 0.99


def test_mann_whitney_degenerate_sides(spark):
    from getl_spark.functions import stats

    L = spark.createDataFrame([(1.0,)], "x DOUBLE")
    E = spark.createDataFrame([], "x DOUBLE")
    r = stats.mann_whitney(L, E, "x").collect()[0]
    assert r["n_right"] == 0 and r["z"] is None and r["p_value"] is None
    # all values tie across both sides -> variance 0 -> NULL z
    C = spark.createDataFrame([(2.0,), (2.0,)], "x DOUBLE")
    r2 = stats.mann_whitney(C, C, "x").collect()[0]
    assert r2["z"] is None


def test_permutation_test_matches_md5_reference(spark):
    """The md5 hash path replays exactly in plain python: replicate
    relabelings, tail count, +1-corrected p, and the effective
    replicate count all match; a planted shift is detected."""
    import hashlib
    import random

    from getl_spark.functions import stats

    rnd = random.Random(3)
    rows = [
        (
            i,
            "t" if i % 2 == 0 else "c",
            float(rnd.randint(0, 20) + (4 if i % 2 == 0 else 0)),
        )
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id BIGINT, g STRING, x DOUBLE")
    r = stats.permutation_test(
        df, "g", "x", ["id"], control="c", treatment="t",
        n_perm=50, seed=7, hash_fn="md5",
    ).collect()[0]

    n_t = sum(1 for _, g, _ in rows if g == "t")
    n_c = len(rows) - n_t
    obs = (
        sum(x for _, g, x in rows if g == "t") / n_t
        - sum(x for _, g, x in rows if g == "c") / n_c
    )
    frac = n_t / (n_t + n_c)

    def u(b, i):
        h = hashlib.md5(f"7:{b}:{i}".encode()).hexdigest()[:8]
        return int(h, 16) / 4294967296.0

    m = ge = 0
    for b in range(50):
        t_vals = [x for i, _, x in rows if u(b, i) < frac]
        c_vals = [x for i, _, x in rows if not u(b, i) < frac]
        if t_vals and c_vals:
            m += 1
            d = sum(t_vals) / len(t_vals) - sum(c_vals) / len(c_vals)
            if abs(d) >= abs(obs):
                ge += 1
    assert (r["n_control"], r["n_treatment"]) == (n_c, n_t)
    assert r["n_perm"] == m
    assert r["obs_diff"] == pytest.approx(round(obs, 6))
    assert r["p_value"] == pytest.approx(round((1 + ge) / (1 + m), 6))
    assert r["p_value"] < 0.1  # +4 planted shift on 30v30

    # no shift: identical value distribution in both arms -> large p
    null_rows = [(i, "t" if i % 2 == 0 else "c", float(i // 2 % 10)) for i in range(80)]
    r2 = stats.permutation_test(
        spark.createDataFrame(null_rows, "id BIGINT, g STRING, x DOUBLE"),
        "g", "x", ["id"], control="c", treatment="t", n_perm=50, seed=7,
    ).collect()[0]
    assert r2["p_value"] > 0.1

    # guards: empty arm fails loud; bad params raise
    only_t = spark.createDataFrame([(1, "t", 1.0)], "id BIGINT, g STRING, x DOUBLE")
    with pytest.raises(Exception, match="arm is empty"):
        stats.permutation_test(
            only_t, "g", "x", ["id"], control="c", treatment="t"
        ).collect()
    with pytest.raises(ValueError, match="id_cols"):
        stats.permutation_test(only_t, "g", "x", [], control="c", treatment="t")
    with pytest.raises(ValueError, match="n_perm"):
        stats.permutation_test(
            only_t, "g", "x", ["id"], control="c", treatment="t", n_perm=5
        )


def _ref_wilcoxon(pairs):
    """Plain-python signed-rank reference: sort-based midranks over
    the non-zero |differences|, textbook tie-corrected variance."""
    import bisect

    ds = [a - b for a, b in pairs if a is not None and b is not None]
    n_zeros = sum(1 for x in ds if x == 0)
    ds = [x for x in ds if x != 0]
    n = len(ds)
    ads = sorted(abs(x) for x in ds)
    def midrank(v):
        lo = bisect.bisect_left(ads, v)
        hi = bisect.bisect_right(ads, v)
        return (lo + hi + 1) / 2.0
    w_plus = sum(midrank(abs(x)) for x in ds if x > 0)
    from collections import Counter
    ties = sum(t**3 - t for t in Counter(ads).values())
    var = n * (n + 1) * (2 * n + 1) / 24.0 - ties / 48.0
    z = (w_plus - n * (n + 1) / 4.0) / var**0.5 if var > 0 else None
    return n, n_zeros, w_plus, z


def test_wilcoxon_matches_rank_reference(spark):
    """w_plus and the tie-corrected z match a sort-based reference on
    tie-heavy integer pairs with zeros and nulls; a real paired shift
    is detected; a symmetric difference is not."""
    import random

    from getl_spark.functions import stats

    rnd = random.Random(11)
    # integer-valued pairs: exact ties, zero pairs, and some nulls
    pairs = [
        (float(rnd.randint(0, 12)), float(rnd.randint(0, 10)))
        for _ in range(400)
    ]
    pairs += [(3.0, 3.0)] * 7 + [(None, 1.0), (2.0, None), (None, None)]
    df = spark.createDataFrame(pairs, "a DOUBLE, b DOUBLE")
    r = stats.wilcoxon(df, "a", "b").collect()[0]
    n, n_zeros, w_plus, z = _ref_wilcoxon(pairs)
    assert (r["n_pairs"], r["n_zeros"]) == (n, n_zeros)
    assert r["w_plus"] == pytest.approx(w_plus)
    assert r["z"] == pytest.approx(round(z, 6), abs=1e-6)
    assert r["p_value"] < 0.01  # +1 median shift on 400 pairs

    # hand-checkable: d = [+1, +1, -2] -> |d| ranks {1:1.5, 2:3};
    # w_plus = 3.0, ties = 2^3-2 = 6, var = 3*4*7/24 - 6/48 = 3.375
    small = spark.createDataFrame(
        [(2.0, 1.0), (5.0, 4.0), (1.0, 3.0)], "a DOUBLE, b DOUBLE"
    )
    r2 = stats.wilcoxon(small, "a", "b").collect()[0]
    assert (r2["n_pairs"], r2["n_zeros"], r2["w_plus"]) == (3, 0, 3.0)
    assert r2["z"] == pytest.approx(round((3.0 - 3.0) / 3.375**0.5, 6))

    # no shift: identical columns -> every pair is a zero, NULL z
    same = spark.createDataFrame([(1.0, 1.0), (2.0, 2.0)], "a DOUBLE, b DOUBLE")
    r3 = stats.wilcoxon(same, "a", "b").collect()[0]
    assert (r3["n_pairs"], r3["n_zeros"]) == (0, 2)
    assert r3["z"] is None and r3["p_value"] is None

    # empty input -> zero counts, NULL test stats
    empty = spark.createDataFrame([], "a DOUBLE, b DOUBLE")
    r4 = stats.wilcoxon(empty, "a", "b").collect()[0]
    assert (r4["n_pairs"], r4["n_zeros"]) == (0, 0)
    assert r4["z"] is None


def test_auc_matches_pairwise_definition(spark):
    """AUC equals the exhaustive P(s+ > s-) + 0.5*P(s+ = s-) over all
    pos/neg pairs, with heavy ties and per-group splits."""
    import random

    from getl_spark.functions import stats

    rnd = random.Random(11)
    rows = []
    for g in ("a", "b"):
        shift = 0.8 if g == "a" else 0.1
        for _ in range(250):
            y = rnd.random() < 0.4
            # .round(1) forces many tied scores
            s = round(rnd.gauss(shift if y else 0.0, 1.0), 1)
            rows.append((g, s, 1 if y else 0))
    df = spark.createDataFrame(rows, "g STRING, s DOUBLE, y INT")

    def ref_auc(pairs):
        pos = [s for s, y in pairs if y == 1]
        neg = [s for s, y in pairs if y == 0]
        u = sum(
            1.0 if p > n else 0.5 if p == n else 0.0
            for p in pos
            for n in neg
        )
        return len(pos), len(neg), u / (len(pos) * len(neg))

    got = {
        r["g"]: r for r in stats.auc(df, "s", "y", group_by="g").collect()
    }
    for g in ("a", "b"):
        np_, nn_, a_ = ref_auc([(s, y) for gg, s, y in rows if gg == g])
        assert got[g]["n_pos"] == np_ and got[g]["n_neg"] == nn_
        assert got[g]["auc"] == pytest.approx(a_, abs=1e-6)
    # ungrouped: one row over the union
    np_, nn_, a_ = ref_auc([(s, y) for _, s, y in rows])
    r = stats.auc(df, "s", "y").collect()
    assert len(r) == 1 and r[0]["auc"] == pytest.approx(a_, abs=1e-6)


def test_auc_degenerate_and_guard(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from getl_spark.functions import stats

    # single-class group -> NULL auc, counts still right
    one = spark.createDataFrame(
        [(0.9, 1), (0.2, 1), (None, 0), (0.5, None)], "s DOUBLE, y INT"
    )
    r = stats.auc(one, "s", "y").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc"]) == (2, 0, None)
    # perfect separation -> 1.0; anti-separation -> 0.0
    sep = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], "s DOUBLE, y INT"
    )
    assert stats.auc(sep, "s", "y").collect()[0]["auc"] == 1.0
    inv = spark.createDataFrame(
        [(0.1, 1), (0.9, 0)], "s DOUBLE, y INT"
    )
    assert stats.auc(inv, "s", "y").collect()[0]["auc"] == 0.0
    # non-binary label fails LOUDLY, even when scores look fine
    bad = spark.createDataFrame([(0.5, 2)], "s DOUBLE, y INT")
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)):
        stats.auc(bad, "s", "y").collect()


def test_average_precision_matches_step_definition(spark):
    """AP equals the hand-rolled step-interpolated estimator over
    distinct-score thresholds (sklearn's average_precision_score),
    with heavy ties, class imbalance, and per-group splits."""
    import random
    from collections import defaultdict

    from getl_spark.functions import stats

    rnd = random.Random(7)
    rows = []
    for g in ("a", "b"):
        shift = 0.9 if g == "a" else 0.2
        for _ in range(300):
            y = rnd.random() < 0.15
            rows.append(
                (g, round(rnd.gauss(shift if y else 0.0, 1.0), 1), 1 if y else 0)
            )
    df = spark.createDataFrame(rows, "g STRING, s DOUBLE, y INT")

    def ref_ap(pairs):
        by = defaultdict(lambda: [0, 0])
        for s, y in pairs:
            by[s][y] += 1
        P = sum(v[1] for v in by.values())
        cp = cn = 0
        ap = 0.0
        for s in sorted(by, reverse=True):
            nn, np_ = by[s]
            cp += np_
            cn += nn
            ap += np_ / P * (cp / (cp + cn))
        return P, ap

    got = {
        r["g"]: r
        for r in stats.average_precision(df, "s", "y", group_by="g").collect()
    }
    for g in ("a", "b"):
        P, ap = ref_ap([(s, y) for gg, s, y in rows if gg == g])
        assert got[g]["n_pos"] == P
        assert got[g]["average_precision"] == pytest.approx(ap, abs=1e-6)
    # ungrouped over the union
    P, ap = ref_ap([(s, y) for _, s, y in rows])
    r = stats.average_precision(df, "s", "y").collect()
    assert len(r) == 1 and r[0]["average_precision"] == pytest.approx(ap, abs=1e-6)


def test_average_precision_degenerate_and_guard(spark):
    from getl_spark.functions import stats

    # perfect ranking -> 1.0; positives-last -> AP = Σ_i i/(n_neg+i) / P
    sep = spark.createDataFrame(
        [(0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0)], "s DOUBLE, y INT"
    )
    assert stats.average_precision(sep, "s", "y").collect()[0][
        "average_precision"
    ] == 1.0
    inv = spark.createDataFrame(
        [(0.9, 0), (0.8, 0), (0.2, 1), (0.1, 1)], "s DOUBLE, y INT"
    )
    # thresholds descending: positives arrive at ranks 3 and 4
    want = (1 / 3 + 2 / 4) / 2
    assert stats.average_precision(inv, "s", "y").collect()[0][
        "average_precision"
    ] == pytest.approx(want, abs=1e-6)
    # no positives -> NULL; nulls excluded
    neg = spark.createDataFrame(
        [(0.5, 0), (None, 1), (0.3, None)], "s DOUBLE, y INT"
    )
    r = stats.average_precision(neg, "s", "y").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["average_precision"]) == (0, 1, None)
    # non-binary label fails loudly
    bad = spark.createDataFrame([(0.5, 3)], "s DOUBLE, y INT")
    with pytest.raises(Exception):
        stats.average_precision(bad, "s", "y").collect()


def test_spearman_matches_midrank_definition(spark):
    """Spearman equals Pearson of exhaustively computed mid-ranks,
    per group, with heavy ties; invariant under a monotone transform
    of either column."""
    import random
    from collections import Counter

    from pyspark.sql import functions as F

    from getl_spark.functions import stats

    rnd = random.Random(5)
    rows = [
        (g, float(rnd.randrange(0, 15)), round(rnd.gauss(0, 1), 1))
        for g in ("a", "b")
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE, y DOUBLE")

    def ref(pairs):
        def midrank(vals):
            c = Counter(vals)
            below, run = {}, 0
            for v in sorted(c):
                below[v] = run
                run += c[v]
            return {v: below[v] + (c[v] + 1) / 2.0 for v in c}

        xs = [p[0] for p in pairs]
        ys = [p[1] for p in pairs]
        mx, my = midrank(xs), midrank(ys)
        rx = [mx[v] for v in xs]
        ry = [my[v] for v in ys]
        n = len(rx)
        sx, sy = sum(rx) / n, sum(ry) / n
        cov = sum((a - sx) * (b - sy) for a, b in zip(rx, ry))
        vx = sum((a - sx) ** 2 for a in rx)
        vy = sum((b - sy) ** 2 for b in ry)
        return cov / (vx**0.5 * vy**0.5)

    got = {
        r["g"]: r for r in stats.spearman(df, "x", "y", group_by="g").collect()
    }
    for g in ("a", "b"):
        want = ref([(x, y) for gg, x, y in rows if gg == g])
        assert got[g]["n"] == 200
        assert got[g]["spearman"] == pytest.approx(want, abs=1e-6)
    # monotone transform of y cannot move a rank correlation
    got2 = {
        r["g"]: r["spearman"]
        for r in stats.spearman(
            df.withColumn("y", F.exp("y")), "x", "y", group_by="g"
        ).collect()
    }
    for g in got2:
        assert got2[g] == pytest.approx(got[g]["spearman"], abs=1e-6)


def test_spearman_degenerate_and_perfect(spark):
    from getl_spark.functions import stats

    # constant side -> NULL (not an ANSI divide-by-zero crash)
    one = spark.createDataFrame([(1.0, 2.0), (1.0, 3.0)], "x DOUBLE, y DOUBLE")
    r = stats.spearman(one, "x", "y").collect()[0]
    assert (r["n"], r["spearman"]) == (2, None)
    # perfect monotone -> 1.0 even though the relation is nonlinear
    mono = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(10)], "x DOUBLE, y DOUBLE"
    )
    assert stats.spearman(mono, "x", "y").collect()[0]["spearman"] == 1.0
    rev = spark.createDataFrame(
        [(float(i), float(-i)) for i in range(10)], "x DOUBLE, y DOUBLE"
    )
    assert stats.spearman(rev, "x", "y").collect()[0]["spearman"] == -1.0
    # null / NaN rows on either side are excluded
    withnull = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (3.0, None), (None, 4.0),
         (float("nan"), 5.0), (5.0, 6.0)],
        "x DOUBLE, y DOUBLE",
    )
    r = stats.spearman(withnull, "x", "y").collect()[0]
    assert r["n"] == 3 and r["spearman"] == 1.0


def test_mad_matches_statistics_median(spark):
    """Grouped median/MAD equal the stdlib reference on odd AND even
    group sizes, keep the NULL group, and shrug off a catastrophic
    outlier that would wreck mean/stddev."""
    import random
    import statistics

    from getl_spark.functions import stats

    rnd = random.Random(9)
    rows = []
    for g in ("a", "b", None):
        for _ in range(151 if g == "a" else 200):
            rows.append((g, round(rnd.gauss(5 if g == "a" else 0, 3), 1)))
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE")
    got = {r["g"]: r for r in stats.mad(df, "x", group_by="g").collect()}
    for g in ("a", "b", None):
        vals = [x for gg, x in rows if gg == g]
        med = statistics.median(vals)
        m = statistics.median([abs(v - med) for v in vals])
        assert got[g]["n"] == len(vals)
        assert got[g]["median"] == pytest.approx(med, abs=1e-9)
        assert got[g]["mad"] == pytest.approx(m, abs=1e-9)
    base = [(float(i),) for i in range(1, 101)]
    r0 = stats.mad(spark.createDataFrame(base, "x DOUBLE"), "x").collect()[0]
    r1 = stats.mad(
        spark.createDataFrame(base + [(1e12,)], "x DOUBLE"), "x"
    ).collect()[0]
    assert r0["median"] == 50.5  # even count interpolates
    assert r1["median"] == 51.0 and r1["mad"] == pytest.approx(25.0)


def test_mad_degenerate(spark):
    from getl_spark.functions import stats

    one = spark.createDataFrame([(7.0,)], "x DOUBLE")
    r = stats.mad(one, "x").collect()[0]
    assert (r["n"], r["median"], r["mad"]) == (1, 7.0, 0.0)
    # nulls and NaNs excluded; all-tied values -> mad 0
    t = spark.createDataFrame(
        [(2.0,), (2.0,), (None,), (float("nan"),)], "x DOUBLE"
    )
    r = stats.mad(t, "x").collect()[0]
    assert (r["n"], r["median"], r["mad"]) == (2, 2.0, 0.0)


def test_cohens_kappa_matches_definition(spark):
    """Kappa equals the exhaustive confusion-matrix computation per
    group; a noisier judge gets a visibly lower kappa."""
    import random
    from collections import Counter

    from getl_spark.functions import stats

    rnd = random.Random(13)
    rows = []
    for g in ("x", "y"):
        for _ in range(300):
            truth = rnd.choice("ABC")
            a = truth if rnd.random() < 0.8 else rnd.choice("ABC")
            b = truth if rnd.random() < (0.7 if g == "x" else 0.3) else rnd.choice("ABC")
            rows.append((g, a, b))
    df = spark.createDataFrame(rows, "g STRING, a STRING, b STRING")

    def ref(pairs):
        n = len(pairs)
        po = sum(1 for a, b in pairs if a == b) / n
        ca = Counter(a for a, _ in pairs)
        cb = Counter(b for _, b in pairs)
        pe = sum(ca[c] * cb.get(c, 0) for c in ca) / n**2
        return po, pe, (po - pe) / (1 - pe)

    got = {
        r["g"]: r
        for r in stats.cohens_kappa(df, "a", "b", group_by="g").collect()
    }
    for g in ("x", "y"):
        po, pe, k = ref([(a, b) for gg, a, b in rows if gg == g])
        assert got[g]["observed_agreement"] == pytest.approx(po, abs=1e-6)
        assert got[g]["expected_agreement"] == pytest.approx(pe, abs=1e-6)
        assert got[g]["kappa"] == pytest.approx(k, abs=1e-6)
    assert got["x"]["kappa"] > got["y"]["kappa"]


def test_cohens_kappa_edges(spark):
    from getl_spark.functions import stats

    perfect = spark.createDataFrame(
        [("A", "A"), ("B", "B"), ("A", "A")], "a STRING, b STRING"
    )
    assert stats.cohens_kappa(perfect, "a", "b").collect()[0]["kappa"] == 1.0
    # both raters constant and identical: p_e = 1, kappa undefined
    const = spark.createDataFrame([("A", "A"), ("A", "A")], "a STRING, b STRING")
    r = stats.cohens_kappa(const, "a", "b").collect()[0]
    assert r["kappa"] is None and r["observed_agreement"] == 1.0
    # abstentions (nulls) excluded; disjoint label sets -> pe 0, po 0
    nulls = spark.createDataFrame(
        [("A", "B"), ("B", "A"), ("A", None), (None, "B")],
        "a STRING, b STRING",
    )
    r = stats.cohens_kappa(nulls, "a", "b").collect()[0]
    assert r["n"] == 2
    # worse-than-chance disagreement goes negative
    anti = spark.createDataFrame(
        [("A", "B"), ("B", "A"), ("A", "B"), ("B", "A")], "a STRING, b STRING"
    )
    assert stats.cohens_kappa(anti, "a", "b").collect()[0]["kappa"] < 0


def test_cusum_equals_sequential_recurrence(spark):
    """The two-prefix-scan closed form equals Page's sequential
    max-recurrence row for row; alarms fire only on the drifting
    stream, shortly after onset."""
    import random

    from getl_spark.functions import stats

    rnd = random.Random(2)
    rows = []
    for g, drift in (("drifty", 1.0), ("flat", 0.0)):
        for i in range(400):
            mu = drift if (g == "drifty" and i >= 200) else 0.0
            rows.append((g, i, round(rnd.gauss(mu, 1.0), 2)))
    df = spark.createDataFrame(rows, "g STRING, i INT, x DOUBLE")
    got = stats.cusum(
        df, "x", "i", group_by="g", target=0.0, slack=0.5, threshold=8.0
    )
    res = {(r["g"], r["i"]): r for r in got.collect()}

    def ref(series, target, k):
        su = sd = 0.0
        out = []
        for v in series:
            su = max(0.0, su + v - target - k)
            sd = max(0.0, sd - (v - target) - k)
            out.append((su, sd))
        return out

    for g in ("drifty", "flat"):
        series = [x for gg, i, x in sorted(rows) if gg == g]
        for i, (su, sd) in enumerate(ref(series, 0.0, 0.5)):
            assert res[(g, i)]["cusum_up"] == pytest.approx(su, abs=1e-6)
            assert res[(g, i)]["cusum_down"] == pytest.approx(sd, abs=1e-6)
    alarms = [(g, i) for (g, i), r in res.items() if r["alarm_up"]]
    assert alarms and all(g == "drifty" and i >= 200 for g, i in alarms)
    # downward drift triggers the mirror statistic
    down = [(g, i) for (g, i), r in res.items() if r["alarm_down"]]
    assert not down  # no downward shift anywhere in this fixture


def test_cusum_default_target_is_group_mean_and_nulls(spark):
    from getl_spark.functions import stats

    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, 3.0), ("a", 2, None),
         ("a", 3, float("nan")), ("a", 4, 2.0)],
        "g STRING, i INT, x DOUBLE",
    )
    # mean of (1, 3, 2) = 2.0 -> steps (-1, +1, 0), no slack
    out = {r["i"]: r for r in stats.cusum(df, "x", "i", group_by="g").collect()}
    assert sorted(out) == [0, 1, 4]  # NULL/NaN rows excluded
    assert out[0]["cusum_up"] == 0.0 and out[0]["cusum_down"] == 1.0
    assert out[1]["cusum_up"] == 1.0 and out[1]["cusum_down"] == 0.0
    assert out[4]["cusum_up"] == 1.0 and out[4]["cusum_down"] == 0.0
    # no threshold -> no alarm columns
    assert "alarm_up" not in stats.cusum(df, "x", "i").columns


def test_grouped_prefix_scan_min_max_matches_window(spark):
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from getl_spark.common.scale import grouped_prefix_scan

    rng = random.Random(31)
    rows = [
        (rng.choice(["a", "b", None]), i, rng.randrange(-50, 50))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "k string, i long, v long").repartition(16)
    w = (
        Window.partitionBy("k").orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r.k, r.i): (r.cs, r.cmin, r.cmax)
        for r in df.withColumn("cs", F.sum("v").over(w))
        .withColumn("cmin", F.min("v").over(w))
        .withColumn("cmax", F.max("v").over(w))
        .collect()
    }
    got = {
        (r.k, r.i): (r.cs, r.cmin, r.cmax)
        for r in grouped_prefix_scan(
            df, ["k"], ["i"], ["v", "v", "v"], ["cs", "cmin", "cmax"],
            fn=["sum", "min", "max"],
        ).collect()
    }
    assert got == want
    with pytest.raises(ValueError, match="unsupported fn"):
        grouped_prefix_scan(df, ["k"], ["i"], "v", "c", fn="avg")
    with pytest.raises(ValueError, match="pair up"):
        grouped_prefix_scan(df, ["k"], ["i"], ["v", "v"], ["c", "d"], fn=["min"])


def test_reliability_bins_match_ece_decomposition(spark):
    """The per-bin table reproduces ece when folded by hand; empty
    bins are absent; the [0,1] guard fires on logits."""
    import random

    from getl_spark.functions import stats

    rnd = random.Random(21)
    rows = []
    for _ in range(2000):
        s = rnd.random()
        # overconfident scorer: true rate is s**1.5
        rows.append((round(s, 3), 1 if rnd.random() < s**1.5 else 0))
    df = spark.createDataFrame(rows, "s DOUBLE, y INT")
    binsdf = {r["bin"]: r for r in stats.reliability_bins(df, "s", "y").collect()}
    ece_row = stats.ece(df, "s", "y").collect()[0]
    n_tot = sum(r["n"] for r in binsdf.values())
    folded = sum(
        r["n"] * abs(r["accuracy"] - r["confidence"]) for r in binsdf.values()
    ) / n_tot
    assert folded == pytest.approx(ece_row["ece"], abs=1e-5)
    assert n_tot == ece_row["n"]
    # an overconfident scorer shows positive gaps in the upper bins
    assert binsdf[max(binsdf)]["gap"] > 0
    # score exactly 1.0 lands in the last bin, not bin==bins
    one = spark.createDataFrame([(1.0, 1), (0.0, 0)], "s DOUBLE, y INT")
    b = {r["bin"] for r in stats.reliability_bins(one, "s", "y", bins=5).collect()}
    assert b == {0, 4}
    bad = spark.createDataFrame([(1.5, 1)], "s DOUBLE, y INT")
    with pytest.raises(Exception):
        stats.reliability_bins(bad, "s", "y").collect()
    with pytest.raises(ValueError, match="bins"):
        stats.reliability_bins(one, "s", "y", bins=0)


def test_quantiles_match_type7_reference(spark):
    """Exact grouped quantiles equal the R type-7 (numpy/quantile_cont)
    interpolation at every q, including the 0/1 extremes and odd/even
    group sizes."""
    import math
    import random

    from getl_spark.functions import stats

    rnd = random.Random(17)
    rows = [
        (g, round(rnd.gauss(0, 10), 1))
        for g in ("a", "b")
        for _ in range(501 if g == "a" else 400)
    ]
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE")
    qs = [0.0, 0.1, 0.25, 0.5, 0.9, 0.99, 1.0]

    def type7(vals, q):
        s = sorted(vals)
        h = (len(s) - 1) * q
        lo = math.floor(h)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (h - lo) * (s[hi] - s[lo])

    got = {
        (r["g"], r["q"]): r
        for r in stats.quantiles(df, "x", qs, group_by="g").collect()
    }
    for g in ("a", "b"):
        vals = [x for gg, x in rows if gg == g]
        for q in qs:
            assert got[(g, q)]["quantile"] == pytest.approx(
                type7(vals, q), abs=1e-6
            )
            assert got[(g, q)]["n"] == len(vals)
    # median agrees with stats.mad's median machinery
    med = {r["g"]: r["median"] for r in stats.mad(df, "x", group_by="g").collect()}
    for g in ("a", "b"):
        assert got[(g, 0.5)]["quantile"] == pytest.approx(med[g], abs=1e-6)


def test_quantiles_validation_and_edges(spark):
    from getl_spark.functions import stats

    one = spark.createDataFrame([(7.0,), (None,), (float("nan"),)], "x DOUBLE")
    rows = stats.quantiles(one, "x", [0.0, 0.5, 1.0]).collect()
    assert {r["quantile"] for r in rows} == {7.0} and all(r["n"] == 1 for r in rows)
    with pytest.raises(ValueError, match="qs"):
        stats.quantiles(one, "x", [])
    with pytest.raises(ValueError, match="qs"):
        stats.quantiles(one, "x", [-0.1])


def test_gini_matches_rank_identity(spark):
    """Gini equals the exhaustive sorted-rank identity with heavy
    ties; a Pareto-ish distribution scores above a uniform one."""
    import random

    from getl_spark.functions import stats

    rnd = random.Random(3)
    rows = [("a", float(rnd.randrange(0, 50))) for _ in range(400)] + [
        ("b", float(int(rnd.paretovariate(1.2) * 10))) for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE")

    def ref(vals):
        s = sorted(vals)
        n, tot = len(s), sum(s)
        return 2 * sum((i + 1) * v for i, v in enumerate(s)) / (n * tot) - (
            n + 1
        ) / n

    got = {r["g"]: r for r in stats.gini(df, "x", group_by="g").collect()}
    for g in ("a", "b"):
        vals = [x for gg, x in rows if gg == g]
        assert got[g]["gini"] == pytest.approx(ref(vals), abs=1e-6)
        assert got[g]["n"] == 400
    assert got["b"]["gini"] > got["a"]["gini"]


def test_gini_edges_and_guard(spark):
    from getl_spark.functions import stats

    eq = spark.createDataFrame([(5.0,)] * 10, "x DOUBLE")
    assert stats.gini(eq, "x").collect()[0]["gini"] == 0.0
    onehot = spark.createDataFrame([(0.0,)] * 9 + [(10.0,)], "x DOUBLE")
    assert stats.gini(onehot, "x").collect()[0]["gini"] == pytest.approx(0.9)
    # zero total or a single row -> NULL
    z = spark.createDataFrame([(0.0,), (0.0,)], "x DOUBLE")
    assert stats.gini(z, "x").collect()[0]["gini"] is None
    one = spark.createDataFrame([(3.0,)], "x DOUBLE")
    assert stats.gini(one, "x").collect()[0]["gini"] is None
    with pytest.raises(Exception, match="non-negative"):
        stats.gini(
            spark.createDataFrame([(-1.0,)], "x DOUBLE"), "x"
        ).collect()


def test_autocorrelation_matches_biased_estimator(spark):
    """ACF equals the statsmodels-style biased estimator at every lag;
    a 7-periodic series lights up rho(7), white noise does not."""
    import math
    import random

    from getl_spark.functions import stats

    rnd = random.Random(8)
    rows = []
    for g, period in (("weekly", 7), ("noise", 0)):
        for i in range(200):
            v = (
                math.sin(2 * math.pi * i / period) + rnd.gauss(0, 0.2)
                if period
                else rnd.gauss(0, 1)
            )
            rows.append((g, i, round(v, 3)))
    df = spark.createDataFrame(rows, "g STRING, i INT, x DOUBLE")
    got = {
        (r["g"], r["lag"]): r
        for r in stats.autocorrelation(
            df, "x", "i", lags=[1, 7], group_by="g"
        ).collect()
    }

    def ref(series, k):
        n = len(series)
        mean = sum(series) / n
        ss = sum((v - mean) ** 2 for v in series)
        return sum(
            (series[t] - mean) * (series[t + k] - mean) for t in range(n - k)
        ) / ss

    for g in ("weekly", "noise"):
        series = [x for gg, i, x in sorted(rows) if gg == g]
        for k in (1, 7):
            assert got[(g, k)]["acf"] == pytest.approx(
                ref(series, k), abs=1e-6
            )
            assert got[(g, k)]["n"] == 200
    assert got[("weekly", 7)]["acf"] > 0.7
    assert abs(got[("noise", 7)]["acf"]) < 0.2


def test_autocorrelation_edges(spark):
    from getl_spark.functions import stats

    # constant -> NULL; NULL/NaN rows close up the series
    c = spark.createDataFrame([(i, 5.0) for i in range(10)], "i INT, x DOUBLE")
    assert stats.autocorrelation(c, "x", "i").collect()[0]["acf"] is None
    gap = spark.createDataFrame(
        [(0, 1.0), (1, None), (2, 2.0), (3, float("nan")), (4, 3.0), (5, 4.0)],
        "i INT, x DOUBLE",
    )
    r = stats.autocorrelation(gap, "x", "i", lags=[1]).collect()[0]
    # closed-up series 1,2,3,4: cross = .75-.25+.75 = 1.25, ss = 5
    assert (r["n"], r["acf"]) == (4, 0.25)
    with pytest.raises(ValueError, match="lags"):
        stats.autocorrelation(c, "x", "i", lags=[0])


# ------------------------------------------------------------ ab_segments
def test_ab_segments_matches_numpy_welch(spark):
    """Differential vs a numpy Welch z per segment."""
    import math

    import numpy as np

    rng = np.random.RandomState(11)
    rows = []
    for seg, (mu_c, mu_t) in {"en": (1.0, 1.3), "de": (2.0, 1.9)}.items():
        for v in rng.normal(mu_c, 1.0, 80):
            rows.append((seg, "control", round(float(v), 3)))
        for v in rng.normal(mu_t, 1.2, 60):
            rows.append((seg, "treatment", round(float(v), 3)))
    from getl_spark.functions import stats as S

    df = spark.createDataFrame(rows, "seg STRING, grp STRING, v DOUBLE")
    got = {
        r.seg: r
        for r in S.ab_segments(
            df, "grp", "v", "control", "treatment", "seg"
        ).collect()
    }
    arr = np.array(rows, dtype=object)
    for seg in ("en", "de"):
        c = np.array([float(v) for s, g, v in rows if s == seg and g == "control"])
        t = np.array([float(v) for s, g, v in rows if s == seg and g == "treatment"])
        se = math.sqrt(t.var(ddof=1) / len(t) + c.var(ddof=1) / len(c))
        z = (t.mean() - c.mean()) / se
        row = got[seg]
        assert row.n_control == len(c) and row.n_treatment == len(t)
        assert abs(row.z - z) < 1e-4
        assert abs(row.diff - (t.mean() - c.mean())) < 1e-5
        p = math.erfc(abs(z) / math.sqrt(2))
        assert abs(row.p_value - p) < 1e-5


def test_ab_segments_degenerate_cells_are_null_not_fatal(spark):
    from getl_spark.functions import stats as S

    df = spark.createDataFrame(
        [
            ("big", "control", 1.0),
            ("big", "control", 2.0),
            ("big", "treatment", 3.0),
            ("big", "treatment", 5.0),
            ("tiny", "control", 1.0),   # single-row arm: var undefined
            ("tiny", "treatment", 2.0),
            ("onearm", "control", 4.0),  # treatment absent entirely
            ("onearm", "control", 6.0),
        ],
        "seg STRING, grp STRING, v DOUBLE",
    )
    out = {
        r.seg: r
        for r in S.ab_segments(
            df, "grp", "v", "control", "treatment", "seg"
        ).collect()
    }
    assert len(out) == 3
    assert out["big"].p_value is not None
    assert out["tiny"].z is None and out["tiny"].n_control == 1
    assert out["onearm"].n_treatment == 0 and out["onearm"].p_value is None


def test_ab_segments_single_segment_matches_ab_compare(spark):
    import numpy as np

    from getl_spark.functions import stats as S

    rng = np.random.RandomState(5)
    rows = [("all", "control", round(float(v), 2)) for v in rng.rand(50)] + [
        ("all", "treatment", round(float(v) + 0.2, 2)) for v in rng.rand(40)
    ]
    df = spark.createDataFrame(rows, "seg STRING, grp STRING, v DOUBLE")
    seg = S.ab_segments(df, "grp", "v", "control", "treatment", "seg").first()
    ab = S.ab_compare(df, "grp", "v", "control", "treatment").first()
    for f in ("n_control", "n_treatment", "mean_control", "mean_treatment",
              "diff", "rel_diff", "stderr", "z", "p_value"):
        assert getattr(seg, f) == getattr(ab, f), f


# ------------------------------------------------------------------ trend
def test_trend_matches_numpy_polyfit(spark):
    import datetime

    import numpy as np

    from getl_spark.functions import stats as S

    rng = np.random.RandomState(7)
    rows = []
    base = datetime.datetime(2024, 3, 1)
    counts = {}
    for d in range(30):
        n = 100 + 3 * d + int(rng.randint(0, 10))  # rising with noise
        counts[d] = n
        for i in range(n):
            rows.append((base + datetime.timedelta(days=d, seconds=i), "up"))
    for d in range(10):
        for i in range(50 - 4 * d):
            rows.append((base + datetime.timedelta(days=d, seconds=i), "down"))
    df = spark.createDataFrame(rows, "ts TIMESTAMP, g STRING")
    out = {r.g: r for r in S.trend(df, "ts", group_by="g").collect()}
    xs = np.array(sorted(counts), dtype=float)
    ys = np.array([counts[int(d)] for d in xs], dtype=float)
    slope_ref = np.polyfit(xs, ys, 1)[0]
    r = out["up"]
    assert r.n_days == 30
    assert abs(r.slope_per_day - slope_ref) < 1e-6
    corr = np.corrcoef(xs, ys)[0, 1]
    assert abs(r.r2 - corr * corr) < 1e-6
    assert out["down"].slope_per_day == -4.0 and out["down"].r2 == 1.0


def test_trend_sum_metric_and_degenerate_days(spark):
    from getl_spark.functions import stats as S

    df = spark.createDataFrame(
        [
            ("2024-01-01 10:00:00", "a", 2.0),
            ("2024-01-02 10:00:00", "a", 6.0),
            ("2024-01-03 10:00:00", "a", 10.0),
            ("2024-01-01 00:00:00", "single", 5.0),
            (None, "single", 9.0),  # null ts excluded
        ],
        "ts STRING, g STRING, v DOUBLE",
    ).selectExpr("CAST(ts AS TIMESTAMP) ts", "g", "v")
    out = {r.g: r for r in S.trend(df, "ts", "g", value_col="v").collect()}
    assert out["a"].slope_per_day == 4.0 and out["a"].r2 == 1.0
    s = out["single"]
    assert s.n_days == 1 and s.slope_per_day is None and s.r2 is None
    assert s.mean_per_day == 5.0


# -------------------------------------------------------------- cramers_v
def test_cramers_v_matches_hand_chi2(spark):
    """Differential vs an explicit dense-contingency chi2 in numpy."""
    import numpy as np

    from getl_spark.functions import stats as S

    rng = np.random.RandomState(3)
    langs = ["en", "de", "fr"]
    hosts = ["a.com", "b.org", "c.net", "d.io"]
    rows = []
    for _ in range(2000):
        li = int(rng.randint(0, 3))
        # hosts skewed by lang -> real association
        hi = int(min(3, max(0, li + rng.randint(-1, 2))))
        rows.append((langs[li], hosts[hi]))
    df = spark.createDataFrame(rows, "lang STRING, host STRING")
    got = S.cramers_v(df, "lang", "host").first()
    obs = np.zeros((3, 4))
    for l, h in rows:
        obs[langs.index(l), hosts.index(h)] += 1
    obs = obs[obs.sum(axis=1) > 0][:, obs.sum(axis=0) > 0]
    n = obs.sum()
    e = np.outer(obs.sum(axis=1), obs.sum(axis=0)) / n
    chi2 = ((obs - e) ** 2 / e).sum()
    r, c = obs.shape
    assert got.n == 2000 and got.r == r and got.c == c
    assert abs(got.chi2 - chi2) < 1e-6
    assert got.dof == (r - 1) * (c - 1)
    assert abs(got.v - np.sqrt(chi2 / (n * (min(r, c) - 1)))) < 5e-7


def test_cramers_v_independent_determined_and_degenerate(spark):
    from getl_spark.functions import stats as S

    # perfectly determined: b == a  ->  v = 1
    det = spark.createDataFrame(
        [(x, x) for x in "aabbcc"], "a STRING, b STRING"
    )
    assert S.cramers_v(det, "a", "b").first().v == 1.0
    # independent uniform 2x2 -> chi2 = 0, v = 0
    ind = spark.createDataFrame(
        [(a, b) for a in "xy" for b in "uv" for _ in range(5)],
        "a STRING, b STRING",
    )
    row = S.cramers_v(ind, "a", "b").first()
    assert row.chi2 == 0.0 and row.v == 0.0
    # single-level column -> v NULL, NULL categories excluded
    deg = spark.createDataFrame(
        [("k", "p"), ("k", "q"), (None, "p")], "a STRING, b STRING"
    )
    d = S.cramers_v(deg, "a", "b").first()
    assert d.n == 2 and d.r == 1 and d.v is None and d.dof == 0
    # grouped: per-group association
    grp = spark.createDataFrame(
        [("g1", x, x) for x in "aabb"] + [("g2", a, b) for a in "ab" for b in "pq"],
        "g STRING, a STRING, b STRING",
    )
    out = {r.g: r for r in S.cramers_v(grp, "a", "b", group_by="g").collect()}
    assert out["g1"].v == 1.0 and out["g2"].v == 0.0


# -------------------------------------------------------------- bh_adjust
def _np_bh(ps):
    """Independent reference: statsmodels-style BH adjusted p-values."""
    import numpy as np

    p = np.asarray(ps, dtype=float)
    m = len(p)
    order = np.argsort(p, kind="mergesort")
    ranked = p[order] * m / (np.arange(m) + 1)
    adj = np.minimum.accumulate(ranked[::-1])[::-1]
    out = np.empty(m)
    out[order] = np.minimum(adj, 1.0)
    return out


def test_bh_adjust_matches_reference(spark):
    import numpy as np

    from getl_spark.functions import stats as S

    rng = np.random.RandomState(6)
    # mix of true nulls (uniform) and signals (tiny p), with ties
    ps = np.concatenate(
        [rng.rand(300).round(3), rng.rand(20) * 1e-4, [0.5, 0.5, 0.5]]
    )
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(ps)], "test_id LONG, p DOUBLE"
    )
    out = {r.test_id: r for r in S.bh_adjust(df, "p", q=0.05).collect()}
    ref = _np_bh(ps)
    assert len(out) == len(ps)
    for i, v in enumerate(ps):
        assert abs(out[i].p_adj - round(min(ref[i], 1.0), 6)) < 5e-7, i
        assert out[i].discovery == (out[i].p_adj <= 0.05)
    # all planted signals discovered, vast majority of nulls not
    assert all(out[i].discovery for i in range(300, 320))
    assert sum(out[i].discovery for i in range(300)) < 15


def test_bh_adjust_grouped_nulls_and_guard(spark):
    import pytest as _pytest

    from getl_spark.functions import stats as S

    df = spark.createDataFrame(
        [
            ("a", 0.01),
            ("a", 0.02),
            ("a", 0.9),
            ("b", 0.04),
            ("b", None),
        ],
        "g STRING, p DOUBLE",
    )
    out = S.bh_adjust(df, "p", q=0.05, group_by="g").collect()
    rows = {(r.g, r.p): r for r in out}
    # group a: m=3 -> adj = min over step-up: 0.01*3/1=.03, .02*3/2=.03, .9
    assert rows[("a", 0.01)].p_adj == 0.03 and rows[("a", 0.01)].discovery
    assert rows[("a", 0.02)].p_adj == 0.03 and rows[("a", 0.02)].discovery
    assert rows[("a", 0.9)].p_adj == 0.9 and not rows[("a", 0.9)].discovery
    # group b independent: m=1
    assert rows[("b", 0.04)].p_adj == 0.04 and rows[("b", 0.04)].discovery
    nullrow = rows[("b", None)]
    assert nullrow.p_adj is None and nullrow.discovery is None
    bad = spark.createDataFrame([("x", 1.5)], "g STRING, p DOUBLE")
    with _pytest.raises(Exception, match="0, 1"):
        S.bh_adjust(bad, "p").collect()


def test_bh_adjust_bounded_matches_full_path(spark):
    """The bounded-frame BH used by dunn_test/mcnemar_pairs must be
    value-identical to bh_adjust on the same p set — ties, NULLs, and
    the out-of-range guard included (r13 optimization: the bounded
    path replaces two prefix-scan machineries + a re-evaluating join
    with three in-line global windows)."""
    import numpy as np
    import pytest as _pytest

    from getl_spark.functions import stats as S

    rng = np.random.RandomState(11)
    ps = list(rng.rand(25).round(2)) + [0.5, 0.5, None, 0.007]
    df = spark.createDataFrame(
        [(i, v if v is None else float(v)) for i, v in enumerate(ps)],
        "test_id LONG, p DOUBLE",
    )
    full = {r.test_id: r for r in S.bh_adjust(df, "p").collect()}
    fast = {r.test_id: r for r in S._bh_adjust_bounded(df, "p").collect()}
    assert set(full) == set(fast) == set(range(len(ps)))
    for i in full:
        assert full[i].p_adj == fast[i].p_adj, i
        assert full[i].discovery == fast[i].discovery, i
    bad = spark.createDataFrame([(1, 1.5)], "test_id LONG, p DOUBLE")
    with _pytest.raises(Exception, match="0, 1"):
        S._bh_adjust_bounded(bad, "p").collect()


def test_mcnemar_pairs_duplicate_items_cross_semantics(spark):
    """The r13 array-expansion rewrite of mcnemar_pairs must keep the
    self-join's cross-product semantics for duplicated (item, model)
    rows — every copy of model A pairs with every copy of model B
    within an item — and items missing a model simply contribute no
    pair for it."""
    from getl_spark.functions import stats as S

    rows = [
        # item 1: m1 duplicated (2 copies) -> 2 (m1,m2) pairs
        (1, "m1", 1),
        (1, "m1", 0),
        (1, "m2", 0),
        # item 2: complete single panel
        (2, "m1", 0),
        (2, "m2", 1),
        # item 3: only m1 -> no pairs at all
        (3, "m1", 1),
    ]
    df = spark.createDataFrame(rows, "item LONG, model STRING, y INT")
    out = {(r.model_a, r.model_b): r for r in
           S.mcnemar_pairs(df, "item", "model", "y").collect()}
    assert set(out) == {("m1", "m2")}
    r = out[("m1", "m2")]
    # pairs: item1 (1,0),(0,0); item2 (0,1) -> n=3, only_a=1, only_b=1
    assert r.n_pairs == 3 and r.only_a == 1 and r.only_b == 1


def test_mcnemar_pairs_model_cap_guard(spark):
    """The k² pair expansion runs inside a single row, so an item with
    an oversized model list must raise (fail-loud skew guard), not
    silently stall one task; under the cap results are unchanged."""
    import pytest

    from getl_spark.functions import stats as S

    rows = [(1, f"m{i}", i % 2) for i in range(6)] + [(2, "m0", 1), (2, "m1", 0)]
    df = spark.createDataFrame(rows, "item LONG, model STRING, y INT")
    ok = S.mcnemar_pairs(df, "item", "model", "y", max_models_per_item=6)
    assert ok.count() == 15  # 6 choose 2 pairs
    with pytest.raises(Exception, match="max_models_per_item"):
        S.mcnemar_pairs(
            df, "item", "model", "y", max_models_per_item=5
        ).collect()


def test_proportion_ci_wilson_closed_form(spark):
    """Grouped Wilson bounds match the closed form, never escape
    [0,1] at extreme small-n rates, and NULLs stay out of n."""
    from getl_spark.functions import stats

    def wilson(s, n, z=1.959964):
        p = s / n
        denom = 1 + z * z / n
        center = (p + z * z / (2 * n)) / denom
        half = z * ((p * (1 - p) / n + z * z / (4 * n * n)) ** 0.5) / denom
        return round(center - half, 6), round(center + half, 6)

    rows = (
        [("a", True)] * 30 + [("a", False)] * 70
        + [("b", True)] * 3 + [("b", False)] * 0
        + [("c", True)] * 0 + [("c", False)] * 5
        + [("a", None)]
    )
    df = spark.createDataFrame(rows, "g STRING, ok BOOLEAN")
    out = {r.g: r for r in stats.proportion_ci(df, "ok", ["g"]).collect()}
    assert (out["a"].n, out["a"].successes, out["a"].rate) == (100, 30, 0.3)
    assert (out["a"].ci_lo, out["a"].ci_hi) == wilson(30, 100)
    # all-success and all-failure small groups: bounds stay in [0,1]
    assert (out["b"].n, out["b"].rate) == (3, 1.0)
    assert (out["b"].ci_lo, out["b"].ci_hi) == wilson(3, 3)
    assert 0.0 <= out["b"].ci_lo < 1.0 and out["b"].ci_hi == 1.0
    assert (out["c"].rate, out["c"].ci_lo) == (0.0, 0.0)
    assert 0.0 < out["c"].ci_hi < 1.0

    # ungrouped; empty input -> zeros with NULL rate/bounds
    g = stats.proportion_ci(df, "ok").collect()[0]
    assert (g.n, g.successes) == (108, 33)
    e = stats.proportion_ci(
        spark.createDataFrame([], "g STRING, ok BOOLEAN"), "ok"
    ).collect()[0]
    assert (e.n, e.successes, e.rate, e.ci_lo) == (0, 0, None, None)


def test_tost_equivalence_closed_form(spark):
    """p_lower/p_upper match the Welch-z one-sided closed form
    (math.erf reference); equivalence flips with the margin; guards
    fail loud."""
    import math
    import random

    from getl_spark.functions import stats

    rnd = random.Random(9)
    rows = [("c", rnd.gauss(10.0, 2.0)) for _ in range(400)] + [
        ("t", rnd.gauss(10.05, 2.0)) for _ in range(450)
    ]
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE")

    def ref(margin):
        c = [x for g, x in rows if g == "c"]
        t = [x for g, x in rows if g == "t"]
        mc, mt = sum(c) / len(c), sum(t) / len(t)
        vc = sum((x - mc) ** 2 for x in c) / (len(c) - 1)
        vt = sum((x - mt) ** 2 for x in t) / (len(t) - 1)
        se = (vt / len(t) + vc / len(c)) ** 0.5
        phi = lambda z: 0.5 * (1 + math.erf(z / 2**0.5))
        d = mt - mc
        return 1 - phi((d + margin) / se), phi((d - margin) / se), d, se

    # wide margin: provably equivalent
    r = stats.tost_equivalence(df, "g", "x", "c", "t", margin=0.8).collect()[0]
    p_lo, p_hi, d, se = ref(0.8)
    assert r["diff"] == pytest.approx(round(d, 6))
    assert r["stderr"] == pytest.approx(round(se, 6))
    assert r["p_lower"] == pytest.approx(p_lo, abs=2e-6)
    assert r["p_upper"] == pytest.approx(p_hi, abs=2e-6)
    assert r["p_tost"] == max(r["p_lower"], r["p_upper"])
    assert r["equivalent"] is True and r["p_tost"] < 0.05

    # margin narrower than the noise: cannot prove equivalence
    r2 = stats.tost_equivalence(df, "g", "x", "c", "t", margin=0.05).collect()[0]
    assert r2["equivalent"] is False and r2["p_tost"] > 0.05

    with pytest.raises(ValueError, match="margin"):
        stats.tost_equivalence(df, "g", "x", "c", "t", margin=0)
    with pytest.raises(Exception, match="arm is empty"):
        stats.tost_equivalence(
            spark.createDataFrame([("t", 1.0), ("t", 2.0)], "g STRING, x DOUBLE"),
            "g", "x", "c", "t", margin=1.0,
        ).collect()


def test_kappa_matrix_finds_the_drifting_judge(spark):
    """Three judges, two agree almost always, the third is noise: the
    matrix isolates the bad pairs; per-pair values equal cohens_kappa
    on the manually-paired frame; the judge-cardinality guard trips."""
    import random

    from getl_spark.functions import stats

    rnd = random.Random(21)
    rows = []
    for item in range(300):
        truth = rnd.choice(["yes", "no"])
        rows.append((item, "alpha", truth))
        rows.append(
            (item, "beta", truth if rnd.random() < 0.95 else
             ("no" if truth == "yes" else "yes"))
        )
        rows.append((item, "gamma", rnd.choice(["yes", "no"])))
    # beta abstains on some items: absent rows, pair computed on overlap
    rows = [r for r in rows if not (r[1] == "beta" and r[0] % 50 == 0)]
    df = spark.createDataFrame(rows, "item LONG, judge STRING, label STRING")
    out = {(r.judge_a, r.judge_b): r for r in stats.kappa_matrix(
        df, "item", "judge", "label").collect()}
    assert set(out) == {("alpha", "beta"), ("alpha", "gamma"), ("beta", "gamma")}
    ab = out[("alpha", "beta")]
    assert ab.n == 294 and ab.kappa > 0.8           # 300 items - 6 abstentions
    assert out[("alpha", "gamma")].kappa < 0.2      # noise judge exposed
    assert out[("beta", "gamma")].kappa < 0.2

    # per-pair value == cohens_kappa over the manually paired frame
    a = {(i): l for i, j, l in rows if j == "alpha"}
    b = {(i): l for i, j, l in rows if j == "beta"}
    manual = spark.createDataFrame(
        [(a[i], b[i]) for i in a if i in b], "la STRING, lb STRING"
    )
    ref = stats.cohens_kappa(manual, "la", "lb").collect()[0]
    assert (ab.observed_agreement, ab.expected_agreement, ab.kappa) == (
        ref.observed_agreement, ref.expected_agreement, ref.kappa)

    with pytest.raises(ValueError, match="max_judges"):
        stats.kappa_matrix(df, "item", "item", "label", max_judges=8)


def test_cuped_matches_closed_form_and_cuts_variance(spark):
    """theta/diff/z match a plain-python reference; the adjustment
    removes ~r^2 of the variance and tightens the SE vs ab_compare;
    complete-case rows only; guards fail loud."""
    import math
    import random

    from getl_spark.functions import stats

    rnd = random.Random(13)
    rows = []
    for i in range(800):
        arm = "t" if i % 2 == 0 else "c"
        x = rnd.gauss(50.0, 10.0)                       # pre-period metric
        y = 2.0 * x + rnd.gauss(0.0, 5.0) + (1.0 if arm == "t" else 0.0)
        rows.append((arm, y, x))
    rows += [("c", None, 1.0), ("t", 5.0, None)]        # incomplete cases
    df = spark.createDataFrame(rows, "g STRING, y DOUBLE, x DOUBLE")
    r = stats.cuped(df, "g", "y", "x", control="c", treatment="t").collect()[0]

    cc = [(yv, xv) for g, yv, xv in rows if g == "c" and None not in (yv, xv)]
    tt = [(yv, xv) for g, yv, xv in rows if g == "t" and None not in (yv, xv)]
    al = cc + tt

    def moments(pairs):
        n = len(pairs)
        my = sum(p[0] for p in pairs) / n
        mx = sum(p[1] for p in pairs) / n
        vy = sum((p[0] - my) ** 2 for p in pairs) / (n - 1)
        vx = sum((p[1] - mx) ** 2 for p in pairs) / (n - 1)
        cov = sum((p[1] - mx) * (p[0] - my) for p in pairs) / (n - 1)
        return n, my, mx, vy, vx, cov

    nc, myc, mxc, vyc, vxc, covc = moments(cc)
    nt, myt, mxt, vyt, vxt, covt = moments(tt)
    _, _, mxa, _, vxa, cova = moments(al)
    theta = cova / vxa
    diff = (myt - theta * (mxt - mxa)) - (myc - theta * (mxc - mxa))
    vac = vyc - 2 * theta * covc + theta * theta * vxc
    vat = vyt - 2 * theta * covt + theta * theta * vxt
    se = (vat / nt + vac / nc) ** 0.5

    assert (r["n_control"], r["n_treatment"]) == (nc, nt)
    assert r["theta"] == pytest.approx(round(theta, 6), abs=1e-6)
    assert r["diff"] == pytest.approx(round(diff, 6), abs=1e-5)
    assert r["stderr"] == pytest.approx(round(se, 6), abs=1e-5)
    assert r["z"] == pytest.approx(diff / se, abs=1e-3)
    # y = 2x + noise: the covariate explains ~r^2 = 1 - 25/(400+25)
    assert r["var_reduction"] == pytest.approx(1 - (vac + vat) / (vyc + vyt), abs=1e-6)
    assert r["var_reduction"] > 0.9
    # the +1 planted effect is detectable after adjustment
    assert r["p_value"] < 0.05

    with pytest.raises(Exception, match="cuped"):
        const = spark.createDataFrame(
            [("c", 1.0, 3.0), ("c", 2.0, 3.0), ("t", 1.5, 3.0), ("t", 2.5, 3.0)],
            "g STRING, y DOUBLE, x DOUBLE",
        )
        stats.cuped(const, "g", "y", "x", control="c", treatment="t").collect()


def test_classification_report_matches_sklearn_style_reference(spark):
    """Per-class precision/recall/F1 match a dict-based confusion
    reference, incl. a never-predicted class (NULL precision), a
    gold-absent hallucinated class (NULL recall), and NULL drops."""
    from collections import Counter

    from getl_spark.functions import stats

    import random
    rnd = random.Random(7)
    labels = ["cat", "dog", "bird"]
    rows = []
    for _ in range(500):
        g = rnd.choice(labels)
        # 'bird' is never predicted; 'fish' is hallucinated sometimes
        p = g if rnd.random() < 0.7 else rnd.choice(["cat", "dog", "fish"])
        if p == "bird":
            p = "cat"
        rows.append((g, p))
    rows += [(None, "cat"), ("dog", None)]
    df = spark.createDataFrame(rows, "gold STRING, pred STRING")
    out = {r.label: r for r in stats.classification_report(df, "gold", "pred").collect()}

    clean = [(g, p) for g, p in rows if g is not None and p is not None]
    n_gold = Counter(g for g, _ in clean)
    n_pred = Counter(p for _, p in clean)
    tp = Counter(g for g, p in clean if g == p)
    assert set(out) == set(n_gold) | set(n_pred)
    for lbl, r in out.items():
        assert (r.n_gold, r.n_pred, r.tp) == (n_gold[lbl], n_pred[lbl], tp[lbl])
        if n_pred[lbl]:
            assert r.precision == round(tp[lbl] / n_pred[lbl], 6)
        else:
            assert r.precision is None          # 'bird': never predicted
        if n_gold[lbl]:
            assert r.recall == round(tp[lbl] / n_gold[lbl], 6)
        else:
            assert r.recall is None             # 'fish': hallucinated
        if n_pred[lbl] and n_gold[lbl] and tp[lbl]:
            pr, rc = tp[lbl] / n_pred[lbl], tp[lbl] / n_gold[lbl]
            assert r.f1 == pytest.approx(round(2 * pr * rc / (pr + rc), 6))
    assert out["bird"].precision is None and out["bird"].f1 is None
    assert out["fish"].recall is None and out["fish"].tp == 0


def test_required_n_and_mde_are_inverse_and_calibrated(spark):
    """required_n/mde invert each other; the sized test actually
    achieves ~80% power in a seeded simulation (the calibration that
    matters); guards trip."""
    import random

    from getl_spark.functions import stats

    n = stats.required_n(delta=0.5, sigma=2.0)
    # textbook value: 2*4*(2.8016)^2/0.25 = 251.1 -> 252
    assert n == 252
    # inverse: the MDE at that n is (just) below the requested delta
    assert stats.mde(n, 2.0) <= 0.5 < stats.mde(n - 5, 2.0)

    # empirical power at the sized n: ~80% of seeded z-tests reject
    rnd = random.Random(42)
    rejected = 0
    trials = 200
    for _ in range(trials):
        a = [rnd.gauss(0.0, 2.0) for _ in range(n)]
        b = [rnd.gauss(0.5, 2.0) for _ in range(n)]
        ma, mb = sum(a) / n, sum(b) / n
        va = sum((x - ma) ** 2 for x in a) / (n - 1)
        vb = sum((x - mb) ** 2 for x in b) / (n - 1)
        z = (mb - ma) / ((va / n + vb / n) ** 0.5)
        if abs(z) > 1.959964:
            rejected += 1
    assert 0.7 < rejected / trials < 0.9

    import pytest as _pytest
    with _pytest.raises(ValueError, match="delta"):
        stats.required_n(0, 1.0)
    with _pytest.raises(ValueError, match="sigma"):
        stats.mde(10, 0)


def test_srm_detects_planted_mismatch(spark):
    """chi2 matches the textbook statistic; a 50/50 split with a
    planted 2% drop on one arm trips the 1e-3 gate at n=100k while a
    clean split does not; non-expected arms ignored; guards."""
    from getl_spark.functions import stats

    # clean 50/50: 50_000 / 50_000 plus an ignored holdout arm
    clean = spark.createDataFrame(
        [("a", 50_000), ("b", 50_000), ("holdout", 7)], "g STRING, c LONG"
    ).selectExpr("g", "explode(sequence(1, c)) AS i").select("g")
    r = stats.srm(clean, "g", {"a": 0.5, "b": 0.5}).collect()[0]
    assert (r.n, r.chi2, r.dof) == (100_000, 0.0, 1)
    assert r.p_value > 0.9 and r.srm_detected is False

    # one arm dropped ~2%: chi2 = sum (obs-exp)^2/exp with exp = n/2
    skew = spark.createDataFrame(
        [("a", 50_000), ("b", 48_500)], "g STRING, c LONG"
    ).selectExpr("g", "explode(sequence(1, c)) AS i").select("g")
    r2 = stats.srm(skew, "g", {"a": 0.5, "b": 0.5}).collect()[0]
    n, oa, ob = 98_500, 50_000, 48_500
    chi2 = (oa - n / 2) ** 2 / (n / 2) + (ob - n / 2) ** 2 / (n / 2)
    assert r2.chi2 == pytest.approx(round(chi2, 6))
    assert r2.srm_detected is True and r2.p_value < 1e-3

    # uneven intended allocation honored
    r3 = stats.srm(skew, "g", {"a": 500, "b": 485}).collect()[0]
    assert r3.chi2 == pytest.approx(0.0, abs=1e-9)
    assert r3.srm_detected is False

    import pytest as _pytest
    with _pytest.raises(ValueError, match="two arms"):
        stats.srm(clean, "g", {"a": 1.0})
    with _pytest.raises(ValueError, match="> 0"):
        stats.srm(clean, "g", {"a": 1.0, "b": 0})


def test_moments_matches_reference_and_known_shapes(spark):
    """Centered two-pass moments match a plain-python reference on a
    skewed grouped fixture; symmetric data has ~0 skewness; uniform
    has negative excess kurtosis; degenerate groups emit NULLs."""
    import random

    from getl_spark.functions import stats

    rnd = random.Random(31)
    rows = [("exp", rnd.expovariate(0.1)) for _ in range(2000)]   # right-skew
    rows += [("uni", rnd.uniform(0, 100)) for _ in range(2000)]   # platykurtic
    rows += [("one", 7.0), ("const", 3.0), ("const", 3.0), ("g", None)]
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE")
    out = {r.g: r for r in stats.moments(df, "x", ["g"]).collect()}

    def ref(vals):
        n = len(vals)
        mu = sum(vals) / n
        m2 = sum((x - mu) ** 2 for x in vals)
        m3 = sum((x - mu) ** 3 for x in vals)
        m4 = sum((x - mu) ** 4 for x in vals)
        return (mu, m2 / (n - 1), (m3 / n) / (m2 / n) ** 1.5,
                (m4 / n) / (m2 / n) ** 2 - 3)

    for g in ("exp", "uni"):
        vals = [x for gg, x in rows if gg == g and x is not None]
        mu, var, sk, ku = ref(vals)
        r = out[g]
        assert r.n == len(vals)
        assert r.mean == pytest.approx(round(mu, 6), abs=1e-6)
        assert r.variance == pytest.approx(round(var, 6), abs=1e-4)
        assert r.skewness == pytest.approx(round(sk, 6), abs=1e-6)
        assert r.kurtosis == pytest.approx(round(ku, 6), abs=1e-6)
    assert out["exp"].skewness > 1.5            # exponential: skew ~ 2
    assert abs(out["uni"].skewness) < 0.2       # symmetric
    assert out["uni"].kurtosis < -1.0           # uniform: excess -1.2
    # degenerate: single row and constant group -> NULL shapes
    assert out["one"].variance is None and out["one"].skewness is None
    assert out["const"].variance == 0.0 and out["const"].skewness is None
    assert "g" not in out or out.get("g") is None or out["g"].n == 0


def test_moments_and_bh_adjust_keep_null_group(spark):
    """A NULL group key is a group of its own: ``moments`` reports it
    and ``bh_adjust`` adjusts its rows exactly as the ungrouped call on
    those rows alone."""
    from getl_spark.functions import stats

    rows = [("a", 1.0, 0.01), ("a", 2.0, 0.04), ("a", 4.0, 0.5),
            (None, 3.0, 0.02), (None, 5.0, 0.03), (None, 10.0, 0.6)]
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE, p DOUBLE")
    mo = {r.g: r for r in stats.moments(df, "x", "g").collect()}
    assert set(mo) == {"a", None}
    assert mo[None].n == 3 and mo[None].mean == 6.0
    assert mo["a"].n == 3 and mo["a"].mean == pytest.approx(7 / 3, abs=1e-6)

    grouped = {r.p: r.p_adj for r in stats.bh_adjust(df, "p", group_by="g").collect()
               if r.g is None}
    alone = {r.p: r.p_adj for r in stats.bh_adjust(df.where("g IS NULL"), "p").collect()}
    assert None not in grouped.values()
    assert grouped == alone == {0.02: 0.045, 0.03: 0.045, 0.6: 0.6}


def test_round8_ops_partition_invariance(spark):
    """wilcoxon, moments, and balanced_downsample return identical
    results at 1, 7, and 32 input partitions — the property that makes
    the local[32] answer the 1000-executor answer."""
    import random

    from getl_spark.functions import sample as S
    from getl_spark.functions import stats

    rnd = random.Random(41)
    pairs = [
        (i, float(rnd.randint(0, 9)), float(rnd.randint(0, 9)),
         rnd.choice(["x", "y", "z"]))
        for i in range(500)
    ]
    results = []
    for parts in (1, 7, 32):
        df = spark.createDataFrame(
            pairs, "id LONG, a DOUBLE, b DOUBLE, g STRING"
        ).repartition(parts)
        w = tuple(stats.wilcoxon(df, "a", "b").collect()[0])
        m = sorted(tuple(r) for r in stats.moments(df, "a", ["g"]).collect())
        bd = sorted(
            r.id for r in S.balanced_downsample(df, "g", ["id"], seed=5).collect()
        )
        results.append((w, m, bd))
    assert results[0] == results[1] == results[2]


def test_binary_metrics_closed_form_and_degeneracies(spark):
    """Confusion cells and derived metrics match a hand count; MCC
    punishes majority-class gaming where accuracy flatters; degenerate
    denominators yield NULLs; NULL rows excluded."""
    import random

    from getl_spark.functions import stats

    rnd = random.Random(23)
    rows = [(rnd.random() < 0.3, rnd.random() < 0.4) for _ in range(400)]
    rows += [(None, True), (True, None)]
    df = spark.createDataFrame(rows, "y BOOLEAN, yhat BOOLEAN")
    r = stats.binary_metrics(df, "y", "yhat").collect()[0]
    clean = [(a, b) for a, b in rows if a is not None and b is not None]
    tp = sum(1 for a, b in clean if a and b)
    fp = sum(1 for a, b in clean if not a and b)
    fn = sum(1 for a, b in clean if a and not b)
    tn = sum(1 for a, b in clean if not a and not b)
    assert (r.n, r.tp, r.fp, r.fn, r.tn) == (len(clean), tp, fp, fn, tn)
    assert r.accuracy == round((tp + tn) / len(clean), 6)
    prec, rec = tp / (tp + fp), tp / (tp + fn)
    assert r.precision == round(prec, 6) and r.recall == round(rec, 6)
    assert r.f1 == round(2 * prec * rec / (prec + rec), 6)
    mcc = (tp * tn - fp * fn) / (
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    ) ** 0.5
    assert r.mcc == round(mcc, 6)

    # majority-class gamer: 90% negatives, always predict negative
    gamer = spark.createDataFrame(
        [(i < 40, False) for i in range(400)], "y BOOLEAN, yhat BOOLEAN"
    )
    g = stats.binary_metrics(gamer, "y", "yhat").collect()[0]
    assert g.accuracy == 0.9                    # flattering
    assert g.precision is None and g.mcc is None  # exposed
    # 0/1 integer columns accepted
    ints = spark.createDataFrame([(1, 1), (0, 1), (1, 0), (0, 0)], "y INT, yhat INT")
    r2 = stats.binary_metrics(ints, "y", "yhat").collect()[0]
    assert (r2.tp, r2.fp, r2.fn, r2.tn) == (1, 1, 1, 1) and r2.mcc == 0.0


def test_srm_grouped_batch_health_check(spark):
    """experiment_col runs the gate per experiment in one scan: a
    healthy experiment and a broken one get independent verdicts that
    equal their ungrouped runs."""
    from getl_spark.functions import stats

    rows = (
        [("exp1", "a")] * 5000 + [("exp1", "b")] * 5000
        + [("exp2", "a")] * 5000 + [("exp2", "b")] * 4300
    )
    df = spark.createDataFrame(rows, "exp STRING, g STRING")
    out = {r.exp: r for r in stats.srm(
        df, "g", {"a": 0.5, "b": 0.5}, experiment_col="exp").collect()}
    assert out["exp1"].srm_detected is False
    assert out["exp2"].srm_detected is True
    for exp in ("exp1", "exp2"):
        solo = stats.srm(
            df.where(f"exp = '{exp}'"), "g", {"a": 0.5, "b": 0.5}
        ).collect()[0]
        assert (out[exp].n, out[exp].chi2, out[exp].p_value) == (
            solo.n, solo.chi2, solo.p_value)


def test_binary_metrics_grouped_equals_solo(spark):
    """group_by emits per-segment rows equal to ungrouped runs on the
    segment subsets — the per-language classifier QA readout."""
    import random

    from getl_spark.functions import stats

    rnd = random.Random(29)
    rows = [
        ("en" if i % 3 else "de", rnd.random() < 0.5, rnd.random() < 0.5)
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "lang STRING, y BOOLEAN, yhat BOOLEAN")
    grouped = {r.lang: r for r in stats.binary_metrics(
        df, "y", "yhat", group_by=["lang"]).collect()}
    assert set(grouped) == {"en", "de"}
    for lang in ("en", "de"):
        solo = stats.binary_metrics(
            df.where(f"lang = '{lang}'"), "y", "yhat").collect()[0]
        assert tuple(grouped[lang])[1:] == tuple(solo)


# ------------------------------------------- round-9 ADVICE regressions
def test_bootstrap_ci_null_values_excluded(spark):
    """NULL metric rows must not bias replicate means: with NULLs
    present the result is IDENTICAL to running on the non-null subset
    (same rows feed numerator and denominator), and the CI still
    brackets the reported mean."""
    from getl_spark.functions import stats

    base = spark.range(0, 500).selectExpr(
        "id", "CAST(id % 50 AS BIGINT) AS v"
    )
    # half the rows carry NULL metrics (e.g. a metric only defined on
    # converted sessions)
    with_nulls = spark.range(0, 1000).selectExpr(
        "id", "CASE WHEN id < 500 THEN CAST(id % 50 AS BIGINT) END AS v"
    )
    r_clean = stats.bootstrap_ci(base, "v", ["id"], n_boot=60).collect()[0]
    r_nulls = stats.bootstrap_ci(with_nulls, "v", ["id"], n_boot=60).collect()[0]
    assert tuple(r_nulls) == tuple(r_clean)
    assert r_nulls["ci_lo"] <= r_nulls["mean"] <= r_nulls["ci_hi"]


def test_autocorrelation_short_series_surfaces_null_row(spark):
    """A (group, lag) whose series has no lagged pair must emit a row
    with NULL acf, not vanish; long groups are unaffected."""
    from getl_spark.functions import stats

    df = spark.createDataFrame(
        [("a", i, float(i % 3)) for i in range(20)]
        + [("b", 0, 1.0), ("b", 1, 2.0)],
        "g STRING, i INT, x DOUBLE",
    )
    rows = {
        (r["g"], r["lag"]): r
        for r in stats.autocorrelation(
            df, "x", "i", lags=[1, 7], group_by="g"
        ).collect()
    }
    # full frame: 2 groups x 2 lags
    assert set(rows) == {("a", 1), ("a", 7), ("b", 1), ("b", 7)}
    assert rows[("b", 7)]["acf"] is None and rows[("b", 7)]["n"] == 2
    assert rows[("b", 1)]["acf"] is not None
    assert rows[("a", 7)]["acf"] is not None


def test_autocorrelation_large_mean_precision(spark):
    """Centered __ss: a huge-mean stream keeps acf accurate where the
    one-pass sum(x^2) - n*mean^2 form cancels catastrophically."""
    from getl_spark.functions import stats

    big = 1.0e9
    vals = [big + float(v) for v in (1, 2, 3, 4, 5, 4, 3, 2, 1, 2)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i INT, x DOUBLE"
    )
    r = stats.autocorrelation(df, "x", "i", lags=[1]).collect()[0]
    # numpy-free reference: biased estimator on the centered values
    m = sum(vals) / len(vals)
    ss = sum((v - m) ** 2 for v in vals)
    cross = sum(
        (vals[t] - m) * (vals[t + 1] - m) for t in range(len(vals) - 1)
    )
    assert r["acf"] == pytest.approx(cross / ss, abs=1e-6)


# ------------------------------------------------------------ msprt
def test_msprt_matches_closed_form(spark):
    """mSPRT log-lambda / always-valid p against a python replay of
    the closed form on the same per-arm moments."""
    import math
    import random

    from getl_spark.functions import stats

    rng = random.Random(3)
    rows = [("c", rng.gauss(10.0, 2.0)) for _ in range(400)] + [
        ("t", rng.gauss(10.6, 2.0)) for _ in range(380)
    ]
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE")
    r = stats.msprt(df, "g", "x", "c", "t", tau=0.5).collect()[0]

    c = [x for g, x in rows if g == "c"]
    t = [x for g, x in rows if g == "t"]

    def var(xs):
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs) / (len(xs) - 1)

    V = var(c) / len(c) + var(t) / len(t)
    diff = sum(t) / len(t) - sum(c) / len(c)
    t2 = 0.25
    log_lam = 0.5 * math.log(V / (V + t2)) + diff * diff * t2 / (
        2 * V * (V + t2)
    )
    assert r["n_control"] == 400 and r["n_treatment"] == 380
    assert r["log_lambda"] == pytest.approx(log_lam, abs=1e-5)
    assert r["p_always"] == pytest.approx(
        math.exp(min(0.0, -log_lam)), abs=1e-5
    )
    # a real effect at a well-chosen tau should be detected
    assert r["p_always"] < 0.05


def test_msprt_null_is_conservative_and_guards(spark):
    """No effect -> p_always stays near 1 (and never above); guards
    fire on empty arms and bad tau."""
    from getl_spark.functions import stats

    null = spark.createDataFrame(
        [("c", float(i % 7)) for i in range(300)]
        + [("t", float(i % 7)) for i in range(300)],
        "g STRING, x DOUBLE",
    )
    r = stats.msprt(null, "g", "x", "c", "t", tau=0.5).collect()[0]
    assert r["diff"] == 0.0
    assert r["p_always"] == 1.0
    assert r["log_lambda"] < 0  # sqrt(V/(V+tau^2)) < 1, no evidence

    with pytest.raises(ValueError, match="tau"):
        stats.msprt(null, "g", "x", "c", "t", tau=0.0)
    solo = null.where("g = 'c'")
    with pytest.raises(Exception, match="msprt"):
        stats.msprt(solo, "g", "x", "c", "t").collect()


def test_msprt_peeking_stays_valid(spark):
    """The always-valid property, empirically: under H0, peeking at
    every prefix and rejecting if ANY p_always < alpha must keep the
    family-wise error at/below alpha. 25 null streams x 4 peeks at
    alpha=0.1 -> expected false stops well under 2.5 (the martingale
    bound is conservative); loose bound for stability. All prefix
    moments come from ONE Spark pass (trial x peek conditional
    aggregation); the closed form is replayed in python — its identity
    with the operator is pinned by test_msprt_matches_closed_form."""
    import math
    import random

    from pyspark.sql import functions as F

    peeks = [150, 300, 450, 600]
    rows = []
    for trial in range(25):
        rng = random.Random(100 + trial)
        stream = [("c", rng.gauss(0, 1)) for _ in range(600)] + [
            ("t", rng.gauss(0, 1)) for _ in range(600)
        ]
        rng.shuffle(stream)
        rows += [(trial, i, g, x) for i, (g, x) in enumerate(stream)]
    df = spark.createDataFrame(rows, "trial INT, pos INT, g STRING, x DOUBLE")
    peeked = df.withColumn(
        "peek", F.explode(F.array(*[F.lit(p) for p in peeks]))
    ).where(F.col("pos") < 2 * F.col("peek"))
    cv = F.when(F.col("g") == "c", F.col("x"))
    tv = F.when(F.col("g") == "t", F.col("x"))
    agg = (
        peeked.groupBy("trial", "peek")
        .agg(
            F.count(cv).alias("nc"), F.avg(cv).alias("mc"),
            F.var_samp(cv).alias("vc"),
            F.count(tv).alias("nt"), F.avg(tv).alias("mt"),
            F.var_samp(tv).alias("vt"),
        )
        .collect()
    )
    t2 = 0.3 * 0.3
    stopped = set()
    for r in agg:
        V = r["vc"] / r["nc"] + r["vt"] / r["nt"]
        diff = r["mt"] - r["mc"]
        log_lam = 0.5 * math.log(V / (V + t2)) + diff * diff * t2 / (
            2 * V * (V + t2)
        )
        if math.exp(min(0.0, -log_lam)) < 0.1:
            stopped.add(r["trial"])
    assert len(stopped) <= 4


def test_anova_matches_python_reference(spark):
    """F/SS/eta2 match a plain-python textbook decomposition on a
    3-arm fixture; equal-means arms give F near 0 and a large p; a
    planted shifted arm drives p below 0.01; 2-arm anova agrees with
    ab_compare's z (F = z^2 asymptotically for equal variances);
    segments via group_by; NULL/NaN rows excluded; guards fire."""
    import math
    import random

    from getl_spark.functions import stats

    rnd = random.Random(17)
    rows = []
    for arm, shift in (("a", 0.0), ("b", 0.0), ("c", 2.0)):
        rows += [(arm, rnd.gauss(10 + shift, 3)) for _ in range(400)]
    rows += [("a", None), ("b", float("nan"))]
    df = spark.createDataFrame(rows, "arm STRING, x DOUBLE")
    r = stats.anova(df, "arm", "x").collect()[0]

    clean = [(a, x) for a, x in rows if x is not None and not math.isnan(x)]
    arms = sorted({a for a, _ in clean})
    by = {a: [x for g, x in clean if g == a] for a in arms}
    n = len(clean)
    k = len(arms)
    grand = sum(x for _, x in clean) / n
    ssb = sum(len(v) * (sum(v) / len(v) - grand) ** 2 for v in by.values())
    ssw = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in by.values()
    )
    fstat = (ssb / (k - 1)) / (ssw / (n - k))
    assert (r.n, r.k, r.df1, r.df2) == (n, k, k - 1, n - k)
    assert r.ss_between == pytest.approx(ssb, rel=1e-6)
    assert r.ss_within == pytest.approx(ssw, rel=1e-6)
    assert r.f_stat == pytest.approx(fstat, rel=1e-6)
    assert r.eta_sq == pytest.approx(ssb / (ssb + ssw), abs=1e-6)
    assert r.p_value < 0.01  # the planted +2 shift is decisive

    # equal means: F stays small, p large
    null_rows = [
        (arm, rnd.gauss(5, 1)) for arm in ("a", "b", "c") for _ in range(300)
    ]
    r0 = stats.anova(
        spark.createDataFrame(null_rows, "arm STRING, x DOUBLE"), "arm", "x"
    ).collect()[0]
    assert r0.p_value > 0.05

    # 2-arm: F ~= z^2 from ab_compare (pooled-vs-unpooled variance
    # differs, so compare loosely on a balanced equal-variance draw)
    two = [(a, rnd.gauss(3 + (0.1 if a == "t" else 0), 1))
           for a in ("c", "t") for _ in range(500)]
    tdf = spark.createDataFrame(two, "arm STRING, x DOUBLE")
    f2 = stats.anova(tdf, "arm", "x").collect()[0].f_stat
    z2 = stats.ab_compare(tdf, "arm", "x", "c", "t").collect()[0].z
    assert f2 == pytest.approx(z2 * z2, rel=0.02)

    # segments: each segment gets its own row, computed independently
    seg = [("s1",) + t for t in two] + [
        ("s2", a, x + (5.0 if a == "t" else 0.0)) for a, x in two
    ]
    sdf = spark.createDataFrame(seg, "seg STRING, arm STRING, x DOUBLE")
    out = {r.seg: r for r in stats.anova(sdf, "arm", "x", group_by="seg").collect()}
    assert set(out) == {"s1", "s2"}
    assert out["s1"].f_stat == pytest.approx(f2, rel=1e-6)
    assert out["s2"].p_value < out["s1"].p_value

    # Paulson tail sanity vs exact F survival at a few pinned points
    # (exact values from scipy.stats.f.sf computed offline)
    #   sf(4.0, 2, 1197) = 0.0186, sf(1.0, 2, 897) = 0.3683
    import pyspark.sql.functions as SF
    probe = stats.anova(df, "arm", "x")  # df1=2, df2=1197 frame
    # reuse the fixture's p only for monotonicity; pinned-point check:
    z = (
        (1 - 2 / (9 * 1197)) * 4.0 ** (1 / 3) - (1 - 2 / (9 * 2))
    ) / math.sqrt(2 / (9 * 2) + 2 / (9 * 1197) * 4.0 ** (2 / 3))
    p_paulson = 0.5 * math.erfc(z / math.sqrt(2))
    assert p_paulson == pytest.approx(0.0186, abs=2e-3)

    # guards: single arm / constant metric fail loud
    import pyspark.errors
    one_arm = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "arm STRING, x DOUBLE"
    )
    with pytest.raises(Exception, match="anova"):
        stats.anova(one_arm, "arm", "x").collect()
    const = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("b", 1.0), ("b", 1.0)],
        "arm STRING, x DOUBLE",
    )
    with pytest.raises(Exception, match="anova"):
        stats.anova(const, "arm", "x").collect()


def test_kaplan_meier_matches_python_reference(spark):
    """Survival matches a plain-python product-limit reference on a
    censored grouped fixture; the textbook 6-subject example comes
    out exactly; censored-only times emit no row but shrink the risk
    set; a depleted risk set pins S(t)=0; NULL rows excluded;
    partition-invariant."""
    import math
    import random

    from getl_spark.functions import stats

    # textbook: durations 1,2e 2e 3c 4e 5c (e=event, c=censored)
    rows = [
        ("g", 2.0, 1), ("g", 2.0, 1), ("g", 3.0, 0),
        ("g", 4.0, 1), ("g", 5.0, 0), ("g", 1.0, 1),
    ]
    df = spark.createDataFrame(rows, "g STRING, t DOUBLE, e INT")
    out = {
        r.t: r for r in stats.kaplan_meier(df, "t", "e").collect()
    }
    # t=1: n=6 d=1 -> 5/6; t=2: n=5 d=2 -> 5/6*3/5 = 0.5
    # t=3 censored-only: no row; t=4: n=2 d=1 -> 0.25
    assert set(out) == {1.0, 2.0, 4.0}
    assert out[1.0].n_risk == 6 and out[1.0].survival == pytest.approx(5 / 6, abs=1e-6)
    assert out[2.0].n_risk == 5 and out[2.0].survival == pytest.approx(0.5, abs=1e-6)
    assert out[4.0].n_risk == 2 and out[4.0].survival == pytest.approx(0.25, abs=1e-6)
    assert out[4.0].n_events == 1 and out[2.0].n_censored == 0

    # random censored cohorts vs a python product-limit reference
    rnd = random.Random(23)
    big = []
    for cohort in ("a", "b"):
        for _ in range(500):
            d = float(rnd.randint(1, 30))
            big.append((cohort, d, 1 if rnd.random() < 0.7 else 0))
    big += [("a", None, 1), ("b", 3.0, None), ("a", float("nan"), 0)]
    bdf = spark.createDataFrame(big, "g STRING, t DOUBLE, e INT")
    got = {
        (r.g, r.t): r
        for r in stats.kaplan_meier(bdf, "t", "e", group_by="g").collect()
    }

    def ref_km(pairs):
        clean = [
            (t, e) for t, e in pairs
            if t is not None and not math.isnan(t) and e is not None
        ]
        times = sorted({t for t, e in clean if e})
        s, out = 1.0, {}
        for ti in times:
            n = sum(1 for t, _ in clean if t >= ti)
            d = sum(1 for t, e in clean if t == ti and e)
            c = sum(1 for t, e in clean if t == ti and not e)
            s *= 1 - d / n
            out[ti] = (n, d, c, s)
        return out

    for cohort in ("a", "b"):
        expect = ref_km([(t, e) for g, t, e in big if g == cohort])
        mine = {t: r for (g, t), r in got.items() if g == cohort}
        assert set(mine) == set(expect)
        for ti, (n, d, c, s) in expect.items():
            r = mine[ti]
            assert (r.n_risk, r.n_events, r.n_censored) == (n, d, c)
            assert r.survival == pytest.approx(s, abs=1e-6)

    # depleted risk set: everyone events at the last time -> S = 0.0
    dep = spark.createDataFrame(
        [("g", 1.0, 1), ("g", 2.0, 1), ("g", 2.0, 1)],
        "g STRING, t DOUBLE, e INT",
    )
    dr = {r.t: r for r in stats.kaplan_meier(dep, "t", "e").collect()}
    assert dr[2.0].survival == 0.0 and dr[1.0].survival == pytest.approx(2 / 3, abs=1e-6)

    # partition-invariance of the two-scan pipeline
    for parts in (1, 7, 32):
        rep = {
            (r.g, r.t): r.survival
            for r in stats.kaplan_meier(
                bdf.repartition(parts), "t", "e", group_by="g"
            ).collect()
        }
        assert rep == {
            (g, t): r.survival for (g, t), r in got.items()
        }


def test_winsorize_matches_numpy_reference(spark):
    """Clipped values match numpy type-7 percentiles per group;
    passthrough columns intact; NULL/NaN pass through; all-null
    group left unclipped; global (no group) variant; in-place
    overwrite; bad bounds raise."""
    import numpy as np
    import pytest

    from getl_spark.functions import grouped

    rng = np.random.default_rng(7)
    rows = []
    for g in ("a", "b"):
        xs = rng.normal(100 if g == "a" else -50, 30, size=400)
        rows += [(g, int(i), float(x)) for i, x in enumerate(xs)]
    rows += [("a", 9001, None), ("b", 9002, float("nan"))]
    rows += [("empty", 9003, None)]
    df = spark.createDataFrame(rows, "g STRING, id LONG, x DOUBLE")
    out = grouped.winsorize(df, "x", group_by="g", lower=0.05, upper=0.9)
    got = {(r.g, r.id): r for r in out.collect()}
    assert len(got) == len(rows)  # row-preserving

    for g in ("a", "b"):
        vals = np.array([x for gg, _, x in rows
                         if gg == g and x is not None and not np.isnan(x)])
        lo = round(float(np.percentile(vals, 5, method="linear")), 6)
        hi = round(float(np.percentile(vals, 90, method="linear")), 6)
        for gg, i, x in rows:
            if gg != g or x is None or np.isnan(x):
                continue
            expect = min(max(x, lo), hi)
            assert got[(g, i)].x_winsorized == pytest.approx(expect, abs=1e-9)
            assert got[(g, i)].x == x  # original column untouched

    # NULL / NaN / all-null-group passthrough
    assert got[("a", 9001)].x_winsorized is None
    assert np.isnan(got[("b", 9002)].x_winsorized)
    assert got[("empty", 9003)].x_winsorized is None

    # global variant clips against corpus-wide bounds
    g_out = grouped.winsorize(df.where("x IS NOT NULL AND NOT isnan(x)"),
                              "x", lower=0.0, upper=0.5)
    vals = np.array([x for _, _, x in rows if x is not None and not np.isnan(x)])
    med = round(float(np.percentile(vals, 50, method="linear")), 6)
    assert max(r.x_winsorized for r in g_out.collect()) == pytest.approx(med, abs=1e-9)

    # in-place overwrite keeps the schema
    ip = grouped.winsorize(df, "x", group_by="g", new_col="x")
    assert ip.columns == df.columns

    with pytest.raises(ValueError, match="winsorize"):
        grouped.winsorize(df, "x", lower=0.5, upper=0.5)


def test_log_rank_matches_python_reference(spark):
    """chi2/E1/V match a plain-python Mantel log-rank on a censored
    two-arm fixture; identical arms give chi2 ~ 0; a strong hazard
    shift is decisive; holdout arms ignored; guards fire."""
    import random

    from getl_spark.functions import stats

    rnd = random.Random(41)

    def cohort(arm, scale, n):
        out = []
        for _ in range(n):
            d = min(int(rnd.expovariate(1 / scale)) + 1, 60)
            out.append((arm, float(d), 1 if rnd.random() < 0.8 else 0))
        return out

    rows = cohort("c", 10, 400) + cohort("t", 18, 400) + cohort("x", 5, 50)
    df = spark.createDataFrame(rows, "g STRING, t DOUBLE, e INT")
    r = stats.log_rank(df, "t", "e", "g", "c", "t").collect()[0]

    # python reference over the two arms only
    two = [(g, t, e) for g, t, e in rows if g in ("c", "t")]
    times = sorted({t for _, t, e in two if e})
    O1 = E1 = V = 0.0
    for ti in times:
        n = sum(1 for _, t, _ in two if t >= ti)
        n1 = sum(1 for g, t, _ in two if g == "t" and t >= ti)
        d = sum(1 for _, t, e in two if t == ti and e)
        d1 = sum(1 for g, t, e in two if g == "t" and t == ti and e)
        O1 += d1
        E1 += d * n1 / n
        if n > 1:
            V += d * (n1 / n) * (1 - n1 / n) * (n - d) / (n - 1)
    chi2 = (O1 - E1) ** 2 / V
    assert (r.n_control, r.n_treatment) == (400, 400)
    assert r.observed_treatment == int(O1)
    assert r.expected_treatment == pytest.approx(E1, rel=1e-9)
    assert r.chi2 == pytest.approx(chi2, rel=1e-6)
    assert r.p_value < 0.01  # scale 10 vs 18 at n=400/arm is decisive

    # identical hazards: chi2 small, p large
    same = cohort("c", 12, 300) + [
        ("t", t, e) for _, t, e in cohort("c", 12, 300)
    ]
    r0 = stats.log_rank(
        spark.createDataFrame(same, "g STRING, t DOUBLE, e INT"),
        "t", "e", "g", "c", "t",
    ).collect()[0]
    assert r0.p_value > 0.05

    # guards: empty arm
    only_c = spark.createDataFrame(
        [("c", 1.0, 1), ("c", 2.0, 1)], "g STRING, t DOUBLE, e INT"
    )
    with pytest.raises(Exception, match="log_rank"):
        stats.log_rank(only_c, "t", "e", "g", "c", "t").collect()


def test_benford_conformance_gate(spark):
    """chi2/MAD match a plain-python reference; log-uniform data
    conforms (large p, small MAD); uniform data flagrantly does not;
    digit extraction survives negatives/tiny/huge values and power-
    of-ten boundaries; zeros/NULL/NaN excluded; grouped variant."""
    import math
    import random

    from getl_spark.functions import stats

    rnd = random.Random(5)
    # log-uniform over 6 decades -> Benford-conformant
    good = [10 ** rnd.uniform(-2, 4) for _ in range(4000)]
    # uniform on [1, 10) -> flat first digits, wildly non-conformant
    bad = [rnd.uniform(1, 10) for _ in range(4000)]
    rows = (
        [("good", x) for x in good]
        + [("bad", x) for x in bad]
        + [("good", 0.0), ("good", None), ("bad", float("nan"))]
    )
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE")
    out = {r.g: r for r in stats.benford(df, "x", group_by="g").collect()}

    def ref(vals):
        counts = [0] * 10
        for x in vals:
            d = int(f"{abs(x):.15e}"[0])
            counts[d] += 1
        n = sum(counts[1:])
        chi2 = mad = 0.0
        for d in range(1, 10):
            p = math.log10(1 + 1 / d)
            chi2 += (counts[d] - n * p) ** 2 / (n * p)
            mad += abs(counts[d] / n - p)
        return n, chi2, mad / 9

    for g, vals in (("good", good), ("bad", bad)):
        n, chi2, mad = ref(vals)
        r = out[g]
        assert r.n == n
        assert r.chi2 == pytest.approx(chi2, rel=1e-6)
        assert r.mad == pytest.approx(mad, abs=1e-6)
    assert out["good"].p_value > 0.01 and out["good"].mad < 0.006
    assert out["bad"].p_value < 1e-6 and out["bad"].mad > 0.02

    # extraction edges: negatives, powers of ten, tiny/huge
    edge = spark.createDataFrame(
        [(float(x),) for x in (-123.0, 1000.0, 1e-12, 9.994e2, 1e15, -0.002)],
        "x DOUBLE",
    )
    r = stats.benford(edge, "x").collect()[0]
    # digits: 1, 1, 1, 9, 1, 2 -> n=6
    assert r.n == 6
    n, chi2, mad = ref([-123.0, 1000.0, 1e-12, 9.994e2, 1e15, -0.002])
    assert r.chi2 == pytest.approx(chi2, rel=1e-6)


def test_capture_recapture_chapman(spark):
    """Chapman estimator vs a pure-python reference on random draws;
    hand case; unordered pair normalization; union floor on the CI;
    empty-detector edges."""
    import math
    import random

    from getl_spark.functions import stats

    # hand case: n_a=4, n_b=3, m=2 -> N_hat = 5*4/3 - 1 = 17/3
    a = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "id LONG")
    b = spark.createDataFrame([(i,) for i in (3, 4, 9)], "id LONG")
    r = stats.capture_recapture(a, b, ["id"]).collect()[0]
    n_hat = 5 * 4 / 3 - 1
    var = 5 * 4 * (4 - 2) * (3 - 2) / (3 * 3 * 4)
    assert (r.n_a, r.n_b, r.n_both, r.n_union) == (4, 3, 2, 5)
    assert r.n_est == pytest.approx(n_hat, abs=1e-6)
    assert r.se == pytest.approx(math.sqrt(var), abs=1e-6)
    # union is a hard floor: N_hat=5.67 > 5 but N_hat - z*se < 5
    assert r.ci_lo == 5.0
    assert r.ci_hi == pytest.approx(n_hat + 1.959964 * math.sqrt(var), abs=1e-5)
    assert r.coverage_a == pytest.approx(4 / n_hat, abs=1e-6)
    assert r.miss_est == pytest.approx(n_hat - 5, abs=1e-6)

    # random differential: detectors sample a latent population
    rnd = random.Random(19)
    pop = list(range(1000))
    da = sorted(rnd.sample(pop, 400))
    db = sorted(rnd.sample(pop, 300))
    m = len(set(da) & set(db))
    ref_est = (401 * 301) / (m + 1) - 1
    r = stats.capture_recapture(
        spark.createDataFrame([(i,) for i in da * 2], "id LONG"),  # dups collapse
        spark.createDataFrame([(i,) for i in db], "id LONG"),
        ["id"],
    ).collect()[0]
    assert (r.n_a, r.n_b, r.n_both) == (400, 300, m)
    assert r.n_est == pytest.approx(ref_est, abs=1e-6)
    # the estimate should bracket the true population loosely
    assert r.ci_lo <= 1000 <= r.ci_hi + 150

    # unordered pairs: reversed orientation still counts as agreement
    pa = spark.createDataFrame([(1, 2), (3, 4)], "x LONG, y LONG")
    pb = spark.createDataFrame([(2, 1), (5, 6)], "x LONG, y LONG")
    r = stats.capture_recapture(pa, pb, ["x", "y"], unordered=True).collect()[0]
    assert (r.n_a, r.n_b, r.n_both, r.n_union) == (2, 2, 1, 3)
    with pytest.raises(ValueError):
        stats.capture_recapture(pa, pb, ["x"], unordered=True)

    # empty side: N_hat = (0+1)(n+1)/1 - 1 = n_b, coverage_a NULL at 0 est
    empty = spark.createDataFrame([], "id LONG")
    r = stats.capture_recapture(empty, b, ["id"]).collect()[0]
    assert (r.n_a, r.n_b, r.n_both) == (0, 3, 0)
    assert r.n_est == pytest.approx(3.0)
    r = stats.capture_recapture(empty, empty, ["id"]).collect()[0]
    assert r.n_est == 0.0 and r.coverage_a is None and r.miss_est == 0.0


def test_seasonality_profiles(spark):
    """Uniform stream scores flat (high p, low strength); a
    concentrated stream scores peaked; chi2/entropy match a python
    reference incl. never-hit cells; dow arithmetic hits known
    weekdays; deterministic peak tie-break; bad period raises."""
    import datetime
    import math as M

    from getl_spark.functions import stats

    base = datetime.datetime(2024, 1, 1)  # a Monday
    # group "flat": one event every hour for 10 days -> uniform
    flat = [
        ("flat", base + datetime.timedelta(hours=h)) for h in range(240)
    ]
    # group "night": everything between 02:00 and 04:59
    night = [
        ("night", base + datetime.timedelta(days=d, hours=2 + (d % 3)))
        for d in range(90)
    ]
    df = spark.createDataFrame(flat + night, "g STRING, ts TIMESTAMP")
    out = {r.g: r for r in stats.seasonality(df, "ts", "hour", ["g"]).collect()}

    f, nt = out["flat"], out["night"]
    assert (f.n, f.n_cells) == (240, 24)
    assert f.chi2 == 0.0 and f.strength == 0.0 and f.entropy_ratio == 1.0
    assert f.p_value > 0.9
    assert (nt.n, nt.n_cells) == (90, 3)
    # python reference: 3 cells of 30, 21 empty cells
    chi2_ref = 24 * (3 * 30 * 30) / 90 - 90
    ent_ref = (M.log(90) - (3 * 30 * M.log(30)) / 90) / M.log(24)
    assert nt.chi2 == pytest.approx(chi2_ref, abs=1e-6)
    assert nt.entropy_ratio == pytest.approx(ent_ref, abs=1e-6)
    assert nt.strength == pytest.approx(M.sqrt(chi2_ref / (90 * 23)), abs=1e-6)
    assert nt.p_value < 1e-6
    # 30 events in each of hours 2,3,4 -> tie breaks to smallest cell
    assert nt.peak_cell == 2 and nt.peak_share == pytest.approx(30 / 90)

    # dow: 2024-01-01 is a Monday -> cell 1; add two Sundays -> cell 7
    dw = spark.createDataFrame(
        [("x", base)] * 3
        + [("x", base + datetime.timedelta(days=6))] * 2
        + [("x", None)],
        "g STRING, ts TIMESTAMP",
    )
    r = stats.seasonality(dw, "ts", "dow", ["g"]).collect()[0]
    assert (r.n, r.n_cells, r.dof) == (5, 2, 6)
    assert r.peak_cell == 1 and r.peak_share == pytest.approx(0.6)
    chi2_ref = 7 * (9 + 4) / 5 - 5
    assert r.chi2 == pytest.approx(chi2_ref, abs=1e-6)

    with pytest.raises(ValueError, match="period"):
        stats.seasonality(df, "ts", "weekly")


def test_robust_zscore_grouped(spark):
    """Median/MAD z vs numpy reference per group; outlier immunity vs
    plain zscore; NULL/NaN passthrough; zero-MAD gate; ungrouped
    broadcast path; in-place overwrite."""
    import random
    import statistics as st

    from getl_spark.functions import grouped

    rnd = random.Random(23)
    rows = [("a", float(rnd.gauss(50, 5))) for _ in range(199)] + [
        ("a", 100000.0),  # the 2 GB crawl page
        ("b", 1.0), ("b", 1.0), ("b", 1.0),  # zero-MAD group
    ]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    out = grouped.robust_zscore(df, "v", ["g"]).collect()

    va = sorted(v for g, v in rows if g == "a")
    med = st.median(va)
    mad = st.median(sorted(abs(x - med) for x in va))
    med, mad = round(med, 6), round(mad, 6)
    for r in out:
        if r.g == "b":
            assert r.v_robust_z is None
        else:
            want = round((r.v - med) / (1.4826 * mad), 6)
            assert r.v_robust_z == pytest.approx(want, abs=2e-6)
    # the outlier itself scores huge, median/mad barely notice it
    big = max(r.v_robust_z for r in out if r.g == "a")
    assert big > 1000

    # NULL / NaN score NULL, rows preserved
    nn = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (None,), (float("nan"),)], "v DOUBLE"
    )
    got = grouped.robust_zscore(nn, "v", new_col="v").collect()
    assert len(got) == 5
    vals = [r.v for r in got]
    assert sum(v is None or v != v for v in vals) == 2
    # in-place overwrite: median 2, mad 1 -> z of 3.0 is 1/1.4826
    assert round(1 / 1.4826, 6) in [round(v, 6) for v in vals if v is not None and v == v]


def test_levene_brown_forsythe(spark):
    """Brown-Forsythe W vs scipy-convention python reference;
    equal-spread null vs a spread-shifted arm; mean-center variant;
    center guard; anova-shape output."""
    import random
    import statistics as st

    from getl_spark.functions import stats

    rnd = random.Random(31)
    rows = (
        [("a", rnd.gauss(0, 1.0)) for _ in range(150)]
        + [("b", rnd.gauss(5, 1.0)) for _ in range(140)]   # mean shift only
        + [("c", rnd.gauss(0, 3.0)) for _ in range(130)]   # spread shift
    )
    df = spark.createDataFrame(rows, "arm STRING, x DOUBLE")

    def ref_W(data, center):
        zs, arms = [], sorted(set(a for a, _ in data))
        for a in arms:
            xs = [x for aa, x in data if aa == a]
            c = round(st.median(xs) if center == "median" else st.mean(xs), 6)
            zs.append([abs(x - c) for x in xs])
        n = sum(len(z) for z in zs)
        k = len(zs)
        grand = sum(sum(z) for z in zs) / n
        ssb = sum(len(z) * (st.mean(z) - grand) ** 2 for z in zs)
        ssw = sum(sum((x - st.mean(z)) ** 2 for x in z) for z in zs)
        return (ssb / (k - 1)) / (ssw / (n - k))

    r = stats.levene(df, "arm", "x").collect()[0]
    assert (r.n, r.k, r.df1, r.df2) == (420, 3, 2, 417)
    assert r.f_stat == pytest.approx(ref_W(rows, "median"), rel=1e-5)
    assert r.p_value < 1e-6  # arm c's spread is 3x

    rm = stats.levene(df, "arm", "x", center="mean").collect()[0]
    assert rm.f_stat == pytest.approx(ref_W(rows, "mean"), rel=1e-5)

    # equal spreads (mean shifts only) -> homogeneous, p high
    null_df = df.where("arm != 'c'")
    rn = stats.levene(null_df, "arm", "x").collect()[0]
    assert rn.k == 2 and rn.p_value > 0.05

    with pytest.raises(ValueError, match="center"):
        stats.levene(df, "arm", "x", center="mad")


def test_cronbach_alpha_panel(spark):
    """Alpha vs a python reference on a consistent and an inconsistent
    judge panel; textbook identity vs pingouin convention; incomplete
    and duplicated panels fail loud; zero-variance NULL gate."""
    import random
    import statistics as st

    from getl_spark.functions import stats

    rnd = random.Random(47)

    def panel(noise):
        rows = []
        for i in range(40):
            quality = rnd.uniform(1, 9)
            for r in range(4):
                rows.append(
                    (f"i{i:02d}", f"r{r}", quality + rnd.gauss(0, noise))
                )
        return rows

    def ref_alpha(rows):
        raters = sorted({r for _, r, _ in rows})
        items = sorted({i for i, _, _ in rows})
        k = len(raters)
        by = {(i, r): v for i, r, v in rows}
        totals = [sum(by[(i, r)] for r in raters) for i in items]
        var_tot = st.variance(totals)
        sum_var = sum(
            st.variance([by[(i, r)] for i in items]) for r in raters
        )
        return k / (k - 1) * (1 - sum_var / var_tot)

    tight, loose = panel(0.3), panel(4.0)
    for rows in (tight, loose):
        df = spark.createDataFrame(rows, "item STRING, rater STRING, v DOUBLE")
        r = stats.cronbach_alpha(df, "item", "rater", "v").collect()[0]
        assert (r.n_items, r.k_raters) == (40, 4)
        assert r.alpha == pytest.approx(ref_alpha(rows), abs=1e-5)
    assert ref_alpha(tight) > 0.95 and ref_alpha(loose) < 0.8

    # incomplete panel (missing one cell) fails loud
    df = spark.createDataFrame(tight[:-1], "item STRING, rater STRING, v DOUBLE")
    with pytest.raises(Exception, match="incomplete"):
        stats.cronbach_alpha(df, "item", "rater", "v").collect()
    # duplicated cell fails loud
    df = spark.createDataFrame(
        tight + [tight[0]], "item STRING, rater STRING, v DOUBLE"
    )
    with pytest.raises(Exception, match="incomplete"):
        stats.cronbach_alpha(df, "item", "rater", "v").collect()

    # constant scores -> zero total variance -> NULL alpha
    const = [(f"i{i}", f"r{r}", 5.0) for i in range(3) for r in range(3)]
    df = spark.createDataFrame(const, "item STRING, rater STRING, v DOUBLE")
    assert stats.cronbach_alpha(df, "item", "rater", "v").collect()[0].alpha is None

    # grouped: two independent panels in one call
    both = [("tight", *t) for t in tight] + [("loose", *t) for t in loose]
    df = spark.createDataFrame(both, "g STRING, item STRING, rater STRING, v DOUBLE")
    out = {r.g: r.alpha for r in
           stats.cronbach_alpha(df, "item", "rater", "v", group_by=["g"]).collect()}
    assert out["tight"] == pytest.approx(ref_alpha(tight), abs=1e-5)
    assert out["loose"] == pytest.approx(ref_alpha(loose), abs=1e-5)


def test_kendall_w_concordance(spark):
    """W vs a pure-python tie-corrected reference on concordant and
    discordant judge panels; ties exercised via integer scales;
    unanimous ordering hits W==1; all-tied panel yields NULL;
    incomplete panel fails loud; grouped two-panel case."""
    import random

    from getl_spark.functions import stats

    rnd = random.Random(11)

    def ref_w(rows):
        raters = sorted({r for _, r, _ in rows})
        items = sorted({i for i, _, _ in rows})
        k, n = len(raters), len(items)
        by = {(i, r): v for i, r, v in rows}
        ssum = {i: 0.0 for i in items}
        t_corr = 0.0
        for r in raters:
            vals = sorted(by[(i, r)] for i in items)
            # midranks
            for i in items:
                v = by[(i, r)]
                lo = sum(1 for x in vals if x < v)
                t = sum(1 for x in vals if x == v)
                ssum[i] += lo + (t + 1) / 2.0
            seen = {}
            for x in vals:
                seen[x] = seen.get(x, 0) + 1
            t_corr += sum(t**3 - t for t in seen.values())
        rbar = k * (n + 1) / 2.0
        s = sum((ssum[i] - rbar) ** 2 for i in items)
        denom = k * k * (n**3 - n) - k * t_corr
        return 12.0 * s / denom if denom > 0 else None

    def panel(noise, n=25, k=4, scale=None):
        rows = []
        for i in range(n):
            q = rnd.uniform(0, 10)
            for r in range(k):
                v = q + rnd.gauss(0, noise)
                if scale:
                    v = max(1, min(scale, round(v)))
                rows.append((f"i{i:02d}", f"r{r}", float(v)))
        return rows

    tight, loose = panel(0.5), panel(15.0)
    tied = panel(1.0, scale=5)  # integer 1-5 scale: heavy ties
    for rows in (tight, loose, tied):
        df = spark.createDataFrame(rows, "item STRING, rater STRING, v DOUBLE")
        r = stats.kendall_w(df, "item", "rater", "v").collect()[0]
        assert (r.n_items, r.k_raters, r.df) == (25, 4, 24)
        assert r.w == pytest.approx(ref_w(rows), abs=1e-5)
        assert r.chi2 == pytest.approx(4 * 24 * ref_w(rows), abs=1e-3)
        assert 0.0 <= r.p_value <= 1.0
    assert ref_w(tight) > 0.9 and ref_w(loose) < 0.5

    # unanimous ordering -> W == 1, tiny p
    unan = [(f"i{i}", f"r{r}", float(i)) for i in range(10) for r in range(3)]
    df = spark.createDataFrame(unan, "item STRING, rater STRING, v DOUBLE")
    r = stats.kendall_w(df, "item", "rater", "v").collect()[0]
    assert r.w == 1.0 and r.p_value < 0.01

    # every rater ties everything -> zero denominator -> NULL
    const = [(f"i{i}", f"r{r}", 5.0) for i in range(4) for r in range(3)]
    df = spark.createDataFrame(const, "item STRING, rater STRING, v DOUBLE")
    r = stats.kendall_w(df, "item", "rater", "v").collect()[0]
    assert r.w is None and r.p_value is None

    # incomplete / duplicated panels fail loud
    for bad in (tight[:-1], tight + [tight[0]]):
        df = spark.createDataFrame(bad, "item STRING, rater STRING, v DOUBLE")
        with pytest.raises(Exception, match="incomplete"):
            stats.kendall_w(df, "item", "rater", "v").collect()

    # grouped: two independent panels in one call
    both = [("t", *r) for r in tight] + [("l", *r) for r in loose]
    df = spark.createDataFrame(both, "g STRING, item STRING, rater STRING, v DOUBLE")
    out = {r.g: r.w for r in
           stats.kendall_w(df, "item", "rater", "v", group_by=["g"]).collect()}
    assert out["t"] == pytest.approx(ref_w(tight), abs=1e-5)
    assert out["l"] == pytest.approx(ref_w(loose), abs=1e-5)


def test_krippendorff_alpha(spark):
    """Both metrics vs a pure-python coincidence-matrix reference on
    panels WITH missing ratings; the canonical Krippendorff textbook
    example; singleton items excluded; perfect/chance behavior;
    all-identical NULL; grouped case; metric guard."""
    import random

    from getl_spark.functions import stats

    def ref_alpha(pairs, interval):
        # direct pairwise definition over the coincidence matrix
        units = {}
        for u, v in pairs:
            units.setdefault(u, []).append(v)
        units = {u: vs for u, vs in units.items() if len(vs) >= 2}
        ratings = [v for vs in units.values() for v in vs]
        n = len(ratings)
        if n < 2:
            return None

        def d2(a, b):
            return (a - b) ** 2 if interval else (0.0 if a == b else 1.0)

        do = 0.0
        for vs in units.values():
            m = len(vs)
            do += sum(
                d2(a, b) for i, a in enumerate(vs)
                for jx, b in enumerate(vs) if i != jx
            ) / (m - 1)
        do /= n
        de = sum(
            d2(a, b) for i, a in enumerate(ratings)
            for jx, b in enumerate(ratings) if i != jx
        ) / (n * (n - 1))
        return None if de == 0 else 1 - do / de

    # Krippendorff's canonical example (4 coders, missing cells):
    # units 1..12, nominal values; unit 12 has a single rating
    canon = {
        1: "aaa", 2: "bbb", 3: "ccc", 4: "ccc", 5: "bbb", 6: "ccbc",
        7: "ddd", 8: "ccc", 9: "bbb", 10: "ddd", 11: "aab", 12: "a",
    }
    pairs = [(u, c) for u, s in canon.items() for c in s]
    df = spark.createDataFrame(pairs, "item LONG, v STRING")
    r = stats.krippendorff_alpha(df, "item", "v").collect()[0]
    # unit 12 (singleton) excluded: 11 items, 34 ratings
    assert (r.n_items, r.n_ratings) == (11, 34)
    assert r.alpha == pytest.approx(ref_alpha(pairs, False), abs=1e-5)
    assert r.alpha > 0.7

    rnd = random.Random(13)
    # random sparse panels, both metrics
    noisy = []
    for u in range(60):
        q = rnd.uniform(0, 10)
        for _ in range(rnd.choice([1, 2, 3, 4])):
            noisy.append((u, q + rnd.gauss(0, 2.0)))
    df = spark.createDataFrame(noisy, "item LONG, v DOUBLE")
    r = stats.krippendorff_alpha(df, "item", "v", metric="interval").collect()[0]
    assert r.alpha == pytest.approx(ref_alpha(noisy, True), abs=1e-4)

    nom = [(u, rnd.choice("abcd")) for u in range(50) for _ in range(3)]
    df = spark.createDataFrame(nom, "item LONG, v STRING")
    r = stats.krippendorff_alpha(df, "item", "v").collect()[0]
    assert r.alpha == pytest.approx(ref_alpha(nom, False), abs=1e-5)
    assert abs(r.alpha) < 0.25  # pure chance

    # perfect agreement -> alpha == 1 (nominal)
    perf = [(u, "x" if u % 2 else "y") for u in range(10) for _ in range(3)]
    df = spark.createDataFrame(perf, "item LONG, v STRING")
    assert stats.krippendorff_alpha(df, "item", "v").collect()[0].alpha == 1.0

    # all ratings identical -> D_e == 0 -> NULL
    same = [(u, "x") for u in range(5) for _ in range(2)]
    df = spark.createDataFrame(same, "item LONG, v STRING")
    assert stats.krippendorff_alpha(df, "item", "v").collect()[0].alpha is None

    # grouped: independent panels per segment
    both = [("c", *p) for p in pairs] + [("n", u, v) for u, v in nom]
    df = spark.createDataFrame(both, "g STRING, item LONG, v STRING")
    out = {r.g: r.alpha for r in
           stats.krippendorff_alpha(df, "item", "v", group_by="g").collect()}
    assert out["c"] == pytest.approx(ref_alpha(pairs, False), abs=1e-5)
    assert out["n"] == pytest.approx(ref_alpha(nom, False), abs=1e-5)

    with pytest.raises(ValueError, match="metric"):
        stats.krippendorff_alpha(df, "item", "v", metric="ordinal")


def test_theil_sen(spark):
    """Median-of-pairwise-slopes vs a pure-python reference; outlier
    immunity vs OLS trend; equal-x pairs skipped; vertical-only group
    NULL; max_points probe; grouped."""
    import random

    from getl_spark.functions import stats

    def ref(pts):
        slopes = sorted(
            (y2 - y1) / (x2 - x1)
            for i, (x1, y1) in enumerate(pts)
            for (x2, y2) in pts[i + 1:]
            if x2 != x1
        ) or None
        if slopes is None:
            return None, None, 0

        def med(v):
            n = len(v)
            m = n // 2
            return v[m] if n % 2 else (v[m - 1] + v[m]) / 2.0

        s = med(slopes)
        resid = sorted(y - s * x for x, y in pts)
        return s, med(resid), len(slopes)

    rnd = random.Random(3)
    clean = [(float(i), 2.5 * i + 10 + rnd.gauss(0, 0.5)) for i in range(30)]
    # same series with two wild outliers
    dirty = list(clean)
    dirty[5] = (5.0, 500.0)
    dirty[20] = (20.0, -300.0)

    for pts in (clean, dirty):
        df = spark.createDataFrame(pts, "x DOUBLE, y DOUBLE")
        r = stats.theil_sen(df, "x", "y").collect()[0]
        s, ic, npairs = ref(pts)
        assert r.n_points == 30 and r.n_pairs == npairs
        assert r.slope == pytest.approx(s, abs=1e-6)
        assert r.intercept == pytest.approx(ic, abs=1e-6)
    # robust: outliers barely move the slope (OLS would swing wildly)
    assert abs(ref(dirty)[0] - ref(clean)[0]) < 0.2

    # equal-x pairs skipped: duplicated x values
    dup = [(1.0, 1.0), (1.0, 9.0), (2.0, 2.0), (3.0, 3.0)]
    df = spark.createDataFrame(dup, "x DOUBLE, y DOUBLE")
    r = stats.theil_sen(df, "x", "y").collect()[0]
    s, ic, npairs = ref(dup)
    assert r.n_pairs == npairs == 5
    assert r.slope == pytest.approx(s, abs=1e-9)

    # all-vertical group -> NULL slope, 0 pairs
    vert = [(1.0, 1.0), (1.0, 2.0), (1.0, 3.0)]
    df = spark.createDataFrame(vert, "x DOUBLE, y DOUBLE")
    r = stats.theil_sen(df, "x", "y").collect()[0]
    assert r.slope is None and r.n_pairs == 0 and r.n_points == 3

    # grouped: clean and dirty side by side
    both = [("c", *p) for p in clean] + [("d", *p) for p in dirty]
    df = spark.createDataFrame(both, "g STRING, x DOUBLE, y DOUBLE")
    out = {r.g: r for r in stats.theil_sen(df, "x", "y", group_by="g").collect()}
    assert out["c"].slope == pytest.approx(ref(clean)[0], abs=1e-6)
    assert out["d"].slope == pytest.approx(ref(dirty)[0], abs=1e-6)

    # probe fails loud before the pair join
    with pytest.raises(ValueError, match="max_points"):
        stats.theil_sen(df, "x", "y", max_points=10)
    with pytest.raises(ValueError, match="max_points"):
        stats.theil_sen(df, "x", "y", max_points=1)


def test_gains_table(spark):
    """Bucket arithmetic vs a pure-python reference on a skilled and a
    random scorer; whole-tie-block bucket contract; capture/lift
    identities; label guard; grouped; n_buckets guard."""
    import random

    from getl_spark.functions import stats

    def ref(rows, b=10):
        # distinct-score blocks descending; block -> bucket by start pos
        from collections import defaultdict
        blocks = defaultdict(lambda: [0, 0])
        for sc, yy in rows:
            blocks[sc][0] += 1
            blocks[sc][1] += yy
        tn = len(rows)
        tp = sum(y for _, y in rows)
        out = defaultdict(lambda: [0, 0, 0, 0])  # n, pos, cum_n, cum_p
        cn = cp = 0
        for sc in sorted(blocks, reverse=True):
            n, p = blocks[sc]
            bk = (cn * b) // tn
            cn, cp = cn + n, cp + p
            o = out[bk]
            o[0] += n
            o[1] += p
            o[2], o[3] = cn, cp
        res = {}
        for bk, (n, p, cn2, cp2) in out.items():
            res[bk] = (
                n, p, cn2, cp2,
                round(cp2 / tp, 6) if tp else None,
                round(cp2 / cn2, 6),
                round((cp2 / cn2) / (tp / tn), 6) if tp else None,
            )
        return res

    rnd = random.Random(9)
    skilled = []
    for _ in range(500):
        y = rnd.random() < 0.3
        sc = rnd.gauss(2.0 if y else 0.0, 1.0)
        skilled.append((round(sc, 2), int(y)))
    random_sc = [(round(rnd.random(), 2), int(rnd.random() < 0.3))
                 for _ in range(500)]

    for rows in (skilled, random_sc):
        df = spark.createDataFrame(rows, "score DOUBLE, label INT")
        got = {
            r.bucket: (r.n_rows, r.n_pos, r.cum_rows, r.cum_pos,
                       r.capture_rate, r.cum_precision, r.lift)
            for r in stats.gains_table(df, "score", "label").collect()
        }
        assert got == ref(rows)
    # a skilled scorer's top decile lifts hard; random hovers ~1
    sk = ref(skilled)
    assert sk[0][6] > 2.0
    rd = ref(random_sc)
    assert 0.5 < rd[0][6] < 1.7

    # grouped
    both = [("s", *r) for r in skilled] + [("r", *r) for r in random_sc]
    df = spark.createDataFrame(both, "g STRING, score DOUBLE, label INT")
    out = stats.gains_table(df, "score", "label", group_by="g").collect()
    got_s = {r.bucket: r.lift for r in out if r.g == "s"}
    assert got_s[0] == ref(skilled)[0][6]

    # non-binary label fails loud
    bad = spark.createDataFrame([(1.0, 2)], "score DOUBLE, label INT")
    with pytest.raises(Exception, match="binary"):
        stats.gains_table(bad, "score", "label").collect()
    with pytest.raises(ValueError, match="n_buckets"):
        stats.gains_table(bad, "score", "label", n_buckets=1)


def test_drift_report(spark):
    """Multi-column melt agrees exactly with per-column psi; the
    shifted column flags and the stable one doesn't; type guard;
    missing-column guard; one-sided NULL semantics."""
    import random

    from getl_spark.functions import stats

    rnd = random.Random(21)
    a_rows = [(rnd.gauss(0, 1), rnd.uniform(0, 10), "x") for _ in range(800)]
    # col1 shifted hard on the right side; col2 stable
    b_rows = [(rnd.gauss(3, 1), rnd.uniform(0, 10), "x") for _ in range(800)]
    a = spark.createDataFrame(a_rows, "m1 DOUBLE, m2 DOUBLE, s STRING")
    b = spark.createDataFrame(b_rows, "m1 DOUBLE, m2 DOUBLE, s STRING")

    rep = {r.column: r for r in
           stats.drift_report(a, b, ["m1", "m2"]).collect()}
    assert set(rep) == {"m1", "m2"}
    assert rep["m1"].psi > 0.5 and rep["m2"].psi < 0.1
    assert rep["m1"].n_left == 800 and rep["m1"].n_right == 800

    # identical to the single-column op, column by column
    for c in ("m1", "m2"):
        single = stats.psi(a.select(c), b.select(c), c).collect()[0]
        assert rep[c].psi == single.psi

    # string column refused loudly (pointed at columns_categorical);
    # absent column refused
    with pytest.raises(ValueError, match="columns_categorical"):
        stats.drift_report(a, b, ["m1", "s"])
    with pytest.raises(ValueError, match="missing"):
        stats.drift_report(a, b, ["nope"])

    # a column all-NULL on one side: NULL psi, counts visible
    from pyspark.sql import functions as F

    a2 = a.withColumn("m3", F.lit(None).cast("double"))
    b2 = b.withColumn("m3", F.lit(1.0))
    r3 = {r.column: r for r in
          stats.drift_report(a2, b2, ["m1", "m3"]).collect()}
    assert r3["m3"].psi is None and r3["m3"].n_right == 800


def test_drift_report_categorical_partition_invariant(spark):
    """Categorical PSI (incl. the salted two-phase top-K cut) must be
    identical at any input parallelism — the top-K is decided on
    GLOBAL counts with a total (count desc, value asc) order, so no
    partitioning can change which categories are kept."""
    import random

    from getl_spark.functions import stats

    rnd = random.Random(31)
    cats = [f"c{i:02d}" for i in range(30)]
    rows_a = [(rnd.choice(cats[: 5 + i % 25]),) for i in range(4000)]
    rows_b = [(rnd.choice(cats),) for _ in range(3000)]
    a = spark.createDataFrame(rows_a, "lang STRING")
    b = spark.createDataFrame(rows_b, "lang STRING")
    outs = []
    for pa, pb in ((1, 1), (32, 7)):
        r = stats.drift_report(
            a.repartition(pa), b.repartition(pb),
            columns_categorical=["lang"], top_k=8,
        ).collect()[0]
        outs.append((r.psi, r.n_left, r.n_right))
    assert outs[0] == outs[1]


def test_drift_report_categorical(spark):
    """Categorical columns: top-K by reference frequency + __other__,
    exact python replay of the ε-smoothed share PSI; a new-on-right
    category lands in __other__ and spikes; tie-break determinism;
    NULL exclusion; mixed numeric+categorical union; guards."""
    import math
    import random

    from getl_spark.functions import stats

    rnd = random.Random(9)
    langs_ref = ["en"] * 500 + ["de"] * 200 + ["fr"] * 100 + [
        "sv", "fi", "da", "nb"
    ] * 10  # tail beyond top_k=3
    langs_new = ["en"] * 300 + ["de"] * 150 + ["zh"] * 350  # zh is NEW
    rnd.shuffle(langs_ref)
    rnd.shuffle(langs_new)
    a = spark.createDataFrame(
        [(l, float(i)) for i, l in enumerate(langs_ref)],
        "lang STRING, m DOUBLE",
    )
    b = spark.createDataFrame(
        [(l, float(i)) for i, l in enumerate(langs_new)],
        "lang STRING, m DOUBLE",
    )
    rep = {
        r.column: r
        for r in stats.drift_report(
            a, b, columns_categorical=["lang"], top_k=3
        ).collect()
    }
    r = rep["lang"]
    assert r.n_left == len(langs_ref) and r.n_right == len(langs_new)

    # exact python replay: top-3 reference categories (count desc,
    # value asc) = en, de, fr; everything else -> __other__
    def shares(vals, keep):
        from collections import Counter

        c = Counter("__other__" if v not in keep else v for v in vals)
        n = sum(c.values())
        return {k: v / n for k, v in c.items()}

    keep = {"en", "de", "fr"}
    sl, sr = shares(langs_ref, keep), shares(langs_new, keep)
    cats = set(sl) | set(sr)
    eps = 1e-6
    want = sum(
        (sl.get(k, 0.0) + eps - sr.get(k, 0.0) - eps)
        * math.log((sl.get(k, 0.0) + eps) / (sr.get(k, 0.0) + eps))
        for k in cats
    )
    assert r.psi == round(want, 6)
    assert r.psi > 0.2  # the zh influx must flag

    # stable corpus: near-zero PSI
    rep2 = stats.drift_report(
        a, a, columns_categorical=["lang"], top_k=3
    ).collect()[0]
    assert rep2.psi == 0.0

    # tie-break determinism: sv/fi/da/nb all tie at 10 — top_k=2 must
    # keep the lexicographically smallest ties deterministically
    tied = spark.createDataFrame(
        [(l,) for l in ["sv", "fi", "da", "nb"] * 10], "lang STRING"
    )
    t1 = stats.drift_report(
        tied, tied, columns_categorical="lang", top_k=2
    ).collect()[0]
    assert t1.psi == 0.0 and t1.n_left == 40

    # NULLs excluded from counts
    from pyspark.sql import functions as F

    a3 = a.withColumn(
        "lang", F.when(F.col("m") < 100, None).otherwise(F.col("lang"))
    )
    r3 = stats.drift_report(
        a3, b, columns_categorical=["lang"]
    ).collect()[0]
    assert r3.n_left == len(langs_ref) - 100

    # mixed numeric + categorical in one report
    both = {
        r.column: r
        for r in stats.drift_report(
            a, b, columns=["m"], columns_categorical=["lang"]
        ).collect()
    }
    assert set(both) == {"m", "lang"}
    only_num = stats.drift_report(a, b, ["m"]).collect()[0]
    assert both["m"].psi == only_num.psi

    # guards: overlap, no columns at all, bad top_k, missing column
    with pytest.raises(ValueError, match="both numeric and"):
        stats.drift_report(a, b, ["m"], columns_categorical=["m"])
    with pytest.raises(ValueError, match="at least one column"):
        stats.drift_report(a, b)
    with pytest.raises(ValueError, match="top_k"):
        stats.drift_report(a, b, columns_categorical=["lang"], top_k=0)
    with pytest.raises(ValueError, match="missing"):
        stats.drift_report(a, b, columns_categorical=["nope"])


def test_ab_report(spark):
    """Per-metric rows agree exactly with ab_compare on healthy
    metrics; a degenerate metric is NULL-not-fatal; other arms
    excluded; type/missing guards."""
    import random

    from getl_spark.functions import stats

    rnd = random.Random(41)
    rows = []
    for i in range(400):
        arm = ["control", "treatment", "holdout"][i % 3]
        lifted = 1.0 if arm == "treatment" else 0.0
        rows.append((
            arm,
            rnd.gauss(10 + lifted, 2.0),        # moved metric
            rnd.gauss(5, 1.0),                  # flat metric
            7.0,                                # constant -> degenerate
        ))
    df = spark.createDataFrame(rows, "arm STRING, m_lift DOUBLE, m_flat DOUBLE, m_const DOUBLE")

    rep = {r.metric: r for r in
           stats.ab_report(df, "arm", ["m_lift", "m_flat", "m_const"],
                           "control", "treatment").collect()}
    assert set(rep) == {"m_lift", "m_flat", "m_const"}

    # healthy metrics: identical to the single-metric op
    for m in ("m_lift", "m_flat"):
        single = stats.ab_compare(df, "arm", m, "control", "treatment").collect()[0]
        got = rep[m]
        assert (got.n_control, got.n_treatment) == (single.n_control, single.n_treatment)
        for f in ("diff", "stderr", "z", "p_value"):
            assert getattr(got, f) == getattr(single, f), (m, f)
    assert rep["m_lift"].p_value < 0.01 and rep["m_flat"].p_value > 0.05
    # holdout arm never counted
    assert rep["m_lift"].n_control == sum(1 for r in rows if r[0] == "control")

    # constant metric: NULL stats, counts visible, report survives
    assert rep["m_const"].z is None and rep["m_const"].n_control > 0

    with pytest.raises(ValueError, match="missing"):
        stats.ab_report(df, "arm", ["nope"], "control", "treatment")
    with pytest.raises(ValueError, match="numeric"):
        stats.ab_report(
            df.withColumn("s", df.arm), "arm", ["s"], "control", "treatment"
        )


def test_proportion_sizing():
    """Fleiss formula vs hand-known values; inverse relationship with
    mde_prop; monotonicity; guards. No Spark needed."""
    from getl_spark.functions import stats

    # classic calculator check: 10% -> 12% at 5%/80% needs ~3800/arm
    n = stats.required_n_prop(0.10, 0.02)
    assert 3700 <= n <= 3900

    # bigger lift, smaller n; symmetric-ish down-lift sizes similarly
    assert stats.required_n_prop(0.10, 0.05) < n
    assert abs(stats.required_n_prop(0.12, -0.02) - n) < 120

    # inverse: the mde at exactly n rows needs <= n; slightly less
    # lift needs more than n
    d = stats.mde_prop(n, 0.10)
    assert stats.required_n_prop(0.10, d) <= n
    assert stats.required_n_prop(0.10, d * 0.98) > n
    assert d == pytest.approx(0.02, abs=2e-3)

    # high-rate metrics are cheaper to move detectably near the edge
    assert stats.required_n_prop(0.9, 0.02) < stats.required_n_prop(0.5, 0.02)

    for bad in ((0.0, 0.1), (1.0, 0.1), (0.95, 0.1), (0.5, 0.0)):
        with pytest.raises(ValueError):
            stats.required_n_prop(*bad)
    with pytest.raises(ValueError):
        stats.mde_prop(0, 0.5)
    with pytest.raises(ValueError, match="more than"):
        stats.mde_prop(3, 0.5)


def test_round9_ops_partition_invariance(spark):
    """cronbach_alpha, kendall_w, krippendorff_alpha, gains_table,
    theil_sen, and ab_report return identical results at 1, 7, and 32
    input partitions — the property that makes the local[32] answer
    the 1000-executor answer."""
    import random

    from getl_spark.functions import stats

    rnd = random.Random(53)
    panel = []
    for i in range(30):
        q = rnd.uniform(0, 10)
        for r in range(3):
            panel.append((f"i{i:02d}", f"r{r}", round(q + rnd.gauss(0, 1), 3)))
    scored = [
        (round(rnd.gauss(2.0 if rnd.random() < 0.3 else 0.0, 1.0), 2),
         int(rnd.random() < 0.5),
         rnd.choice(["c", "t"]))
        for _ in range(400)
    ]
    series = [(float(i % 40), 2.0 * (i % 40) + rnd.gauss(0, 1)) for i in range(80)]

    results = []
    for parts in (1, 7, 32):
        pdf = spark.createDataFrame(
            panel, "item STRING, rater STRING, v DOUBLE"
        ).repartition(parts)
        sdf = spark.createDataFrame(
            scored, "score DOUBLE, label INT, arm STRING"
        ).repartition(parts)
        tdf = spark.createDataFrame(series, "x DOUBLE, y DOUBLE").repartition(parts)
        out = (
            tuple(stats.cronbach_alpha(pdf, "item", "rater", "v").collect()[0]),
            tuple(stats.kendall_w(pdf, "item", "rater", "v").collect()[0]),
            tuple(stats.krippendorff_alpha(pdf, "item", "v",
                                           metric="interval").collect()[0]),
            sorted(tuple(r) for r in
                   stats.gains_table(sdf, "score", "label").collect()),
            tuple(stats.theil_sen(tdf, "x", "y").collect()[0]),
            sorted(tuple(r) for r in
                   stats.ab_report(sdf, "arm", ["score", "label"],
                                   "c", "t").collect()),
        )
        results.append(out)
    assert results[0] == results[1] == results[2]


def test_kruskal_wallis(spark):
    """Tie-corrected H vs a pure-python reference on shifted and
    identical arms; integer-scale heavy ties; all-tied NULL; 2-arm
    consistency with mann_whitney's verdict; partition invariance."""
    import random

    from getl_spark.functions import stats

    def ref_h(rows):
        vals = sorted(v for _, v in rows)
        n = len(vals)
        # midranks
        rank = {}
        i = 0
        while i < len(vals):
            j = i
            while j < len(vals) and vals[j] == vals[i]:
                j += 1
            for _ in range(i, j):
                rank.setdefault(vals[i], (i + j + 1) / 2.0)
            i = j
        arms = {}
        for g, v in rows:
            arms.setdefault(g, []).append(rank[v])
        s = sum(
            (sum(rs) - len(rs) * (n + 1) / 2.0) ** 2 / len(rs)
            for rs in arms.values()
        )
        h = 12.0 / (n * (n + 1)) * s
        from collections import Counter
        t = sum(c**3 - c for c in Counter(vals).values())
        corr = 1 - t / (n**3 - n)
        return h / corr if corr > 0 else None

    rnd = random.Random(61)
    shifted = [(g, rnd.gauss(m, 1.0))
               for g, m in (("a", 0.0), ("b", 0.8), ("c", 1.6))
               for _ in range(120)]
    null_case = [(g, float(rnd.randint(1, 5)))
                 for g in "abc" for _ in range(120)]

    for rows, sig in ((shifted, True), (null_case, False)):
        df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
        r = stats.kruskal_wallis(df, "g", "v").collect()[0]
        assert (r.n, r.k, r.df) == (360, 3, 2)
        assert r.h == pytest.approx(ref_h(rows), abs=1e-6)
        assert (r.p_value < 0.01) == sig

    # all values tied -> zero rank variance -> NULL
    const = [(g, 5.0) for g in "ab" for _ in range(10)]
    df = spark.createDataFrame(const, "g STRING, v DOUBLE")
    r = stats.kruskal_wallis(df, "g", "v").collect()[0]
    assert r.h is None and r.p_value is None

    # 2-arm: verdict agrees with mann_whitney on the same data
    two = [(g, v) for g, v in shifted if g in ("a", "c")]
    df = spark.createDataFrame(two, "g STRING, v DOUBLE")
    kw = stats.kruskal_wallis(df, "g", "v").collect()[0]
    mw = stats.mann_whitney(
        df.where("g = 'a'"), df.where("g = 'c'"), "v"
    ).collect()[0]
    assert (kw.p_value < 0.01) == (mw.p_value < 0.01) == True  # noqa: E712

    # partition invariance
    df = spark.createDataFrame(shifted, "g STRING, v DOUBLE")
    outs = {p: tuple(stats.kruskal_wallis(df.repartition(p), "g", "v").collect()[0])
            for p in (1, 7, 32)}
    assert outs[1] == outs[7] == outs[32]


def test_dunn_test(spark):
    """Pairwise z on global midranks vs a pure-python reference;
    separated arm flags against both others, identical arms don't;
    BH monotonicity; all-tied NULL; pair orientation."""
    import math
    import random

    from getl_spark.functions import stats

    def ref(rows):
        vals = sorted(v for _, v in rows)
        n = len(vals)
        rank, i = {}, 0
        while i < n:
            j = i
            while j < n and vals[j] == vals[i]:
                j += 1
            rank[vals[i]] = (i + j + 1) / 2.0
            i = j
        from collections import Counter, defaultdict
        t = sum(c**3 - c for c in Counter(vals).values())
        arms = defaultdict(list)
        for g, v in rows:
            arms[g].append(rank[v])
        var = n * (n + 1) / 12.0 - t / (12.0 * (n - 1))
        out = {}
        names = sorted(arms)
        for x in range(len(names)):
            for y in range(x + 1, len(names)):
                ga, gb = names[x], names[y]
                ra = sum(arms[ga]) / len(arms[ga])
                rb = sum(arms[gb]) / len(arms[gb])
                se = math.sqrt(var * (1 / len(arms[ga]) + 1 / len(arms[gb])))
                out[(ga, gb)] = (ra - rb) / se
        return out

    rnd = random.Random(71)
    rows = (
        [("a", rnd.gauss(0, 1)) for _ in range(150)]
        + [("b", rnd.gauss(0.05, 1)) for _ in range(150)]   # ~ same as a
        + [("c", rnd.gauss(1.5, 1)) for _ in range(150)]    # separated
    )
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    got = {(r.arm_a, r.arm_b): r for r in
           stats.dunn_test(df, "g", "v").collect()}
    exp = ref(rows)
    assert set(got) == set(exp)
    for pair, r in got.items():
        assert r.z == pytest.approx(exp[pair], abs=1e-5)
        assert r.p_adjusted >= r.p_value - 1e-9  # BH never shrinks p
    assert got[("a", "c")].p_adjusted < 0.01
    assert got[("b", "c")].p_adjusted < 0.01
    assert got[("a", "b")].p_adjusted > 0.1
    assert got[("a", "c")].n_a == 150 and got[("a", "c")].n_b == 150

    # all tied -> NULL z
    const = [(g, 1.0) for g in "ab" for _ in range(5)]
    df = spark.createDataFrame(const, "g STRING, v DOUBLE")
    r = stats.dunn_test(df, "g", "v").collect()[0]
    assert r.z is None and r.p_value is None


def test_welch_anova(spark):
    """Exact python replay of the Welch F*/df2/Paulson tail; a planted
    unequal-variance shift flags while a null mixture doesn't; grouped
    ≡ per-slice; loud guards (tiny arm, zero-variance arm, 1 arm)."""
    import math
    import random

    from getl_spark.functions import stats

    rnd = random.Random(23)
    spec = {"a": (0.0, 1.0, 400), "b": (2.0, 3.0, 90), "c": (0.0, 0.5, 800)}
    rows = [
        (arm, rnd.gauss(mu, sd))
        for arm, (mu, sd, n) in spec.items()
        for _ in range(n)
    ]
    df = spark.createDataFrame(rows, "arm STRING, x DOUBLE")
    r = stats.welch_anova(df, "arm", "x").collect()[0]
    assert r.n == 1290 and r.k == 3 and r.df1 == 2

    # python replay
    import statistics as st

    arms = {}
    for arm, x in rows:
        arms.setdefault(arm, []).append(x)
    stats_py = {
        a: (len(v), st.fmean(v), st.variance(v)) for a, v in arms.items()
    }
    w = {a: n / var for a, (n, m, var) in stats_py.items()}
    W = sum(w.values())
    mw = sum(w[a] * stats_py[a][1] for a in w) / W
    k = 3
    A = sum(w[a] * (stats_py[a][1] - mw) ** 2 for a in w) / (k - 1)
    lam = sum(
        (1 - w[a] / W) ** 2 / (stats_py[a][0] - 1) for a in w
    )
    fstar = A / (1 + 2 * (k - 2) / (k * k - 1) * lam)
    df2 = (k * k - 1) / (3 * lam)
    assert r.f_stat == round(fstar, 6)
    assert r.df2 == round(df2, 6)
    # Paulson tail replay
    z = ((1 - 2 / (9 * df2)) * fstar ** (1 / 3) - (1 - 2 / (9 * 2))) / (
        math.sqrt(2 / (9 * 2) + 2 / (9 * df2) * fstar ** (2 / 3))
    )
    p = math.erfc(z / math.sqrt(2)) / 2
    assert abs(r.p_value - p) < 2e-6
    assert r.p_value < 0.01  # arm b's planted shift flags

    # null case: same distribution in every arm -> no flag
    null_rows = [
        (arm, rnd.gauss(0, 1)) for arm in ("a", "b", "c") for _ in range(300)
    ]
    rn = stats.welch_anova(
        spark.createDataFrame(null_rows, "arm STRING, x DOUBLE"), "arm", "x"
    ).collect()[0]
    assert rn.p_value > 0.01

    # grouped ≡ per-slice
    from pyspark.sql import functions as F

    gdf = df.withColumn("seg", F.length("arm") + (F.abs(F.hash("x")) % 2))
    grows = {
        row.seg: row
        for row in stats.welch_anova(
            gdf, "arm", "x", group_by="seg"
        ).collect()
    }
    for seg, row in grows.items():
        solo = stats.welch_anova(
            gdf.where(F.col("seg") == seg), "arm", "x"
        ).collect()[0]
        assert row.f_stat == solo.f_stat and row.p_value == solo.p_value

    # guards
    with pytest.raises(Exception, match="welch_anova"):
        stats.welch_anova(
            spark.createDataFrame(
                [("a", 1.0), ("a", 2.0), ("b", 5.0)], "arm STRING, x DOUBLE"
            ),
            "arm", "x",
        ).collect()  # arm b has 1 row
    with pytest.raises(Exception, match="welch_anova"):
        stats.welch_anova(
            spark.createDataFrame(
                [("a", 1.0)] * 5 + [("b", 2.0), ("b", 3.0)],
                "arm STRING, x DOUBLE",
            ),
            "arm", "x",
        ).collect()  # arm a zero variance
    with pytest.raises(Exception, match="welch_anova"):
        stats.welch_anova(
            spark.createDataFrame(
                [("a", 1.0), ("a", 2.0)], "arm STRING, x DOUBLE"
            ),
            "arm", "x",
        ).collect()  # single arm


def test_cochran_q_and_mcnemar_pairs(spark):
    """Q vs a python replay; k=2 identity with uncorrected McNemar;
    neutral all-agree items; zero-discordance NULL; completeness and
    binary guards; pairwise rows match stats.mcnemar per pair with BH
    adjustment across the pair flood."""
    import math
    import random

    from getl_spark.functions import stats

    rnd = random.Random(5)
    models = {"m_a": 0.85, "m_b": 0.75, "m_c": 0.74}
    rows = []
    for item in range(600):
        hard = rnd.random() < 0.3
        for m, p in models.items():
            pp = 0.15 if hard else p
            rows.append((item, m, int(rnd.random() < pp)))
    df = spark.createDataFrame(rows, "item INT, model STRING, pass INT")

    r = stats.cochran_q(df, "item", "model", "pass").collect()[0]
    assert r.n_items == 600 and r.k_models == 3 and r.df == 2

    # python replay
    from collections import defaultdict

    R, C = defaultdict(int), defaultdict(int)
    for it, m, y in rows:
        R[it] += y
        C[m] += y
    k, N = 3, sum(R.values())
    num = k * (k - 1) * (sum(c * c for c in C.values()) - N * N / k)
    den = k * N - sum(v * v for v in R.values())
    want_q = num / den
    assert r.q == round(want_q, 6)
    assert r.p_value < 0.05  # m_a is genuinely better

    # k=2 identity: Q == uncorrected McNemar chi2
    two = df.where("model != 'm_c'")
    rq = stats.cochran_q(two, "item", "model", "pass").collect()[0]
    wide = {}
    for it, m, y in rows:
        if m != "m_c":
            wide.setdefault(it, {})[m] = y
    pairs_df = spark.createDataFrame(
        [(v["m_a"], v["m_b"]) for v in wide.values()], "a INT, b INT"
    )
    rm = stats.mcnemar(pairs_df, "a", "b", correction=False).collect()[0]
    assert rq.q == rm.chi2

    # items every model passes/fails are neutral: Q unchanged
    extra = [(9000 + i, m, 1) for i in range(40) for m in models] + [
        (9500 + i, m, 0) for i in range(40) for m in models
    ]
    r2 = stats.cochran_q(
        spark.createDataFrame(rows + extra, "item INT, model STRING, pass INT"),
        "item", "model", "pass",
    ).collect()[0]
    assert r2.q == r.q and r2.n_items == 680

    # no mixed-verdict item anywhere: NULL stats, counts visible
    allsame = spark.createDataFrame(
        [(i, m, i % 2) for i in range(10) for m in ("x", "y")],
        "item INT, model STRING, pass INT",
    )
    r3 = stats.cochran_q(allsame, "item", "model", "pass").collect()[0]
    assert r3.q is None and r3.p_value is None and r3.n_items == 10

    # guards: incomplete panel; binary
    with pytest.raises(Exception, match="incomplete"):
        stats.cochran_q(
            df.where("NOT (item = 0 AND model = 'm_a')"),
            "item", "model", "pass",
        ).collect()
    with pytest.raises(Exception, match="binary"):
        stats.cochran_q(
            spark.createDataFrame(
                [(0, "x", 2), (0, "y", 1)], "item INT, model STRING, pass INT"
            ),
            "item", "model", "pass",
        ).collect()

    # pairwise post-hoc: each row matches stats.mcnemar on the pivot
    pr = {
        (row.model_a, row.model_b): row
        for row in stats.mcnemar_pairs(df, "item", "model", "pass").collect()
    }
    assert set(pr) == {("m_a", "m_b"), ("m_a", "m_c"), ("m_b", "m_c")}
    wide3 = {}
    for it, m, y in rows:
        wide3.setdefault(it, {})[m] = y
    for ma, mb in pr:
        pivot = spark.createDataFrame(
            [(v[ma], v[mb]) for v in wide3.values()], "a INT, b INT"
        )
        single = stats.mcnemar(pivot, "a", "b").collect()[0]
        got = pr[(ma, mb)]
        assert (got.only_a, got.only_b) == (single.only_a, single.only_b)
        assert got.chi2 == single.chi2 and got.p_value == single.p_value
        assert got.n_pairs == 600
    # BH: adjusted never below raw, and m_a-vs-m_b stays a discovery
    assert all(
        row.p_adjusted is None or row.p_adjusted >= row.p_value
        for row in pr.values()
    )
    assert pr[("m_a", "m_b")].p_adjusted < 0.05

    # grouped cochran_q: per-group rows equal per-slice ungrouped runs
    from pyspark.sql import functions as F

    gdf = df.withColumn("g", (F.col("item") % 2).cast("int"))
    grows = {
        row.g: row
        for row in stats.cochran_q(
            gdf, "item", "model", "pass", group_by="g"
        ).collect()
    }
    for gv in (0, 1):
        solo = stats.cochran_q(
            gdf.where(F.col("g") == gv), "item", "model", "pass"
        ).collect()[0]
        assert grows[gv].q == solo.q and grows[gv].n_items == solo.n_items


def test_mcnemar(spark):
    """Cells vs a python count; chi2/p vs the closed form (p is the
    chi2_1 tail = erfc(sqrt(chi2/2)), A-S polynomial within 1.5e-7 of
    math.erfc); correction toggles; NULL pairs excluded; zero
    discordants -> NULL stats with counts; binary guard; a planted
    one-sided improvement flags."""
    import math
    import random

    from getl_spark.functions import stats

    rnd = random.Random(13)
    rows = []
    for _ in range(2000):
        hard = rnd.random() < 0.3          # pairing: shared difficulty
        pa = 0.2 if hard else 0.85
        pb = 0.2 if hard else 0.75         # model A better on easy items
        rows.append((int(rnd.random() < pa), int(rnd.random() < pb)))
    rows += [(None, 1), (1, None)]         # unpaired items excluded
    df = spark.createDataFrame(rows, "a INT, b INT")
    r = stats.mcnemar(df, "a", "b").collect()[0]

    paired = [(x, y) for x, y in rows if x is not None and y is not None]
    n11 = sum(1 for x, y in paired if x == 1 and y == 1)
    n00 = sum(1 for x, y in paired if x == 0 and y == 0)
    n10 = sum(1 for x, y in paired if x == 1 and y == 0)
    n01 = sum(1 for x, y in paired if x == 0 and y == 1)
    assert (r.both_pass, r.both_fail, r.only_a, r.only_b) == (n11, n00, n10, n01)
    assert r.n_pairs == len(paired)
    chi2 = (abs(n10 - n01) - 1) ** 2 / (n10 + n01)
    assert r.chi2 == round(chi2, 6)
    assert abs(r.p_value - math.erfc(math.sqrt(chi2 / 2))) < 2e-6
    assert r.p_value < 0.05  # the planted A>B difference flags

    r2 = stats.mcnemar(df, "a", "b", correction=False).collect()[0]
    assert r2.chi2 == round((n10 - n01) ** 2 / (n10 + n01), 6)

    # models that never disagree: NULL stats, visible counts
    agree = spark.createDataFrame(
        [(1, 1)] * 30 + [(0, 0)] * 20, "a INT, b INT"
    )
    r3 = stats.mcnemar(agree, "a", "b").collect()[0]
    assert r3.chi2 is None and r3.p_value is None
    assert r3.both_pass == 30 and r3.both_fail == 20 and r3.n_pairs == 50

    # correction clamps at zero when |only_a - only_b| < 1
    tie = spark.createDataFrame([(1, 0), (0, 1)], "a INT, b INT")
    r4 = stats.mcnemar(tie, "a", "b").collect()[0]
    assert r4.chi2 == 0.0 and r4.p_value == 1.0

    with pytest.raises(Exception, match="binary"):
        stats.mcnemar(
            spark.createDataFrame([(2, 0)], "a INT, b INT"), "a", "b"
        ).collect()


def test_odds_ratio(spark):
    """Cells and closed forms vs a python reference; CI brackets the
    known effect; zero cell yields NULL not a fudged number; third
    arm / NULL outcome excluded; binary guard."""
    import math
    import random

    from getl_spark.functions import stats

    rnd = random.Random(77)
    rows = []
    for _ in range(3000):
        arm = rnd.choice(["control", "treatment", "holdout"])
        p = {"control": 0.04, "treatment": 0.08, "holdout": 0.5}[arm]
        rows.append((arm, int(rnd.random() < p)))
    rows.append(("control", None))
    df = spark.createDataFrame(rows, "arm STRING, bad INT")

    r = stats.odds_ratio(df, "arm", "bad", "control", "treatment").collect()[0]
    a = sum(1 for g, y in rows if g == "treatment" and y == 1)
    b = sum(1 for g, y in rows if g == "treatment" and y == 0)
    c = sum(1 for g, y in rows if g == "control" and y == 1)
    d = sum(1 for g, y in rows if g == "control" and y == 0)
    assert (r.events_treatment, r.events_control) == (a, c)
    assert (r.n_treatment, r.n_control) == (a + b, c + d)
    orr = a * d / (b * c)
    assert r.odds_ratio == round(orr, 6)
    se = math.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
    assert r.or_ci_lo == round(math.exp(math.log(orr) - 1.959964 * se), 6)
    assert r.or_ci_hi == round(math.exp(math.log(orr) + 1.959964 * se), 6)
    rr = (a / (a + b)) / (c / (c + d))
    assert r.relative_risk == round(rr, 6)
    # the CI brackets the true 2x effect and excludes 1
    assert r.or_ci_lo > 1.0 and r.or_ci_lo < 2.0 < r.or_ci_hi

    # zero cell -> NULL estimates, counts still visible
    clean = spark.createDataFrame(
        [("control", 0)] * 50 + [("treatment", 1)] * 5 + [("treatment", 0)] * 45,
        "arm STRING, bad INT",
    )
    r = stats.odds_ratio(clean, "arm", "bad", "control", "treatment").collect()[0]
    assert r.odds_ratio is None and r.events_control == 0
    assert r.n_control == 50 and r.rate_treatment == 0.1

    with pytest.raises(Exception, match="binary"):
        stats.odds_ratio(
            spark.createDataFrame([("control", 2)], "arm STRING, bad INT"),
            "arm", "bad", "control", "treatment",
        ).collect()

    # empty ARM fails LOUD (ab_compare's contract): a misspelled arm
    # name must not come back as a silent all-NULL row
    with pytest.raises(Exception, match="arm is empty"):
        stats.odds_ratio(
            clean, "arm", "bad", "control", "treatmnet"  # typo'd arm
        ).collect()
    with pytest.raises(Exception, match="arm is empty"):
        stats.odds_ratio(
            spark.createDataFrame([], "arm STRING, bad INT"),
            "arm", "bad", "control", "treatment",
        ).collect()


# ------------------------------------------------------------ fisher exact


def _fisher_ref(a, b, c, d):
    """Exact rational-arithmetic hypergeometric reference."""
    from fractions import Fraction
    from math import comb

    n1, n2, s = a + b, c + d, a + c
    kmin, kmax = max(0, s - n2), min(n1, s)
    probs = {
        k: Fraction(comb(n1, k) * comb(n2, s - k), 1)
        for k in range(kmin, kmax + 1)
    }
    tot = sum(probs.values())
    pobs = probs[a]
    tol = Fraction(10**7 + 1, 10**7)
    two = sum(p for p in probs.values() if p <= pobs * tol)
    less = sum(probs[k] for k in probs if k <= a)
    greater = sum(probs[k] for k in probs if k >= a)
    return float(two / tot), float(less / tot), float(greater / tot)


def _fisher_df(spark, a, b, c, d):
    rows = (
        [("t", 1)] * a + [("t", 0)] * b + [("c", 1)] * c + [("c", 0)] * d
    )
    return spark.createDataFrame(rows, "arm STRING, y INT")


def test_fisher_exact_matches_exact_reference(spark):
    from getl_spark.functions import stats

    # incl. the zero-cell safety case (3/40 vs 0/38) and a balanced null
    for a, b, c, d in [(3, 37, 0, 38), (5, 5, 5, 5), (1, 9, 8, 2),
                       (12, 48, 5, 55), (7, 3, 2, 8)]:
        r = stats.fisher_exact(
            _fisher_df(spark, a, b, c, d), "arm", "y", "c", "t"
        ).collect()[0]
        two, less, greater = _fisher_ref(a, b, c, d)
        assert abs(r.p_two_sided - two) < 1e-6
        assert abs(r.p_less - less) < 1e-6
        assert abs(r.p_greater - greater) < 1e-6
        assert r.n_treatment == a + b and r.n_control == c + d
        assert r.events_treatment == a and r.events_control == c


def test_fisher_exact_zero_cell_contract(spark):
    from getl_spark.functions import stats

    # zero cell: p-values REAL (that's the point of the exact test),
    # sample odds ratio NULL per the odds_ratio contract
    r = stats.fisher_exact(
        _fisher_df(spark, 3, 37, 0, 38), "arm", "y", "c", "t"
    ).collect()[0]
    assert r.odds_ratio is None
    assert r.p_two_sided is not None and 0 < r.p_two_sided <= 1
    # degenerate support (no successes anywhere): all tails are 1
    r = stats.fisher_exact(
        _fisher_df(spark, 0, 10, 0, 12), "arm", "y", "c", "t"
    ).collect()[0]
    assert r.p_two_sided == 1.0 and r.p_less == 1.0 and r.p_greater == 1.0


def test_fisher_exact_guards(spark):
    from getl_spark.functions import stats

    df = _fisher_df(spark, 2, 2, 2, 2)
    # empty arm (misspelled name) fails loud, matching odds_ratio
    with pytest.raises(Exception, match="arm is empty"):
        stats.fisher_exact(df, "arm", "y", "c", "TYPO").collect()
    # non-binary outcome fails loud
    bad = spark.createDataFrame(
        [("t", 2), ("c", 1)], "arm STRING, y INT"
    )
    with pytest.raises(Exception, match="binary"):
        stats.fisher_exact(bad, "arm", "y", "c", "t").collect()
    # oversized support fails loud BEFORE exploding
    with pytest.raises(Exception, match="max_terms"):
        stats.fisher_exact(
            _fisher_df(spark, 40, 40, 40, 40), "arm", "y", "c", "t",
            max_terms=10,
        ).collect()


def test_fisher_exact_agrees_with_odds_ratio_cells(spark):
    from getl_spark.functions import stats

    df = _fisher_df(spark, 7, 13, 4, 16)
    fe = stats.fisher_exact(df, "arm", "y", "c", "t").collect()[0]
    orr = stats.odds_ratio(df, "arm", "y", "c", "t").collect()[0]
    assert (fe.n_control, fe.n_treatment) == (orr.n_control, orr.n_treatment)
    assert (fe.events_control, fe.events_treatment) == (
        orr.events_control, orr.events_treatment
    )
    assert fe.odds_ratio == orr.odds_ratio


def _ratio_ref(units):
    """Pure-python delta-method replay: units = [(arm, x, y)] per-unit
    totals."""
    import math as _m

    def arm_stats(a):
        xs = [x for g, x, y in units if g == a]
        ys = [y for g, x, y in units if g == a]
        n = len(xs)
        mx, my = sum(xs) / n, sum(ys) / n
        vx = sum((v - mx) ** 2 for v in xs) / (n - 1)
        vy = sum((v - my) ** 2 for v in ys) / (n - 1)
        cxy = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / (n - 1)
        r = mx / my
        vr = (vx - 2 * r * cxy + r * r * vy) / (n * my * my)
        return n, r, vr

    n_c, r_c, v_c = arm_stats("c")
    n_t, r_t, v_t = arm_stats("t")
    diff = r_t - r_c
    se = _m.sqrt(max(v_c + v_t, 0.0))
    z = diff / se
    x = abs(z) / _m.sqrt(2.0)
    tt = 1.0 / (1.0 + 0.3275911 * x)
    p = (0.254829592 * tt - 0.284496736 * tt**2 + 1.421413741 * tt**3
         - 1.453152027 * tt**4 + 1.061405429 * tt**5) * _m.exp(-x * x)
    return n_c, n_t, r_c, r_t, diff, se, z, p


def test_ratio_metric_matches_reference_and_beats_naive(spark):
    from getl_spark.functions import stats

    # event-level rows: (arm, user, clicks, views) — users have
    # heterogeneous activity, the exact regime where event-level
    # t-tests understate variance
    rows = []
    for u in range(40):
        arm = "c" if u % 2 == 0 else "t"
        for e in range((u % 7) + 1):
            clicks = 1 if (u * 3 + e) % 4 == 0 else 0
            clicks += 1 if arm == "t" and (u + e) % 5 == 0 else 0
            rows.append((arm, u, clicks, 1))
    df = spark.createDataFrame(
        rows, "arm STRING, user_id LONG, clicks INT, views INT"
    )
    got = stats.ratio_metric(
        df, "arm", "clicks", "views", "user_id", "c", "t"
    ).collect()[0]
    # per-unit totals for the reference
    from collections import defaultdict

    tot = defaultdict(lambda: [0, 0])
    arms = {}
    for a, u, x, y in rows:
        tot[u][0] += x
        tot[u][1] += y
        arms[u] = a
    units = [(arms[u], float(x), float(y)) for u, (x, y) in tot.items()]
    n_c, n_t, r_c, r_t, diff, se, z, p = _ratio_ref(units)
    assert (got.units_control, got.units_treatment) == (n_c, n_t)
    assert abs(got.ratio_control - r_c) < 1e-6
    assert abs(got.ratio_treatment - r_t) < 1e-6
    assert abs(got.diff - diff) < 1e-6
    assert abs(got.stderr - se) < 1e-6
    assert abs(got.z - z) < 1e-5
    assert abs(got.p_value - p) < 1e-6
    # partition invariance
    again = stats.ratio_metric(
        df.repartition(13), "arm", "clicks", "views", "user_id", "c", "t"
    ).collect()[0]
    assert tuple(again) == tuple(got)


def test_ratio_metric_guards(spark):
    from getl_spark.functions import stats

    df = spark.createDataFrame(
        [("c", 1, 1, 1), ("t", 2, 1, 1)],
        "arm STRING, user_id LONG, clicks INT, views INT",
    )
    # single-unit arms: undefined variance must fail loud
    with pytest.raises(Exception, match="ratio_metric"):
        stats.ratio_metric(
            df, "arm", "clicks", "views", "user_id", "c", "t"
        ).collect()
    # misspelled arm: empty -> loud
    big = spark.createDataFrame(
        [("c", u, 1, 2) for u in range(5)]
        + [("t", u + 10, 1, 2) for u in range(5)],
        "arm STRING, user_id LONG, clicks INT, views INT",
    )
    with pytest.raises(Exception, match="ratio_metric"):
        stats.ratio_metric(
            big, "arm", "clicks", "views", "user_id", "c", "TYPO"
        ).collect()


def _bayes_ref(st, ft, sc, fc, ap=1, bp=1):
    """Pure-python exact Beta-inequality replay via math.lgamma — an
    lnGamma implementation independent of the operator's Stirling
    series, so agreement cross-checks both."""
    import math as _m

    aA, bA = sc + ap, fc + bp
    aB, bB = st + ap, ft + bp

    def lbeta(x, y):
        return _m.lgamma(x) + _m.lgamma(y) - _m.lgamma(x + y)

    def h(a1, b1, a2, b2):
        return sum(
            _m.exp(
                lbeta(a1 + i, b1 + b2) - _m.log(b2 + i)
                - lbeta(1 + i, b2) - lbeta(a1, b1)
            )
            for i in range(a2)
        )

    h1 = h(aA, bA, aB, bB)
    h2 = h(aA + 1, bA, aB, bB)
    h3 = h(aA, bA, aB + 1, bB)
    mu_a, mu_b = aA / (aA + bA), aB / (aB + bB)
    loss_t = mu_a * (1 - h2) - mu_b * (1 - h3)
    loss_c = (mu_b - mu_a) + loss_t
    return h1, mu_a, mu_b, max(loss_t, 0.0), max(loss_c, 0.0)


def test_bayes_ab_matches_exact_reference(spark):
    from getl_spark.functions import stats

    # (st, ft, sc, fc): treatment successes/failures, control s/f —
    # incl. a zero-success arm, a clear winner, and a dead heat
    for st, ft, sc, fc in [(5, 5, 5, 5), (12, 48, 5, 55), (0, 10, 3, 7),
                           (40, 10, 20, 30), (1, 1, 1, 1)]:
        r = stats.bayes_ab(
            _fisher_df(spark, st, ft, sc, fc), "arm", "y", "c", "t"
        ).collect()[0]
        h1, mu_a, mu_b, lt, lc = _bayes_ref(st, ft, sc, fc)
        assert r.n_treatment == st + ft and r.n_control == sc + fc
        assert r.events_treatment == st and r.events_control == sc
        assert abs(r.prob_beats - h1) < 1e-6, (st, ft, sc, fc)
        assert abs(r.rate_control - mu_a) < 1e-6
        assert abs(r.rate_treatment - mu_b) < 1e-6
        assert abs(r.expected_uplift - (mu_b - mu_a)) < 1e-6
        assert abs(r.loss_choose_treatment - lt) < 1e-6, (st, ft, sc, fc)
        assert abs(r.loss_choose_control - lc) < 1e-6, (st, ft, sc, fc)
    # symmetry: P(B>A) with swapped arms complements (continuous
    # posteriors, P(A=B)=0)
    p1 = stats.bayes_ab(
        _fisher_df(spark, 12, 48, 5, 55), "arm", "y", "c", "t"
    ).collect()[0].prob_beats
    p2 = stats.bayes_ab(
        _fisher_df(spark, 12, 48, 5, 55), "arm", "y", "t", "c"
    ).collect()[0].prob_beats
    assert abs((p1 + p2) - 1.0) < 1e-6
    # informative prior shifts the posterior the right way
    flat = stats.bayes_ab(
        _fisher_df(spark, 6, 4, 5, 5), "arm", "y", "c", "t"
    ).collect()[0]
    skeptic = stats.bayes_ab(
        _fisher_df(spark, 6, 4, 5, 5), "arm", "y", "c", "t",
        alpha_prior=1, beta_prior=20,
    ).collect()[0]
    assert skeptic.rate_treatment < flat.rate_treatment
    h1s, *_ = _bayes_ref(6, 4, 5, 5, ap=1, bp=20)
    assert abs(skeptic.prob_beats - h1s) < 1e-6


def test_bayes_ab_guards(spark):
    from getl_spark.functions import stats

    df = _fisher_df(spark, 2, 2, 2, 2)
    with pytest.raises(ValueError, match="priors"):
        stats.bayes_ab(df, "arm", "y", "c", "t", alpha_prior=0)
    with pytest.raises(ValueError, match="priors"):
        stats.bayes_ab(df, "arm", "y", "c", "t", beta_prior=1.5)
    with pytest.raises(Exception, match="arm is empty"):
        stats.bayes_ab(df, "arm", "y", "c", "TYPO").collect()
    bad = spark.createDataFrame([("t", 2), ("c", 1)], "arm STRING, y INT")
    with pytest.raises(Exception, match="binary"):
        stats.bayes_ab(bad, "arm", "y", "c", "t").collect()
    with pytest.raises(Exception, match="max_terms"):
        stats.bayes_ab(
            _fisher_df(spark, 40, 40, 40, 40), "arm", "y", "c", "t",
            max_terms=10,
        ).collect()


def test_fisher_exact_round_to_applies_to_odds_ratio(spark):
    from getl_spark.functions import stats

    # (1, 9, 8, 2): OR = (1*2)/(9*8) = 0.02777... — round_to must govern
    # odds_ratio exactly like the p-value columns
    df = _fisher_df(spark, 1, 9, 8, 2)
    r2 = stats.fisher_exact(df, "arm", "y", "c", "t", round_to=2).collect()[0]
    assert r2.odds_ratio == 0.03
    r4 = stats.fisher_exact(df, "arm", "y", "c", "t", round_to=4).collect()[0]
    assert r4.odds_ratio == 0.0278


# ------------------------------------------------------------ mann-kendall


def _mk_ref(xy, alpha=0.05):
    """Pure-python Mann-Kendall with tie-corrected variance."""
    import math as _math
    from collections import Counter

    xy = sorted(xy)
    n = len(xy)
    ys = [y for _, y in xy]
    s = sum(
        (ys[j] > ys[i]) - (ys[j] < ys[i])
        for i in range(n) for j in range(i + 1, n)
    )
    t_counts = Counter(ys).values()
    var_s = (
        n * (n - 1) * (2 * n + 5)
        - sum(t * (t - 1) * (2 * t + 5) for t in t_counts)
    ) / 18.0
    n_pairs = n * (n - 1) / 2
    tie_pairs = sum(t * (t - 1) / 2 for t in t_counts)
    tau = (
        s / _math.sqrt((n_pairs - tie_pairs) * n_pairs)
        if n_pairs - tie_pairs > 0
        else None
    )
    if var_s <= 0:
        return s, var_s, tau, None, None, "no_trend"
    z = (s - 1) / _math.sqrt(var_s) if s > 0 else (
        (s + 1) / _math.sqrt(var_s) if s < 0 else 0.0
    )
    x = abs(z) / _math.sqrt(2.0)
    tt = 1.0 / (1.0 + 0.3275911 * x)
    p = (
        0.254829592 * tt - 0.284496736 * tt**2 + 1.421413741 * tt**3
        - 1.453152027 * tt**4 + 1.061405429 * tt**5
    ) * _math.exp(-x * x)
    trend = (
        "increasing" if (p < alpha and s > 0)
        else "decreasing" if (p < alpha and s < 0) else "no_trend"
    )
    return s, var_s, tau, z, p, trend


def test_mann_kendall_matches_reference(spark):
    import random as _random

    from getl_spark.functions import stats

    rng = _random.Random(3)
    series = {
        "up": [(i, i + rng.uniform(-2, 2)) for i in range(30)],
        "flat": [(i, rng.uniform(0, 10)) for i in range(30)],
        "down": [(i, 50 - 2 * i + rng.uniform(-5, 5)) for i in range(25)],
        "tied": [(i, float(i // 5)) for i in range(20)],
    }
    rows = [(g, float(x), float(y)) for g, xy in series.items() for x, y in xy]
    df = spark.createDataFrame(rows, "g STRING, x DOUBLE, y DOUBLE")
    got = {
        r.g: r
        for r in stats.mann_kendall(df, "x", "y", group_by="g").collect()
    }
    for g, xy in series.items():
        s, var_s, tau, z, p, trend = _mk_ref(xy)
        r = got[g]
        assert r.s_stat == s, (g, r.s_stat, s)
        assert abs(r.var_s - var_s) < 1e-6
        assert abs(r.tau - tau) < 1e-6
        assert abs(r.z - z) < 1e-6 and abs(r.p_value - p) < 1e-6
        assert r.trend == trend
    assert got["up"].trend == "increasing"
    assert got["down"].trend == "decreasing"
    assert got["flat"].trend == "no_trend"


def test_mann_kendall_outlier_immunity(spark):
    from getl_spark.functions import stats

    # clean upward series + one catastrophic spike: MK stays significant
    # and positive (rank-based: the spike is just one point's ranks)
    xy = [(float(i), float(i)) for i in range(20)]
    xy[10] = (10.0, 1e6)
    df = spark.createDataFrame(
        [("a", x, y) for x, y in xy], "g STRING, x DOUBLE, y DOUBLE"
    )
    r = stats.mann_kendall(df, "x", "y", group_by="g").collect()[0]
    assert r.trend == "increasing" and r.s_stat > 150


def test_mann_kendall_guards_and_degenerate(spark):
    from getl_spark.functions import stats

    df = spark.createDataFrame(
        [("a", 1.0, 2.0), ("a", 1.0, 3.0)], "g STRING, x DOUBLE, y DOUBLE"
    )
    with pytest.raises(ValueError, match="distinct x"):
        stats.mann_kendall(df, "x", "y", group_by="g")
    big = spark.createDataFrame(
        [("a", float(i), 1.0) for i in range(30)],
        "g STRING, x DOUBLE, y DOUBLE",
    )
    with pytest.raises(ValueError, match="max_points"):
        stats.mann_kendall(big, "x", "y", group_by="g", max_points=10)
    # single point: NULL stats, no_trend
    one = spark.createDataFrame(
        [("a", 1.0, 2.0)], "g STRING, x DOUBLE, y DOUBLE"
    )
    r = stats.mann_kendall(one, "x", "y", group_by="g").collect()[0]
    assert r.s_stat is None and r.p_value is None and r.trend == "no_trend"
    # constant y: S=0, z=0, p=1, no_trend
    const = spark.createDataFrame(
        [("a", float(i), 5.0) for i in range(10)],
        "g STRING, x DOUBLE, y DOUBLE",
    )
    r = stats.mann_kendall(const, "x", "y", group_by="g").collect()[0]
    assert r.s_stat == 0 and r.trend == "no_trend"


# ------------------------------------------------------- cochran-armitage


def _ca_ref(levels):
    """Pure-python reference: levels = [(x, n, r)]."""
    import math as _math

    N = sum(n for _, n, _ in levels)
    R = sum(r for _, _, r in levels)
    pbar = R / N
    t = sum(r * x for x, _, r in levels) - pbar * sum(
        n * x for x, n, _ in levels
    )
    var = pbar * (1 - pbar) * (
        sum(n * x * x for x, n, _ in levels)
        - sum(n * x for x, n, _ in levels) ** 2 / N
    )
    z = t / _math.sqrt(var)
    xx = abs(z) / _math.sqrt(2.0)
    tt = 1.0 / (1.0 + 0.3275911 * xx)
    p = (
        0.254829592 * tt - 0.284496736 * tt**2 + 1.421413741 * tt**3
        - 1.453152027 * tt**4 + 1.061405429 * tt**5
    ) * _math.exp(-xx * xx)
    return t, var, z, p


def _ca_df(spark, levels):
    rows = []
    for x, n, r in levels:
        rows += [(float(x), 1)] * r + [(float(x), 0)] * (n - r)
    return spark.createDataFrame(rows, "x DOUBLE, y INT")


def test_cochran_armitage_matches_reference(spark):
    from getl_spark.functions import stats

    cases = [
        # rising dose-response
        [(1, 100, 5), (2, 100, 12), (3, 100, 22), (4, 100, 30)],
        # flat
        [(0, 50, 10), (1, 50, 11), (2, 50, 9)],
        # falling, uneven spacing and sizes (spacing must weight it)
        [(0, 200, 60), (1, 80, 20), (5, 40, 2)],
    ]
    for levels in cases:
        r = stats.cochran_armitage(
            _ca_df(spark, levels), "x", "y"
        ).collect()[0]
        t, var, z, p = _ca_ref(levels)
        assert abs(r.t_stat - t) < 1e-6
        assert abs(r.var_t - var) < 1e-4
        assert abs(r.z - z) < 1e-6 and abs(r.p_value - p) < 1e-6
        assert r.n_total == sum(n for _, n, _ in levels)
        assert r.n_groups == len(levels)
    # the rising case is significant, the flat one is not
    rise = stats.cochran_armitage(
        _ca_df(spark, cases[0]), "x", "y"
    ).collect()[0]
    flat = stats.cochran_armitage(
        _ca_df(spark, cases[1]), "x", "y"
    ).collect()[0]
    assert rise.p_value < 0.001 and rise.z > 0
    assert flat.p_value > 0.5


def test_cochran_armitage_guards(spark):
    from getl_spark.functions import stats

    with pytest.raises(Exception, match="binary"):
        stats.cochran_armitage(
            spark.createDataFrame([(1.0, 2)], "x DOUBLE, y INT"), "x", "y"
        ).collect()
    with pytest.raises(Exception, match="2 distinct score levels"):
        stats.cochran_armitage(
            _ca_df(spark, [(1, 10, 3)]), "x", "y"
        ).collect()
    with pytest.raises(Exception, match="pooled rate"):
        stats.cochran_armitage(
            _ca_df(spark, [(1, 10, 0), (2, 10, 0)]), "x", "y"
        ).collect()


# ------------------------------------------------------------ ipw balance


def test_ipw_balance_recovers_balance(spark):
    import random as _random

    from getl_spark.functions import stats

    # confounded assignment: treatment probability rises with x, so the
    # naive mean difference on x is large; weighting by the TRUE
    # propensity must shrink |SMD| dramatically
    rng = _random.Random(21)
    rows = []
    for _ in range(4000):
        x = rng.gauss(0, 1)
        p = 1 / (1 + pow(2.718281828, -(1.2 * x)))
        t = 1 if rng.random() < p else 0
        z = rng.gauss(5, 2)  # independent covariate: balanced already
        rows.append((t, min(max(p, 1e-6), 1 - 1e-6), x, z))
    df = spark.createDataFrame(rows, "t INT, p DOUBLE, x DOUBLE, z DOUBLE")
    out = {
        r.covariate: r
        for r in stats.ipw_balance(df, "t", "p", ["x", "z"]).collect()
    }
    assert abs(out["x"].smd_before) > 0.5
    assert abs(out["x"].smd_after) < 0.15
    assert abs(out["z"].smd_before) < 0.15  # was never confounded


def test_ipw_balance_matches_python_replay(spark):
    import random as _random

    from getl_spark.functions import stats

    rng = _random.Random(3)
    rows = [
        (rng.randint(0, 1), rng.uniform(0.2, 0.8), rng.gauss(0, 1))
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "t INT, p DOUBLE, x DOUBLE")
    r = stats.ipw_balance(df, "t", "p", ["x"], trim=0.01).collect()[0]
    import math as _math

    pt = sum(t for t, _, _ in rows) / len(rows)
    xt = [x for t, _, x in rows if t == 1]
    xc = [x for t, _, x in rows if t == 0]
    mt, mc = sum(xt) / len(xt), sum(xc) / len(xc)
    vt = sum((v - mt) ** 2 for v in xt) / (len(xt) - 1)
    vc = sum((v - mc) ** 2 for v in xc) / (len(xc) - 1)
    pooled = _math.sqrt((vt + vc) / 2)
    wt = [(pt / min(max(p, 0.01), 0.99)) for t, p, _ in rows if t == 1]
    wc = [((1 - pt) / (1 - min(max(p, 0.01), 0.99)))
          for t, p, _ in rows if t == 0]
    wmt = sum(w * x for w, (t, _, x) in zip(wt, [r_ for r_ in rows if r_[0] == 1])) / sum(wt)
    wmc = sum(w * x for w, (t, _, x) in zip(wc, [r_ for r_ in rows if r_[0] == 0])) / sum(wc)
    assert abs(r.mean_treated - round(mt, 6)) < 1e-6
    assert abs(r.mean_control - round(mc, 6)) < 1e-6
    assert abs(r.smd_before - round((mt - mc) / pooled, 6)) < 1e-6
    assert abs(r.wmean_treated - round(wmt, 6)) < 1e-5
    assert abs(r.wmean_control - round(wmc, 6)) < 1e-5
    assert abs(r.smd_after - round((wmt - wmc) / pooled, 6)) < 1e-5


def test_ipw_balance_guards(spark):
    from getl_spark.functions import stats

    df = spark.createDataFrame(
        [(1, 0.5, 1.0), (0, 0.5, 2.0), (1, 0.6, 3.0), (0, 0.4, 0.0)],
        "t INT, p DOUBLE, x DOUBLE",
    )
    with pytest.raises(ValueError, match="covariates"):
        stats.ipw_balance(df, "t", "p", [])
    with pytest.raises(ValueError, match="trim"):
        stats.ipw_balance(df, "t", "p", ["x"], trim=0.7)
    bad_t = spark.createDataFrame(
        [(2, 0.5, 1.0), (0, 0.5, 2.0)], "t INT, p DOUBLE, x DOUBLE"
    )
    with pytest.raises(Exception, match="binary"):
        stats.ipw_balance(bad_t, "t", "p", ["x"]).collect()
    bad_p = spark.createDataFrame(
        [(1, 1.0, 1.0), (0, 0.5, 2.0), (1, 0.5, 1.0), (0, 0.3, 2.0)],
        "t INT, p DOUBLE, x DOUBLE",
    )
    with pytest.raises(Exception, match="positivity"):
        stats.ipw_balance(bad_p, "t", "p", ["x"]).collect()
    one_arm = spark.createDataFrame(
        [(1, 0.5, 1.0), (1, 0.5, 2.0), (0, 0.5, 3.0)],
        "t INT, p DOUBLE, x DOUBLE",
    )
    with pytest.raises(Exception, match="< 2 non-null"):
        stats.ipw_balance(one_arm, "t", "p", ["x"]).collect()


# --------------------------------------------------------------------- DiD


def test_diff_in_diff_cancels_confounders(spark):
    import random as _random

    from getl_spark.functions import stats

    # group effect +10 (permanent), time shock +3 (common), true
    # treatment effect +2 only on (treat, post)
    rng = _random.Random(17)
    rows = []
    for grp, period, base in (
        ("c", "pre", 50.0), ("c", "post", 53.0),
        ("t", "pre", 60.0), ("t", "post", 65.0),  # 60+3+2
    ):
        for _ in range(500):
            rows.append((grp, period, base + rng.gauss(0, 2)))
    df = spark.createDataFrame(rows, "g STRING, per STRING, v DOUBLE")
    r = stats.diff_in_diff(
        df, "g", "per", "v", "c", "t", "pre", "post"
    ).collect()[0]
    # naive post-only diff measures ~12; DiD recovers ~2
    assert abs((r.mean_treat_post - r.mean_ctrl_post) - 12) < 1
    assert abs(r.did - 2.0) < 0.5
    assert r.p_value < 0.001


def test_diff_in_diff_matches_python_replay(spark):
    import math as _math
    import random as _random

    from getl_spark.functions import stats

    rng = _random.Random(5)
    rows = [
        (rng.choice("ct"), rng.choice(["pre", "post"]), rng.gauss(10, 3))
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, "g STRING, per STRING, v DOUBLE")
    r = stats.diff_in_diff(
        df, "g", "per", "v", "c", "t", "pre", "post"
    ).collect()[0]

    def cellstats(gv, pv):
        vs = [v for g, p, v in rows if g == gv and p == pv]
        m = sum(vs) / len(vs)
        var = sum((v - m) ** 2 for v in vs) / (len(vs) - 1)
        return len(vs), m, var

    nt0, mt0, vt0 = cellstats("t", "pre")
    nt1, mt1, vt1 = cellstats("t", "post")
    nc0, mc0, vc0 = cellstats("c", "pre")
    nc1, mc1, vc1 = cellstats("c", "post")
    did = (mt1 - mt0) - (mc1 - mc0)
    se = _math.sqrt(vt0 / nt0 + vt1 / nt1 + vc0 / nc0 + vc1 / nc1)
    assert (r.n_treat_pre, r.n_treat_post) == (nt0, nt1)
    assert abs(r.did - round(did, 6)) < 1e-6
    assert abs(r.se - round(se, 6)) < 1e-6
    assert abs(r.z - round(did / se, 6)) < 1e-4


def test_diff_in_diff_empty_cell_fails_loud(spark):
    from getl_spark.functions import stats

    df = spark.createDataFrame(
        [("t", "pre", 1.0), ("t", "post", 2.0),
         ("c", "pre", 1.0), ("c", "pre", 2.0),
         ("t", "pre", 3.0), ("t", "post", 4.0)],
        "g STRING, per STRING, v DOUBLE",
    )
    with pytest.raises(Exception, match="cell has < 2"):
        stats.diff_in_diff(
            df, "g", "per", "v", "c", "t", "pre", "post"
        ).collect()
    with pytest.raises(Exception, match="cell has < 2"):
        stats.diff_in_diff(
            df, "g", "per", "v", "c", "t", "pre", "TYPO"
        ).collect()


def test_round10_stats_ops_partition_invariant(spark):
    """fisher_exact / mann_kendall / cochran_armitage / ipw_balance /
    diff_in_diff: identical values under any input partitioning."""
    from getl_spark.functions import stats

    def rows(df):
        return sorted(map(tuple, df.collect()))

    fd = _fisher_df(spark, 7, 13, 4, 16)
    assert rows(
        stats.fisher_exact(fd.repartition(1), "arm", "y", "c", "t")
    ) == rows(stats.fisher_exact(fd.repartition(13), "arm", "y", "c", "t"))

    import random as _random

    rng = _random.Random(31)
    mk = spark.createDataFrame(
        [("a", float(i), rng.uniform(0, 10)) for i in range(40)]
        + [("b", float(i), i + rng.uniform(-1, 1)) for i in range(30)],
        "g STRING, x DOUBLE, y DOUBLE",
    )
    assert rows(
        stats.mann_kendall(mk.repartition(1), "x", "y", group_by="g")
    ) == rows(stats.mann_kendall(mk.repartition(13), "x", "y", group_by="g"))

    ca = _ca_df(spark, [(1, 100, 5), (2, 100, 12), (3, 100, 22)])
    assert rows(
        stats.cochran_armitage(ca.repartition(1), "x", "y")
    ) == rows(stats.cochran_armitage(ca.repartition(13), "x", "y"))

    ipw = spark.createDataFrame(
        [
            (rng.randint(0, 1), rng.uniform(0.2, 0.8), rng.gauss(0, 1))
            for _ in range(200)
        ],
        "t INT, p DOUBLE, x DOUBLE",
    )
    assert rows(
        stats.ipw_balance(ipw.repartition(1), "t", "p", ["x"])
    ) == rows(stats.ipw_balance(ipw.repartition(13), "t", "p", ["x"]))

    did = spark.createDataFrame(
        [
            (rng.choice("ct"), rng.choice(["pre", "post"]), rng.gauss(10, 3))
            for _ in range(300)
        ],
        "g STRING, per STRING, v DOUBLE",
    )
    assert rows(
        stats.diff_in_diff(
            did.repartition(1), "g", "per", "v", "c", "t", "pre", "post"
        )
    ) == rows(
        stats.diff_in_diff(
            did.repartition(13), "g", "per", "v", "c", "t", "pre", "post"
        )
    )


# ---------------------------------------------------------- meta-analysis


def _meta_ref(pairs):
    """Pure-python DerSimonian-Laird replay: pairs = [(effect, se)]."""
    import math as _m

    ws = [1.0 / (s * s) for _, s in pairs]
    xs = [x for x, _ in pairs]
    sw = sum(ws)
    swx = sum(w * x for w, x in zip(ws, xs))
    swx2 = sum(w * x * x for w, x in zip(ws, xs))
    sw2 = sum(w * w for w in ws)
    k = len(pairs)
    fixed = swx / sw
    fse = 1.0 / _m.sqrt(sw)
    q = swx2 - swx * swx / sw
    i2 = max(0.0, (q - (k - 1)) / q)
    tau2 = max(0.0, (q - (k - 1)) / (sw - sw2 / sw))
    wr = [1.0 / (s * s + tau2) for _, s in pairs]
    reff = sum(w * x for w, x in zip(wr, xs)) / sum(wr)
    rse = 1.0 / _m.sqrt(sum(wr))
    return k, fixed, fse, q, i2, tau2, reff, rse


def test_meta_analysis_matches_reference(spark):
    from getl_spark.functions import stats

    # heterogeneous segments (tau2 > 0) and a tight pair (tau2 == 0)
    hetero = [(0.10, 0.02), (0.30, 0.03), (-0.05, 0.04), (0.22, 0.025)]
    homo = [(0.10, 0.05), (0.11, 0.05), (0.095, 0.04)]
    rows = [("h", x, s) for x, s in hetero] + [("o", x, s) for x, s in homo]
    df = spark.createDataFrame(rows, "m STRING, eff DOUBLE, se DOUBLE")
    got = {
        r.m: r
        for r in stats.meta_analysis(df, "eff", "se", group_by="m").collect()
    }
    for name, pairs in (("h", hetero), ("o", homo)):
        k, fixed, fse, q, i2, tau2, reff, rse = _meta_ref(pairs)
        g = got[name]
        assert g.k == k
        assert abs(g.fixed_effect - fixed) < 1e-6
        assert abs(g.fixed_se - fse) < 1e-6
        assert abs(g.q - q) < 1e-6
        assert abs(g.i2 - i2) < 1e-6
        assert abs(g.tau2 - tau2) < 1e-6
        assert abs(g.random_effect - reff) < 1e-6
        assert abs(g.random_se - rse) < 1e-6
    # heterogeneity widens the random-effects interval
    assert got["h"].tau2 > 0 and got["h"].random_se > got["h"].fixed_se
    # homogeneous segments: tau2 0, both poolings agree
    assert got["o"].tau2 == 0
    assert abs(got["o"].fixed_effect - got["o"].random_effect) < 1e-9
    # ungrouped path + NULL/non-positive SE exclusion
    df2 = spark.createDataFrame(
        [(0.1, 0.02), (0.2, 0.03), (0.5, None), (0.5, 0.0)],
        "eff DOUBLE, se DOUBLE",
    )
    one = stats.meta_analysis(df2, "eff", "se").collect()[0]
    assert one.k == 2


def test_meta_analysis_guard(spark):
    from getl_spark.functions import stats

    df = spark.createDataFrame([(0.1, 0.02)], "eff DOUBLE, se DOUBLE")
    with pytest.raises(Exception, match="meta_analysis"):
        stats.meta_analysis(df, "eff", "se").collect()


def test_meta_analysis_null_group_key_is_kept(spark):
    """A NULL group key forms its own pooled group — the internal
    recombining joins are null-safe, so its row must not vanish."""
    from getl_spark.functions import stats

    rows = [
        ("a", 0.10, 0.02), ("a", 0.30, 0.03),
        (None, 0.12, 0.05), (None, 0.08, 0.04), (None, 0.20, 0.03),
    ]
    df = spark.createDataFrame(rows, "m STRING, eff DOUBLE, se DOUBLE")
    got = {r.m: r for r in
           stats.meta_analysis(df, "eff", "se", group_by="m").collect()}
    assert set(got) == {"a", None}
    assert got[None].k == 3
    # the NULL group's pooled values match the same rows run ungrouped
    solo = stats.meta_analysis(
        df.where("m IS NULL"), "eff", "se"
    ).collect()[0]
    assert got[None].fixed_effect == solo.fixed_effect
    assert got[None].random_effect == solo.random_effect
    assert got[None].tau2 == solo.tau2


# ------------------------------------------------------------ sample size


def _ppf_bisect(p):
    """Independent inverse-normal via erf bisection (cross-checks the
    operator's Acklam constants)."""
    import math as _m

    lo, hi = -10.0, 10.0
    for _ in range(200):
        mid = (lo + hi) / 2
        if 0.5 * (1 + _m.erf(mid / _m.sqrt(2))) < p:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2


def _n_ref(p1, mde_rel, alpha=0.05, power=0.8):
    import math as _m

    p2 = p1 * (1 + mde_rel)
    za, zb = _ppf_bisect(1 - alpha / 2), _ppf_bisect(power)
    pbar = (p1 + p2) / 2
    num = za * _m.sqrt(2 * pbar * (1 - pbar)) + zb * _m.sqrt(
        p1 * (1 - p1) + p2 * (1 - p2)
    )
    return _m.ceil(num * num / (p2 - p1) ** 2)


def test_sample_size_matches_reference(spark):
    from getl_spark.functions import stats

    # exact baseline rates by construction: 1 success in 10 (p=0.1)
    # for segment a; 3 in 10 (p=0.3) for segment b
    rows = [("a", 1 if i == 0 else 0) for i in range(10)] + [
        ("b", 1 if i < 3 else 0) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "seg STRING, y INT")
    got = {
        r.seg: r
        for r in stats.sample_size(df, "y", group_by="seg",
                                   mde_rel=0.10).collect()
    }
    for seg, p1 in (("a", 0.1), ("b", 0.3)):
        want = _n_ref(p1, 0.10)
        g = got[seg]
        assert g.n_rows == 10 and abs(g.baseline_rate - p1) < 1e-9
        assert abs(g.target_rate - p1 * 1.1) < 1e-9
        # Acklam vs bisection agree to <1e-8 on z; ceil can only differ
        # if the unrounded n sits within ~1e-4 of an integer — assert
        # exact match here (it does not)
        assert g.n_per_arm == want, (seg, g.n_per_arm, want)
        assert g.total_n == 2 * want
    # the textbook magnitude check: p=0.1, +10% rel, 80/5 -> ~14.7k
    assert 14000 < got["a"].n_per_arm < 15500
    # smaller MDE -> larger n
    tight = stats.sample_size(df.where("seg = 'a'"), "y",
                              mde_rel=0.05).collect()[0]
    assert tight.n_per_arm > got["a"].n_per_arm


def test_sample_size_guards(spark):
    from getl_spark.functions import stats

    df = spark.createDataFrame([("a", 1), ("a", 0)], "seg STRING, y INT")
    with pytest.raises(ValueError, match="alpha"):
        stats.sample_size(df, "y", alpha=0)
    with pytest.raises(ValueError, match="mde_rel"):
        stats.sample_size(df, "y", mde_rel=0.0)
    bad = spark.createDataFrame([("a", 2)], "seg STRING, y INT")
    with pytest.raises(Exception, match="binary"):
        stats.sample_size(bad, "y").collect()
    # degenerate baseline (all zeros) fails loud
    zeros = spark.createDataFrame([("a", 0), ("a", 0)], "seg STRING, y INT")
    with pytest.raises(Exception, match="degenerate|outside"):
        stats.sample_size(zeros, "y").collect()
    # overshooting mde: p2 >= 1
    high = spark.createDataFrame([("a", 1), ("a", 1), ("a", 0)],
                                 "seg STRING, y INT")
    with pytest.raises(Exception, match="outside"):
        stats.sample_size(high, "y", mde_rel=0.9).collect()


# ------------------------------------------------------------- EB rates


def _eb_ref(groups, min_n=5):
    """Pure-python replay: groups = {g: (n, s)}."""
    rates = [s / n for n, s in groups.values() if n >= min_n]
    m = sum(rates) / len(rates)
    v = sum((r - m) ** 2 for r in rates) / (len(rates) - 1)
    common = m * (1 - m) / v - 1
    a, b = m * common, (1 - m) * common
    return a, b, {
        g: (s + a) / (n + a + b) for g, (n, s) in groups.items()
    }


def test_eb_rates_matches_reference_and_shrinks(spark):
    from getl_spark.functions import stats

    # big groups with stable rates + one tiny 2/2 group that a raw
    # ranking would crown
    groups = {
        "big_good": (200, 120),   # 0.60
        "big_mid": (300, 120),    # 0.40
        "big_low": (250, 50),     # 0.20
        "mid": (40, 22),          # 0.55
        "tiny": (2, 2),           # 1.00 raw
    }
    rows = []
    for g, (n, s) in groups.items():
        rows += [(g, 1)] * s + [(g, 0)] * (n - s)
    df = spark.createDataFrame(rows, "host STRING, ok INT")
    got = {r.host: r for r in stats.eb_rates(df, "ok", "host").collect()}
    a, b, want = _eb_ref(groups)
    for g in groups:
        assert got[g].n == groups[g][0]
        assert abs(got[g].shrunk_rate - want[g]) < 1e-6, g
        assert abs(got[g].alpha - a) < 1e-5 and abs(got[g].beta - b) < 1e-5
    # the 2/2 group no longer outranks the 200-trial 60% group
    assert got["tiny"].raw_rate == 1.0
    assert got["tiny"].shrunk_rate < got["big_good"].shrunk_rate
    # big groups barely move
    assert abs(got["big_good"].shrunk_rate - 0.6) < 0.05
    # partition invariance
    again = {
        r.host: tuple(r)
        for r in stats.eb_rates(df.repartition(11), "ok", "host").collect()
    }
    assert again == {r.host: tuple(r) for r in got.values()}


def test_eb_rates_guards(spark):
    from getl_spark.functions import stats

    # constant qualifying rates -> variance 0 -> loud
    rows = [("a", 1)] * 5 + [("a", 0)] * 5 + [("b", 1)] * 5 + [("b", 0)] * 5
    df = spark.createDataFrame(rows, "g STRING, y INT")
    with pytest.raises(Exception, match="eb_rates"):
        stats.eb_rates(df, "y", "g").collect()
    # only one qualifying group -> loud
    rows2 = [("a", 1)] * 6 + [("b", 1), ("b", 0)]
    df2 = spark.createDataFrame(rows2, "g STRING, y INT")
    with pytest.raises(Exception, match="eb_rates"):
        stats.eb_rates(df2, "y", "g").collect()
    with pytest.raises(ValueError, match="min_n"):
        stats.eb_rates(df, "y", "g", min_n=0)
    bad = spark.createDataFrame([("a", 3)], "g STRING, y INT")
    with pytest.raises(Exception, match="binary"):
        stats.eb_rates(bad, "y", "g").collect()


# ------------------------------------------------------------------ qini


def _qini_ref(rows, n_buckets=10):
    """Pure-python replay: rows = [(score, arm, y)] with arm in c/t.
    Returns {bucket: (cum_rows, cnt, cnc, cpt, cpc, uplift, rand, qini)}."""
    from collections import defaultdict

    blocks = defaultdict(lambda: [0, 0, 0, 0, 0])  # n, nt, nc, pt, pc
    for s, a, y in rows:
        b = blocks[-s]
        b[0] += 1
        if a == "t":
            b[1] += 1
            b[3] += y
        else:
            b[2] += 1
            b[4] += y
    tn = sum(b[0] for b in blocks.values())
    tnt = sum(b[1] for b in blocks.values())
    tnc = sum(b[2] for b in blocks.values())
    tpt = sum(b[3] for b in blocks.values())
    tpc = sum(b[4] for b in blocks.values())
    q_total = tpt - tpc * tnt / tnc
    out = {}
    cn = cnt = cnc = cpt = cpc = 0
    for k in sorted(blocks):
        b = blocks[k]
        bucket = (cn * n_buckets) // tn
        cn += b[0]; cnt += b[1]; cnc += b[2]; cpt += b[3]; cpc += b[4]
        q = cpt - (cpc * cnt / cnc if cnc > 0 else 0.0)
        rand = q_total * cn / tn
        out[bucket] = (cn, cnt, cnc, cpt, cpc, q, rand, q - rand)
    return out


def test_qini_matches_reference_and_finds_uplift(spark):
    from getl_spark.functions import stats

    # planted persuadables: rows with score >= 70 convert IF TREATED
    # (effect), low scores convert at base rate regardless
    rows = []
    for i in range(400):
        score = (i * 7919) % 100
        arm = "t" if i % 2 == 0 else "c"
        if score >= 70:
            y = 1 if arm == "t" else 0            # pure persuadables
        else:
            y = 1 if (i * 31) % 10 == 0 else 0    # 10% base both arms
        rows.append((float(score), arm, y))
    df = spark.createDataFrame(rows, "score DOUBLE, arm STRING, y INT")
    got = {
        r.bucket: (r.cum_rows, r.cum_treat, r.cum_ctrl, r.cum_treat_pos,
                   r.cum_ctrl_pos, r.uplift, r.random_uplift, r.qini)
        for r in stats.qini(df, "score", "arm", "y", "c", "t").collect()
    }
    want = _qini_ref(rows)
    assert set(got) == set(want)
    for b, w in want.items():
        assert got[b][:5] == w[:5], b
        for gi, wi in zip(got[b][5:], w[5:]):
            assert abs(gi - wi) < 1e-6, b
    # the model targets better than random in the high-score deciles
    assert got[0][7] > 0 and got[2][7] > 0
    # the curve ends ON the random line (qini(100%) == 0)
    last = max(got)
    assert abs(got[last][7]) < 1e-6
    # partition invariance
    again = {
        r.bucket: tuple(r)
        for r in stats.qini(
            df.repartition(13), "score", "arm", "y", "c", "t"
        ).collect()
    }
    assert again == {b: (b, *v) for b, v in got.items()}


def test_qini_guards(spark):
    from getl_spark.functions import stats

    df = spark.createDataFrame(
        [(1.0, "t", 1), (0.5, "t", 0)], "score DOUBLE, arm STRING, y INT"
    )
    with pytest.raises(Exception, match="arm is empty"):
        stats.qini(df, "score", "arm", "y", "c", "t").collect()
    bad = spark.createDataFrame(
        [(1.0, "t", 2), (0.5, "c", 1)], "score DOUBLE, arm STRING, y INT"
    )
    with pytest.raises(Exception, match="binary"):
        stats.qini(bad, "score", "arm", "y", "c", "t").collect()
    with pytest.raises(ValueError, match="n_buckets"):
        stats.qini(df, "score", "arm", "y", "c", "t", n_buckets=1)


# ------------------------------------------------------------- psm match


def test_psm_match_matches_bruteforce(spark):
    """Bucketed candidate generation must find exactly the pairs a
    direct |diff| <= caliper scan finds, with the (dist, control_id)
    tie order."""
    from getl_spark.functions import stats

    rows = [
        (i, 1 if i % 4 == 0 else 0, ((i * 53) % 89) / 100.0 + 0.005)
        for i in range(160)
    ]
    df = spark.createDataFrame(rows, "id LONG, t INT, p DOUBLE")
    caliper = 0.03
    got = {
        r.treated_id: (r.control_id, r.dist)
        for r in stats.psm_match(df, "t", "p", "id", caliper=caliper).collect()
    }
    controls = [(i, p) for i, t, p in rows if t == 0]
    want = {}
    for ti, t, tp in [(i, t, p) for i, t, p in rows if t == 1]:
        cands = sorted(
            (abs(tp - cp), ci) for ci, cp in controls
            if abs(tp - cp) <= caliper
        )
        if cands:
            want[ti] = cands[0][1]
    assert {k: v[0] for k, v in got.items()} == want
    # with replacement: a control may serve several treated units
    assert len(set(v[0] for v in got.values())) <= len(got)
    # treated with no in-caliper control are absent, not fabricated
    lonely = spark.createDataFrame(
        [(1, 1, 0.5), (2, 0, 0.9)], "id LONG, t INT, p DOUBLE"
    )
    assert stats.psm_match(lonely, "t", "p", "id", caliper=0.05).count() == 0


def test_psm_match_guards(spark):
    from getl_spark.functions import stats

    df = spark.createDataFrame(
        [(1, 1, 0.5), (2, 0, 0.5)], "id LONG, t INT, p DOUBLE"
    )
    with pytest.raises(ValueError, match="caliper"):
        stats.psm_match(df, "t", "p", "id", caliper=0.0)
    bad_t = spark.createDataFrame(
        [(1, 2, 0.5), (2, 0, 0.5)], "id LONG, t INT, p DOUBLE"
    )
    with pytest.raises(Exception, match="binary"):
        stats.psm_match(bad_t, "t", "p", "id").collect()
    bad_p = spark.createDataFrame(
        [(1, 1, 1.0), (2, 0, 0.5)], "id LONG, t INT, p DOUBLE"
    )
    with pytest.raises(Exception, match="propensit"):
        stats.psm_match(bad_p, "t", "p", "id").collect()
    # NULL propensity rows are excluded, not crashed on
    with_null = spark.createDataFrame(
        [(1, 1, 0.5), (2, 0, 0.501), (3, 0, None)],
        "id LONG, t INT, p DOUBLE",
    )
    out = stats.psm_match(with_null, "t", "p", "id").collect()
    assert [(r.treated_id, r.control_id) for r in out] == [(1, 2)]
    # NULL treatment rows are excluded (arm unknown), not crashed on
    # with a misleading 'must be binary' message (ADVICE r12)
    with_null_t = spark.createDataFrame(
        [(1, 1, 0.5), (2, 0, 0.501), (3, None, 0.5)],
        "id LONG, t INT, p DOUBLE",
    )
    out2 = stats.psm_match(with_null_t, "t", "p", "id").collect()
    assert [(r.treated_id, r.control_id) for r in out2] == [(1, 2)]


def test_psm_att_hand_computed(spark):
    """ATT on a fixture with one reused control, differential checked
    by hand: pairs (1,11),(2,11),(3,12); y = {1:10, 2:12, 3:8, 11:7,
    12:9}. diffs (3, 5, -1) -> ATT 7/3; s2_t = 4; distinct controls
    (7, 9) -> s2_c = 2, K = (2, 1) -> sum K^2 = 5;
    Var = (3*4 + 5*2)/9 = 22/9."""
    import math

    from getl_spark.functions import stats

    units = spark.createDataFrame(
        [(1, 10.0), (2, 12.0), (3, 8.0), (11, 7.0), (12, 9.0)],
        "id LONG, y DOUBLE",
    )
    pairs = spark.createDataFrame(
        [(1, 11), (2, 11), (3, 12)], "treated_id LONG, control_id LONG"
    )
    row = stats.psm_att(units, pairs, "y", "id").collect()[0]
    assert (row.n_treated, row.n_controls, row.max_reuse) == (3, 2, 2)
    assert abs(row.mean_treated - 10.0) < 1e-9
    assert abs(row.mean_control - 23 / 3) < 1e-6
    assert abs(row.att - 7 / 3) < 1e-6
    se = math.sqrt(22 / 9)
    assert abs(row.se - se) < 1e-6
    z = (7 / 3) / se
    assert abs(row.z - z) < 1e-6
    assert abs(row.p_value - math.erfc(z / math.sqrt(2))) < 1e-5
    # no reuse -> sum K^2 = n_t and the SE collapses to the plain
    # two-sample form sqrt(s2_t/n + s2_c/n)
    pairs2 = spark.createDataFrame(
        [(1, 11), (2, 12)], "treated_id LONG, control_id LONG"
    )
    r2 = stats.psm_att(units, pairs2, "y", "id").collect()[0]
    assert r2.max_reuse == 1
    s2t, s2c = 2.0, 2.0  # var_samp(10,12), var_samp(7,9)
    assert abs(r2.se - math.sqrt(s2t / 2 + s2c / 2)) < 1e-6


def test_psm_att_guards(spark):
    from getl_spark.functions import stats

    units = spark.createDataFrame(
        [(1, 10.0), (2, 12.0), (11, 7.0), (12, 9.0)], "id LONG, y DOUBLE"
    )
    # a pair id absent from df fails loudly, never silently drops
    bad = spark.createDataFrame(
        [(1, 11), (99, 12)], "treated_id LONG, control_id LONG"
    )
    with pytest.raises(Exception, match="missing from df"):
        stats.psm_att(units, bad, "y", "id").collect()
    # NULL outcome is the same contract violation
    null_y = spark.createDataFrame(
        [(1, 10.0), (2, None), (11, 7.0), (12, 9.0)], "id LONG, y DOUBLE"
    )
    pairs = spark.createDataFrame(
        [(1, 11), (2, 12)], "treated_id LONG, control_id LONG"
    )
    with pytest.raises(Exception, match="NULL outcome"):
        stats.psm_att(null_y, pairs, "y", "id").collect()
    # < 2 matched treated units: no variance is estimable — and the
    # guard must survive a projection that drops n_treated (it rides
    # on att/se, the columns every caller consumes)
    one = spark.createDataFrame([(1, 11)], "treated_id LONG, control_id LONG")
    with pytest.raises(Exception, match="variance"):
        stats.psm_att(units, one, "y", "id").collect()
    with pytest.raises(Exception, match="variance"):
        stats.psm_att(units, one, "y", "id").select("att", "se").collect()


def test_psm_match_att_end_to_end(spark):
    """psm_match pairs feed psm_att directly: the composition runs and
    the ATT equals the hand-joined mean pair difference."""
    from getl_spark.functions import stats

    rows = [
        (i, 1 if i % 4 == 0 else 0, ((i * 53) % 89) / 100.0 + 0.005,
         float(i % 7) + (3.0 if i % 4 == 0 else 0.0))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "id LONG, t INT, p DOUBLE, y DOUBLE")
    pairs = stats.psm_match(df, "t", "p", "id", caliper=0.03)
    got = stats.psm_att(df, pairs, "y", "id").collect()[0]
    ys = {i: y for i, _, _, y in rows}
    diffs = [
        ys[r.treated_id] - ys[r.control_id] for r in pairs.collect()
    ]
    assert got.n_treated == len(diffs) >= 2
    assert abs(got.att - sum(diffs) / len(diffs)) < 1e-6


# ------------------------------------------------------------- ols
def test_ols_exact_and_noisy_vs_numpy(spark):
    """Exact plane recovered to machine precision; noisy fit matches
    an independent numpy lstsq + classical-SE computation."""
    import numpy as np

    from getl_spark.functions import stats

    rng = np.random.RandomState(3)
    x1 = rng.uniform(-2, 2, 200)
    x2 = rng.uniform(0, 5, 200)
    # exact: y = 3 + 2 x1 - 0.5 x2
    y_exact = 3.0 + 2.0 * x1 - 0.5 * x2
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, y_exact)],
        "x1 double, x2 double, y double",
    )
    got = {r.feature: r for r in stats.ols(df, "y", ["x1", "x2"]).collect()}
    assert abs(got["intercept"].coef - 3.0) < 1e-6
    assert abs(got["x1"].coef - 2.0) < 1e-6
    assert abs(got["x2"].coef + 0.5) < 1e-6
    assert got["x1"].r2 == 1.0 and got["x1"].n == 200

    # noisy: compare against numpy's normal-equation solution + SEs
    noise = rng.normal(0, 1.0, 200)
    y = y_exact + noise
    df2 = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, y)],
        "x1 double, x2 double, y double",
    )
    rows = {r.feature: r for r in stats.ols(df2, "y", ["x1", "x2"]).collect()}
    X = np.column_stack([np.ones(200), x1, x2])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    resid = y - X @ beta
    sigma2 = (resid @ resid) / (200 - 3)
    ses = np.sqrt(np.diag(sigma2 * np.linalg.inv(X.T @ X)))
    for i, name in enumerate(["intercept", "x1", "x2"]):
        assert abs(rows[name].coef - beta[i]) < 1e-5
        assert abs(rows[name].se - ses[i]) < 1e-5
    r2_ref = 1 - (resid @ resid) / ((y - y.mean()) @ (y - y.mean()))
    assert abs(rows["x1"].r2 - r2_ref) < 1e-5


def test_ols_lin_adjusted_effect(spark):
    """The Lin regression-adjusted readout: y = 2*t + balance/1000 with
    t confounded by balance — OLS on (t, balance) recovers the true
    effect 2.0 where the naive difference in means is inflated."""
    from pyspark.sql import functions as F

    from getl_spark.functions import stats

    df = (
        spark.range(0, 2000)
        .select(
            (F.col("id") % 997 * 7.13).alias("balance"),
            ((F.abs(F.xxhash64("id")) % 1000) / 1000.0
             < (F.col("id") % 997) / 997.0).cast("int").alias("t"),
        )
        .withColumn("y", F.lit(2.0) * F.col("t") + F.col("balance") / 1000.0)
    )
    rows = {r.feature: r for r in stats.ols(df, "y", ["t", "balance"]).collect()}
    assert abs(rows["t"].coef - 2.0) < 1e-6
    assert abs(rows["balance"].coef - 0.001) < 1e-9


def test_ols_guards(spark):
    import numpy as np  # noqa: F401

    from getl_spark.functions import stats

    df = spark.createDataFrame(
        [(1.0, 2.0, 5.0), (2.0, 4.0, 8.0), (3.0, 6.0, 11.0), (4.0, 8.0, 14.0)],
        "x1 double, x2 double, y double",
    )
    with pytest.raises(ValueError, match="x_cols"):
        stats.ols(df, "y", [])
    with pytest.raises(ValueError, match="duplicate"):
        stats.ols(df, "y", ["x1", "x1"])
    # x2 = 2*x1: collinear must raise, not emit garbage
    with pytest.raises(ValueError, match="singular"):
        stats.ols(df, "y", ["x1", "x2"])
    # n <= p
    tiny = spark.createDataFrame([(1.0, 2.0)], "x1 double, y double")
    with pytest.raises(ValueError, match="complete rows"):
        stats.ols(tiny, "y", ["x1"])
    # NULL rows excluded, not imputed
    with_null = spark.createDataFrame(
        [(1.0, 3.0), (2.0, 5.0), (None, 99.0), (3.0, 7.0), (4.0, None)],
        "x1 double, y double",
    )
    rows = {r.feature: r for r in stats.ols(with_null, "y", ["x1"]).collect()}
    assert rows["x1"].n == 3
    assert abs(rows["x1"].coef - 2.0) < 1e-9


def test_grouped_ols_matches_global_and_handles_degenerates(spark):
    """Each group's fit equals the global stats.ols run on that group's
    slice; a too-small group and a collinear group emit NULL rows
    instead of failing the job."""
    import numpy as np

    from getl_spark.functions import grouped, stats

    rng = np.random.RandomState(5)
    rows = []
    for g, (b0, b1, b2) in [("a", (1.0, 2.0, -1.0)), ("b", (-3.0, 0.5, 4.0))]:
        x1 = rng.uniform(-2, 2, 80)
        x2 = rng.uniform(0, 3, 80)
        yv = b0 + b1 * x1 + b2 * x2 + rng.normal(0, 0.5, 80)
        rows += [(g, float(a), float(b), float(c))
                 for a, b, c in zip(x1, x2, yv)]
    rows += [("tiny", 1.0, 2.0, 3.0)]                      # n <= p
    rows += [("collinear", float(v), float(2 * v), float(v))
             for v in range(1, 9)]                         # x2 = 2*x1
    df = spark.createDataFrame(rows, "g string, x1 double, x2 double, y double")
    out = grouped.ols(df, ["g"], "y", ["x1", "x2"]).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.g, {})[r.feature] = r
    # healthy groups match the global operator on their slice exactly
    for g in ("a", "b"):
        want = {
            r.feature: r
            for r in stats.ols(
                df.where(df.g == g), "y", ["x1", "x2"]
            ).collect()
        }
        for feat in ("intercept", "x1", "x2"):
            assert by_g[g][feat].coef == want[feat].coef
            assert by_g[g][feat].se == want[feat].se
            assert by_g[g][feat].r2 == want[feat].r2
    # degenerate groups: rows present, NULL fit, job alive
    for g in ("tiny", "collinear"):
        assert set(by_g[g]) == {"intercept", "x1", "x2"}
        assert all(by_g[g][f].coef is None for f in by_g[g])
    assert by_g["tiny"]["x1"].n == 1 and by_g["collinear"]["x1"].n == 8

    import pytest as _pytest

    with _pytest.raises(ValueError, match="group_by"):
        grouped.ols(df, [], "y", ["x1"])
    with _pytest.raises(ValueError, match="duplicate"):
        grouped.ols(df, ["g"], "y", ["x1", "x1"])
