"""Breakdown engine vs DuckDB oracle + reference-semantics unit checks."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import TESTDATA, assert_frames_match
from vtk_reserves_spark.operators.breakdown import breakdown
from vtk_reserves_spark.plans.commalist import commalist, parse_commalist
from vtk_reserves_spark.plans.template import compile_template, vl_add_region, vl_add_weight


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def test_commalist_roundtrip():
    cl = commalist().parse("a,b;c,d,e")
    assert cl == [["a", "b"], ["c", "d", "e"]]
    assert str(cl) == "a,b;c,d,e"
    assert cl.split() == ["a,b", "c,d,e"]
    assert not commalist().parse("")


def test_template_classification():
    plan = compile_template(
        "region;lito,breakdown;grade,mean,mine,volume;vol=volume,sum,mine;note,text,hi",
        ["region", "lito", "grade", "mine", "volume"],
    )
    assert [k.var for k in plan.keys] == ["region", "lito"]
    assert plan.aggs[0].weights == ("mine", "volume")
    assert plan.aggs[0].out == "grade mean"
    # alias: 'vol=volume' renames output, weights keep only existing cols
    assert plan.aggs[1].var == "vol" or plan.aggs[1].alias == "volume"
    assert plan.aggs[2].mode == "text" and plan.aggs[2].text_value == "hi"


def test_vl_helpers():
    vl = parse_commalist("grade,mean;lito,breakdown;vol,sum")
    vl_add_weight(vl, "mine")
    assert vl[0] == ["grade", "mean", "mine"]
    assert vl[1] == ["lito", "breakdown"]
    assert vl[2] == ["vol", "sum", "mine"]
    vl_add_region(vl)
    assert vl[0] == ["region", "", ""]
    vl_add_region(vl)  # idempotent: region row present -> no change
    assert sum(1 for r in vl if r[0] == "region") == 1


def test_breakdown_basic_modes(lineitem, duck):
    out = breakdown(
        lineitem,
        "l_returnflag;l_linestatus;"
        "l_quantity=sum_qty,sum;"
        "l_extendedprice=sum_price,sum;"
        "l_quantity=avg_qty,mean;"
        "l_quantity=cnt,count;"
        "l_quantity=min_q,min;l_quantity=max_q,max;"
        "l_quantity=var_q,var;l_quantity=std_q,std;l_quantity=sem_q,sem",
    )
    oracle = duck.sql(
        """
        SELECT l_returnflag, l_linestatus,
               SUM(l_quantity) AS sum_qty,
               SUM(l_extendedprice) AS sum_price,
               AVG(l_quantity) AS avg_qty,
               COUNT(l_quantity) AS cnt,
               MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q,
               VAR_SAMP(l_quantity) AS var_q, STDDEV_SAMP(l_quantity) AS std_q,
               STDDEV_SAMP(l_quantity)/SQRT(COUNT(l_quantity)) AS sem_q
        FROM lineitem GROUP BY 1, 2
        """
    )
    assert_frames_match(out, oracle)


def test_breakdown_weighted_mean_sum(lineitem, duck):
    out = breakdown(
        lineitem,
        "l_returnflag;"
        "l_extendedprice=wavg_price,mean,l_quantity;"
        "l_extendedprice=wsum_price,sum,l_quantity",
    )
    oracle = duck.sql(
        """
        SELECT l_returnflag,
               SUM(l_extendedprice*l_quantity)/SUM(l_quantity) AS wavg_price,
               SUM(l_extendedprice*l_quantity) AS wsum_price
        FROM lineitem GROUP BY 1
        """
    )
    assert_frames_match(out, oracle)


def test_breakdown_quantiles(lineitem, duck):
    out = breakdown(
        lineitem,
        "l_returnflag;"
        "l_quantity=q1_q,q1;l_quantity=q2_q,q2;l_quantity=q3_q,q3;"
        "l_quantity=p10_q,p10;l_quantity=p90_q,p90",
    )
    oracle = duck.sql(
        """
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.25) AS q1_q,
               quantile_cont(l_quantity, 0.50) AS q2_q,
               quantile_cont(l_quantity, 0.75) AS q3_q,
               quantile_cont(l_quantity, 0.10) AS p10_q,
               quantile_cont(l_quantity, 0.90) AS p90_q
        FROM lineitem GROUP BY 1
        """
    )
    assert_frames_match(out, oracle)


def _ref_weighted_quantile(a, w, q):
    """Direct re-implementation of the reference algorithm
    (bm_breakdown.py:124-177) — the spec, quirks included."""
    a = np.asarray(a, dtype=float)
    w = np.asarray(w, dtype=float)
    vn = ~(np.isnan(a) | np.isnan(w))
    if not vn.any():
        return None
    a, w = a[vn], w[vn]
    idx = np.argsort(a)
    a_sort, w_sort = a[idx], w[idx]
    ecdf = np.cumsum(w_sort)
    p = np.array([q]) * (np.nansum(w) - 1)
    idx_low = np.searchsorted(ecdf, p, side="right")
    idx_high = np.searchsorted(ecdf, p + 1, side="right")
    idx_high[idx_high > ecdf.size - 1] = ecdf.size - 1
    wh = p - np.floor(p)
    wl = 1.0 - wh
    return float(np.take(a_sort, idx_low) * wl + np.take(a_sort, idx_high) * wh)


def test_breakdown_weighted_quantile_vs_reference(spark):
    rng = np.random.default_rng(7)
    rows = []
    for g in ["a", "b", "c"]:
        n = int(rng.integers(5, 40))
        vals = rng.uniform(0, 100, n)
        wts = rng.uniform(0, 5, n)
        vals[rng.random(n) < 0.15] = np.nan
        wts[rng.random(n) < 0.15] = np.nan
        rows += [(g, float(v), float(w)) for v, w in zip(vals, wts)]
    rows.append(("d", 42.0, 1.0))  # single-row group
    rows.append(("e", float("nan"), 1.0))  # fully-masked group
    pdf = pd.DataFrame(rows, columns=["g", "v", "w"])
    df = spark.createDataFrame(pdf)
    out = breakdown(df, "g;v=wq1,q1,w;v=wq2,q2,w;v=wq3,q3,w").toPandas()
    for _, r in out.iterrows():
        grp = pdf[pdf.g == r["g"]]
        for q, col in [(0.25, "wq1"), (0.5, "wq2"), (0.75, "wq3")]:
            expect = _ref_weighted_quantile(grp.v.values, grp.w.values, q)
            got = r[col]
            if expect is None:
                assert got is None or np.isnan(got), (r["g"], col, got)
            else:
                assert got == pytest.approx(expect, rel=1e-9), (r["g"], col)


def test_breakdown_major_list_text(lineitem, duck):
    out = breakdown(
        lineitem,
        "l_returnflag;"
        "l_linestatus=major_ls,major;"
        "l_linestatus=list_ls,list;"
        "src=src,text,bench",
    )
    oracle = duck.sql(
        """
        WITH cnt AS (
          SELECT l_returnflag, l_linestatus AS val, COUNT(*) AS c
          FROM lineitem WHERE l_linestatus IS NOT NULL GROUP BY 1, 2
        ), top AS (
          SELECT l_returnflag, val,
                 ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY c DESC, val ASC) AS rn
          FROM cnt
        )
        SELECT l.l_returnflag,
               MAX(t.val) AS major_ls,
               string_agg(DISTINCT l.l_linestatus, ',' ORDER BY l.l_linestatus) AS list_ls,
               'bench' AS src
        FROM lineitem l
        JOIN top t ON t.l_returnflag = l.l_returnflag AND t.rn = 1
        GROUP BY 1
        """
    )
    assert_frames_match(out, oracle)


def test_breakdown_null_key_fill(spark):
    pdf = pd.DataFrame(
        {
            "g": ["a", None, "a", None],
            "n": [1.0, 2.0, None, 4.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = breakdown(df, "g;n=s,sum;n=c,count").toPandas().set_index("g")
    # NULL keys are re-filled with the -99 sentinel (bm_breakdown.py:105-108)
    assert "-99" in out.index
    assert out.loc["-99", "s"] == 6.0
    assert out.loc["a", "c"] == 1


def test_breakdown_missing_var_and_empty_weight(spark):
    df = spark.createDataFrame(pd.DataFrame({"g": ["a", "b"], "v": [1.0, 2.0]}))
    out = breakdown(df, "g;nope=x,mean;v=m,mean,absent_w").toPandas()
    # unknown var -> NULL (bm_breakdown.py:212-214); nonexistent weight is
    # dropped so the mean is unweighted (bm_breakdown.py:199-203)
    assert out["x"].isna().all()
    assert sorted(out["m"]) == [1.0, 2.0]


def test_breakdown_no_keys_global(spark):
    df = spark.createDataFrame(pd.DataFrame({"v": [1.0, 2.0, 3.0]}))
    out = breakdown(df, "v=s,sum;v=m,mean").toPandas()
    assert len(out) == 1
    assert out["s"][0] == 6.0
    assert out["m"][0] == 2.0


def test_breakdown_keys_only_distinct(lineitem, duck):
    out = breakdown(lineitem, "l_returnflag;l_linestatus")
    oracle = duck.sql(
        "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"
    )
    assert_frames_match(out, oracle)


def test_breakdown_zero_weight_group_null(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a", "a"], "v": [1.0, 2.0], "w": [0.0, 0.0]})
    )
    out = breakdown(df, "g;v=wm,mean,w").toPandas()
    # sum(weights)==0 -> NULL (bm_breakdown.py:225-227 guard)
    assert out["wm"].isna().all()


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False


if _HYP:

    @st.composite
    def _wq_groups(draw):
        """A handful of groups with tie-prone values and zero-prone
        weights — the edges of the reference ECDF algorithm."""
        n_groups = draw(st.integers(2, 4))
        groups = []
        for gi in range(n_groups):
            n = draw(st.integers(1, 25))
            vals = draw(
                st.lists(st.integers(0, 9), min_size=n, max_size=n)
            )
            wts = draw(
                st.lists(st.integers(0, 4), min_size=n, max_size=n)
            )
            groups.append((f"g{gi}", [float(v) for v in vals], [float(w) for w in wts]))
        return groups

    @settings(max_examples=8, deadline=None)
    @given(_wq_groups())
    def test_weighted_quantile_property_vs_reference(spark, groups):
        """Property: for arbitrary tie-heavy values and zero-heavy
        weights, the window-function lowering reproduces the reference
        ECDF algorithm (quirks included) in every group."""
        rows = [
            (g, v, w) for g, vals, wts in groups for v, w in zip(vals, wts)
        ]
        pdf = pd.DataFrame(rows, columns=["g", "v", "w"])
        out = breakdown(spark.createDataFrame(pdf), "g;v=wq2,q2,w").toPandas()
        got = dict(zip(out["g"], out["wq2"]))
        for g, vals, wts in groups:
            expect = _ref_weighted_quantile(vals, wts, 0.5)
            if expect is None or np.isnan(expect):
                assert got[g] is None or np.isnan(got[g]), g
            else:
                assert got[g] == pytest.approx(expect, rel=1e-9, abs=1e-9), (
                    g, vals, wts, got[g], expect,
                )


def test_breakdown_approx_quantiles(spark):
    """approx=True lowers q1/q2/q3 to approx_percentile (bounded per-group
    memory; the 100 TB path) and stays within sketch accuracy of exact."""
    li = spark.read.parquet(f"{TESTDATA}/lineitem.parquet")
    tpl = "l_returnflag;l_quantity=q1,q1;l_quantity=med,q2;l_quantity=q3,q3"
    exact = breakdown(li, tpl).toPandas().set_index("l_returnflag")
    approx = breakdown(li, tpl, approx=True).toPandas().set_index("l_returnflag")
    assert list(exact.columns) == list(approx.columns)
    for flag in exact.index:
        for c in exact.columns:
            # integer-ish quantity domain: the 1/10000-rank sketch lands
            # within one unit of the exact value on 60k rows
            assert abs(exact.loc[flag, c] - approx.loc[flag, c]) <= 1.0, (flag, c)


def test_string_to_index_factorize_parity(spark):
    """Sorted-dictionary codes == pd.factorize(sort=True); NULL -> -1."""
    from vtk_reserves_spark.operators.encode import string_to_index

    df = spark.createDataFrame(
        [(1, "b"), (2, "a"), (3, None), (4, "c"), (5, "a")],
        "id long, v string",
    )
    out = string_to_index(df, ["v"]).orderBy("id").toPandas()
    codes, uniq = pd.factorize(pd.Series(["b", "a", None, "c", "a"]), sort=True)
    assert out.v.tolist() == codes.tolist() == [1, 0, -1, 2, 0]

    # default cols=None encodes every string column, in place
    df2 = spark.createDataFrame([(1, "x", "q"), (2, "y", None)], "id long, a string, b string")
    out2 = string_to_index(df2).orderBy("id").toPandas()
    assert out2.a.tolist() == [0, 1] and out2.b.tolist() == [0, -1]


if _HYP:

    _NAN = float("nan")

    @st.composite
    def _bd_frames(draw):
        """One example: 1-10 rows of (g, d, k, v, w, m, s) — string,
        double and int group keys with NULL (and NaN) keys and -99
        sentinels, NULL/NaN/-99 values, NULL/NaN/zero weights, an int
        column for a second major and a string list column.  Few key classes, so both
        single-row and many-row groups occur, and zero-total-weight
        groups are common."""
        n = draw(st.integers(1, 10))
        row = st.tuples(
            st.sampled_from(["a", None]),
            st.sampled_from([1.5, None, _NAN, -99.0]),
            st.sampled_from([1, None, -99]),
            st.one_of(st.sampled_from([None, _NAN, -99.0]), st.integers(-5, 20).map(float)),
            st.sampled_from([0.0, 1.0, 2.0, None, _NAN, -99.0]),
            st.sampled_from([None, -99, 0, 1, 2]),
            st.sampled_from(["x", "y", None]),
        )
        return draw(st.lists(row, min_size=n, max_size=n))

    def _major(vals: pd.Series):
        """Most frequent value, ties to the smallest; None when no value
        is truthy (reference ``df[name].any()`` guard)."""
        vals = vals.dropna()
        if not (vals != 0).any():
            return None
        counts = vals.value_counts()
        return min(counts[counts == counts.max()].index)

    @settings(max_examples=4, deadline=None)
    @given(st.lists(_bd_frames(), min_size=60, max_size=60))
    def test_breakdown_numeric_modes_property(spark, frames):
        """Property: every plain numeric mode, weighted sum/mean, major
        and list match a pandas reimplementation of the reference
        semantics (bm_breakdown.py:105-108, 179-245) after the -99
        sentinel is masked (``mask_null_sentinel``) — on arbitrary
        null-riddled groups.  NULL/NaN/-99 keys of every type land in one
        -99 group.  The 60 drawn frames run as ONE breakdown, each under
        its own ``ex`` key prefix."""
        from vtk_reserves_spark.sources.loaders import mask_null_sentinel

        rows = [(ex, *r) for ex, frame in enumerate(frames) for r in frame]
        schema = (
            "ex long, g string, d double, k long, v double, w double, m long, s string"
        )
        tpl = (
            "ex;g;d;k;v=c,count;v=s,sum;v=m,mean;v=mn,min;v=mx,max;v=vr,var;"
            "v=sd,std;v=se,sem;v=q1c,q1;v=q2c,q2;v=q3c,q3;"
            "v=ws,sum,w;v=wm,mean,w;v=vmj,major;m=mj,major;s=ls,list"
        )
        df = mask_null_sentinel(spark.createDataFrame(rows, schema))
        out = breakdown(df, tpl).toPandas()
        out = out.set_index(["ex", "g", "d", "k"])

        pdf = pd.DataFrame(rows, columns=schema.replace(",", "").split()[::2])
        for c in ("d", "k", "v", "w", "m"):  # mask_null_sentinel
            pdf[c] = pdf[c].astype(float).mask(pdf[c] == -99)
        pdf["g"] = pdf.g.fillna("-99")
        pdf[["d", "k"]] = pdf[["d", "k"]].fillna(-99.0)
        groups = pdf.groupby(["ex", "g", "d", "k"])
        assert sorted(out.index) == sorted(groups.groups)

        def close(got, want):
            if want is None or (isinstance(want, float) and np.isnan(want)):
                return got is None or (isinstance(got, float) and np.isnan(got))
            return got == pytest.approx(want, rel=1e-9, abs=1e-12)

        for key, gdf in groups:
            row = out.loc[key]
            v = gdf.v.dropna()
            assert row["c"] == len(v), key
            assert close(row["s"], v.sum() if len(v) else 0.0), key
            assert close(row["m"], v.mean() if len(v) else None), key
            assert close(row["mn"], v.min() if len(v) else None), key
            assert close(row["mx"], v.max() if len(v) else None), key
            assert close(row["vr"], v.var(ddof=1) if len(v) >= 2 else None), key
            assert close(row["sd"], v.std(ddof=1) if len(v) >= 2 else None), key
            assert close(
                row["se"], v.std(ddof=1) / np.sqrt(len(v)) if len(v) >= 2 else None
            ), key
            for q, col in ((25, "q1c"), (50, "q2c"), (75, "q3c")):
                assert close(row[col], float(np.percentile(v, q)) if len(v) else None), key
            # weighted sum: nansum(v*w); rows with NULL v or w drop out
            assert close(row["ws"], float((gdf.v * gdf.w).sum())), key
            # weighted mean: average(v, weights=w), NULL/NaN w counting as
            # 0, NULL when the weight total is 0
            m = gdf.v.notna()
            wts = gdf.w[m].fillna(0.0)
            want_wm = float(np.average(gdf.v[m], weights=wts)) if wts.sum() else None
            assert close(row["wm"], want_wm), key
            for col, var in (("vmj", gdf.v), ("mj", gdf.m)):
                got = None if pd.isna(row[col]) else row[col]
                assert got == _major(var), (key, col)
            assert row["ls"] == ",".join(sorted(gdf.s.dropna().unique())), key


def test_weighted_quantile_binned_accuracy(spark):
    """The binned sketch stays within one bin width of the exact
    weighted quantile, and per-group state is bounded at n_bins rows."""
    from vtk_reserves_spark.operators.breakdown import weighted_quantile_binned

    li = spark.read.parquet(f"{TESTDATA}/lineitem.parquet")
    approx = {
        r.l_returnflag: (r.q25, r.q50, r.q75)
        for r in weighted_quantile_binned(
            li, "l_returnflag", "l_quantity", "l_extendedprice",
            [0.25, 0.5, 0.75], n_bins=512,
        ).collect()
    }
    exact = breakdown(
        li,
        "l_returnflag;l_quantity=e25,q1,l_extendedprice;"
        "l_quantity=e50,q2,l_extendedprice;l_quantity=e75,q3,l_extendedprice",
    ).toPandas().set_index("l_returnflag")
    # l_quantity spans ~[1, 50] -> bin width ~0.1 at 512 bins
    for flag, (a25, a50, a75) in approx.items():
        for a, c in ((a25, "e25"), (a50, "e50"), (a75, "e75")):
            assert abs(a - exact.loc[flag, c]) < 0.5, (flag, c, a, exact.loc[flag, c])


def test_breakdown_approx_weighted_quantiles(spark):
    """approx=True routes weighted quantiles through the bounded-state
    binned sketch; result stays within a bin width of exact."""
    li = spark.read.parquet(f"{TESTDATA}/lineitem.parquet")
    tpl = "l_returnflag;l_quantity=wq2,q2,l_extendedprice"
    exact = breakdown(li, tpl).toPandas().set_index("l_returnflag")["wq2"]
    approx = breakdown(li, tpl, approx=True).toPandas().set_index("l_returnflag")["wq2"]
    for flag in exact.index:
        assert abs(exact[flag] - approx[flag]) < 0.5, flag


def test_quality_checks_hand_counted(spark):
    """Every rule kind against a 5-row frame with known violations."""
    from vtk_reserves_spark.operators.validate import check

    df = spark.createDataFrame(
        [
            (1, 10.0, "A", "x1"),
            (2, 60.0, "A", "x2"),     # out of range
            (3, None, "B", "x3"),     # null v (range rule ignores)
            (None, 20.0, "zz", "x4"), # null id; bad code
            (5, 30.0, "A", "x4"),     # dup key with row above
        ],
        "id long, v double, code string, key string",
    )
    out = {r.rule: (r.metric, r.passed) for r in check(df, [
        ("not_null", "id"),
        ("in_range", "v", 0.0, 50.0),
        ("matches", "code", "[A-C]"),
        ("accepted_values", "code", ["A", "B"]),
        ("unique", ["key"]),
        ("row_count_min", 10),
    ]).collect()}
    assert out["not_null(id)"] == (1, False)
    assert out["in_range(v,0.0,50.0)"] == (1, False)
    assert out["matches(code)"] == (1, False)
    assert out["accepted_values(code)"] == (1, False)
    assert out["unique(key)"] == (2, False)  # both rows of the dup pair
    assert out["row_count_min(10)"] == (5, False)
    clean = {r.rule: r.passed for r in check(df.where("id IS NOT NULL AND v <= 50"), [
        ("not_null", "id"), ("row_count_min", 2),
    ]).collect()}
    assert all(clean.values())
    import pytest as _pt
    with _pt.raises(ValueError, match="unknown rule kind"):
        check(df, [("nope", "id")])


def test_profile_hand_counted(spark):
    from vtk_reserves_spark.operators.validate import profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b")], "id long, s string"
    )
    out = {r.column: r for r in profile(df).collect()}
    assert out["id"].n == 3 and out["id"].n_null == 0 and out["id"].n_distinct == 2
    assert out["id"].min_str == "1" and out["id"].max_str == "2"
    assert out["s"].n_null == 1 and out["s"].n_distinct == 2
    assert out["s"].dtype == "string"
    # approx mode keeps the same schema and plausible counts
    ap = {r.column: r for r in profile(df, exact_distinct=False).collect()}
    assert ap["id"].n_distinct >= 1 and ap["s"].n == 3


def test_weighted_quantile_binned_labels_and_zero_weight_groups(spark):
    """q labels round (q29 not q28); colliding labels raise; a group
    whose weights are all zero matches the exact path's min-value answer
    instead of diverging to NULL."""
    from vtk_reserves_spark.operators.breakdown import (
        _wq_subplan,
        weighted_quantile_binned,
    )

    df = spark.createDataFrame(
        [("a", 1.0, 0.0), ("a", 5.0, 0.0), ("b", 2.0, 1.0), ("b", 4.0, 1.0)],
        "g string, v double, w double",
    )
    out = weighted_quantile_binned(df, "g", "v", "w", [0.29])
    assert "q29" in out.columns
    rows = {r.g: r.q29 for r in out.collect()}
    exact = {
        r.g: r.out
        for r in _wq_subplan(df, ["g"], "v", ("w",), [(0.29, "out")]).collect()
    }
    # zero-weight group "a": both paths emit the degenerate
    # min*q + max*(1-q) blend (1*0.29 + 5*0.71 = 3.84), not NULL
    assert rows["a"] == pytest.approx(exact["a"]) == pytest.approx(3.84)
    assert rows["b"] is not None
    with pytest.raises(ValueError, match="collide"):
        weighted_quantile_binned(df, "g", "v", "w", [0.281, 0.282])


def test_vl_add_region_respects_bare_key_row():
    """A single-field ["region"] row is already a group key: no
    duplicate key may be prepended (regression: duplicate 'region'
    output columns broke the final sort)."""
    from vtk_reserves_spark.plans.template import compile_template, vl_add_region

    vl = vl_add_region([["region"], ["volume", "sum"]])
    assert vl == [["region"], ["volume", "sum"]]
    plan = compile_template(vl, ["region", "volume"])
    assert [k.var for k in plan.keys] == ["region"]
    # still prepends when absent
    vl2 = vl_add_region([["volume", "sum"]])
    assert vl2[0][0] == "region"


def test_text_mode_blank_third_field_falls_back_to_var():
    from vtk_reserves_spark.plans.template import compile_template

    plan = compile_template([["note", "text", ""]], ["note"])
    assert plan.aggs[0].text_value == "note"
    plan2 = compile_template([["note", "text", "hello"]], ["note"])
    assert plan2.aggs[0].text_value == "hello"


def test_vl_add_region_prefix_named_key_still_gets_region():
    """A bare single-field key that merely STARTS WITH 'region'
    (e.g. region_code) is a different key — the auto region column must
    still be inserted; multi-field rows keep reference prefix parity."""
    from vtk_reserves_spark.plans.template import vl_add_region

    vl = vl_add_region([["region_code"], ["volume", "sum"]])
    assert vl[0] == ["region", "", ""] and vl[1] == ["region_code"]
    # aliased bare region row still suppresses
    vl2 = vl_add_region([["region=reg"], ["volume", "sum"]])
    assert vl2[0] == ["region=reg"]
    # multi-field prefix rows keep suppressing (reference parity)
    vl3 = vl_add_region([["region_code", "count"], ["volume", "sum"]])
    assert vl3[0] == ["region_code", "count"]


def test_breakdown_approx_duplicate_quantile_aliases(spark):
    """The same weighted quartile requested twice under different
    aliases must work on BOTH paths — approx used to raise a label
    collision."""
    df = spark.createDataFrame(
        [("a", float(v), 1.0) for v in range(20)], "g string, v double, w double"
    )
    t = "g;v=wq_one,q2,w;v=wq_two,q2,w"
    exact = breakdown(df, t).toPandas()
    approx = breakdown(df, t, approx=True).toPandas()
    assert list(exact.columns) == ["g", "wq_one", "wq_two"]
    assert list(approx.columns) == ["g", "wq_one", "wq_two"]
    assert (approx.wq_one == approx.wq_two).all()


def test_breakdown_count_on_non_numeric_string_survives(spark):
    """One stray non-numeric cell in a string column must degrade to
    NULL (skipped by the aggregate), not abort the job under ANSI."""
    df = spark.createDataFrame(
        [("a", "1.5"), ("a", "rocktype"), ("b", "2.0")],
        "g string, s string",
    )
    out = breakdown(df, "g;s=n,count;s=m,mean").toPandas().set_index("g")
    assert out.loc["a", "n"] == 1  # 'rocktype' -> NULL, not counted
    assert out.loc["a", "m"] == 1.5
    assert out.loc["b", "n"] == 1


def test_check_duplicate_rules_do_not_collide(spark):
    """Two matches-rules on one column produce TWO report rows (the
    second suffixed #2) instead of an ambiguous-reference crash."""
    from vtk_reserves_spark.operators.validate import check

    df = spark.createDataFrame(
        [("a@b.com",), ("nope",)], "email string"
    )
    out = check(
        df,
        [("matches", "email", r".*@.*"), ("matches", "email", r"\S+")],
    ).toPandas()
    assert sorted(out.rule) == ["matches(email)", "matches(email)#2"]
    m = out.set_index("rule")
    assert m.loc["matches(email)", "metric"] == 1  # 'nope' has no @
    assert m.loc["matches(email)#2", "metric"] == 0


def test_profile_skips_non_orderable_columns(spark):
    from pyspark.sql import functions as SF

    from vtk_reserves_spark.operators.validate import profile

    df = spark.createDataFrame([(1, "x"), (2, None)], "id long, s string")
    df = df.withColumn(
        "attrs", SF.create_map(SF.lit("k"), SF.coalesce("s", SF.lit("v")))
    )
    out = profile(df).toPandas().set_index("column")
    assert out.loc["id", "n_distinct"] == 2
    assert out.loc["attrs", "n"] == 2  # null count path still runs
    assert pd.isna(out.loc["attrs", "n_distinct"])
    assert out.loc["attrs", "min_str"] is None
