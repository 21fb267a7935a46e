"""The breakdown engine — Spark-native rebuild of the reference's core
aggregation operator (``bm_breakdown.py:62-245``).

A breakdown compiles a ``commalist`` template into ONE
``groupBy(keys).agg(...)`` over Catalyst expressions, plus (only when the
template asks for them) small keyed sub-plans for the two modes that are
not single-expression aggregates:

- **weighted quantiles** (``q1/q2/q3`` + weights): the reference's
  weighted-ECDF algorithm (``bm_breakdown.py:124-177``) is lowered to
  window functions — cumulative weight ordered by value, searchsorted
  re-expressed as conditional MIN — so it stays fully JVM-side and is
  even expressible in ANSI SQL for the DuckDB oracle.
- **major** (mode / most-frequent): two-phase count + row_number pick,
  with a deterministic smallest-value tie-break (the reference's
  ``value_counts().idxmax()`` tie order is undefined).

Scale notes (100 TB): the main aggregation is a single hash-aggregate
with map-side partial aggregation; sub-plans add one shuffle each,
partitioned by the same group keys, and join back on those keys (the
joined relations are group-level, i.e. tiny — Spark broadcasts them).
No Python UDFs, no driver-side collection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vtk_reserves_spark.functions.aggregates import nn, plain_agg, weight_product
from vtk_reserves_spark.plans.template import (
    QUARTILES,
    AggSpec,
    BreakdownPlan,
    compile_template,
)

#: Vulcan null sentinel (reference ``bm_breakdown.py:7``, ``_gui.py:269``)
NULL_SENTINEL = -99


def _filled_key(df: DataFrame, var: str) -> Column:
    """Group keys with NULL/NaN are re-filled with the -99 sentinel so no
    group is dropped (reference ``bm_breakdown.py:105-108``).

    pandas drops NaN group keys; Spark keeps NULL groups, so the fill is
    only needed for *value parity* with the reference's output."""
    dtype = dict(df.dtypes).get(var, "double")
    c = F.col(var)
    if dtype in ("string",):
        return F.coalesce(c, F.lit(str(NULL_SENTINEL)))
    if dtype in ("double", "float"):
        return F.coalesce(F.nanvl(c, F.lit(None).cast(dtype)), F.lit(float(NULL_SENTINEL)))
    if dtype.startswith(("int", "bigint", "smallint", "tinyint", "decimal", "long")):
        return F.coalesce(c, F.lit(NULL_SENTINEL))
    return c  # timestamps etc.: Spark keeps NULL groups natively


def _truthy(col: Column, dtype: str) -> Column:
    """Reference guards major with ``df[name].any()``
    (``bm_breakdown.py:234-236``): a group with no truthy value yields
    NULL. Strings are truthy when non-empty, numerics when non-zero."""
    if dtype == "string":
        return col.isNotNull() & (col != "")
    return nn(col).isNotNull() & (nn(col) != 0)


def _major_subplan(
    base: DataFrame, key_cols: list[str], specs: list[tuple[AggSpec, str]]
) -> DataFrame:
    """Most-frequent value per group for each ``major`` spec.

    Deterministic tie-break: highest count, then smallest value (the
    reference's tie order is an accident of ``value_counts``).  NULL and
    NaN are not values, as ``value_counts`` drops them."""
    dtypes = dict(base.dtypes)
    out = None
    for spec, outname in specs:
        c = F.col(spec.var)
        present = c.isNotNull()
        if dtypes[spec.var] in ("double", "float"):
            present = present & ~F.isnan(c)
        cnt = (
            base.where(present)
            .groupBy(*key_cols, c.alias("__val"))
            .agg(
                F.count(F.lit(1)).alias("__cnt"),
                F.max(F.when(_truthy(F.col(spec.var), dtypes[spec.var]), 1)).alias("__ok"),
            )
        )
        w = Window.partitionBy(*key_cols).orderBy(
            F.col("__cnt").desc(), F.col("__val").asc()
        )
        top = (
            cnt.withColumn("__anyok", F.max("__ok").over(Window.partitionBy(*key_cols)))
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(
                *key_cols,
                F.when(F.col("__anyok") == 1, F.col("__val")).alias(outname),
            )
        )
        out = top if out is None else out.join(top, key_cols, "full")
    return out


def _wq_subplan(
    base: DataFrame,
    key_cols: list[str],
    var: str,
    weights: tuple[str, ...],
    q_outs: list[tuple[float, str]],
) -> DataFrame:
    """Weighted quantiles per group — exact re-expression of the
    reference's weighted-ECDF interpolation (``bm_breakdown.py:124-177``):

    with values sorted ascending and ``ecdf = cumsum(w)``,
    ``p = q * (sum(w) - 1)``; ``idx_low = searchsorted(ecdf, p, 'right')``;
    ``idx_high = min(searchsorted(ecdf, p+1, 'right'), n-1)``; result =
    ``a[idx_low]*(1-frac(p)) + a[idx_high]*frac(p)``.

    Because values are sorted, ``a[searchsorted(ecdf, t, 'right')]`` is
    simply ``MIN(value) FILTER (WHERE cumw > t)`` — one window pass plus
    one grouped aggregate, all JVM-side, one shuffle on the group keys."""
    v = nn(F.col(var))
    w = weight_product(weights) if weights else F.lit(1.0)
    f = base.select(*key_cols, v.alias("__v"), w.alias("__w")).where(
        v.isNotNull() & w.isNotNull()
    )
    part = Window.partitionBy(*key_cols)
    cum = part.orderBy("__v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = f.select(
        *key_cols,
        "__v",
        F.sum("__w").over(cum).alias("__cumw"),
        F.sum("__w").over(part).alias("__wtot"),
    )
    aggs, posts = [], []
    for i, (q, outname) in enumerate(q_outs):
        p = F.lit(q) * (F.col("__wtot") - 1)
        aggs += [
            F.min(F.when(F.col("__cumw") > p, F.col("__v"))).alias(f"__lo{i}"),
            F.min(F.when(F.col("__cumw") > p + 1, F.col("__v"))).alias(f"__hi{i}"),
            F.max(p).alias(f"__p{i}"),
        ]
        posts.append((i, outname))
    aggs.append(F.max("__v").alias("__mx"))
    g = d.groupBy(*key_cols).agg(*aggs)
    sel = list(key_cols)
    for i, outname in posts:
        p = F.col(f"__p{i}")
        frac = p - F.floor(p)
        lo = F.col(f"__lo{i}")
        hi = F.coalesce(F.col(f"__hi{i}"), F.col("__mx"))
        sel.append((lo * (1 - frac) + hi * frac).alias(outname))
    return g.select(*sel)


def breakdown(
    df: DataFrame, template, sort: bool = True, approx: bool = False
) -> DataFrame:
    """Run a breakdown report over ``df``.

    ``template`` is a commalist DSL string (or pre-parsed 2-D list):
    rows ``var[,op[,weight...]]``; op ``breakdown``/blank marks a group
    key; ``var=alias`` renames the output column.  Supported ops:
    count sum mean min max var std sem q1 q2 q3 p{N} major list text,
    with weighted variants of sum/mean/q1/q2/q3
    (reference ``bm_breakdown.py:11`` usage and ``:179-245`` dispatcher).

    Output: one row per group (keys first, filled with -99 where null),
    aggregate columns in template order named ``"<var> <op>"`` or the
    alias.  ``sort=True`` orders rows by the group keys like pandas
    ``groupby(sort=True)`` (the result is report-sized; the sort is
    negligible).

    ``approx=True`` lowers plain quantiles (q1/q2/q3/p{N}) to
    ``approx_percentile`` — a fixed-size sketch with bounded memory per
    group instead of ``percentile``'s exact per-group value buffer.  The
    exact default is pandas parity (and the oracle target); the approx
    switch is THE scale path: at 100 TB a dominant group would make the
    exact buffer an executor-OOM, while the sketch stays a few KB
    regardless of group size (accuracy 1/10000 relative rank)."""
    plan: BreakdownPlan = compile_template(template, df.columns)
    cols = set(df.columns)

    key_cols = [f"__k{i}" for i in range(len(plan.keys))]
    key_exprs = [
        _filled_key(df, k.var).alias(kc) for k, kc in zip(plan.keys, key_cols)
    ]
    needed = [c for c in plan.referenced_columns if c in cols]
    base = df.select(*key_exprs, *[F.col(c) for c in needed])

    # --- classify aggregates -------------------------------------------
    plain: list[tuple[AggSpec, str]] = []  # (spec, internal name)
    majors: list[tuple[AggSpec, str]] = []
    wqs: dict[tuple[str, tuple[str, ...]], list[tuple[float, str]]] = {}
    quants: dict[str, list[tuple[float, str]]] = {}  # var -> [(q, name)]
    order: list[str] = []  # internal output names in template order
    for i, spec in enumerate(plan.aggs):
        name = f"__a{i}"
        order.append(name)
        if spec.mode == "text":
            plain.append((spec, name))
        elif spec.var not in cols:
            plain.append((spec, name))  # unknown var -> NULL (bm_breakdown.py:212-214)
        elif spec.is_weighted_quantile:
            wqs.setdefault((spec.var, spec.weights), []).append(
                (QUARTILES[spec.mode], name)
            )
        elif spec.is_major:
            majors.append((spec, name))
        elif spec.percentile() is not None:
            quants.setdefault(spec.var, []).append((spec.percentile(), name))
        else:
            plain.append((spec, name))

    # --- main single-pass aggregation ----------------------------------
    agg_exprs: list[Column] = []
    for spec, name in plain:
        if spec.mode == "text":
            agg_exprs.append(F.max(F.lit(spec.text_value)).alias(name))
        elif spec.var not in cols:
            agg_exprs.append(F.max(F.lit(None).cast("double")).alias(name))
        else:
            e = plain_agg(spec, F.col(spec.var))
            if e is None:
                raise ValueError(f"unsupported breakdown mode: {spec.mode!r}")
            agg_exprs.append(e.alias(name))

    # all quantiles of one var share ONE percentile(col, array(...))
    # aggregate — a single per-group value buffer + sort instead of one
    # per requested quantile (pandas/np.percentile do the same); with
    # approx=True the buffer becomes an approx_percentile sketch whose
    # size is independent of group cardinality
    quant_arrays: list[tuple[str, list[tuple[float, str]]]] = []
    for var, q_outs in quants.items():
        arr_name = f"__qa_{len(quant_arrays)}"
        quant_arrays.append((arr_name, q_outs))
        q_arr = F.array(*[F.lit(q) for q, _ in q_outs])
        if approx:
            agg_exprs.append(
                F.approx_percentile(nn(F.col(var)), q_arr, F.lit(10000)).alias(
                    arr_name
                )
            )
        else:
            agg_exprs.append(F.percentile(nn(F.col(var)), q_arr).alias(arr_name))

    if agg_exprs:
        result = base.groupBy(*key_cols).agg(*agg_exprs)
        for arr_name, q_outs in quant_arrays:
            for idx, (_, name) in enumerate(q_outs):
                result = result.withColumn(name, F.col(arr_name)[idx])
            result = result.drop(arr_name)
    else:
        # keys-only template: distinct group list (reference emits blank
        # text columns, bm_breakdown.py:102-104 — we emit just the keys)
        result = base.select(*key_cols).distinct()

    # --- sub-plans joined back on the group keys ------------------------
    if majors:
        sub = _major_subplan(base, key_cols, majors)
        result = _join_keyed(result, sub, key_cols)
    for (var, weights), q_outs in wqs.items():
        if approx:
            # bounded-state histogram sketch instead of the exact
            # per-group ECDF sort (see weighted_quantile_binned)
            wprod = weight_product(weights) if weights else F.lit(1.0)
            wdf = base.withColumn("__wprod", wprod)
            # deduplicate the requested quantiles (the same quartile can
            # appear twice under different aliases) and fan the sketch's
            # one column out to every requested output name — the exact
            # path handles duplicates the same way
            uq = sorted({q for q, _ in q_outs})
            sub = weighted_quantile_binned(wdf, key_cols, var, "__wprod", uq)
            sub = sub.select(
                *key_cols,
                *[
                    F.col(f"q{round(q * 100)}").alias(name)
                    for q, name in q_outs
                ],
            )
        else:
            sub = _wq_subplan(base, key_cols, var, weights, q_outs)
        result = _join_keyed(result, sub, key_cols)

    # --- final projection: keys (aliased) then aggs in template order ---
    sel = [F.col(kc).alias(k.out) for k, kc in zip(plan.keys, key_cols)] + [
        F.col(name).alias(spec.out) for name, spec in zip(order, plan.aggs)
    ]
    out = result.select(*sel)
    if sort and plan.keys:
        out = out.orderBy(*[F.col(k.out) for k in plan.keys])
    return out


def _join_keyed(left: DataFrame, right: DataFrame, key_cols: list[str]) -> DataFrame:
    if key_cols:
        return left.join(right, key_cols, "left")
    return left.crossJoin(right)


def weighted_quantile_binned(
    df: DataFrame,
    key_cols: list[str] | str,
    var: str,
    weight: str,
    qs: list[float],
    n_bins: int = 1024,
) -> DataFrame:
    """Approximate weighted quantiles with BOUNDED per-group state — the
    scale path for the exact window-ECDF weighted quantile (whose
    per-group sort a pathologically dominant group could not afford).

    Two fully-distributed passes: (1) per-group min/max fixes the value
    range; (2) each row lands in one of ``n_bins`` equal-width bins,
    bin weights aggregate (ONE shuffle with map-side combine, ≤ n_bins
    rows per group), and the q-th quantile reads the first bin whose
    cumulative weight reaches ``q x total`` (lower bin edge, linearly
    interpolated within the bin by cumulative position).  Error is
    bounded by the bin width (range / n_bins); weights NULL/NaN count
    as 0 and rows with NULL values drop out, matching the exact
    operator's conventions.

    Output: keys + one ``q{N}`` column per requested quantile (N =
    percent, rounded — duplicate labels, e.g. qs closer than 1%, raise
    rather than silently emitting colliding column names).

    Degenerate groups whose weights are all zero/negative follow the
    exact operator's convention instead of disappearing into NULLs: the
    reference ECDF formula collapses there to
    ``min*q + max*(1-q)`` (every row sits at cumulative weight 0, so
    idx_low is the first and idx_high the last value, blended by
    ``frac(q*(0-1)) = 1-q``), and this path emits the same value."""
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    from vtk_reserves_spark.functions.aggregates import nn

    labels = [f"q{round(q * 100)}" for q in qs]
    if len(set(labels)) != len(labels):
        raise ValueError(f"quantile labels collide: {labels}")
    v = nn(F.col(var))
    w = F.coalesce(nn(F.col(weight)), F.lit(0.0))
    # group membership mirrors the exact subplan: v AND weight non-null
    # (weight <= 0 rows stay members — they just carry no mass)
    allv = df.select(*keys, v.alias("_v"), nn(F.col(weight)).alias("_wm")).where(
        F.col("_v").isNotNull() & F.col("_wm").isNotNull()
    )
    base = df.select(*keys, v.alias("_v"), w.alias("_w")).where(
        F.col("_v").isNotNull() & (F.col("_w") > 0)
    )
    rng = base.groupBy(*keys).agg(
        F.min("_v").alias("_lo"), F.max("_v").alias("_hi")
    )
    b = base.join(rng, keys)
    span = F.col("_hi") - F.col("_lo")
    bin_ = F.when(span > 0,
                  F.least(
                      F.floor((F.col("_v") - F.col("_lo")) / span * n_bins),
                      F.lit(n_bins - 1),
                  )).otherwise(F.lit(0)).cast("int")
    binned = (
        b.withColumn("_b", bin_)
        .groupBy(*keys, "_b")
        .agg(F.sum("_w").alias("_bw"), F.max("_lo").alias("_lo"), F.max("_hi").alias("_hi"))
    )
    from pyspark.sql import Window

    win = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_b").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy(*keys)
    cum = binned.select(
        *keys,
        "_b",
        "_bw",
        "_lo",
        "_hi",
        F.sum("_bw").over(win).alias("_cum"),
        F.sum("_bw").over(tot).alias("_tot"),
    )
    width = (F.col("_hi") - F.col("_lo")) / n_bins
    aggs = []
    for label, q in zip(labels, qs):
        target = F.lit(float(q)) * F.col("_tot")
        # first bin reaching the target: its lower edge + in-bin fraction
        frac = (target - (F.col("_cum") - F.col("_bw"))) / F.col("_bw")
        est = F.col("_lo") + (F.col("_b") + F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))) * width
        aggs.append(F.min(F.when(F.col("_cum") >= target, est)).alias(label))
    out = cum.groupBy(*keys).agg(*aggs)
    # weightless groups: align with the exact path's degenerate formula
    ends = allv.groupBy(*keys).agg(
        F.min("_v").alias("_minv"), F.max("_v").alias("_maxv")
    )
    out = ends.join(out, keys, "left").select(
        *keys,
        *[
            F.coalesce(
                F.col(f"`{label}`"),
                F.col("_minv") * q + F.col("_maxv") * (1.0 - q),
            ).alias(label)
            for label, q in zip(labels, qs)
        ],
    )
    return out
