"""Exact distributed quantiles (linear interpolation, type 7 / SQL
``percentile_cont`` semantics).

Spark's built-in exact ``percentile`` aggregate buffers EVERY value of a
group inside one aggregation buffer (partial maps merged onto a single
reducer per group) — fine at test scale, an OOM at the 100 TB design
point where one group can hold billions of rows.

Two strategies, both bit-identical to the builtin (same
``lo + frac * (hi - lo)`` interpolation shape as Spark's Percentile and
DuckDB's quantile_cont, verified in tests and against the DuckDB
oracle):

``method="select"`` (default) — distributed selection, TWO fact scans:
    1. stats pass: per-group count, exact min/max, and approx quantiles
       (rank error ≤ n/_ACCURACY) at q ± _Q_MARGIN around every
       requested fraction — a per-group candidate value-window wide
       enough that the worst-case approx error still covers the target
       ranks (proof in ``_quantiles_select``); groups of ≤ _SMALL_N
       rows use the whole [min, max] window. Stats are broadcast.
    2. bucket pass: each row contributes, per quantile window, either a
       "strictly below" marker or its value; one map-side-combined
       groupBy collapses this to DISTINCT candidate values with
       multiplicities plus exact below-counts (= the window's global
       rank offset). Duplicate-heavy data (even a constant column)
       cannot blow up a partition.
    3. a window over the tiny collapsed candidate set assigns exact
       global rank ranges (offset + running multiplicity) and picks the
       two bracketing values per quantile.
    Every pass is an embarrassingly parallel scan + partial agg —
    parallelism is the scan's, never the number of groups.

``method="sort"`` — distributed sort: range-partitioned sort by
    (group, value), row_number over it, pick bracketing rows. Simple and
    spill-safe, but one WindowExec partition per GROUP: with few groups
    (the common analytics case) parallelism collapses to the group
    count regardless of cluster size. Kept as the cross-check and for
    very-many-group shapes.

Reference parity: the reference has no quantile operator at all
(report.py's aggregations are counts and top-k only); this is part of
the generalized analytics surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_ACCURACY = 10000  # approx_percentile accuracy → rank error ≤ n/_ACCURACY
_Q_MARGIN = 0.01  # candidate half-window in q-units for large groups
_SMALL_N = 1024  # groups at or below this use the whole [min, max] window


def exact_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: dict[str, float],
    method: str = "select",
) -> DataFrame:
    """Per-group exact interpolated quantiles.

    ``quantiles`` maps output column name → q in [0, 1]. Returns one row
    per group with the quantile columns (double). NULL values in
    ``value_col`` are excluded, matching percentile_cont.
    """
    for name, q in quantiles.items():
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"quantile {name}={q} outside [0, 1]")
    if method == "select":
        return _quantiles_select(df, group_cols, value_col, quantiles)
    if method == "sort":
        return _quantiles_sort(df, group_cols, value_col, quantiles)
    raise ValueError(f"unknown method {method!r}")


def _interpolate(group_cols: list[str], quantiles: dict[str, float]):
    """Shared final projection: lo + frac * (hi - lo) per quantile."""
    proj = [F.col(c) for c in group_cols]
    for name, q in quantiles.items():
        pos = F.lit(q) * (F.col("_n") - 1).cast("double")
        frac = pos - F.floor(pos)
        vlo = F.col(f"_lo_{name}").cast("double")
        vhi = F.coalesce(F.col(f"_hi_{name}").cast("double"), vlo)
        proj.append((vlo + frac * (vhi - vlo)).alias(name))
    return proj


# ---------------------------------------------------------------------------
# selection strategy
# ---------------------------------------------------------------------------

def _quantiles_select(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: dict[str, float],
) -> DataFrame:
    """Coverage proof (targets are global 0-based ranks
    L = floor(q*(n-1)) and L+1, window is [vs, vb]):

    - n ≤ _SMALL_N: vs = min, vb = max — trivially covered.
    - n > _SMALL_N: vs = approx(q - _Q_MARGIN), whose rank error is
      ≤ n/_ACCURACY, so rank(vs) ≤ (q - _Q_MARGIN + 1/_ACCURACY)·n
      = q·n - (_Q_MARGIN - 1/_ACCURACY)·n < q·n - 10 ≤ L
      (since q·n - L ≤ q + 1 ≤ 2); symmetrically
      rank(vb) ≥ q·n + 10 ≥ L + 1. A fraction clamped to 0 (resp. 1)
      substitutes the exact min (resp. max).
    Hence count(v < vs) ≤ L and count(v ≤ vb) ≥ L + 2: both target
    ranks always fall inside the candidate set, for ANY merge order of
    the approx summaries (the bound is worst-case). The bucket pass
    counts v < vs exactly, so the final ranks are exact regardless of
    where inside the window the approx landed.
    """
    vtype = df.schema[value_col].dataType
    src = df.select(*group_cols, F.col(value_col).alias("_v")).filter(
        F.col("_v").isNotNull()
    )

    # pass 1: per-group count, exact extremes, approx window bounds at
    # only the 2·|quantiles| needed fractions
    fracs: list[float] = []
    frac_idx: dict[str, tuple[int, int, float, float]] = {}
    for name, q in quantiles.items():
        p_s = max(0.0, q - _Q_MARGIN)
        p_b = min(1.0, q + _Q_MARGIN)
        frac_idx[name] = (len(fracs), len(fracs) + 1, p_s, p_b)
        fracs += [p_s, p_b]
    stats = src.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_n"),
        F.percentile_approx("_v", fracs, F.lit(_ACCURACY)).alias("_ap"),
        F.min("_v").alias("_min"),
        F.max("_v").alias("_max"),
    )
    small = F.col("_n") <= _SMALL_N
    sel = [*group_cols, "_n"]
    for name, q in quantiles.items():
        i_s, i_b, p_s, p_b = frac_idx[name]
        vs = F.when(small | F.lit(p_s == 0.0), F.col("_min")).otherwise(
            F.element_at("_ap", i_s + 1)
        )
        vb = F.when(small | F.lit(p_b == 1.0), F.col("_max")).otherwise(
            F.element_at("_ap", i_b + 1)
        )
        sel += [vs.alias(f"_vs_{name}"), vb.alias(f"_vb_{name}")]
    bounds = stats.select(*sel)
    return _select_from_bounds(src, group_cols, quantiles, bounds, vtype)


def _select_from_bounds(
    src: DataFrame,
    group_cols: list[str],
    quantiles: dict[str, float],
    bounds: DataFrame,
    vtype,
) -> DataFrame:
    """Passes 2+3 of the selection strategy over a prepared ``bounds``
    table (group cols, ``_n``, ``_vs_<name>``/``_vb_<name>`` per
    quantile). The result is EXACT for any bounds that cover the target
    ranks (the bucket pass counts below-window rows exactly, so the
    final ranks do not depend on where inside the window the bounds
    landed) — which is what lets a caller derive a second selection's
    window from the first pass's sketch instead of re-scanning
    (median_mad below)."""

    # pass 2: one scan emits, per quantile window, either a below-marker
    # (array position 2i, constant value) or the candidate value
    # (position 2i+1); map-side partial agg collapses to distinct values
    # + multiplicities, so shuffle volume is distinct keys only. The
    # array stays a FLAT primitive array — a struct-array explode here
    # measured 3× slower (leaves whole-stage codegen).
    fact = src.join(F.broadcast(bounds), group_cols)
    zero_v = F.lit(0).cast(vtype)
    names = list(quantiles)
    slots = []
    for name in names:
        slots.append(F.when(F.col("_v") < F.col(f"_vs_{name}"), zero_v))
        slots.append(
            F.when(
                (F.col("_v") >= F.col(f"_vs_{name}"))
                & (F.col("_v") <= F.col(f"_vb_{name}")),
                F.col("_v"),
            )
        )
    counts = (
        fact.select(
            *group_cols, "_n", F.posexplode(F.array(*slots)).alias("_pos", "_bv")
        )
        .filter(F.col("_bv").isNotNull())
        .withColumn("_qi", (F.col("_pos") / 2).cast("int"))
        .withColumn("_below", F.col("_pos") % 2 == 0)
        .groupBy(*group_cols, "_n", "_qi", "_below", "_bv")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )

    # pass 3 (tiny): the below-marker row sorts FIRST in the rank window
    # (_below desc), so the running multiplicity sum absorbs the
    # window's rank offset with no separate branch or join (branching on
    # `counts` would re-execute the whole upstream plan).
    w = (
        Window.partitionBy(*group_cols, "_qi")
        .orderBy(F.desc("_below"), F.asc("_bv"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = (
        counts.withColumn("_end", F.sum("_cnt").over(w) - 1)
        .withColumn("_start", F.col("_end") - F.col("_cnt") + 1)
        .filter(~F.col("_below"))
    )
    aggs = []
    for qi, (name, q) in enumerate(quantiles.items()):
        pos_l = F.floor(F.lit(q) * (F.col("_n") - 1))
        this = F.col("_qi") == qi
        covers_lo = this & (F.col("_start") <= pos_l) & (pos_l <= F.col("_end"))
        covers_hi = (
            this & (F.col("_start") <= pos_l + 1) & (pos_l + 1 <= F.col("_end"))
        )
        aggs += [
            F.max(F.when(covers_lo, F.col("_bv"))).alias(f"_lo_{name}"),
            F.max(F.when(covers_hi, F.col("_bv"))).alias(f"_hi_{name}"),
        ]
    out = ranked.groupBy(*group_cols).agg(F.max("_n").alias("_n"), *aggs)
    return out.select(*_interpolate(group_cols, quantiles))


def median_mad(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-group EXACT median and EXACT median-absolute-deviation with
    ONE stats pass over the data (three fact scans total) instead of
    running the full selection scaffold twice (four).

    The MAD selection needs a candidate window around the (unknown)
    median of ``ad = |v - med|``. Running pass 1 again over ``ad`` is a
    whole extra fact scan plus a second 1M-value approx-percentile
    sketch — but the window can be DERIVED from the first pass's sketch
    of ``v`` once ``med`` is known, because ranks in ad-space are
    differences of ranks in v-space:

        count(ad <= r) = count(v <= med + r) - count(v < med - r).

    With the pass-1 sketch queried at {0.24, 0.40, 0.60, 0.76} (rank
    error <= n·eps, eps = 1/_ACCURACY = 1e-4) and the target rank
    L = floor(0.5·(n-1)), for n > _SMALL_N:

    - upper bound  r_b = min(max(ap(.76) - med, med - ap(.24)),
                             max(max - med, med - min)):
      count(ad <= r_b) >= n(.76 - eps) - n(.24 + eps) = n(.52 - 2eps)
      >= L + 2 whenever n(.0198) >= 2, i.e. n >= 102 — implied by the
      n > _SMALL_N gate. (The max-deviation clamp keeps r_b finite and
      is itself covering: count(ad <= max_dev) = n >= L + 2 for n >= 3.)
    - lower bound  r_s = max(0, min(ap(.60) - med, med - ap(.40))):
      count(ad < r_s) <= n(.60 + eps) - n(.40 - eps) = n(.20 + 2eps)
      <= L for any n >= 3.

    Groups at or below _SMALL_N use the whole [0, max_dev] window, the
    same degenerate-window rule as _quantiles_select. Both target ranks
    therefore always fall inside the candidate window, and the bucket
    pass's exact below-counts make the result independent of where in
    the window the sketch landed — the returned (med, mad) are
    bit-identical to two independent exact_quantiles runs (pinned by
    tests/test_quantiles.py)."""
    vtype = df.schema[value_col].dataType
    g = list(group_cols)
    src = df.select(*g, F.col(value_col).alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    fracs = [0.49, 0.51, 0.24, 0.40, 0.60, 0.76]
    stats = src.groupBy(*g).agg(
        F.count(F.lit(1)).alias("_n"),
        F.percentile_approx("_v", fracs, F.lit(_ACCURACY)).alias("_ap"),
        F.min("_v").alias("_min"),
        F.max("_v").alias("_max"),
    )
    small = F.col("_n") <= _SMALL_N
    med_bounds = stats.select(
        *g,
        "_n",
        F.when(small, F.col("_min"))
        .otherwise(F.element_at("_ap", 1)).alias("_vs_med"),
        F.when(small, F.col("_max"))
        .otherwise(F.element_at("_ap", 2)).alias("_vb_med"),
    )
    med = _select_from_bounds(src, g, {"med": 0.5}, med_bounds, vtype)

    # derive the ad-space window per group (tiny join of per-group rows)
    # per-group tables are tiny — broadcast so the derive/join
    # steps add no shuffle stages to an already driver-latency-
    # bound plan (sf0.1 breakdown: every job 1-4 tasks)
    enr = stats.join(F.broadcast(med), g)
    m = F.col("med")
    dbl = lambda c: c.cast("double")  # noqa: E731 — local shorthand
    max_dev = F.greatest(dbl(F.col("_max")) - m, m - dbl(F.col("_min")))
    ap = lambda i: dbl(F.element_at("_ap", i))  # noqa: E731
    # fracs index: ap(3)=.24, ap(4)=.40, ap(5)=.60, ap(6)=.76 — the
    # lower bound pairs the inner fractions, the upper the outer ones
    r_s = F.greatest(F.lit(0.0), F.least(ap(5) - m, m - ap(4)))
    r_b = F.least(F.greatest(ap(6) - m, m - ap(3)), max_dev)
    mad_bounds = enr.select(
        *g,
        "_n",
        F.when(small, F.lit(0.0)).otherwise(r_s).alias("_vs_mad"),
        F.when(small, max_dev).otherwise(r_b).alias("_vb_mad"),
    )
    src_ad = src.join(F.broadcast(med), g).select(
        *g, F.abs(dbl(F.col("_v")) - m).alias("_v")
    )
    mad = _select_from_bounds(
        src_ad, g, {"mad": 0.5}, mad_bounds, T.DoubleType()
    )
    return med.join(F.broadcast(mad), g)


def weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    buckets: int = 1024,
) -> DataFrame:
    """Per-group exact weighted median — the smallest value whose
    doubled cumulative weight reaches the group total — plus the total,
    as (group cols, wmedian, total).

    The one-window formulation (cumulative sum over the whole distinct
    value domain, partitioned by group) runs each group's domain
    through a SINGLE WindowExec task: parallelism collapses to the
    group count no matter the cluster (measured at sf1: the 3-flag
    lineitem query sat at ~10 s flat from 8 to 32 cores). Here the
    domain is cut into ``buckets`` fixed-width value ranges instead:

    1. one keyed agg collapses rows to distinct (group, value, weight);
    2. per-group min/max/total (tiny) define a monotone bucket id
       b = floor((v - min)·B / (max - min + 1)) — IEEE affine maps are
       monotone, so bucket order == value order;
    3. per-(group, bucket) weight sums (≤ B rows/group) + a cumulative
       window over them locate the CROSSING bucket b* and the exact
       cumulative offset below it;
    4. a final window orders only b*'s values (domain/B of the rows in
       expectation) and picks min(v) where 2·(offset + cum) ≥ total.

    All comparisons are integer-exact when weights are integral (sums
    never leave the weight's sum type); the bucket map only PARTITIONS
    the domain, so the result is bit-identical to the one-window form
    for any distribution (pinned by tests, incl. a brute-force torture
    sweep). Degenerate case: every distinct value in one bucket (e.g. a
    single hot value) makes step 4 the old window — never wrong, just
    unsplit. Measured: sf1 9.3 → 3.1 s (0.33×), sf0.1 1.71 → 1.60 s,
    rows identical."""
    g = list(group_cols)
    grp = (
        df.select(*g, F.col(value_col).alias("_v"),
                  F.col(weight_col).alias("_iw"))
        .groupBy(*g, "_v")
        .agg(F.sum("_iw").alias("_w"))
    )
    # materialize the collapsed domain ONCE: stats and the bucket pass
    # both consume grp, and AQE kicks their broadcast branches off
    # concurrently — unmaterialized, the fact scan + domain agg ran
    # 2-3x (sf1 breakdown: two concurrent 32-task scan jobs, three
    # 8-task agg jobs; 7.0 s cold). The checkpointed domain is the
    # same volume the old one-window form shuffled; blocks spill to
    # disk and are ContextCleaner-freed with the frame.
    grp = grp.localCheckpoint(eager=True)
    stats = grp.groupBy(*g).agg(
        F.min("_v").alias("_mn"),
        F.max("_v").alias("_mx"),
        F.sum("_w").alias("_tot"),
    )
    wb = (
        grp.join(F.broadcast(stats), g)
        .withColumn(
            "_b",
            F.least(
                F.lit(buckets - 1),
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (F.col("_v").cast("double")
                         - F.col("_mn").cast("double"))
                        * buckets
                        / (F.col("_mx").cast("double")
                           - F.col("_mn").cast("double") + 1.0)
                    ),
                ),
            ),
        )
        .select(*g, "_v", "_w", "_b")
    )
    bw = wb.groupBy(*g, "_b").agg(F.sum("_w").alias("_wb"))
    wcum = (
        Window.partitionBy(*g).orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bc = bw.withColumn("_cum", F.sum("_wb").over(wcum))
    crossing = (
        bc.join(F.broadcast(stats.select(*g, "_tot")), g)
        .filter(F.col("_cum") * 2 >= F.col("_tot"))
        .groupBy(*g)
        .agg(
            F.min_by(F.struct("_b", "_cum", "_wb"), "_b").alias("_x"),
            F.min("_tot").alias("_tot"),
        )
        .select(
            *g,
            F.col("_x._b").alias("_bstar"),
            (F.col("_x._cum") - F.col("_x._wb")).alias("_off"),
            "_tot",
        )
    )
    inb = wb.join(F.broadcast(crossing), g).filter(
        F.col("_b") == F.col("_bstar")
    )
    wv = (
        Window.partitionBy(*g).orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = inb.withColumn("_cum2", F.col("_off") + F.sum("_w").over(wv))
    return (
        ranked.filter(F.col("_cum2") * 2 >= F.col("_tot"))
        .groupBy(*g)
        .agg(F.min("_v").alias("wmedian"), F.min("_tot").alias("total"))
    )


# ---------------------------------------------------------------------------
# sort strategy
# ---------------------------------------------------------------------------

def _quantiles_sort(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: dict[str, float],
) -> DataFrame:
    src = df.select(*group_cols, F.col(value_col).alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    wg = Window.partitionBy(*group_cols)
    ws = wg.orderBy("_v")
    # row_number and count share the sort produced by one exchange; the
    # unordered count window reuses the same partitioning.
    ranked = src.select(
        *group_cols,
        "_v",
        (F.row_number().over(ws) - 1).alias("_rn"),
        F.count(F.lit(1)).over(wg).alias("_n"),
    )

    # A row survives if it brackets any requested quantile position:
    # pos_q = q*(n-1); keep rn == floor(pos_q) and rn == floor(pos_q)+1.
    keep = F.lit(False)
    for q in quantiles.values():
        pos = F.lit(q) * (F.col("_n") - 1)
        lo = F.floor(pos)
        keep = keep | (F.col("_rn") == lo) | (F.col("_rn") == lo + 1)
    picked = ranked.filter(keep)

    aggs = []
    for name, q in quantiles.items():
        pos = F.lit(q) * (F.col("_n") - 1)
        lo = F.floor(pos)
        vlo = F.max(F.when(F.col("_rn") == lo, F.col("_v"))).alias(f"_lo_{name}")
        vhi = F.max(F.when(F.col("_rn") == lo + 1, F.col("_v"))).alias(f"_hi_{name}")
        aggs += [vlo, vhi]
    out = picked.groupBy(*group_cols).agg(F.max("_n").alias("_n"), *aggs)
    return out.select(*_interpolate(group_cols, quantiles))


__all__ = ["exact_quantiles", "median_mad", "weighted_median"]


def gated_ntile(
    df: DataFrame,
    n: int,
    order_cols: list,
    out_col: str,
    local_threshold: int = 2_000_000,
    total: int | None = None,
) -> DataFrame:
    """Exact global ``ntile(n)`` without an unpartitioned window at scale.

    Below ``local_threshold`` rows: the plain window (single-task sort —
    fine for bounded frames). Above: an exact range-partitioned rank
    (anonymize.first_seen_rank) plus the closed-form ntile bucket — the
    first ``total % n`` buckets take ``total // n + 1`` rows, the rest
    ``total // n`` — so the result is bit-identical to the window at any
    size, with no single task ever sorting the whole frame. The
    orderings must be fully tie-broken for determinism (same requirement
    the window path has).
    """
    if total is None:
        total = df.count()
    if total <= local_threshold:
        return df.withColumn(out_col, F.ntile(n).over(Window.orderBy(*order_cols)))

    from .anonymize import first_seen_rank

    ranked = first_seen_rank(
        df, order_cols, local_threshold=0, rank_col="__ntile_rank", total=total
    )
    q, extra = total // n, total % n
    r = F.col("__ntile_rank")
    if q == 0:
        bucket = r
    else:
        big_span = extra * (q + 1)
        bucket = F.when(
            r <= big_span, F.floor((r + q) / (q + 1))
        ).otherwise(F.lit(extra) + F.floor((r - big_span + q - 1) / q))
    return ranked.withColumn(out_col, bucket.cast("int")).drop("__ntile_rank")
