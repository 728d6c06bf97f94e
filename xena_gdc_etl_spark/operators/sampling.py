"""Deterministic sampling / split assignment for training-data pipelines.

Splits must be (a) stable across runs and cluster layouts — membership is a
pure function of the record key, never of partition order or RNG state —
and (b) computable without a shuffle. Both come from hashing the key with a
portable digest (md5 → 60-bit int, the same construction as
functions.md5_hash60), so any other engine can reproduce the assignment.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Hash-space resolution for split boundaries: fractions are exact at 1/10000.
_BUCKETS = 10_000


def _bucket(key: Column, seed: str) -> Column:
    from xena_gdc_etl_spark.functions import md5_hash60

    # Null keys hash as a sentinel string, not null — otherwise every
    # comparison on the bucket is null and null-keyed rows silently fall
    # into whatever the otherwise-branch is.
    key_str = F.coalesce(key.cast("string"), F.lit("\x00null"))
    return md5_hash60(key_str, seed=seed) % _BUCKETS


def split_assign(
    df: DataFrame,
    key_col: str,
    splits: Mapping[str, float] | None = None,
    seed: str = "",
    out_col: str = "split",
) -> DataFrame:
    """Label every row with its split ("train"/"valid"/"test" by default).

    Fractions are cumulative bucket ranges over the key hash; rows with the
    same key always land in the same split (leakage-safe for grouped data).
    Pure projection — no shuffle, survives any repartitioning.
    """
    splits = dict(splits or {"train": 0.8, "valid": 0.1, "test": 0.1})
    if abs(sum(splits.values()) - 1.0) > 1e-6:
        # the last split absorbs the remainder of the hash space, so a
        # non-unit sum silently resizes it — fail loud instead
        raise ValueError(
            f"split fractions must sum to 1, got {sum(splits.values())}"
        )
    bucket = _bucket(F.col(key_col), seed)
    expr = None
    upper = 0.0
    names = list(splits)
    for name in names[:-1]:
        upper += splits[name]
        cond = bucket < int(round(upper * _BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(names[-1])
    return df.withColumn(out_col, expr)


def stratified_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    seed: str = "",
) -> DataFrame:
    """Deterministic ~``fraction`` sample by key hash. Unlike
    ``DataFrame.sample`` this is reproducible across runs/planners and keeps
    all rows of a sampled key together.
    """
    return df.filter(_bucket(F.col(key_col), seed) < int(round(fraction * _BUCKETS)))


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: Column | str,
    seed: str = "",
) -> DataFrame:
    """Importance sampling: keep each row with probability = its weight in
    [0, 1], deterministically (same key + seed → same decision on any
    engine/cluster layout). The training-data-mixing primitive: weight by
    quality score to keep good documents at a higher rate than boilerplate
    without a global sort or RNG state.

    Pure projection+filter — no shuffle, composes with any upstream plan
    and pushes into the scan when the weight is a column expression.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    bucket = _bucket(F.col(key_col), seed)
    # clamp into [0,1] so an out-of-range score can't silently keep/drop
    # all. The threshold TRUNCATES to the 1/10000 grid (floor, not
    # round): keep probability is quantized conservatively downward, so
    # a weight below 1e-4 keeps nothing — deliberate (a floor never
    # keeps more than the stated weight) and replayed identically by the
    # oracle's CAST-to-integer.
    thresh = (
        F.least(F.greatest(w, F.lit(0.0)), F.lit(1.0)) * _BUCKETS
    ).cast("bigint")
    return df.filter(bucket < thresh)


def rebalance_groups(
    df: DataFrame,
    group_col: str,
    key_col: str,
    target: Mapping[str, float] | None = None,
    seed: str = "",
) -> DataFrame:
    """Rebalance a corpus toward a target group mixture by downsampling
    over-represented groups (never upsampling): with no ``target``, every
    group is cut to the size of the smallest (uniform mixture); with
    ``target`` proportions, each group keeps
    ``min(1, target_g · N_total / n_g)`` of its rows.

    A ``target`` mapping is EXHAUSTIVE: a group absent from it has share
    0 and is dropped entirely (a mixture spec that omits a source is
    excluding it) — list every group you want kept, with its share.
    NULL group keys are a regular group (the rates join is null-safe,
    matching the groupBy that counted them).

    Plan shape: one partial-aggregated count per group (tiny — one row per
    group), broadcast back onto the corpus, then the same deterministic
    hash filter as ``stratified_sample``. The corpus itself never
    shuffles, so this survives a 100 TB input with a per-group count as
    the only aggregate state.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    # one row per group + one scalar row — broadcast-joined, never shuffled
    totals = counts.agg(
        F.min("__n").alias("__min_n"), F.sum("__n").alias("__total_n")
    )
    counts = counts.crossJoin(F.broadcast(totals))
    if target is None:
        frac = F.col("__min_n") / F.col("__n")
    else:
        # F.when opens the CASE chain, Column.when extends it; an empty
        # target lists no group, so every group's share is 0
        case = F
        for value, share in target.items():
            case = case.when(F.col(group_col) == value, float(share))
        tgt = case.otherwise(F.lit(0.0)) if target else F.lit(0.0)
        frac = tgt * F.col("__total_n") / F.col("__n")
    rates = counts.select(
        group_col, F.least(F.lit(1.0), frac).alias("__keep_frac")
    )
    bucket = _bucket(F.col(key_col), seed)
    # null-safe join: a NULL group key was counted as a regular group
    # above, so a plain name-list equi-join (NULL never equals NULL)
    # would silently drop every null-keyed row here — the same
    # discipline as quantile_band_filter / the prefix offsets join
    lhs, rhs = df.alias("__lhs"), F.broadcast(rates).alias("__rhs")
    return (
        lhs.join(
            rhs,
            F.col(f"__lhs.{group_col}").eqNullSafe(
                F.col(f"__rhs.{group_col}")
            ),
        )
        .drop(rhs[group_col])
        .filter(bucket < (F.col("__keep_frac") * _BUCKETS).cast("bigint"))
        .drop("__keep_frac")
    )


def sample_by_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    fractions: Mapping[str, float],
    default_fraction: float = 0.0,
    seed: str = "",
) -> DataFrame:
    """Per-group sampling rates (e.g. downsample boilerplate-heavy sources,
    keep rare ones whole) — the deterministic twin of ``sampleBy``.
    """
    bucket = _bucket(F.col(key_col), seed)
    thresh: Column = F.lit(int(round(default_fraction * _BUCKETS)))
    for value, frac in fractions.items():
        thresh = (
            F.when(F.col(group_col) == value, int(round(frac * _BUCKETS)))
            .otherwise(thresh)
        )
    return df.filter(bucket < thresh)


def mixture_plan(
    docs: DataFrame,
    group_col: str = "source",
    weight_col: str = "n_tokens",
    max_epochs: float = 4.0,
) -> DataFrame:
    """Per-source mixture plan toward a UNIFORM target: for each group,
    its token share, the sampling rate that would downsample it to the
    uniform share, the number of epochs (>1 = upsampling) capped at
    ``max_epochs``, and the planned token budget — the data-mixing
    arithmetic behind Pile-style corpus assembly (public method; epoch
    caps per Gao et al. 2020).

    Plan: one map-side-partial groupBy collapses the corpus to one row
    per group; the grand total is a 1-row aggregate cross-joined back
    (broadcast by construction). The corpus itself is scanned once and
    never joined — at 100 TB the whole plan's shuffle traffic is
    O(groups). Divisions happen after exact integer sums, so the floats
    are IEEE-identical across engines; displayed ratios are rounded.
    """
    per_group = docs.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        # all-NULL weights → 0 tokens, not a NULL that F.least would
        # silently skip downstream
        F.coalesce(F.sum(weight_col), F.lit(0))
        .cast("bigint")
        .alias("group_tokens"),
    )
    totals = per_group.agg(
        F.sum("group_tokens").cast("bigint").alias("__total"),
        F.count(F.lit(1)).cast("bigint").alias("__n_groups"),
    )
    target = F.col("__total") / F.col("__n_groups")
    # zero-token group guard: under ANSI mode target/0 THROWS
    # DIVIDE_BY_ZERO (and a NULL ratio would make F.least silently
    # report sample_rate 1.0 / max epochs for a group contributing
    # nothing) — a degenerate group plans rate 0, epochs 0, 0 tokens
    ratio = F.when(
        F.col("group_tokens") > 0, target / F.col("group_tokens")
    ).otherwise(F.lit(0.0))
    share = F.when(
        F.col("__total") > 0,
        F.col("group_tokens") / F.col("__total"),
    ).otherwise(F.lit(0.0))
    epochs = F.least(ratio, F.lit(float(max_epochs)))
    return (
        per_group.crossJoin(F.broadcast(totals))
        .select(
            F.col(group_col),
            "n_docs",
            "group_tokens",
            F.round(share, 6).alias("token_share"),
            F.round(F.least(ratio, F.lit(1.0)), 6).alias("sample_rate"),
            F.round(epochs, 6).alias("epochs"),
            F.floor(F.col("group_tokens") * epochs)
            .cast("bigint")
            .alias("planned_tokens"),
        )
    )


def quantile_band_filter(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    lo_p: float = 0.05,
    hi_p: float = 0.95,
) -> DataFrame:
    """Keep rows whose value lies inside their group's discrete
    [``lo_p``, ``hi_p``] quantile band — length-outlier removal, the
    standard "drop truncated fragments and mega-concatenations" gate a
    training-data pipeline runs per source before quality scoring.

    Quantile convention (discrete, engine-portable): the p-quantile of a
    group of n rows is the smallest value whose cumulative count reaches
    ``ceil(p·n)`` — no interpolation, so integer values stay integers and
    any engine reproduces the boundary exactly.

    Scale shape: boundaries come from a per-(group, value) HISTOGRAM —
    one map-side-partial groupBy — so the cumulative window runs over
    DISTINCT VALUES per group (bounded by the value domain, e.g. document
    lengths, never by row count; a source with 10^10 docs of 40k distinct
    lengths contributes 40k histogram rows). The boundary frame is one
    row per group and broadcasts back onto the corpus: one shuffle of the
    histogram, zero shuffles of the data itself.

    NULL handling: a NULL group key is a REGULAR group — the bounds join
    is null-safe (a real corpus has null sources; a plain name-list
    equi-join would silently drop every such row). Rows with a NULL
    ``value_col`` are EXCLUDED — from the histogram, so the boundaries
    never depend on an engine's NULL sort order (Spark orders NULLS
    FIRST ascending, DuckDB NULLS LAST — letting NULLs into ``__cum``
    would shift every quantile), and from the output (a NULL length is
    inside no band).
    """
    from pyspark.sql import Window

    v = F.col(value_col)
    hist = (
        df.filter(v.isNotNull())
        .groupBy(*group_cols, v)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    cum_w = Window.partitionBy(*group_cols).orderBy(value_col)
    tot_w = Window.partitionBy(*group_cols)
    cum = hist.withColumn("__cum", F.sum("__c").over(cum_w)).withColumn(
        "__n", F.sum("__c").over(tot_w)
    )
    bounds = cum.groupBy(*group_cols).agg(
        F.min(
            F.when(F.col("__cum") >= F.ceil(F.lit(lo_p) * F.col("__n")), v)
        ).alias("lo"),
        F.min(
            F.when(F.col("__cum") >= F.ceil(F.lit(hi_p) * F.col("__n")), v)
        ).alias("hi"),
    )
    lhs, rhs = df.alias("__lhs"), F.broadcast(bounds).alias("__rhs")
    cond = F.lit(True)
    for c in group_cols:
        cond = cond & F.col(f"__lhs.{c}").eqNullSafe(F.col(f"__rhs.{c}"))
    return (
        lhs.join(rhs, cond)
        .drop(*[rhs[c] for c in group_cols])
        .filter(v.between(F.col("lo"), F.col("hi")))
    )


def mixture_temperature(
    docs: DataFrame,
    group_col: str = "source",
    weight_col: str = "n_tokens",
    temperature: float = 2.0,
) -> DataFrame:
    """Temperature-scaled source mixture: sampling weight
    p_i ∝ q_i^(1/T) where q_i is the group's token share — the
    multilingual up-weighting scheme from XLM-R / mT5 (public method;
    T=1 keeps natural proportions, T→∞ approaches uniform, so low-
    resource groups gain share as T rises). Returns per group the token
    share, the temperature weight, and the implied up/downsample factor
    (temp_weight / token_share).

    Plan shape is ``mixture_plan``'s: one map-side-partial groupBy to one
    row per group, a 1-row broadcast total, O(groups) shuffle traffic —
    the corpus is scanned once and never joined. Shares divide exact
    integer sums; the power is double math rounded to 6 dp on both
    engines.
    """
    alpha = 1.0 / float(temperature)
    per_group = docs.groupBy(group_col).agg(
        F.coalesce(F.sum(weight_col), F.lit(0))
        .cast("bigint")
        .alias("group_tokens")
    )
    powed = per_group.select(
        F.col(group_col),
        "group_tokens",
        F.pow(F.col("group_tokens").cast("double"), F.lit(alpha)).alias(
            "__p"
        ),
    )
    totals = powed.agg(
        F.sum("group_tokens").cast("bigint").alias("__total"),
        F.sum("__p").alias("__ptotal"),
    )
    # zero-token guards: under ANSI mode x/0 THROWS — a group with no
    # tokens has share 0, weight 0, and no meaningful resample factor
    share = F.when(
        F.col("__total") > 0, F.col("group_tokens") / F.col("__total")
    ).otherwise(F.lit(0.0))
    tw = F.when(
        F.col("__ptotal") > 0, F.col("__p") / F.col("__ptotal")
    ).otherwise(F.lit(0.0))
    resample = F.when(share > 0, tw / share).otherwise(F.lit(0.0))
    return (
        powed.crossJoin(F.broadcast(totals))
        .select(
            F.col(group_col),
            "group_tokens",
            F.round(share, 6).alias("token_share"),
            F.round(tw, 6).alias("temp_weight"),
            F.round(resample, 6).alias("resample_factor"),
        )
    )
