"""Dataset profiling operators — the pre-flight checks of a 100 TB run.

Before shuffling a petabyte on a join key you want to KNOW whether the
key is skewed, how many nulls ride along, and how wide the hot keys
are. These operators answer that with aggregation-only plans (hash
aggregates with map-side partials; the heavy-hitter cut is a top-n
over the already-tiny per-key count table), so profiling costs one
scan regardless of input size.

Ref: awswrangler exposes no profiling surface (its `s3.describe_objects`
/ `catalog.table` describe metadata, not data); these extend the
engine the way `df.describe()` extends pandas — but shuffle-aware.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aws_data_wrangler_spark.functions import trunc_digits


def _bt(name: str) -> str:
    """Escape embedded backticks for interpolation inside a
    backtick-quoted ``F.expr`` identifier (ADVICE r9: a column name
    containing a backtick would otherwise break the expression)."""
    return name.replace("`", "``")


def _bcol(name: str) -> "F.Column":
    """A column reference that survives backticks in the name: bare
    ``F.col(name)`` (and ``df[name]``) PARSE the name, so an embedded
    backtick raises INVALID_ATTRIBUTE_NAME_SYNTAX — quote it."""
    return F.col(f"`{_bt(name)}`")


def key_distribution(
    df: DataFrame,
    key_cols: List[str],
    top_n: int = 20,
) -> DataFrame:
    """Heavy-hitter profile of a prospective join/groupBy key:
    (key..., n, share, cum_share, rank) for the ``top_n`` hottest keys.

    ``share`` is the key's fraction of all rows and ``cum_share`` the
    running total in rank order — the two numbers that decide between
    a plain shuffle join, AQE skew handling, or salting. One hash
    aggregate over the scan; the window runs on the top-n rows only
    (the per-key table is cut to ``top_n`` by a count-ordered limit
    BEFORE the single-partition ranking window, so no corpus-sized
    data ever converges on one task).

    Ratios floor-truncate at 6dp so a second engine reproduces them.
    """
    total = df.count()
    # _bcol throughout: a backticked key name must not break the
    # profile (the r9 sketch-family audit, extended here r12); the
    # grouped output keeps the original names via alias
    counts = df.groupBy(*[_bcol(c).alias(c) for c in key_cols]).agg(
        F.count(F.lit(1)).alias("n")
    )
    order = [F.col("n").desc()] + [_bcol(c).asc() for c in key_cols]
    top = counts.orderBy(*order).limit(top_n)
    w = Window.orderBy(*order)
    return (
        top.withColumn("rank", F.row_number().over(w))
        .withColumn("share", trunc_digits(F.col("n") / F.lit(float(total))))
        .withColumn(
            "cum_share",
            trunc_digits(
                F.sum(F.col("n")).over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                / F.lit(float(total))
            ),
        )
        .select(*[_bcol(c).alias(c) for c in key_cols],
                "n", "rank", "share", "cum_share")
    )


def null_profile(df: DataFrame, cols: Optional[List[str]] = None) -> DataFrame:
    """Per-column null/distinct profile: (column, n_rows, n_null,
    null_share, n_distinct). One aggregation pass over the scan —
    every column's counters are computed in the same hash aggregate,
    then unpivoted driver-side (column-cardinality rows, not data).

    ``n_distinct`` is exact (count distinct per column in one pass via
    expand); for quick looks on very wide tables pass ``cols`` to
    bound the expand factor.
    """
    cols = cols or df.columns
    aggs = []
    for c in cols:
        # _bcol, not F.col: a backticked column name must not break the
        # profile (the r9 sketch-family audit, extended here r12)
        aggs.append(F.count(F.lit(1)).alias(f"__rows_{c}"))
        aggs.append(F.count(_bcol(c)).alias(f"__nonnull_{c}"))
        aggs.append(F.countDistinct(_bcol(c)).alias(f"__distinct_{c}"))
    row = df.agg(*aggs).collect()[0]
    spark = df.sparkSession
    out = [
        (
            c,
            row[f"__rows_{c}"],
            row[f"__rows_{c}"] - row[f"__nonnull_{c}"],
            float(row[f"__rows_{c}"] - row[f"__nonnull_{c}"]) / row[f"__rows_{c}"]
            if row[f"__rows_{c}"]
            else 0.0,
            row[f"__distinct_{c}"],
        )
        for c in cols
    ]
    return spark.createDataFrame(
        out, "column string, n_rows bigint, n_null bigint, null_share double, n_distinct bigint"
    ).withColumn("null_share", trunc_digits(F.col("null_share")))


def _exact_sum_or_raise(value, column: str) -> float:
    """A NULL exact-decimal sum under non-ANSI Spark means the
    ``decimal(38,12)`` accumulator OVERFLOWED (values beyond the
    documented ~1e12 magnitude headroom) — surface the column and the
    remedy instead of letting ``float(None)`` raise an opaque
    TypeError."""
    if value is None:
        raise ValueError(
            f"exact-decimal sum overflowed for column {column!r}: values "
            "exceed the ~1e12 magnitude headroom of the decimal(18,6) "
            "accumulators — pre-scale the column before profiling"
        )
    return float(value)


def numeric_summary(df: DataFrame, cols: Optional[List[str]] = None) -> DataFrame:
    """Per-column numeric profile: (column, n_rows, n_null, min, max,
    mean, stddev) — the ``df.describe()`` every ingest preflight wants,
    in ONE aggregation pass over the scan (all columns' moments in the
    same hash aggregate, unpivoted driver-side into column-cardinality
    rows).

    Determinism across engines AND partitionings: the raw Σx and Σx²
    accumulate in ``decimal(18,6)`` / ``decimal(38,12)`` — EXACT sums,
    so the result doesn't depend on partition merge order the way a
    double sum (or Welford-merge ``stddev``) does — then mean and
    sample stddev derive from the exact sums in IEEE double arithmetic
    both engines replicate bit-for-bit. Columns that are all-null
    profile with null mean; ``stddev`` needs ≥ 2 values.

    ``cols`` defaults to every numeric column. Decimal GRID: the exact
    accumulators quantize each value at 1e-6 — headroom up to ~1e12 in
    magnitude (Σx² ~1e26), but a column whose VALUES live below the
    1e-6 grid (e.g. 1e-7-scale measurements) profiles with mean/stddev
    of the quantized zeros while min/max stay exact — pre-scale such
    columns before profiling. The trade is deliberate: exactness (and
    therefore partition-order independence) of the sums over
    sub-micro precision."""
    from pyspark.sql import types as T

    if cols is None:
        cols = [
            f.name for f in df.schema.fields if isinstance(f.dataType, T.NumericType)
        ]
    # counters alias by POSITION, not name — name-derived aliases can
    # collide across columns (Spark permits duplicate aliases and
    # Row[name] silently returns the first), the column_correlations
    # pair-alias trap
    aggs = []
    for i, c in enumerate(cols):
        d = _bcol(c).cast("decimal(18,6)")  # _bcol: backtick-safe (r12)
        aggs += [
            F.count(F.lit(1)).alias(f"__rows_{i}"),
            F.count(_bcol(c)).alias(f"__n_{i}"),
            F.min(_bcol(c).cast("double")).alias(f"__mn_{i}"),
            F.max(_bcol(c).cast("double")).alias(f"__mx_{i}"),
            F.sum(d).alias(f"__s1_{i}"),
            F.sum(d * d).alias(f"__s2_{i}"),
        ]
    row = df.agg(*aggs).collect()[0]
    out = []
    for i, c in enumerate(cols):
        n = row[f"__n_{i}"]
        mean = std = None
        if n:
            s1 = _exact_sum_or_raise(row[f"__s1_{i}"], c)
            mean = _floor6(s1 / n)
            if n > 1:
                import math

                s2 = _exact_sum_or_raise(row[f"__s2_{i}"], c)
                var = (s2 - s1 * s1 / n) / (n - 1)
                # math.sqrt is the IEEE-754 correctly-rounded sqrt —
                # identical to SQL sqrt in every engine (x**0.5 is pow,
                # which carries no such guarantee)
                std = _floor6(math.sqrt(max(var, 0.0)))
        out.append(
            (c, row[f"__rows_{i}"], row[f"__rows_{i}"] - n,
             row[f"__mn_{i}"], row[f"__mx_{i}"], mean, std)
        )
    return df.sparkSession.createDataFrame(
        out,
        "column string, n_rows bigint, n_null bigint, min double, "
        "max double, mean double, stddev double",
    )


def column_correlations(
    df: DataFrame, cols: Optional[List[str]] = None
) -> DataFrame:
    """Pairwise Pearson correlation matrix over numeric columns in ONE
    aggregation pass: (col_a, col_b, n, corr) for every unordered pair
    — the multicollinearity / redundant-feature screen next to
    ``numeric_summary``. Rows with a NULL in ANY profiled column drop
    first (listwise deletion, the standard corr-matrix convention), so
    every pair shares one n.

    The ``numeric_summary`` determinism discipline: Σx, Σx², Σx·y
    accumulate as EXACT decimals (order-free), then
    r = (n·Σxy − Σx·Σy) / √((n·Σx² − Σx²ᵗ)(n·Σy² − Σyᵗ²)) derives in
    IEEE double both engines replicate bit-for-bit (floor 6dp).
    Constant columns (zero variance) yield NULL corr — r is undefined,
    the textbook treatment. The aggregate is O(p²) counters wide for p
    columns — profile a selected list on very wide tables. Same 1e-6
    decimal grid as ``numeric_summary``: columns whose values live
    below the grid quantize to constants (NULL corr) — pre-scale
    them."""
    import math

    from pyspark.sql import types as T

    if cols is None:
        cols = [
            f.name for f in df.schema.fields if isinstance(f.dataType, T.NumericType)
        ]
    # listwise deletion via explicit _bcol filters — dropna's subset
    # parses names, so a backticked column would break it (r12).
    # dropna treats NaN as missing, so the replica must too: a NaN row
    # kept here would count in __n while its decimal-cast products go
    # NULL and vanish from the sums — silently corrupting every
    # correlation (r12 review finding). isnan is only defined on
    # float/double; other numeric types cannot hold NaN.
    complete = df
    for c in cols:
        cond = _bcol(c).isNotNull()
        if isinstance(df.schema[c].dataType, (T.FloatType, T.DoubleType)):
            cond = cond & ~F.isnan(_bcol(c))
        complete = complete.filter(cond)
    # counters alias by INDEX: f"__p_{a}_{b}" on NAMES collides for
    # e.g. ("x_y", "z") vs ("x", "y_z") — Spark permits the duplicate
    # alias and Row[name] returns the first, silently computing the
    # second pair's correlation from the first pair's product sum
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        d = _bcol(c).cast("decimal(18,6)")  # _bcol: backtick-safe (r12)
        aggs.append(F.sum(d).alias(f"__s_{i}"))
        aggs.append(F.sum(d * d).alias(f"__ss_{i}"))
    for i, a in enumerate(cols):
        for j, b in enumerate(cols[i + 1 :], start=i + 1):
            da = _bcol(a).cast("decimal(18,6)")
            db = _bcol(b).cast("decimal(18,6)")
            aggs.append(F.sum(da * db).alias(f"__p_{i}_{j}"))
    row = complete.agg(*aggs).collect()[0]
    n = row["__n"]
    out = []
    for i, a in enumerate(cols):
        for j, b in enumerate(cols[i + 1 :], start=i + 1):
            corr = None
            if n > 1:
                sx = _exact_sum_or_raise(row[f"__s_{i}"], a)
                sy = _exact_sum_or_raise(row[f"__s_{j}"], b)
                sxx = _exact_sum_or_raise(row[f"__ss_{i}"], a)
                syy = _exact_sum_or_raise(row[f"__ss_{j}"], b)
                sxy = _exact_sum_or_raise(row[f"__p_{i}_{j}"], f"({a}, {b})")
                vx = n * sxx - sx * sx
                vy = n * syy - sy * sy
                if vx > 0 and vy > 0:
                    corr = _floor6((n * sxy - sx * sy) / math.sqrt(vx * vy))
            out.append((a, b, n, corr))
    return df.sparkSession.createDataFrame(
        out, "col_a string, col_b string, n bigint, corr double"
    )


def numeric_histogram(df: DataFrame, col: str, bins: int = 10) -> DataFrame:
    """Equi-width histogram of a numeric column: (bin, lo, hi, n) for
    ALL ``bins`` buckets (empty ones included — a profile with holes
    reads as coverage when it isn't) — the numeric companion to
    ``length_histogram``. Two passes: one bounds aggregate, one
    map-side-combining bucket count; the bin spine is driver-built
    (``bins``-sized, artifact-small).

    Buckets are ``[mn + i·w, mn + (i+1)·w)`` with ``w = (mx − mn)/bins``
    and the max value clamped into the last bucket (the standard
    equi-width convention). Assignment and edges are plain IEEE double
    arithmetic over the same (mn, mx) — engine-replicable; edges floor
    at 6dp for display. A constant column (mn == mx) lands entirely in
    bin 0; an all-null column returns the empty spine with n = 0.
    NON-FINITE values (NaN, ±inf) are EXCLUDED before the bounds pass —
    a NaN max (Spark sorts NaN largest) or an inf edge would poison
    every bucket edge; a profiler aimed at dirty data must survive
    exactly those values."""
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    x = _bcol(col).cast("double")  # _bcol: backtick-safe (r12)
    finite = df.filter(
        x.isNotNull() & ~F.isnan(x) & (F.abs(x) != F.lit(float("inf")))
    )
    b = finite.agg(
        F.min(x).alias("mn"), F.max(x).alias("mx"), F.count(x).alias("n")
    ).collect()[0]
    mn, mx, n_vals = b["mn"], b["mx"], b["n"]
    spark = df.sparkSession
    schema = "bin bigint, lo double, hi double, n bigint"
    if not n_vals:
        return spark.createDataFrame(
            [(i, None, None, 0) for i in range(bins)], schema
        )
    w = (mx - mn) / bins
    if w > 0:
        bin_expr = F.least(
            F.floor((x - F.lit(mn)) / F.lit(w)).cast("bigint"),
            F.lit(bins - 1),
        )
    else:  # constant column: everything is bin 0
        bin_expr = F.lit(0).cast("bigint")
    counts = {
        r["bin"]: r["n"]
        for r in finite.groupBy(bin_expr.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = [
        (i, _floor6(mn + i * w), _floor6(mn + (i + 1) * w), counts.get(i, 0))
        for i in range(bins)
    ]
    return spark.createDataFrame(rows, schema)


def _floor6(x: float) -> float:
    """Driver-side twin of ``functions.trunc_digits`` (floor at 6dp):
    python floats ARE IEEE doubles, so this matches the SQL expression
    ``floor(x * 1e6) / 1e6`` bit-for-bit."""
    import math

    return math.floor(x * 1e6) / 1e6


def join_fanout_estimate(
    left: DataFrame,
    right: DataFrame,
    on: List[str],
    top_n: int = 20,
) -> DataFrame:
    """Pre-flight size forecast of an equi-join: for the ``top_n``
    widest keys, (key..., n_left, n_right, out_rows, share) where
    ``out_rows = n_left × n_right`` is that key's EXACT inner-join
    output contribution and ``share`` its fraction of the total.

    Run this before a fact-fact join: a single key carrying 30% of
    the output rows means the join explodes on one task — salt it,
    pre-aggregate a side, or re-check the join keys. The plan costs
    one hash aggregate per input (map-side partials; the per-key
    count tables are NDV-sized, not corpus-sized), one equi-join of
    those small tables, and a top-n cut before the ranking window —
    nothing corpus-sized converges anywhere.
    """
    lc = left.groupBy(*on).agg(F.count(F.lit(1)).alias("n_left"))
    rc = right.groupBy(*on).agg(F.count(F.lit(1)).alias("n_right"))
    contrib = lc.join(rc, on).withColumn(
        "out_rows", F.col("n_left") * F.col("n_right")
    )
    # the denominator rides INSIDE the returned plan as a broadcast
    # one-row aggregate — no eager collect at construction time, so a
    # pre-flight diagnostic costs exactly one action, and the total
    # branch shares the per-key shuffles with the top-n branch via
    # ReusedExchange (only the NDV-sized reduce side runs twice)
    total_df = contrib.agg(F.sum("out_rows").alias("__total"))
    order = [F.col("out_rows").desc()] + [F.col(c).asc() for c in on]
    top = contrib.orderBy(*order).limit(top_n)
    w = Window.orderBy(*order)
    return (
        top.crossJoin(F.broadcast(total_df))
        .withColumn("rank", F.row_number().over(w))
        .withColumn(
            "share",
            F.when(
                F.col("__total") > 0,
                trunc_digits(F.col("out_rows") / F.col("__total").cast("double")),
            ).otherwise(F.lit(0.0)),
        )
        .select(*on, "n_left", "n_right", "out_rows", "rank", "share")
    )


def hll_column_sketches(
    df: DataFrame,
    cols: Optional[List[str]] = None,
    lg_k: int = 12,
) -> DataFrame:
    """One-row frame of MERGEABLE distinct-count state: ``n_rows``
    plus a binary Apache DataSketches HLL sketch per column
    (``sk_<col>``). This is the incremental-profiling primitive for a
    100 TB corpus: each ingest batch / partition / day appends its
    sketch row (bytes, not data), and ``hll_union`` later answers
    "distinct users this quarter" without ever rescanning — the merge
    is REGISTER-lossless; unioned estimates equal the single-pass
    estimate exactly while sketches are in exact mode, and agree
    within the sketch's error bound (~2% observed 0.7% at NDV 1500)
    once representation promotion kicks in — DataSketches estimates
    are grouping-path-dependent past that boundary.

    ``lg_k`` trades sketch size for accuracy (Spark's default 12 ⇒
    ~1.6% relative standard error, ~2.5 KB per sketch).
    """
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.expr(f"hll_sketch_agg(`{_bt(c)}`, {int(lg_k)})").alias(f"sk_{c}")
        for c in cols
    ]
    return df.agg(*aggs)


def hll_union(sketches: DataFrame) -> DataFrame:
    """Merge many sketch rows (one per batch/partition/day) into one:
    ``n_rows`` sums, each ``sk_*`` column unions via
    ``hll_union_agg`` — a constant-size aggregation over sketch bytes,
    no data touched."""
    sk_cols = [c for c in sketches.columns if c.startswith("sk_")]
    aggs = [F.sum("n_rows").alias("n_rows")] + [
        F.expr(f"hll_union_agg(`{_bt(c)}`)").alias(c) for c in sk_cols
    ]
    return sketches.agg(*aggs)


def hll_estimates(sketches: DataFrame) -> DataFrame:
    """Unpivot sketch rows (pre-unioning when several) to
    (column, n_rows, n_distinct_est) — the human-readable view."""
    sk_cols = [c for c in sketches.columns if c.startswith("sk_")]
    merged = hll_union(sketches)
    row = merged.select(
        "n_rows",
        *[F.expr(f"hll_sketch_estimate(`{_bt(c)}`)").alias(c) for c in sk_cols],
    ).collect()[0]
    if row["n_rows"] is None:
        # an EMPTY sketch frame (e.g. hll_sketch_sink over an all-empty
        # backlog) aggregates to one all-NULL row — the honest answer
        # is an empty estimate frame, not int(None)
        out = []
    else:
        out = [(c[3:], int(row["n_rows"]), int(row[c])) for c in sk_cols]
    return sketches.sparkSession.createDataFrame(
        out, "column string, n_rows bigint, n_distinct_est bigint"
    )


def grouped_hll_sketches(
    df: DataFrame,
    group_cols: List[str],
    col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-GROUP mergeable distinct-count state — the re-aggregable
    NDV cube the global `hll_column_sketches` can't express: one row
    per group of ``(group_cols…, n_rows, sk)``, where ``sk`` is the
    group's HLL sketch of ``col``. The production shape is "daily
    uniques": sketch once at the finest grain (e.g. (event_type, day)),
    persist the sketch table, and answer EVERY coarser rollup —
    monthly uniques per type, lifetime uniques overall — from the
    sketches alone via `hll_rollup`, no rescan. Distinct counts don't
    sum across groups (the whole reason this exists: a user active on
    30 days is 30 daily rows but ONE monthly unique); HLL register
    state unions losslessly, so re-aggregation is exact sketch algebra
    with the usual estimate bound. One hash aggregate with map-side
    partials; state is one ~2.5 KB sketch per group."""
    return df.groupBy(*[_bcol(g).alias(g) for g in group_cols]).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr(f"hll_sketch_agg(`{_bt(col)}`, {int(lg_k)})").alias("sk"),
    )


def hll_rollup(sketches: DataFrame, to_cols: List[str]) -> DataFrame:
    """Re-aggregate a `grouped_hll_sketches` table to a coarser grain:
    ``(to_cols…, n_rows, n_distinct_est)`` — register-lossless
    `hll_union_agg` per surviving group (pass ``to_cols=[]`` for the
    grand total). ``n_rows`` sums exactly; the estimate carries the
    sketch's error bound regardless of how many fine-grain rows pool
    into each coarse group (representation promotion can move it
    within the bound, never past it — the `profiling_hll_invariants`
    contract). A constant-size aggregation over sketch bytes: the
    rollup's cost is the SKETCH table's size, never the data's."""
    grouped = (
        sketches.groupBy(*[_bcol(c).alias(c) for c in to_cols])
        if to_cols
        else sketches.groupBy()
    )
    return grouped.agg(
        F.sum("n_rows").alias("n_rows"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").cast("bigint").alias(
            "n_distinct_est"
        ),
        # a grand-total (to_cols=[]) rollup of an EMPTY sketch table
        # aggregates to one all-NULL row; the honest answer is an empty
        # frame (the hll_estimates empty-state contract). Grouped
        # rollups never produce NULL n_rows, so the filter is free.
    ).filter(F.col("n_rows").isNotNull())


def quantile_sketches(
    df: DataFrame,
    cols: Optional[List[str]] = None,
    batch_col: Optional[str] = None,
    bins: int = 128,
    value_grid: Optional[float] = None,
) -> DataFrame:
    """Mergeable quantile state — the percentile companion to the HLL
    trio: one row per (batch, column) of ``(batch, column, n, grid)``
    where ``grid[j]`` is the batch's EXACT quantile at rank ``j/bins``
    (``bins + 1`` points, Spark's R-7 ``percentile``; endpoints are the
    exact batch min/max). Each ingest batch appends its sketch rows
    (``bins``-sized arrays, not data) and ``quantile_union`` later
    answers "p99 over the whole ingest history" without ever
    rescanning — the question the exact two-pass percentile operators
    can't answer incrementally.

    Determinism contract: the per-batch grid is an EXACT order
    statistic (partitioning-invariant by definition), and the merge is
    integer-threshold arithmetic over the pooled grids — so unlike a
    GK/KLL sketch (whose merge tree follows Spark's partitioning) the
    whole pipeline is bit-deterministic across partitionings and
    engines. The trade is per-batch cost: the exact percentile
    aggregate holds per-(batch, column) value-count state, so a batch
    whose per-column NDV is itself corpus-scale needs ``value_grid``
    (VERDICT r9 #4, closing the former caller-must-pre-round caveat):
    ``value_grid=g`` snaps every value to its nearest multiple of
    ``g`` BEFORE the exact percentile (``floor(v/g + 0.5)·g`` — a
    deterministic IEEE chain, no engine round-half divergence), so the
    counts-map is bounded by ``range/g + 1`` states regardless of NDV.
    The induced VALUE error is ≤ g/2 at every grid point (rank error
    is unchanged — quantization is monotone, so order statistics move
    by at most the snap distance); counts (``n``) are measured on the
    raw column either way.

    Accuracy contract: a merged estimate's RANK error is ≤ ~2/bins
    (per-batch grid discretization ≤ 1/(bins+1) + recompression /
    interpolation ≤ 1/bins) — at the default 128 bins, under 2% of
    rank. Grid ENDPOINTS stay exact: the merged min/max equal the true
    pooled min/max.

    The sketch frame round-trips through parquet bit-identically
    (``array<double>`` + bigints) — persist it like the MinHash corpus
    state.
    """
    from pyspark.sql import types as T

    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if cols is None:
        cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, T.NumericType) and f.name != batch_col
        ]
    if value_grid is not None and not value_grid > 0:
        raise ValueError(f"value_grid must be > 0, got {value_grid}")
    ps = ", ".join(repr(j / bins) for j in range(bins + 1))
    per_col = []
    for c in cols:
        src = f"`{_bt(c)}`"
        if value_grid is not None:
            # the grid literal rides as CAST('<repr>' AS DOUBLE): a bare
            # decimal literal would parse as DECIMAL and silently turn
            # the snap chain into decimal arithmetic, breaking the
            # documented IEEE-double determinism contract (review r10)
            g = f"CAST('{float(value_grid)!r}' AS DOUBLE)"
            src = f"(floor({src} / {g} + 0.5d) * {g})"
        per_col.append(F.count(_bcol(c)).alias(f"__n_{c}"))
        per_col.append(
            F.expr(f"percentile({src}, array({ps}))").alias(f"__g_{c}")
        )
    grouped = (
        df.groupBy(_bcol(batch_col).alias("batch")) if batch_col else
        df.groupBy(F.lit("__all__").alias("batch"))
    )
    wide = grouped.agg(*per_col)
    # unpivot to long form: one (batch, column, n, grid) row per column
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                _bcol(f"__n_{c}").alias("n"),
                _bcol(f"__g_{c}").alias("grid"),
            )
            for c in cols
        ]
    )
    return (
        wide.select("batch", F.explode(structs).alias("__s"))
        .select(
            F.col("batch").cast("string").alias("batch"),
            F.col("__s.column").alias("column"),
            F.col("__s.n").alias("n"),
            F.col("__s.grid").alias("grid"),
        )
    )


def quantile_union(sketches: DataFrame) -> DataFrame:
    """Merge many quantile-sketch rows (one per batch/day/partition)
    into one sketch row per column, same ``(batch='__merged__', column,
    n, grid)`` shape — union is closed, so merging is associative and
    state stays one grid per column under repeated folding.

    The merge is driver-side over SKETCH rows (batches × columns rows
    of ``bins``-sized arrays — artifact-sized by contract, the
    ``hll_estimates`` convention, never data): pool every batch's grid
    points weighted by the batch count, then read the merged grid off
    the pooled empirical CDF at integer-exact rank thresholds.
    Thresholds compare ``cum·bins ≥ j·(bins+1)·N`` in PYTHON INTEGER
    arithmetic (each pooled point carries integer weight ``n_batch``;
    the common ``bins+1`` denominator cancels), so the merge is
    bit-deterministic — no float cumsum whose result could depend on
    batch arrival order."""
    rows = sketches.select("column", "n", "grid").collect()
    by_col: dict = {}
    for r in rows:
        if r["n"] and r["grid"] is not None:
            by_col.setdefault(r["column"], []).append((int(r["n"]), list(r["grid"])))
    sizes = {len(g) for parts in by_col.values() for _, g in parts}
    if len(sizes) > 1:
        raise ValueError(
            f"cannot union sketches with different grid sizes: {sorted(sizes)}"
        )
    out = []
    for column in sorted(by_col):
        parts = by_col[column]
        bins = len(parts[0][1]) - 1
        total = sum(n for n, _ in parts)
        # pooled atoms: (value, integer weight n_batch) — ties in value
        # are interchangeable, so plain value sort is a total order for
        # threshold reads
        atoms = sorted(
            (v, n) for n, grid in parts for v in grid
        )
        merged = []
        cum = 0
        idx = 0
        for j in range(bins + 1):
            target = j * (bins + 1) * total  # rank j/bins on the
            # (bins+1)·N-scaled pooled CDF, pre-multiplied by bins
            while idx < len(atoms) and cum * bins < target:
                cum += atoms[idx][1]
                idx += 1
            # the atom that crossed the threshold is the smallest value
            # reaching rank j/bins; j = 0 → exact pooled min, j = bins
            # → full mass → the last atom (exact pooled max)
            merged.append(atoms[idx - 1][0] if j else atoms[0][0])
        out.append(("__merged__", column, total, merged))
    return sketches.sparkSession.createDataFrame(
        out, "batch string, column string, n bigint, grid array<double>"
    )


def quantile_estimates(
    sketches: DataFrame, ps: List[float]
) -> DataFrame:
    """Read estimates off a (merged) sketch: (column, p, est) for each
    requested percentile — R-7 interpolation between the two
    surrounding grid points in RANK space, the same form Spark's exact
    ``percentile`` uses between order statistics. Pre-unions when
    handed multiple rows per column.

    Repeated calls: pass a PRE-MERGED frame (``quantile_union``'s
    output is a materialized local relation, so re-reading it is
    free). Handing the raw sketch frame re-executes its plan — on an
    unmaterialized per-batch sketch that is one full exact-percentile
    pass PER CALL."""
    for p in ps:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"percentiles must be in [0, 1], got {p}")
    merged = quantile_union(sketches)
    out = []
    for r in merged.collect():
        grid = list(r["grid"])
        bins = len(grid) - 1
        for p in ps:
            x = p * bins
            lo = min(int(x), bins - 1) if bins else 0
            g = x - lo
            est = grid[lo] + g * (grid[min(lo + 1, bins)] - grid[lo])
            out.append((r["column"], float(p), est))
    return sketches.sparkSession.createDataFrame(
        out, "column string, p double, est double"
    )


def cms_sketches(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 1024,
    batch_col: Optional[str] = None,
) -> DataFrame:
    """Mergeable FREQUENCY state — the Count-Min companion to the HLL
    (NDV) and quantile (percentile) trios, completing the sketch
    family: one sparse counter row per non-empty ``(batch, row_i,
    bucket)`` cell of a ``depth × width`` Count-Min table over ``col``
    (Cormode–Muthukrishnan 2005). Each ingest batch / day appends its
    counter rows (≤ ``depth·width`` rows of integers, never data) and
    ``cms_union`` later answers "how many times did key X occur over
    the whole ingest history" without rescanning — the question
    ``approx_top_k``'s one-shot sketch and the exact
    ``key_distribution`` groupBy can't answer incrementally.

    Determinism contract (stronger than the DataSketches HLL row): the
    row hashes are md5-derived (``h_i(key) = int(md5(i ':' key)[:15
    hex]) mod width`` — the engine-portable coin ``sampling.hash_split``
    bands on), so the ENTIRE counter table, and therefore every
    estimate, is bit-deterministic across partitionings, batchings,
    AND engines — a DuckDB oracle replicates estimates exactly, not
    merely within an envelope.

    Accuracy contract: ``true ≤ estimate ≤ true + εN`` with
    probability ``1 − δ`` where ``ε = e/width`` and ``δ = e^−depth``
    (N = total non-null rows). The default 4 × 1024 table holds every
    estimate within ~0.27% of N at 98% confidence in ~64 KB of state.

    Scale shape: the input explodes ``depth``-fold into (row_i,
    bucket) pairs, but the hash aggregate's map-side partials are
    bounded by ``depth·width`` states per task, so the SHUFFLE is
    counter-table-sized (≤ tasks × depth × width rows), never
    data-sized — the same reason ``approx_heavy_hitters`` beats a
    per-key groupBy when the keyspace is corpus-scale. NULL keys are
    excluded (the ``count(col)`` convention).
    """
    if depth < 1 or width < 1:
        raise ValueError(f"depth and width must be >= 1, got {depth}x{width}")
    key = _bcol(col).cast("string")
    batch = (
        _bcol(batch_col).cast("string") if batch_col else F.lit("__all__")
    ).alias("batch")
    cells = _cms_cells(key, depth, width)
    return (
        df.filter(key.isNotNull())
        .select(batch, F.explode(cells).alias("__c"))
        .groupBy("batch", F.col("__c.row_i").alias("row_i"), F.col("__c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "batch",
            F.col("row_i").cast("int").alias("row_i"),
            "bucket",
            "cnt",
            F.lit(depth).cast("int").alias("depth"),
            F.lit(width).cast("int").alias("width"),
        )
    )


def _cms_cells(key: "F.Column", depth: int, width: int) -> "F.Column":
    """The Count-Min row-hash cells — ``[(row_i, h_i(key) mod width)]``
    with ``h_i(key) = int(md5(i ':' key)[:15 hex])``. ONE definition
    shared by the sketch builder and the point-query prober: the two
    sides must compute the identical hash or every estimate silently
    degrades toward 0 (a probe landing in never-written buckets)."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("row_i"),
                (
                    F.conv(
                        F.substring(F.md5(F.concat(F.lit(f"{i}:"), key)), 1, 15),
                        16,
                        10,
                    ).cast("long")
                    % width
                ).alias("bucket"),
            )
            for i in range(depth)
        ]
    )


def _cms_geometry(sketches: DataFrame):
    """ONE geometry scan serving both the union guard and the
    estimate-side hash construction: returns ``(depth, width)`` or
    ``None`` for an empty state table; raises on mixed geometry."""
    geoms = sorted(
        (int(r["depth"]), int(r["width"]))
        for r in sketches.select("depth", "width").distinct().collect()
    )
    if len(geoms) > 1:
        raise ValueError(
            f"cannot union CMS sketches with different depth x width: {geoms}"
        )
    return geoms[0] if geoms else None


def cms_union(sketches: DataFrame) -> DataFrame:
    """Merge many Count-Min sketch rows (one set per batch/day) into
    one counter table (``batch='__merged__'``): counters SUM cell-wise
    — integer addition commutes, so unlike the HLL estimate (which can
    drift within its bound across grouping paths) the merged table is
    BIT-IDENTICAL to the single-pass table over the same rows, however
    the backlog was split. One bounded hash aggregate over counter
    rows (≤ batches · depth · width), no data touched. Sketches of
    different geometry cannot union (the quantile-grid-size rule)."""
    _cms_geometry(sketches)
    return (
        sketches.groupBy("row_i", "bucket")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.first("depth").alias("depth"),
            F.first("width").alias("width"),
        )
        .select(
            F.lit("__merged__").alias("batch"),
            "row_i",
            "bucket",
            "cnt",
            "depth",
            "width",
        )
    )


def cms_estimates(sketches: DataFrame, probes: DataFrame, col: str = "value") -> DataFrame:
    """Read frequency estimates off a (merged) Count-Min sketch for
    each probe key: ``(value, cms_est)`` where ``cms_est =
    min_i counter[i][h_i(value)]`` — the classic point query, with
    absent cells counting 0 (a key the sketch never saw estimates 0;
    an EMPTY state table estimates 0 for everything — "nothing
    ingested yet" is a real answer, not an error).

    Join shape: the counter table is bounded by ``depth · width`` BY
    CONSTRUCTION, so it BROADCASTS and the probe side — which may be a
    full corpus being scored against the ingest history — streams
    through map-side, no shuffle of the probes; the only exchange is
    the per-probe min, keyed by the probe itself. Pre-unions when
    handed multiple batch rows (integer sums, lossless).

    Driver actions: ONE geometry scan of the sketch rows (it doubles
    as the union guard — `cms_union` is not called, its sum-by-cell
    aggregation is inlined) before the lazy probe plan. In production
    the sketch table is PERSISTED parquet (the sink contract), so the
    scan reads counter rows, never data; a caller composing estimates
    directly over an unmaterialized `cms_sketches` plan pays one extra
    sketch-aggregate execution for the geometry read — cache the
    sketch frame if that matters."""
    geom = _cms_geometry(sketches)
    if geom is None:
        # empty state: every probe estimates 0 (sparse cells absent)
        return (
            probes.select(_bcol(col).cast("string").alias("value"))
            .filter(F.col("value").isNotNull())
            .distinct()
            .withColumn("cms_est", F.lit(0).cast("bigint"))
        )
    depth, width = geom
    merged = sketches.groupBy("row_i", "bucket").agg(F.sum("cnt").alias("cnt"))
    cells = _cms_cells(F.col("value"), depth, width)
    probed = (
        probes.select(_bcol(col).cast("string").alias("value"))
        .filter(F.col("value").isNotNull())  # the count(col) convention
        .distinct()
        .select("value", F.explode(cells).alias("__c"))
        .select("value", F.col("__c.row_i").alias("row_i"), F.col("__c.bucket").alias("bucket"))
    )
    return (
        probed.join(
            F.broadcast(merged.select("row_i", "bucket", "cnt")),
            ["row_i", "bucket"],
            "left",
        )
        .groupBy("value")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est"))
    )


def _cms_geometry_and_total(sketches: DataFrame):
    """ONE counter-table-sized collect per side for ``cms_join_size``:
    the geometry (or ``None`` for an empty state table; raises on
    mixed geometry like ``_cms_geometry``) AND the side's row total N
    (each hash row counts every non-null key once, so row 0's sum is
    N) in the same aggregate — halving the driver round-trips and
    sketch re-aggregations of the former two-pass probe (review
    finding r11). ``_cms_geometry`` itself is left untouched: it backs
    the frozen union/estimate rows."""
    (geom_n,) = _cms_geometries_and_totals(sketches)
    return geom_n


def _cms_geometries_and_totals(*sketch_frames: DataFrame):
    """The POOLED form (r14 — the ``_kmv_union_pooled`` analogue,
    guide §5 driver-boundary): every side's (geometry, N) probe rides
    ONE union-tagged aggregate and ONE driver collect instead of one
    Spark job per side — ``cms_join_size`` paid 2 collects, now 1.
    Each collect against an UNMATERIALIZED ``cms_sketches`` plan
    re-executes that side's full sketch aggregate, so at corpus scale
    pooling halves those re-executions for non-caching callers too
    (registered callers cache their counter tables — then the win is
    one fewer driver round-trip/job). Per-side semantics are identical
    to the sequential probes: ``(None, 0)`` for an empty side, raise
    on mixed geometry WITHIN a side (same message)."""
    tagged = [
        df.select(
            F.lit(side).alias("__side"), "depth", "width", "row_i", "cnt"
        )
        for side, df in enumerate(sketch_frames)
    ]
    pooled = tagged[0]
    for t in tagged[1:]:
        pooled = pooled.unionByName(t)
    rows = (
        pooled.groupBy("__side", "depth", "width")
        .agg(F.sum(F.when(F.col("row_i") == 0, F.col("cnt"))).alias("__n"))
        .collect()
    )
    out = []
    for side in range(len(sketch_frames)):
        side_rows = [r for r in rows if int(r["__side"]) == side]
        geoms = sorted((int(r["depth"]), int(r["width"])) for r in side_rows)
        if len(geoms) > 1:
            raise ValueError(
                f"cannot union CMS sketches with different depth x width: {geoms}"
            )
        if not geoms:
            out.append((None, 0))
        else:
            out.append((geoms[0], int(side_rows[0]["__n"] or 0)))
    return out


def cms_join_size(sketches_a: DataFrame, sketches_b: DataFrame) -> DataFrame:
    """Estimate the INNER EQUI-JOIN output cardinality ``|A ⋈ B| =
    Σ_key f_A(key)·f_B(key)`` from two Count-Min sketch tables WITHOUT
    touching either input — the classic CM inner-product estimate
    (Cormode–Muthukrishnan 2005 §4.2): per hash row ``i``,
    ``Σ_w A_i[w]·B_i[w]`` overcounts the true join size only by
    non-negative collision cross-terms, so ``min_i`` of the row
    products is an UPPER BOUND within ``ε·N_A·N_B`` (ε = e/width) with
    probability ``1 − e^−depth``. Returns one row:
    ``(join_size_est, n_a, n_b)``.

    This is the pre-shuffle planning question at 100 TB: "do I dare
    run this join / should the output land partitioned" answered from
    profile-time state — two already-persisted counter tables, each
    bounded by ``depth·width`` rows BY CONSTRUCTION — while the exact
    answer would run the very join being sized. Both sides pre-merge
    cell-wise (integer sums, lossless, any batching), the cell join is
    broadcast-sized on both sides, and nothing data-sized moves.

    Determinism: counters are md5-coin integers and the product-sums
    are integer arithmetic — bit-deterministic across partitionings,
    batchings, and engines (a DuckDB oracle exact-matches, no
    envelope). Both sketch tables must share geometry (the hash
    functions must be the same family) — mixed geometry raises, the
    ``cms_union`` rule. An empty side estimates 0 ("nothing ingested"
    is a real answer) while ``n_a``/``n_b`` stay truthful for the
    non-empty side. Driver cost: ONE bounded collect TOTAL — both
    sides' fused geometry+total probes ride a single union-tagged
    aggregate (r14; was one collect per side). Row totals are
    validated against
    64-bit product overflow (≈ 2^62 on the ``N_A·N_B`` bound) — a
    profile pass over corpora that large should sketch a sampled
    stream instead.
    """
    (geom_a, n_a), (geom_b, n_b) = _cms_geometries_and_totals(
        sketches_a, sketches_b
    )
    if geom_a is not None and geom_b is not None and geom_a != geom_b:
        raise ValueError(
            f"cannot inner-product CMS sketches with different depth x width: "
            f"{geom_a} vs {geom_b} (the row hashes differ — estimates would be "
            "meaningless, not merely loose)"
        )
    schema = "join_size_est bigint, n_a bigint, n_b bigint"
    spark = sketches_a.sparkSession
    if geom_a is None or geom_b is None:
        # estimate 0 ("nothing to collide with"), but the totals stay
        # TRUTHFUL — an empty side must not misreport the other side's
        # ingest history as zero (review finding r11)
        return spark.createDataFrame([(0, n_a, n_b)], schema)
    depth = geom_a[0]
    merged_a = sketches_a.groupBy("row_i", "bucket").agg(F.sum("cnt").alias("cnt_a"))
    merged_b = sketches_b.groupBy("row_i", "bucket").agg(F.sum("cnt").alias("cnt_b"))
    if n_a > 0 and n_b > (2**62) // n_a:
        raise ValueError(
            f"CMS inner product may overflow 64-bit counters: N_A*N_B = "
            f"{n_a}*{n_b} exceeds 2^62 — sketch a sampled stream for "
            "corpora this large"
        )
    est = (
        merged_a.join(merged_b, ["row_i", "bucket"])  # absent cells contribute 0
        .groupBy("row_i")
        .agg(F.sum(F.col("cnt_a") * F.col("cnt_b")).alias("row_prod"))
        # a hash row with NO colliding cells vanishes from the inner
        # join, but its product-sum is 0 and 0 must win the min — so a
        # short row count (or an empty product join) estimates 0
        .agg(
            F.min("row_prod").alias("__min_prod"),
            F.count(F.lit(1)).alias("__rows_present"),
        )
        .select(
            F.when(F.col("__rows_present") < depth, F.lit(0))
            .otherwise(F.col("__min_prod"))
            .cast("bigint")
            .alias("join_size_est")
        )
    )
    return est.select(
        "join_size_est",
        F.lit(n_a).cast("bigint").alias("n_a"),
        F.lit(n_b).cast("bigint").alias("n_b"),
    )


# 2^60: the KMV hash space — md5's first 15 hex chars, the
# engine-portable coin (exactly representable as a double, so the
# estimator's multiply/divide chain is the same IEEE computation in
# Spark, DuckDB, and python)
_KMV_SPACE = 16 ** 15


def _kmv_hash(key: "F.Column") -> "F.Column":
    """The KMV value hash — ``int(md5('kmv:' || key)[:15 hex])`` in
    ``[0, 2^60)``. ONE definition (the ``_cms_cells`` rule): the
    sketch builder, the python/DuckDB oracles, and any future prober
    must compute the identical hash or set arithmetic silently breaks.
    The ``kmv:`` salt decouples it from the hash_split / CMS coins."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv:"), key)), 1, 15), 16, 10
    ).cast("long")


def kmv_sketches(
    df: DataFrame,
    cols: List[str],
    k: int = 1024,
    batch_col: Optional[str] = None,
) -> DataFrame:
    """Mergeable SET state — the K-Minimum-Values sketch (Bar-Yossef
    et al. 2002; Beyer et al. 2007), the fourth member of the sketch
    family and the one that answers what HLL structurally cannot:
    INTERSECTIONS. One row per (batch, column) of ``(batch, column,
    n_rows, k, mins)`` where ``mins`` is the ``k`` smallest DISTINCT
    md5-derived hash values of the column — a uniform random sample of
    the value SET (not the rows), so sketches support union AND
    intersection estimates (``kmv_set_estimates``: "how many users
    were active in BOTH halves" — the returning-users / cross-corpus
    overlap question an HLL union can't answer).

    Determinism contract (the CMS class, strongest in the family): the
    hash is the engine-portable md5 coin and the sketch is a pure SET
    minimum — ``kmv_union`` of any batching is BIT-IDENTICAL to the
    single-pass sketch, and a DuckDB oracle replicates every estimate
    EXACTLY, no envelope.

    Accuracy: the basic estimator ``(k−1)·2^60 / mins[k−1]`` has
    relative standard error ~``1/√k`` (~3% at the default 1024); a
    sketch with fewer than ``k`` values IS the exact distinct set
    (exact mode). State: ``k`` bigints (~8 KB at default) per (batch,
    column).

    Scale shape (the two-pass threshold prune): a naive per-batch
    "k smallest distinct" either collects the full distinct hash set
    (corpus-NDV state) or sorts it through one task per batch. Instead
    a bounded ``approx_count_distinct`` pass sizes a hash threshold of
    ``8k/NDV_est`` of the space, the scan keeps only hashes below it
    (expected ~8k survivors per batch — map-side filter, nothing
    data-sized is ever shuffled or sorted), and the exact k-min runs on
    that tiny candidate set. The OUTPUT is invariant to the prune: it
    changes only if the true k-th smallest hash exceeds the threshold,
    which needs the k smallest of NDV uniform draws to land 8× above
    their expectation (P ≲ e^−k·ln2, astronomically small at k ≥ 64)
    on top of an 8×-high HLL estimate (outside its ±2% error model).
    NULLs are excluded (the ``count(col)`` convention).

    Multi-column calls FUSE (r13): one sizing aggregate computes every
    column's (count, NDV), and one stacked (column, key) scan hashes
    and prunes all columns against their per-column thresholds — 2
    corpus passes for ANY column count instead of 2 per column, with
    per-column results identical to the single-column path up to the
    8× prune-margin argument above. Column names must be distinct.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if not cols:
        raise ValueError("cols must be non-empty")
    dupes = sorted({c for c in cols if cols.count(c) > 1})
    if dupes:
        raise ValueError(f"cols must be distinct, got duplicates {dupes}")
    batch = (
        _bcol(batch_col).cast("string") if batch_col else F.lit("__all__")
    ).alias("batch")
    margin = 8

    # guard the cast: only divide when nd > margin·k (the quotient
    # is then < 2^60 — no long overflow); smaller batches keep the
    # whole space (no pruning needed or wanted)
    def _thr(nd: "F.Column") -> "F.Column":
        return F.when(
            nd <= F.lit(margin * k), F.lit(_KMV_SPACE).cast("long")
        ).otherwise(
            (F.lit(margin * k * float(_KMV_SPACE)) / nd.cast("double")).cast(
                "long"
            )
            + F.lit(1)
        )

    if len(cols) == 1:
        c = cols[0]
        key = _bcol(c).cast("string")
        # null-filter on the RAW key, not on the hash (r13): the hash
        # is NULL exactly iff the key is, but filtering on __h plans a
        # Filter that re-states the md5 chain UNDER the hashing Project
        # — two md5 evaluations per candidate-side row (the guide §4.4
        # duplicated-evaluation shape, JVM edition). Filtering the key
        # first leaves exactly ONE md5 per row in the plan (pinned in
        # tests: test_kmv_sizing_pass_pays_no_md5).
        hashed = df.filter(key.isNotNull()).select(
            batch, _kmv_hash(key).alias("__h")
        )
        # the sizing pass reads the RAW column (r13, guide §1.2/§2.3:
        # make the cheap pass cheap): count(key) counts exactly the
        # rows the md5 pass would (the hash is NULL iff the key is),
        # and the HLL NDV estimate only sizes the prune threshold —
        # 8k/NDV of the space, an 8× margin, so estimating NDV(key)
        # instead of NDV(md5-prefix(key)) changes nothing the output
        # invariance argument doesn't already absorb (both estimate
        # the same true NDV; the threshold tolerates an 8×-high read).
        # The md5 coin is now paid ONCE per row, on the candidate scan
        # — at corpus scale that halves the hashing bill of a sketch.
        stats = (
            df.select(batch, key.alias("__k"))
            .filter(F.col("__k").isNotNull())
            .groupBy("batch")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.approx_count_distinct("__k").alias("__nd"),
            )
        )
        # __n rides through the broadcast join so the per-column cost
        # is exactly TWO full passes (the stats aggregate + the pruned
        # candidate scan) — never a third join back to stats
        cand = (
            hashed.join(
                F.broadcast(
                    stats.select("batch", _thr(F.col("__nd")).alias("__thr"), "__n")
                ),
                "batch",
            )
            .filter(F.col("__h") < F.col("__thr"))
            .select("batch", "__h", "__n")
        )
        sk = cand.groupBy("batch").agg(
            F.slice(F.array_sort(F.collect_set("__h")), 1, k).alias("mins"),
            F.max("__n").alias("__n"),
        )
        return sk.select(
            "batch",
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.lit(k).cast("int").alias("k"),
            "mins",
        )

    # MULTI-COLUMN FUSION (r13 — VERDICT r12 #5, the r10 nit): a
    # k-column sketch call used to run the per-column 2-pass plan k
    # times — 2·k corpus scans. Fused: pass 1 is ONE scan computing
    # every column's (count, NDV) in a single aggregate; pass 2 is ONE
    # scan stacking (column, key) via explode, hashing once per cell,
    # and pruning against the per-(batch, column) threshold delivered
    # by ONE broadcast join. 2 scans total for ANY column count.
    # Per-column results are identical to the single-column path up
    # to the 8× prune-margin argument (same md5 coin per (column, key),
    # same HLL NDV estimator per column, same threshold arithmetic,
    # same exact k-min: both equal the unpruned k-min unless that bound
    # fails) — pinned in tests against the per-column loop and the
    # hashlib reference.
    stats_wide = df.groupBy(batch).agg(
        *[
            agg
            for i, c in enumerate(cols)
            for agg in (
                F.count(_bcol(c).cast("string")).alias(f"__n{i}"),
                F.approx_count_distinct(_bcol(c).cast("string")).alias(f"__nd{i}"),
            )
        ]
    )
    stats = stats_wide.select(
        "batch",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("__col"),
                        F.col(f"__n{i}").alias("__n"),
                        _thr(F.col(f"__nd{i}")).alias("__thr"),
                    )
                    for i, c in enumerate(cols)
                ]
            )
        ).alias("__s"),
    ).select("batch", "__s.__col", "__s.__n", "__s.__thr")
    stacked = F.array(
        *[
            F.struct(
                F.lit(c).alias("__col"), _bcol(c).cast("string").alias("__key")
            )
            for c in cols
        ]
    )
    hashed = (
        df.select(batch, F.explode(stacked).alias("__e"))
        .select("batch", F.col("__e.__col").alias("__col"), F.col("__e.__key").alias("__key"))
        .filter(F.col("__key").isNotNull())
        .select("batch", "__col", _kmv_hash(F.col("__key")).alias("__h"))
    )
    cand = (
        hashed.join(F.broadcast(stats), ["batch", "__col"])
        .filter(F.col("__h") < F.col("__thr"))
        .select("batch", "__col", "__h", "__n")
    )
    return (
        cand.groupBy("batch", "__col")
        .agg(
            F.slice(F.array_sort(F.collect_set("__h")), 1, k).alias("mins"),
            F.max("__n").alias("__n"),
        )
        .select(
            "batch",
            F.col("__col").alias("column"),
            F.col("__n").alias("n_rows"),
            F.lit(k).cast("int").alias("k"),
            "mins",
        )
    )


def _kmv_k(sketches: DataFrame):
    """ONE geometry scan (the ``_cms_geometry`` rule): returns ``k``
    or ``None`` for an empty state table; raises on mixed k."""
    ks = sorted(int(r["k"]) for r in sketches.select("k").distinct().collect())
    if len(ks) > 1:
        raise ValueError(f"cannot union KMV sketches with different k: {ks}")
    return ks[0] if ks else None


def kmv_union(sketches: DataFrame) -> DataFrame:
    """Merge many KMV sketch rows (one per batch/day) into one per
    column (``batch='__merged__'``): the k smallest DISTINCT values of
    the pooled ``mins`` arrays — a pure set minimum, so the merged
    sketch is BIT-IDENTICAL to the single-pass sketch over the same
    rows under ANY batching (the CMS determinism class), and the merge
    is closed/associative. One bounded aggregation over sketch rows
    (state ≤ batches · k bigints), no data touched."""
    k = _kmv_k(sketches)
    if k is None:
        return sketches
    return _kmv_union_pooled(sketches, k)


def _kmv_union_pooled(sketches: DataFrame, k: int) -> DataFrame:
    """``kmv_union`` body once ``k`` is known — shared so the estimate
    readers (``kmv_estimates`` / ``kmv_set_estimates``), which already
    paid the ``_kmv_k`` geometry collect for their own guard, don't pay
    it a second time inside the union (r13: each ``_kmv_k`` is a driver
    round-trip that EXECUTES the sketch plan when the state table is an
    unmaterialized ``kmv_sketches`` composition — halving the collects
    halves those re-executions)."""
    # n_rows sums over SKETCH rows; the mins pool explodes them — two
    # aggregates on artifact-sized input (never sum over the explode:
    # that would multiply n_rows by the array size)
    pooled = (
        sketches.select("column", F.explode("mins").alias("__h"))
        .groupBy("column")
        .agg(F.slice(F.array_sort(F.collect_set("__h")), 1, k).alias("mins"))
    )
    counts = sketches.groupBy("column").agg(F.sum("n_rows").alias("n_rows"))
    return pooled.join(counts, "column").select(
        F.lit("__merged__").alias("batch"),
        "column",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.lit(k).cast("int").alias("k"),
        "mins",
    )


def _kmv_ndv_est(mins: "F.Column", k: int) -> "F.Column":
    """The KMV distinct-count estimator over a mins array: exact
    ``size(mins)`` below ``k`` (the sketch IS the distinct hash set),
    else ``floor((k−1)·2^60 / mins[k−1])`` — one exact double multiply
    (a power of two times a small int), one divide, one floor: the
    identical IEEE chain in every engine."""
    return F.when(F.size(mins) < k, F.size(mins).cast("bigint")).otherwise(
        F.floor(
            F.lit(float((k - 1) * _KMV_SPACE))
            / F.element_at(mins, k).cast("double")
        ).cast("bigint")
    )


def kmv_estimates(sketches: DataFrame) -> DataFrame:
    """Distinct-count estimates off (pre-unioning) a KMV sketch table:
    ``(column, n_rows, n_distinct_est)`` — the ``hll_estimates`` view,
    but md5-deterministic, so a second engine matches it exactly."""
    k = _kmv_k(sketches)
    if k is None:
        return sketches.sparkSession.createDataFrame(
            [], "column string, n_rows bigint, n_distinct_est bigint"
        )
    return _kmv_union_pooled(sketches, k).select(
        "column", "n_rows", _kmv_ndv_est(F.col("mins"), k).alias("n_distinct_est")
    )


def kmv_set_estimates(a: DataFrame, b: DataFrame) -> DataFrame:
    """SET-OPERATION estimates between two KMV sketch tables sharing
    ``k`` — the operation the rest of the sketch family cannot express
    (HLL unions lose the intersection; CMS counts occurrences, not
    sets): per common column, ``(column, ndv_a_est, ndv_b_est,
    union_est, intersection_est, jaccard_est)``.

    The Beyer et al. 2007 combine: pool both mins arrays, keep the k
    smallest distinct (the union sketch U — exactly what
    ``kmv_union`` would build); ``ρ = |U ∩ A ∩ B| / |U|`` estimates
    the Jaccard similarity, and ``ρ · D̂(U)`` the intersection size.
    In the exact regime (both sketches under-full) U carries EVERY
    hash of A∪B, so ρ and the intersection estimate are EXACT set
    arithmetic. All md5-deterministic — the oracle exact-matches.

    Cost: per-column array ops over 2k bigints (the membership filter
    is O(k²) per column on artifact-sized arrays — never data)."""
    ka, kb = _kmv_k(a), _kmv_k(b)
    if ka is not None and kb is not None and ka != kb:
        raise ValueError(f"KMV set estimates need equal k, got {ka} vs {kb}")
    k = ka if ka is not None else kb
    if k is None or ka is None or kb is None:
        # day-zero contract (the benchmark_near_contamination precedent):
        # one or both sides empty → an empty estimate frame, never a
        # crash — there is no overlap to report yet
        return a.sparkSession.createDataFrame(
            [],
            "column string, ndv_a_est bigint, ndv_b_est bigint, "
            "union_est bigint, intersection_est bigint, jaccard_est double",
        )
    # _kmv_union_pooled, not kmv_union: the k guard above already paid
    # one geometry collect per side — the union must not pay a second
    # (each collect re-executes an unmaterialized sketch plan, r13)
    ua = _kmv_union_pooled(a, k).select(
        "column", F.col("mins").alias("__ma"),
        _kmv_ndv_est(F.col("mins"), k).alias("ndv_a_est"),
    )
    ub = _kmv_union_pooled(b, k).select(
        "column", F.col("mins").alias("__mb"),
        _kmv_ndv_est(F.col("mins"), k).alias("ndv_b_est"),
    )
    mins_u = F.slice(
        F.array_sort(F.array_distinct(F.concat("__ma", "__mb"))), 1, k
    )
    both = F.size(
        F.filter(
            "__mu",
            lambda x: F.array_contains("__ma", x) & F.array_contains("__mb", x),
        )
    )
    d_u = _kmv_ndv_est(F.col("__mu"), k)
    return (
        ua.join(ub, "column")
        .withColumn("__mu", mins_u)
        .withColumn("__both", both)
        .select(
            "column",
            "ndv_a_est",
            "ndv_b_est",
            d_u.alias("union_est"),
            F.floor(
                F.col("__both").cast("double")
                * d_u.cast("double")
                / F.size("__mu").cast("double")
            ).cast("bigint").alias("intersection_est"),
            trunc_digits(
                F.col("__both").cast("double") / F.size("__mu").cast("double")
            ).alias("jaccard_est"),
        )
    )


def approx_heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 20,
    max_items_tracked: int = 100_000,
) -> DataFrame:
    """Sketch-based heavy hitters (Spark 4's DataSketches-backed
    ``approx_top_k``): (value, n_est, rank) for the ``k`` most frequent
    values of ``col`` — ONE aggregation pass with bounded sketch
    memory and NO per-key shuffle, the 100 TB alternative to
    ``key_distribution`` when the key's NDV is itself corpus-scale
    (URLs, n-grams, user agents) and a groupBy would shuffle an
    NDV-sized table.

    Exactness contract: while the column's distinct count stays under
    ``max_items_tracked`` the sketch never evicts, so counts are EXACT
    (the registered query pins this regime; the estimate regime is the
    production point of the operator). Rows are re-ranked
    deterministically by (count desc, value asc) — the raw sketch
    output order is unspecified under count ties.
    """
    sketch = df.agg(
        F.expr(f"approx_top_k(`{_bt(col)}`, {int(k)}, {int(max_items_tracked)})").alias("__tk")
    )
    exploded = sketch.select(F.explode("__tk").alias("__e")).select(
        F.col("__e").getField("item").alias("value"),
        F.col("__e").getField("count").cast("bigint").alias("n_est"),
    )
    w = Window.orderBy(F.col("n_est").desc(), F.col("value").asc())
    # the ranking window runs over at most k rows (sketch output), so
    # the single partition is bounded by the ask, never the data
    return exploded.withColumn("rank", F.row_number().over(w).cast("int"))


def length_histogram(
    df: DataFrame,
    token_col: Optional[str] = None,
    text_col: str = "text",
) -> DataFrame:
    """Sequence-length distribution as power-of-two buckets:
    (bucket, lo_tokens, hi_tokens, n_docs, total_tokens, doc_share) —
    the pre-packing diagnostic (choosing ``pack_sequences`` length /
    ``chunk_tokens`` size needs the token-length shape, not a mean).

    ``bucket`` is the BIT LENGTH of the whitespace token count (0 tokens
    → bucket 1 with lo=0; n ≥ 1 → bucket ⌊log2 n⌋+1 covering
    [2^(b-1), 2^b − 1]) — computed via base-2 string length
    (``conv(n, 10, 2)`` / DuckDB ``bin(n)``), NOT float log2, so bucket
    edges are exact in any engine. One aggregation pass, bucket-bounded
    output; ``doc_share`` is a division of exact ints.
    """
    if token_col is None:
        from aws_data_wrangler_spark.operators.text import _ws_token_count

        # NULL text counts as 0 tokens (the dsir_score discipline) —
        # otherwise a null row becomes a garbage NULL-bucket row that
        # inflates every share and sorts differently across engines
        toks = _ws_token_count(F.coalesce(F.col(text_col), F.lit(""))).cast("bigint")
    else:
        toks = F.coalesce(F.col(token_col), F.lit(0)).cast("bigint")
    bucket = F.length(F.conv(toks.cast("string"), 10, 2)).cast("int")
    per_bucket = (
        df.select(toks.alias("__t"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__t").alias("total_tokens"),
        )
    )
    total = F.broadcast(per_bucket.agg(F.sum("n_docs").alias("__all")))
    return per_bucket.crossJoin(total).select(
        "bucket",
        F.when(F.col("bucket") <= 1, F.lit(0))
        .otherwise(F.expr("shiftleft(1L, bucket - 1)"))
        .cast("bigint")
        .alias("lo_tokens"),
        F.expr("shiftleft(1L, bucket) - 1").cast("bigint").alias("hi_tokens"),
        "n_docs",
        "total_tokens",
        (F.col("n_docs").cast("double") / F.col("__all")).alias("doc_share"),
    )


def distribution_drift(
    baseline: DataFrame,
    current: DataFrame,
    col: str,
    edges: Optional[List[float]] = None,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index profile between two dataset snapshots
    — the standard drift monitor a production ingest pipeline runs
    before trusting today's crawl against yesterday's: (bucket, n_base,
    n_cur, base_share, cur_share, psi_term), psi_term = (p−q)·ln(p/q).
    Σ psi_term < 0.1 is the conventional "stable" line, 0.1–0.25
    "shifting", > 0.25 "investigate before training on it".

    Categorical by default (buckets = the column's values, NULL kept as
    the ``__null__`` bucket); pass ``edges`` for numeric columns —
    bucket i counts rows with edges[i-1] ≤ x < edges[i] (index = how
    many edges are ≤ x, an exact integer in any engine — no float
    binning drift). Two aggregation-only passes (one per snapshot, map-
    side partials), a full-outer join of two bucket-sized tables, and
    broadcast totals: profiling 100 TB costs two scans, the join moves
    only bucket counts. A bucket absent from one side has true share 0;
    ``eps`` floors both shares before the log (the standard PSI
    smoothing) so the term stays finite and identical cross-engine.
    Shares are divisions of exact ints; only psi_term is 6dp
    floor-truncated (the cross-engine ln convention of the surprisal
    family).
    """
    bucket = psi_bucket_expr(col, edges)
    b = baseline.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_base")
    )
    c = current.select(bucket.alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_cur")
    )
    return psi_profile_from_counts(b, c, eps=eps)


def psi_bucket_expr(col: str, edges: Optional[List[float]] = None) -> "F.Column":
    """The PSI bucketing expression shared by the batch profiler and
    the streaming drift monitor: categorical by default (NULL → the
    ``__null__`` bucket); with ``edges``, bucket index = count of edges
    ≤ x — an exact integer in any engine. Pure projection, stream-safe."""
    if edges is not None:
        from functools import reduce

        ix = reduce(
            lambda a, b: a + b,
            [
                F.when(F.col(col) >= F.lit(float(e)), F.lit(1)).otherwise(F.lit(0))
                for e in edges
            ],
        )
        return F.when(F.col(col).isNull(), F.lit("__null__")).otherwise(
            ix.cast("string")
        )
    return F.coalesce(F.col(col).cast("string"), F.lit("__null__"))


def psi_profile_from_counts(
    base_counts: DataFrame, cur_counts: DataFrame, eps: float = 1e-6
) -> DataFrame:
    """(bucket, n_base) × (bucket, n_cur) → the PSI profile. Totals are
    broadcast scalars over the bucket-sized count tables; a bucket
    absent from one side gets true share 0 with the ``eps`` floor
    before the log. Shared by ``distribution_drift`` and the streaming
    monitor so both emit identical terms from identical counts."""

    def shares(per: DataFrame, n_name: str, share_name: str) -> DataFrame:
        total = F.broadcast(per.agg(F.sum(n_name).alias("__all")))
        return per.crossJoin(total).select(
            "bucket",
            n_name,
            (F.col(n_name).cast("double") / F.col("__all")).alias(share_name),
        )

    joined = shares(base_counts, "n_base", "base_share").join(
        shares(cur_counts, "n_cur", "cur_share"), "bucket", "full_outer"
    ).select(
        "bucket",
        F.coalesce("n_base", F.lit(0)).alias("n_base"),
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        F.coalesce("base_share", F.lit(0.0)).alias("base_share"),
        F.coalesce("cur_share", F.lit(0.0)).alias("cur_share"),
    )
    p = F.greatest(F.col("base_share"), F.lit(float(eps)))
    q = F.greatest(F.col("cur_share"), F.lit(float(eps)))
    return joined.select(
        "bucket",
        "n_base",
        "n_cur",
        "base_share",
        "cur_share",
        trunc_digits((p - q) * F.log(p / q)).alias("psi_term"),
    )


def referential_integrity(
    child: DataFrame,
    parent: DataFrame,
    on,
    parent_on=None,
    broadcast_keys=True,
) -> DataFrame:
    """Foreign-key health check between two tables — the pre-join
    data-quality gate of a warehouse load: ONE row with (n_child,
    n_orphans, n_null_keys, orphan_share) where an orphan is a child
    row whose (non-null) key has no parent match and null keys are
    counted separately (SQL joins silently drop them — the classic
    silent-data-loss trap this profiler exists to surface).

    Plan shape: the parent side reduces to its DISTINCT key set
    (key-cardinality-sized, broadcast-eligible) before a left join,
    then one aggregate — the child (the 100 TB side) is scanned once
    and never shuffled when the key set broadcasts; with both tables
    bucketed on the key the join co-locates. ``on`` / ``parent_on``
    name the key columns (``parent_on`` defaults to ``on``).

    ``broadcast_keys`` is the module tri-state (the
    ``bloom_ingest_gate.broadcast_positives`` convention): True forces
    the distinct parent-key broadcast (right for the dimension-table
    norm), None lets AQE pick from runtime sizes, False forces a
    shuffle join — the escape for a HIGH-cardinality parent (a
    fact-to-fact FK) whose key set would OOM a broadcast; there the
    co-located/bucketed join is the 100 TB shape.

    Ref: awswrangler has no data-quality surface; the contract mirrors
    the dbt ``relationships`` test, distributed.
    """
    on = [on] if isinstance(on, str) else list(on)
    parent_on = on if parent_on is None else (
        [parent_on] if isinstance(parent_on, str) else list(parent_on)
    )
    if len(on) != len(parent_on):
        raise ValueError(f"key arity mismatch: {on} vs {parent_on}")
    keys = parent.select(
        *[F.col(p).alias(c) for c, p in zip(on, parent_on)]
    ).distinct().withColumn("__parent_hit", F.lit(True))
    if broadcast_keys:
        keys = F.broadcast(keys)
    elif broadcast_keys is False:
        keys = keys.hint("shuffle_hash")
    null_key = None
    for c in on:
        cond = F.col(c).isNull()
        null_key = cond if null_key is None else (null_key | cond)
    joined = child.join(keys, on, "left").select(
        null_key.alias("__null_key"),
        (F.col("__parent_hit").isNull() & ~null_key).alias("__orphan"),
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_child"),
        F.sum(F.col("__orphan").cast("long")).alias("n_orphans"),
        F.sum(F.col("__null_key").cast("long")).alias("n_null_keys"),
        trunc_digits(
            F.sum(F.col("__orphan").cast("long"))
            / F.count(F.lit(1)).cast("double")
        ).alias("orphan_share"),
    )


def key_uniqueness(df: DataFrame, on) -> DataFrame:
    """Primary-key health check (the dbt ``unique`` test, distributed;
    completes the dbt-test family with ``null_profile`` = not_null and
    ``referential_integrity`` = relationships): ONE row (n_rows,
    n_keys, n_dup_keys, n_dup_rows, max_multiplicity) over the key
    columns. NULL-containing keys group like any value (two
    all-NULL keys are the SAME key here — the profiler surfaces them;
    a SQL UNIQUE constraint would wave them through, which is its own
    trap). One hash aggregate with map-side partials to the key-
    cardinality table, then one tiny aggregate — a 100 TB child costs
    one scan + one key-sized shuffle."""
    on = [on] if isinstance(on, str) else list(on)
    per_key = df.groupBy(*on).agg(F.count(F.lit(1)).alias("__m"))
    return per_key.agg(
        F.sum("__m").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.when(F.col("__m") > 1, 1).otherwise(0)).alias("n_dup_keys"),
        F.sum(F.when(F.col("__m") > 1, F.col("__m")).otherwise(0)).alias("n_dup_rows"),
        F.max("__m").alias("max_multiplicity"),
    )
