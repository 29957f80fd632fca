"""Window-function operators — trailing stats, EWMA, sessionization.

Absent from the reference (SURVEY.md §2.D "absent" list) but part of the
engine's first-class analytic surface; Kibana-style "top N per group"
dashboards need them the moment slicing goes beyond global top-k.

Scale notes: a window over ``partitionBy(k)`` shuffles once on ``k`` and
sorts within partitions — no global sort. Skewed partition keys are the
risk at 100 TB; AQE skew handling does not apply inside window exchanges,
so choose partition keys with bounded group size (here: supplier, user).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def trailing_range_stats(
    df: DataFrame,
    part: str,
    ts: str,
    val: str,
    window_seconds: int = 3600,
) -> DataFrame:
    """Trailing time-window statistics per key: for every row, the
    count / sum / mean of ``val`` over the preceding ``window_seconds``
    (inclusive of the current row) within its ``part`` group — the
    moving-aggregate primitive behind rate monitors and rolling KPI
    tiles.

    A RANGE frame over epoch-microsecond order (not a ROWS frame): rows
    sharing a timestamp are frame peers, and gaps in event time shrink
    the window naturally. One shuffle on ``part``; the frame scan is a
    per-partition sliding aggregate, so cost is rows × O(1) amortized,
    independent of window width.

    Float discipline: ``val`` is 1e-6-floor-bucketed per row BEFORE
    summation (``v6`` BIGINT), so the windowed sums are exact integer
    arithmetic — identical in any engine regardless of that engine's
    float-summation order. The mean is floor(sum/count) over those
    micro-units. Returns the input keys plus
    ``(n_w, sum6_w, avg6_w)``.
    """
    # Pre-project the order key and bucketed value ONCE, then evaluate
    # both aggregates over the SAME window spec in one select: separate
    # withColumn calls alias the (identical) sort expression differently
    # and Spark plans two Window operators with two sorts — one frame
    # pass doubled for no reason.
    base = df.withColumn(
        "__tmic", F.unix_micros(F.col(ts).cast("timestamp"))
    ).withColumn("__v6", F.floor(F.col(val) * 1e6).cast("long"))
    w = (
        Window.partitionBy(part)
        .orderBy("__tmic")
        .rangeBetween(-window_seconds * 1_000_000, 0)
    )
    return (
        base.select(
            "*",
            F.count(F.lit(1)).over(w).alias("n_w"),
            F.sum("__v6").over(w).alias("sum6_w"),
        )
        .withColumn(
            "avg6_w",
            F.floor(F.col("sum6_w") / F.col("n_w").cast("double")).cast("long"),
        )
        .drop("__tmic", "__v6")
    )


def ewma(
    df: DataFrame,
    part: str,
    ts: str,
    order_tiebreak: str,
    val: str,
    alpha: float = 0.3,
    depth: int = 10,
) -> DataFrame:
    """Truncated exponentially-weighted moving average per key:
    ``ewma6 = floor(Σ_{j<depth} α(1−α)^j · v6[t−j])`` over the last
    ``depth`` observations in ``(ts, tiebreak)`` order, emitted only for
    rows where all ``depth`` lags exist (the warm-up prefix carries no
    full window and is dropped rather than silently under-weighted).

    The recursive EWMA (y_t = αx_t + (1−α)y_{t−1}) is inherently
    sequential — hostile to both distributed execution and cross-engine
    determinism. Truncating at ``depth`` keeps >1−(1−α)^depth of the
    mass (97% at α=0.3, depth=10) and turns the op into a fixed lag
    chain: one shuffle on ``part``, one per-partition sort, ``depth``
    O(1) lag lookups per row. The arithmetic is FIXED-POINT end to end
    — inputs 1e-6-floor-bucketed (``v6`` BIGINT), weights as exact
    integer nano-weights, one integer division at the end — so every
    engine computes the identical integers (a float-weight form is 1-ulp
    unstable around integer boundaries: the floor can flip on whether an
    engine runs the literals as decimals or doubles).

    Returns the input keys plus ``ewma6`` (BIGINT micro-units:
    ``(Σ_j W_j · v6_j) div 10⁹`` with ``W_j = round(α(1−α)^j·10⁹)``).
    """
    if depth < 2:
        # depth=1 would reference a lag column the loop never builds
        # (opaque UNRESOLVED_COLUMN at analysis time) — and a 1-term
        # "EWMA" is just α·x; fail loudly instead.
        raise ValueError(f"ewma depth must be >= 2 (got {depth})")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"ewma alpha must be in (0, 1) (got {alpha})")
    # One pre-projection of the order key + bucketed value, then ALL
    # depth−1 lags over the same window spec in one select — a
    # withColumn-per-lag loop re-aliases the sort expression each time
    # and Spark plans depth−1 separate Window+Sort operators (measured:
    # 9 window passes for depth 10; this form plans exactly one).
    base = df.withColumn(
        "__tmic", F.unix_micros(F.col(ts).cast("timestamp"))
    ).withColumn("__v6", F.floor(F.col(val) * 1e6).cast("long"))
    w = Window.partitionBy(part).orderBy("__tmic", F.col(order_tiebreak))
    out = base.select(
        "*",
        *[
            F.lag("__v6", j).over(w).alias(f"__l{j}")
            for j in range(1, depth)
        ],
    )
    expr = ewma_weighted_sum_expr(
        ["__v6"] + [f"__l{j}" for j in range(1, depth)], alpha, int_div="div"
    )
    return (
        out.filter(F.col(f"__l{depth - 1}").isNotNull())
        .withColumn("ewma6", F.expr(expr))
        .drop("__tmic", "__v6", *[f"__l{j}" for j in range(1, depth)])
    )


def ewma_weight_nanos(alpha: float, depth: int) -> list[int]:
    """Truncated-EWMA weights as exact integer nano-units:
    ``round(α(1−α)^j · 10⁹)``."""
    return [round(alpha * (1 - alpha) ** j * 1e9) for j in range(depth)]


def ewma_weighted_sum_expr(cols: list[str], alpha: float, int_div: str) -> str:
    """Left-associated fixed-point weighted-sum SQL for the truncated
    EWMA — generated once for the Spark plan (``int_div="div"``) and
    once for the DuckDB differential oracle (``int_div="//"``), with
    IDENTICAL integer weights so both engines do the same pure-integer
    arithmetic. Overflow headroom: W ≤ 10⁹ and v6 ≤ ~10⁹ give ≤ ~10¹⁸
    per depth-10 sum — inside int64. Both ``div`` and ``//`` truncate
    toward zero; weights and (here) inputs are non-negative, so the
    result is a mathematical floor either way."""
    weights = ewma_weight_nanos(alpha, len(cols))
    terms = [
        f"CAST({w} AS BIGINT) * {c}" for w, c in zip(weights, cols)
    ]
    acc = terms[0]
    for t in terms[1:]:
        acc = f"({acc} + {t})"
    return f"CAST(({acc}) {int_div} 1000000000 AS BIGINT)"


def sessionize(df: DataFrame, user: str, ts: str, gap_minutes: int) -> DataFrame:
    """Assign session ids: a new session starts when the gap to the
    previous event exceeds ``gap_minutes``. The classic lag → gap-flag →
    cumulative-sum composition; one shuffle on the user key."""
    w = Window.partitionBy(user).orderBy(ts)
    gap_sec = gap_minutes * 60
    prev_ts = F.lag(F.col(ts)).over(w)
    new_session = (
        prev_ts.isNull()
        | ((F.unix_timestamp(F.col(ts)) - F.unix_timestamp(prev_ts)) > gap_sec)
    ).cast("int")
    return df.withColumn("session_seq", F.sum(new_session).over(w))


def ohlc_resample(
    df: DataFrame,
    key: str,
    ts: str,
    val: str,
    id_col: str,
    bucket: str = "hour",
) -> DataFrame:
    """OHLC downsample: per (``key``, time ``bucket``) the open / high /
    low / close of a value series — the classic resample behind price
    charts and telemetry rollups.

    ONE groupBy aggregation with full map-side partial combine — no
    window function, no per-group sort. Open and close ride as
    ``min(struct(tmic, id, v6))`` / ``max(struct(...))``: struct order
    is lexicographic, so the extreme IS the first/last event of the
    bucket, and the ``(tmic, id)`` prefix is unique (``id_col`` is a
    row id), so the result is deterministic under any partitioning or
    tie pattern. At corpus scale this shuffles only pre-combined
    ``(key, bucket)`` rows, where a first_value/last_value window
    would shuffle and sort every event.

    Values are 1e-6-floor-bucketed (``v6`` BIGINT) so min/max/open/
    close compare exact integers — engine-independent. NULL/NaN values
    are MISSING: their events don't enter the bar at all (a NaN would
    cast to 0 in Spark but crash a DuckDB oracle; a NULL would make
    min/max(struct) pick a null-valued struct while plain max skips
    it — the one-bad-row divergence class), so ``n`` counts priced
    events and an all-missing bucket emits no bar.
    """
    base = df.filter(
        F.col(val).isNotNull() & ~F.isnan(F.col(val))
    ).select(
        F.col(key),
        F.date_trunc(bucket, F.col(ts)).cast("timestamp").alias("bucket_ts"),
        F.unix_micros(F.col(ts).cast("timestamp")).alias("__tmic"),
        F.col(id_col).alias("__id"),
        F.floor(F.col(val) * 1e6).cast("long").alias("__v6"),
    )
    first_struct = F.min(F.struct("__tmic", "__id", "__v6"))
    last_struct = F.max(F.struct("__tmic", "__id", "__v6"))
    return base.groupBy(key, "bucket_ts").agg(
        F.count(F.lit(1)).alias("n"),
        first_struct.getField("__v6").alias("open6"),
        F.max("__v6").alias("high6"),
        F.min("__v6").alias("low6"),
        last_struct.getField("__v6").alias("close6"),
    )


def rolling_distinct(
    df: DataFrame, key: str, ts: str, window_days: int = 7
) -> DataFrame:
    """EXACT trailing-``window_days`` distinct-``key`` count per active
    day — "7-day active users", the classic op no engine's window
    functions express (COUNT(DISTINCT) OVER RANGE isn't partial-
    aggregable), done scale-right as a bucket-contribution explode:

    1. reduce events to DISTINCT (key, day) pairs FIRST — the explode
       multiplies the reduced pair set, never the raw event count;
    2. each pair contributes to the ``window_days`` trailing windows
       ending on day .. day+w-1 (a map-side ``sequence`` explode);
    3. one exact countDistinct per window day (two-level hash
       aggregate — a single distinct agg plans without Expand), then a
       semi-join keeps only days that actually occur in the data (a
       trailing window is only reported for observed days).

    State is bounded by w x |distinct pairs|; for wide windows at
    corpus scale swap step 3 for the mergeable HLL sketch rollup
    (operators/sketches.py) — same topology, bounded error.

    Returns (wday DATE, n_active BIGINT).
    """
    du = df.select(
        F.col(key),
        F.date_trunc("day", F.col(ts)).cast("date").alias("__day"),
    ).distinct()
    contrib = du.select(
        F.col(key),
        F.explode(
            F.expr(f"sequence(__day, date_add(__day, {window_days - 1}), interval 1 day)")
        ).alias("wday"),
    )
    days = du.select(F.col("__day").alias("wday")).distinct()
    return (
        contrib.join(days, "wday", "left_semi")
        .groupBy("wday")
        .agg(F.countDistinct(key).alias("n_active"))
    )
