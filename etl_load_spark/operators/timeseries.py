"""Time-series gap fill — bucketed resample with LOCF and linear
interpolation (the TimescaleDB ``time_bucket_gapfill`` + ``locf()`` +
``interpolate()`` continuous-series stage). Siblings: queries.py q53 is
the plain ``time_bucket`` rollup and q72 the per-series-span LOCF-only
fill; this operator adds the global-grid fill convention (leading and
trailing empty buckets with their own NULL contract) and interpolation.

Semantics
---------
Given an event stream ``(key, ts, value)``:

1. bucket ``ts`` to an epoch-aligned fixed grid (``F.window(ts, bucket)``
   — identical alignment to DuckDB/Timescale ``time_bucket`` for
   sub-week intervals) and average ``value`` per (key, bucket);
2. densify: every series gets a row for EVERY bucket in the global
   [min, max] bucket range (the Timescale convention: the fill range is
   the query range, shared by all series, so a series that starts late
   or ends early gets leading/trailing empty buckets);
3. fill: ``val`` (the actual, NULL in gaps), ``locf_val`` (last
   observation carried forward; NULL before a series' first actual),
   ``interp_val`` (linear between the surrounding actuals; NULL outside
   the series' observed range — exactly Timescale ``interpolate()``).

Determinism / oracle parity: every fractional quantity is computed in
EXACT scale-4 integer fixed point (the q59 half-up trick, queries.py
header rule 3) — ``ROUND(double, 4)`` is NOT portable at the .00005
boundary (Spark rounds the double's SHORTEST decimal representation
HALF_UP — BigDecimal.valueOf semantics — while DuckDB rounds the true
binary value; found as a real sf0.01 interp mismatch on a
bit-identical double, Spark 46.9473 vs DuckDB 46.9472). The per-bucket average is
``(2·cents·100 + n) // (2n)``; the interpolation numerator is
``prev4·(d2−d1) + next4·d1`` over integer epoch-second distances (both
terms ≥ 0 for the non-negative value domain, so floor-div half-up is
correct); each final column is one exact int→double cast and one
division by 10000.0 — identical IEEE ops in both engines. Epochs enter
only as DIFFERENCES, so the fraction is session-timezone-invariant.

100 TB shape: the per-bucket aggregate is one hash aggregation (partial
map-side); the grid is |series| × |buckets| rows built from a DISTINCT
key scan cross-joined with the broadcast one-row bounds aggregate (the
only BroadcastNestedLoopJoin, build side = 1 row) and an exploded,
bounds-guarded ``sequence`` (Spark sequence() DESCENDS when lo > hi —
round-8 lesson — so an empty input must gate, not descend); the fills
are two windows over the same (key, bucket) sort. Partition count
follows series cardinality, never raw-event skew: a hot series costs
its bucket count, not its event count. Output size is the contract
(dense grid), not a blow-up. Overflow headroom: the numerator is
bounded by max_val·10⁴ · range_seconds ≈ 10⁷·10⁹ ≪ 2⁶³.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

#: fixed day-time interval units in microseconds — the exact widths
#: Spark's own interval parser assigns them (week..microsecond are all
#: fixed-duration; the calendar units month/year, which F.window itself
#: rejects, are deliberately absent)
_UNIT_MICROS = {
    "week": 7 * 86400 * 10**6,
    "day": 86400 * 10**6,
    "hour": 3600 * 10**6,
    "minute": 60 * 10**6,
    "second": 10**6,
    "millisecond": 1000,
    "microsecond": 1,
}

# Spark encodes day-time intervals as int64 microseconds
# (DayTimeIntervalType); anything wider overflows its parser/arithmetic.
_MAX_DAY_TIME_INTERVAL_MICROS = 2**63 - 1


def validate_bucket(bucket: str) -> int:
    """Validate a bucket/interval string against the day-time grammar
    ``<uint> <unit> [<uint> <unit> ...]`` (units week/day/hour/minute/
    second/millisecond/microsecond, singular or plural) and return its
    total width in MICROSECONDS.

    The bucket strings these operators receive flow from user-supplied
    declarative job-spec parameters and are embedded into interval
    expressions (``F.expr(f"interval {bucket}")``, the DuckDB oracle
    twins' ``INTERVAL '{bucket}'``) — so a malformed or hostile value
    must fail HERE as a spec validation error, never surface as a raw
    SQL parse error or ride into an expression (ADVICE r9). The grammar
    is deliberately a strict subset of what Spark's parser accepts
    (no signs, no decimals, no 'interval' prefix): within it the fixed
    per-unit widths above are exactly Spark's, so no second parser can
    drift."""
    toks = str(bucket).split()
    if not toks or len(toks) % 2:
        raise ValueError(
            f"invalid bucket {bucket!r}: expected '<n> <unit>' pairs "
            "(e.g. '1 day', '6 hours', '1 hour 30 minutes')")
    total = 0
    for num, unit in zip(toks[::2], toks[1::2]):
        u = unit.lower()
        u = u[:-1] if u.endswith("s") and u[:-1] in _UNIT_MICROS else u
        # isdecimal + isascii, not isdigit: isdigit() admits fullwidth
        # digits ('１ day') that Spark's interval parser then rejects as
        # a raw parse error, and superscript digits that crash int()
        # itself — both the exact failure modes this validator promises
        # to preclude (ADVICE r10).
        if not (num.isascii() and num.isdecimal()) or u not in _UNIT_MICROS:
            raise ValueError(
                f"invalid bucket {bucket!r}: {num + ' ' + unit!r} is not "
                "'<non-negative ASCII int> <week|day|hour|minute|second|"
                "millisecond|microsecond>'")
        total += int(num) * _UNIT_MICROS[u]
    if total <= 0:
        raise ValueError(f"bucket width must be positive: {bucket!r}")
    if total > _MAX_DAY_TIME_INTERVAL_MICROS:
        # Spark stores day-time intervals as int64 microseconds; a wider
        # bucket validates here but overflows downstream inside
        # F.expr(f"interval {bucket}") (ADVICE r10) — fail as a spec
        # error instead.
        raise ValueError(
            f"bucket {bucket!r} exceeds Spark's day-time interval "
            f"maximum ({_MAX_DAY_TIME_INTERVAL_MICROS} microseconds "
            "= ~106751991 days)")
    return total


# DuckDB time_bucket's default origin for day-time widths is
# 2000-01-03 00:00:00 (a Monday); Spark's window() origin is the epoch
# (1970-01-01, a Thursday). The origin gap is 10,959 days =
# 946,857,600 s. The two engines produce IDENTICAL buckets exactly
# when the width divides this gap — verified empirically: '36 hours',
# '90 minutes', '3 days' agree; '2 days', '4 days', '5 hours',
# '7 hours' and every week-multiple are shifted.
_DUCKDB_ORIGIN_GAP_MICROS = 10959 * 86400 * 10**6


def require_sub_week_bucket(bucket: str, where: str) -> int:
    """Validate ``bucket`` AND refuse widths whose DuckDB
    ``time_bucket`` alignment differs from Spark's — for the SQL twins
    only. Spark's ``window()`` is EPOCH-aligned; DuckDB's
    ``time_bucket`` anchors at its Monday 2000-01-03 origin, so the
    engines agree exactly when the width DIVIDES the 10,959-day origin
    gap (every divisor of a day qualifies — '1 day', '6 hours' — and
    so do '36 hours' and '3 days'; '2 days', '5 hours' and every
    week-or-coarser grain are silently SHIFTED, which would make the
    twin compare different buckets and report spurious or vacuous
    parity). ADVICE r10 asked for a guard on week-and-coarser grains;
    round 11 found and closed the finer-grained hole ('2 days' passes
    a plain sub-week check but still diverges — the divisibility test
    is the exact condition; the function keeps its historical r10 name
    so every twin's call site reads unchanged). The Spark-side
    operators themselves accept any valid width — only the parity
    oracles are limited."""
    micros = validate_bucket(bucket)
    if _DUCKDB_ORIGIN_GAP_MICROS % micros:
        raise ValueError(
            f"{where}: bucket {bucket!r} does not divide the 10,959-day "
            "gap between DuckDB time_bucket's Monday 2000-01-03 origin "
            "and Spark window()'s epoch origin — the engines would "
            "bucket on SHIFTED boundaries and the parity would be "
            "spurious (week-and-coarser grains and widths like "
            "'2 days'/'5 hours' are in this class; day-divisors, "
            "'36 hours' and '3 days' are safe). Keep parity pins to "
            "gap-dividing grains, or give time_bucket an explicit "
            "epoch origin before trusting this twin")
    return micros


def gapfill(events: DataFrame, key_col: str = "user_id",
            ts_col: str = "ts", value_col: str = "value",
            bucket: str = "1 day") -> DataFrame:
    """Densify + LOCF + linearly interpolate ``value_col`` per series.

    Returns (key_col, bucket_ts, val, locf_val, interp_val), one row per
    series per bucket of the global bucket range, ordered by key then
    bucket. Values carry exactly 4 decimals (exact fixed point — see
    module docstring). ``value_col`` must be non-negative (raising this
    restriction needs the signed half-up variant of the fixed-point
    divisions). NULL-value samples are missed scrapes, not zeros: they
    are excluded up front (counting them would silently dilute the
    bucket average's denominator), so an all-NULL bucket is a GAP —
    the counter_rate/ohlc convention. A NULL key is a legitimate
    series (the counter_rate/ohlc/twa groupBy convention and the q71
    precedent): it gets its own grid rows and fills via the null-safe
    grid join."""
    validate_bucket(bucket)
    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
    cents = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    actual = (
        e.groupBy(F.col(key_col),
                  F.window(ts_col, bucket).start.alias("bucket_ts"))
        .agg(F.sum(cents).alias("_s"), F.count(F.lit(1)).alias("_n"))
        # exact scale-4 half-up average: cents·100 is the value at
        # scale 4; (2·x + n) DIV (2·n) rounds x/n half-up for x ≥ 0
        .select(key_col, "bucket_ts",
                F.expr("(2 * _s * 100 + _n) DIV (2 * _n)").alias("val4")))

    bounds = actual.agg(F.min("bucket_ts").alias("_lo"),
                        F.max("bucket_ts").alias("_hi"))
    # Bounds-guarded explode: min<=max whenever a row exists, but on an
    # empty input both are NULL and sequence() must not run at all.
    grid = (actual.select(key_col).distinct()
            .crossJoin(F.broadcast(bounds))
            .select(key_col,
                    F.explode(F.when(
                        F.col("_lo") <= F.col("_hi"),
                        F.sequence("_lo", "_hi", F.expr(f"interval {bucket}"))
                    )).alias("bucket_ts")))

    # Null-safe on the key (ADVICE r9): a NULL-key series' grid rows
    # must still match its actuals — plain equality would leave every
    # fill NULL even at buckets that have data (and the USING-join
    # oracle twin shared the wart, so parity alone couldn't catch it).
    # EqualNullSafe is still an equi-join key for Spark (sort-merge /
    # shuffled-hash, never BNLJ). bucket_ts is never NULL here (ts is
    # filtered non-null), so plain equality is correct for it.
    a = actual.select(F.col(key_col).alias("_ak"),
                      F.col("bucket_ts").alias("_ab"), "val4")
    filled = (grid.join(a, F.col(key_col).eqNullSafe(F.col("_ak"))
                        & (F.col("bucket_ts") == F.col("_ab")), "left")
              .select(key_col, "bucket_ts", "val4"))

    wp = (Window.partitionBy(key_col).orderBy("bucket_ts")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wn = (Window.partitionBy(key_col).orderBy("bucket_ts")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    epoch = F.unix_timestamp(F.col("bucket_ts"))
    at_actual = F.when(F.col("val4").isNotNull(), epoch)

    f2 = filled.select(
        key_col, "bucket_ts", "val4",
        F.last("val4", ignorenulls=True).over(wp).alias("_prev4"),
        F.last(at_actual, ignorenulls=True).over(wp).alias("_pt"),
        F.first("val4", ignorenulls=True).over(wn).alias("_next4"),
        F.first(at_actual, ignorenulls=True).over(wn).alias("_nt"),
        epoch.alias("_be"))

    as_dbl = lambda c: c.cast("double") / 10000.0  # noqa: E731
    # prev4·(d2−d1) + next4·d1 with d1 = be−pt, d2 = nt−pt: both terms
    # ≥ 0, so the same half-up integer DIV applies; exact end-to-end.
    interp4 = F.expr(
        "(2 * (_prev4 * ((_nt - _pt) - (_be - _pt))"
        "      + _next4 * (_be - _pt))"
        " + (_nt - _pt)) DIV (2 * (_nt - _pt))")
    interp = (
        F.when(F.col("val4").isNotNull(), as_dbl(F.col("val4")))
        .when(F.col("_prev4").isNull() | F.col("_next4").isNull(),
              F.lit(None))
        .otherwise(as_dbl(interp4)))

    return (f2
            .select(key_col, "bucket_ts",
                    as_dbl(F.col("val4")).alias("val"),
                    as_dbl(F.col("_prev4")).alias("locf_val"),
                    interp.alias("interp_val"))
            # nulls-last to match the oracle twin now that a NULL-key
            # series can reach the output (the ohlc convention)
            .orderBy(F.col(key_col).asc_nulls_last(), "bucket_ts"))


def bucket_width_seconds(bucket: str) -> int:
    """Width of a validated day-time bucket string in WHOLE seconds.
    Pure Python over :func:`validate_bucket`'s fixed unit widths — the
    validated grammar is a strict subset of Spark's interval syntax on
    which the per-unit widths are exactly Spark's, so '1 day',
    '15 minutes', '6 hours' all measure exactly as ``F.window`` will
    read them, with no SQL round trip (the previous implementation
    interpolated the raw string into ``spark.sql`` — an injection
    surface for spec-supplied values, ADVICE r9) and no collect.
    Raises on sub-second residue: a rate denominator must be integral
    seconds."""
    micros = validate_bucket(bucket)
    if micros % 10**6:
        raise ValueError(
            f"bucket {bucket!r} is not a whole number of seconds "
            f"({micros} microseconds)")
    return micros // 10**6


def counter_rate(events: DataFrame, key_col: str = "user_id",
                 ts_col: str = "ts", value_col: str = "value",
                 order_col: str = "event_id",
                 bucket: str = "1 day",
                 bucket_seconds: int | None = None,
                 hot_split: str | None = None) -> DataFrame:
    """Monotonic-counter increase/rate with reset detection — the
    Timescale ``counter_agg``/Prometheus ``increase()`` staple, distinct
    from q166's bucket-count deltas: here the DELTA IS SAMPLE-TO-SAMPLE
    on the raw feed, and a decrease means the counter RESTARTED (process
    restart, device reboot), so the post-reset value itself is the
    increase since zero, not a negative step.

    Per series ordered by (ts, order_col) — the unique tiebreaker makes
    same-timestamp samples deterministic: step = value − prev when
    value ≥ prev, value on a reset, 0 for the series' first sample;
    then per (key, bucket): n_samples, n_resets, increase = Σstep and
    rate_per_sec = increase / bucket_seconds. ``bucket_seconds``
    defaults to the PARSED width of ``bucket`` (bucket_width_seconds),
    so the denominator cannot silently drift from the bucket; pass it
    explicitly only to rate against a different horizon. NULL-ts and
    NULL-value samples are excluded (the Timescale convention: a NULL
    sample is a missed scrape, not a zero).

    Exactness: samples convert once to cents (bigint); every step, sum
    and the rate division stay integral (the rate is the scale-4
    half-up fixed-point quotient, q59 form), one int→double cast per
    output column — the ROUND(double, 4) portability trap never enters.

    100 TB shape: the ONE per-sample window (lag) shuffles the raw feed
    once on the series key and sorts per series — inherent to
    sample-to-sample semantics (the sessionization class, q115); the
    bucket aggregate then rides the SAME partitioning (no second
    exchange before it; the window output is already keyed). A hot
    series serializes only its own samples — measured at 46 s for 10M
    samples on ONE series (SCALE.md). Past that cliff, ``hot_split``
    (an interval string, e.g. '1 day') engages the PARALLEL-PREFIX
    STITCH: the lag window partitions by (key, time-slice) so each
    slice sorts in parallel, and the cross-slice deltas are repaired
    by a boundary pass over the slice-summary relation (per (key,
    slice) the last sample — one map-side-combinable max_by — lagged
    per key over |slices| rows, joined back onto each slice's first
    sample). Costs: the rollup no longer rides the lag partitioning
    (one extra exchange, but of MAP-SIDE-REDUCED candle-sized
    partials), in trade for the per-series sort parallelizing
    |slices|-ways. Results are IDENTICAL (equivalence
    property-pinned); default off because below the cliff the
    single-exchange plan wins. Values must be non-negative
    (counters are)."""
    validate_bucket(bucket)
    if bucket_seconds is None:
        bucket_seconds = bucket_width_seconds(bucket)
    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
    cents = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    b = F.window(ts_col, bucket).start.alias("bucket_ts")
    if hot_split is None:
        w = Window.partitionBy(key_col).orderBy(ts_col, order_col)
        prev = F.lag(cents).over(w)
        stepped = e.select(F.col(key_col), b, cents.alias("_c"),
                           prev.alias("_prev"))
    else:
        width_us = validate_bucket(hot_split)
        # the key rides inside a one-field struct: struct equality is
        # null-safe under a PLAIN equi-join, so a NULL-key series (one
        # partition to Window.partitionBy, hence carried by the plain
        # path) keeps its cross-slice carry through the boundary join —
        # an eqNullSafe condition would fix the same bug but its
        # rewritten join keys (coalesce/isnull pairs) no longer match
        # the window's partitioning and cost an extra full exchange
        # (ADVICE r11).
        base = e.select(F.struct(F.col(key_col)).alias("_k"), b,
                        cents.alias("_c"),
                        F.col(ts_col).alias("_ts"),
                        F.col(order_col).alias("_o"))
        # trunc-div slices are contiguous, monotone time ranges — all
        # the stitch needs (slice 0 straddling the epoch is just
        # wider). Sweet spot: when the slice width EQUALS the bucket
        # width, slice on the bucket_ts ATTRIBUTE itself — the lag
        # window, the boundary join and the bucket rollup then all
        # cluster on the same attributes and share one exchange (an
        # aliased copy of the same value is a different attribute to
        # the planner, so only the literal column unlocks the reuse).
        if width_us == validate_bucket(bucket):
            sl_cols = ["_k", "bucket_ts"]
        else:
            base = base.withColumn(
                "_sl", F.expr("unix_micros(CAST(_ts AS TIMESTAMP_LTZ)) "
                              f"DIV {width_us}"))
            sl_cols = ["_k", "_sl"]
        wsl = Window.partitionBy(*sl_cols).orderBy("_ts", "_o")
        in_slice_prev = F.lag("_c").over(wsl)
        # boundary relation: ONE row per non-empty (key, slice) — its
        # last sample's cents; lag per key gives the PREVIOUS non-empty
        # slice's last sample (empty slices simply don't appear)
        bnd = (base.groupBy(*sl_cols)
               .agg(F.max_by("_c", F.struct("_ts", "_o"))
                    .alias("_last_c")))
        wk = Window.partitionBy("_k").orderBy(sl_cols[1])
        bnd = bnd.select(*sl_cols,
                         F.lag("_last_c").over(wk).alias("_carry"))
        stepped = (base.withColumn("_prev_in", in_slice_prev)
                   .join(bnd, sl_cols, "left")
                   .select("_k", "bucket_ts", "_c",
                           F.coalesce("_prev_in", "_carry").alias("_prev")))
    kcol = key_col if hot_split is None else "_k"
    prev, c = F.col("_prev"), F.col("_c")
    step = (F.when(prev.isNull(), F.lit(0))
            .when(c >= prev, c - prev)
            .otherwise(c))
    reset = F.when(prev.isNotNull() & (c < prev), 1).otherwise(0)
    agg = (stepped.select(F.col(kcol), F.col("bucket_ts"),
                          step.alias("_step"), reset.alias("_reset"))
           .groupBy(kcol, "bucket_ts")
           .agg(F.count(F.lit(1)).alias("n_samples"),
                F.sum("_reset").alias("n_resets"),
                F.sum("_step").alias("_inc")))
    out_key = F.col(key_col) if hot_split is None \
        else F.col("_k").getField(key_col).alias(key_col)
    rate4 = F.expr(f"(2 * _inc * 100 + {bucket_seconds}) "
                   f"DIV (2 * {bucket_seconds})")
    return (agg.select(out_key, "bucket_ts", "n_samples", "n_resets",
                       (F.col("_inc").cast("double") / 100.0)
                       .alias("increase"),
                       (rate4.cast("double") / 10000.0)
                       .alias("rate_per_sec"))
            .orderBy(key_col, "bucket_ts"))


def counter_rate_sql(table: str = "events", key_col: str = "user_id",
                     ts_col: str = "ts", value_col: str = "value",
                     order_col: str = "event_id",
                     bucket: str = "1 day",
                     bucket_seconds: int | None = None) -> str:
    """DuckDB oracle for :func:`counter_rate` — same ordering, same
    integral cents arithmetic, same fixed-point rate quotient. SUMs are
    cast back to BIGINT (DuckDB SUM(BIGINT) → HUGEINT renders float64
    through pandas — the round-2 lesson). ``bucket_seconds`` defaults
    to the parsed width of ``bucket`` exactly like the Spark side — an
    independent 86400 default here once let a '6 hours' twin silently
    rate against a day (ADVICE r9, the drift class commit a0c9160
    removed on the Spark side)."""
    require_sub_week_bucket(bucket, "counter_rate_sql")
    if bucket_seconds is None:
        bucket_seconds = bucket_width_seconds(bucket)
    return f"""
WITH s AS (
  SELECT {key_col},
         time_bucket(INTERVAL '{bucket}', {ts_col}) AS bucket_ts,
         CAST(CAST({value_col} AS DECIMAL(12,2)) * 100 AS BIGINT) AS c,
         lag(CAST(CAST({value_col} AS DECIMAL(12,2)) * 100 AS BIGINT))
           OVER (PARTITION BY {key_col}
                 ORDER BY {ts_col}, {order_col}) AS p
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL),
a AS (
  SELECT {key_col}, bucket_ts,
         CAST(COUNT(*) AS BIGINT) AS n_samples,
         CAST(SUM(CASE WHEN p IS NOT NULL AND c < p THEN 1 ELSE 0 END)
              AS BIGINT) AS n_resets,
         CAST(SUM(CASE WHEN p IS NULL THEN 0
                       WHEN c >= p THEN c - p ELSE c END)
              AS BIGINT) AS inc
  FROM s GROUP BY 1, 2)
SELECT {key_col}, bucket_ts, n_samples, n_resets,
       CAST(inc AS DOUBLE) / 100.0 AS increase,
       CAST((2 * inc * 100 + {bucket_seconds})
            // (2 * {bucket_seconds}) AS DOUBLE) / 10000.0 AS rate_per_sec
FROM a ORDER BY {key_col}, bucket_ts
"""


def time_weighted_avg(events: DataFrame, key_col: str = "user_id",
                      ts_col: str = "ts", value_col: str = "value",
                      order_col: str = "event_id",
                      bucket: str = "1 day",
                      carry_in: bool = False,
                      hot_split: str | None = None) -> DataFrame:
    """Time-weighted average — Timescale ``time_weight('LOCF')`` /
    ``average()``: the plain per-bucket mean (q172's ``val``) weights
    every sample equally, so a sensor that reports 100× more often
    while idle drags the average toward idle; here each sample is
    weighted by HOW LONG IT HELD — the integral of the in-bucket LOCF
    step curve, divided by the covered span.

    Two contracts, selected by ``carry_in``:

    - ``carry_in=False`` (default, q175): SELF-CONTAINED per bucket —
      the integral starts at the bucket's own first sample; the span
      from bucket start to that sample is unweighted.
    - ``carry_in=True`` (q176, Timescale ``interpolated_average`` with
      the LOCF weight method): the series' previous sample — from ANY
      earlier bucket, LOCF carries across empty buckets — extends into
      the bucket, weighting [bucket_start, first_sample) with the
      carried value, so a bucket with any history covers its FULL
      width and a value that held across a boundary is charged to both
      sides of it. A series' first-ever bucket has no carry and falls
      back to the self-contained span. Only buckets with ≥1 sample are
      emitted (the Timescale rollup convention; compose with gapfill
      for a dense grid).

    Exactness: weights are MILLISECOND durations (``unix_millis`` /
    ``epoch_ms`` truncate identically in both engines; same-millisecond
    predecessors get weight 0 deterministically via the (ts, order_col)
    ordering), values integral cents, and the quotient is the scale-4
    half-up fixed point ``(200·Σc·dt + Σdt) DIV (2·Σdt)`` — overflow
    headroom: Σ(cents·dt_ms) ≤ 10⁷ cents · 8.6×10⁷ ms/day ≈ 10¹⁵,
    ×200 ≪ 2⁶³. NULL samples are missed scrapes, excluded up front.

    100 TB shape: ONE exchange either way. Self-contained: the lead()
    window partitions by (key, bucket) and the aggregate groups by the
    same keys, so partial+final ride the window's partitioning; sort
    cost is bounded by one series' one bucket. With carry-in the extra
    cross-bucket lag() window partitions by key alone — the SAME
    hashpartitioning(key) exchange satisfies the (key, bucket) window
    and the aggregate too (subset clustering, the counter_rate reuse),
    so the carry costs one extra in-partition sort, zero exchanges —
    but inherits counter_rate's hot-series skew class (one series'
    full history serializes in one partition; measured 48.3 s vs the
    self-contained form's 22.4 s on 10M-samples-on-one-series,
    SCALE.md) instead of the self-contained form's per-bucket bound.
    Past that cliff, ``hot_split`` (an interval string; only
    meaningful with ``carry_in=True`` — the self-contained form has no
    per-key window to split) engages the same parallel-prefix stitch
    counter_rate ships: the cross-bucket lag partitions by (key,
    time-slice) and a boundary pass carries each previous non-empty
    slice's last sample; results are identical
    (equivalence property-pinned)."""
    validate_bucket(bucket)
    if hot_split is not None and not carry_in:
        raise ValueError(
            "hot_split only applies to carry_in=True (the self-contained "
            "form has no per-key window to split — it is already "
            "per-bucket-parallel)")
    width_ms = bucket_width_seconds(bucket) * 1000
    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
    cents = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    b = F.window(ts_col, bucket).start.alias("bucket_ts")
    tms = F.unix_millis(F.col(ts_col).cast("timestamp_ltz"))
    hot = carry_in and hot_split is not None
    # hot mode wraps the key in a one-field struct: struct equality is
    # null-safe under a PLAIN equi-join, so a NULL-key series keeps its
    # cross-slice carry through the boundary join without the extra
    # exchange an eqNullSafe condition's rewritten keys would cost
    # (ADVICE r11; see counter_rate).
    kcol = "_k" if hot else key_col
    kexpr = F.struct(F.col(key_col)).alias("_k") if hot else F.col(key_col)
    s = e.select(kexpr, b, cents.alias("_c"), tms.alias("_tm"),
                 F.col(order_col).alias("_o"), F.col(ts_col).alias("_ts"))
    w = (Window.partitionBy(kcol, "bucket_ts").orderBy("_ts", "_o"))
    bucket_start = F.unix_millis(F.col("bucket_ts").cast("timestamp_ltz"))
    bucket_end = bucket_start + F.lit(width_ms)
    dt = (F.coalesce(F.lead("_tm").over(w), bucket_end) - F.col("_tm"))
    if carry_in and hot_split is not None:
        # the counter_rate parallel-prefix stitch, applied to the ONE
        # per-key window here (the cross-bucket carry lag): per-slice
        # lag + a boundary pass carrying the previous non-empty
        # slice's last sample. The (key, bucket) lead window and the
        # rollup are already per-bucket-parallel and stay untouched.
        # Sweet spot: when the slice width EQUALS the bucket width,
        # slice on the bucket_ts ATTRIBUTE itself — the carry lag, the
        # in-bucket lead window and the rollup then all cluster on the
        # same attributes and share one exchange (an aliased copy of
        # the same value is a different attribute to the planner, so
        # only the literal column unlocks the reuse).
        width_us = validate_bucket(hot_split)
        if width_us == validate_bucket(bucket):
            sl_cols = [kcol, "bucket_ts"]
        else:
            s = s.withColumn(
                "_sl", F.expr("unix_micros(CAST(_ts AS TIMESTAMP_LTZ)) "
                              f"DIV {width_us}"))
            sl_cols = [kcol, "_sl"]
        wsl = Window.partitionBy(*sl_cols).orderBy("_ts", "_o")
        bnd = (s.groupBy(*sl_cols)
               .agg(F.max_by("_c", F.struct("_ts", "_o"))
                    .alias("_last_c")))
        wk_sl = Window.partitionBy(kcol).orderBy(sl_cols[1])
        bnd = bnd.select(*sl_cols,
                         F.lag("_last_c").over(wk_sl).alias("_carry"))
        s = (s.withColumn("_prev_in", F.lag("_c").over(wsl))
             .join(bnd, sl_cols, "left"))
        prev_c = F.coalesce(F.col("_prev_in"), F.col("_carry"))
    elif carry_in:
        wk = Window.partitionBy(kcol).orderBy("_ts", "_o")
        prev_c = F.lag("_c").over(wk)
    if carry_in:
        # the carried value reaches only each bucket's FIRST sample
        # (in-bucket lag NULL); its weight is the bucket-start gap
        first_in_bucket = F.lag("_c").over(w).isNull()
        carry_c = F.when(first_in_bucket, prev_c)
        carry_dt = (F.when(first_in_bucket & prev_c.isNotNull(),
                           F.col("_tm") - bucket_start)
                    .otherwise(F.lit(0)))
    else:
        carry_c, carry_dt = F.lit(None).cast("bigint"), F.lit(0)
    agg = (s.select(kcol, "bucket_ts", "_c", dt.alias("_dt"),
                    carry_c.alias("_cc"), carry_dt.alias("_cdt"))
           .groupBy(kcol, "bucket_ts")
           .agg(F.count(F.lit(1)).alias("n_samples"),
                (F.sum(F.col("_c") * F.col("_dt"))
                 + F.coalesce(F.sum(F.col("_cc") * F.col("_cdt")),
                              F.lit(0))).alias("_num"),
                (F.sum("_dt") + F.sum("_cdt")).alias("_den")))
    out_key = F.col(key_col) if not hot \
        else F.col("_k").getField(key_col).alias(key_col)
    twa4 = F.expr("(200 * _num + _den) DIV (2 * _den)")
    return (agg.select(out_key, "bucket_ts", "n_samples",
                       (twa4.cast("double") / 10000.0).alias("twa"))
            .orderBy(key_col, "bucket_ts"))


def time_weighted_avg_rollup(events: DataFrame, key_col: str = "user_id",
                             ts_col: str = "ts", value_col: str = "value",
                             order_col: str = "event_id",
                             bucket: str = "1 day") -> DataFrame:
    """The self-contained (carry_in=False) :func:`time_weighted_avg`
    in stream-safe form, via the collect_list recipe of
    :func:`state_durations_rollup`: each sample's weight is the gap to
    its in-array successor (or the bucket end), folded into the same
    Σ(c·dt)/Σdt fixed-point quotient. The carry form stays batch-only
    (the carried sample is watermark-evicted state). State: the open
    buckets' sample lists."""
    validate_bucket(bucket)
    width_ms = bucket_width_seconds(bucket) * 1000
    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
    c = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    tms = F.unix_millis(F.col(ts_col).cast("timestamp_ltz"))
    agg = (e.groupBy(F.col(key_col),
                     F.window(ts_col, bucket).start.alias("bucket_ts"))
           .agg(F.sort_array(F.collect_list(F.struct(
               F.col(ts_col).alias("t"), F.col(order_col).alias("o"),
               c.alias("c"), tms.alias("tm")))).alias("_vv")))
    end_ms = (f"unix_millis(CAST(bucket_ts AS TIMESTAMP_LTZ)) "
              f"+ {width_ms}")
    sums = F.expr(f"""
        aggregate(
            transform(_vv, (x, i) -> named_struct(
                'num', x.c * ((CASE WHEN i < size(_vv) - 1
                                    THEN element_at(_vv, i + 2).tm
                                    ELSE {end_ms} END) - x.tm),
                'den', (CASE WHEN i < size(_vv) - 1
                             THEN element_at(_vv, i + 2).tm
                             ELSE {end_ms} END) - x.tm)),
            named_struct('num', 0L, 'den', 0L),
            (acc, x) -> named_struct('num', acc.num + x.num,
                                     'den', acc.den + x.den))""")
    twa4 = F.expr("(200 * _num + _den) DIV (2 * _den)")
    return (agg.select(key_col, "bucket_ts",
                       F.size("_vv").cast("bigint").alias("n_samples"),
                       sums.alias("_s"))
            .select(key_col, "bucket_ts", "n_samples",
                    F.col("_s.num").alias("_num"),
                    F.col("_s.den").alias("_den"))
            .select(key_col, "bucket_ts", "n_samples",
                    (twa4.cast("double") / 10000.0).alias("twa")))


def time_weighted_avg_sql(table: str = "events", key_col: str = "user_id",
                          ts_col: str = "ts", value_col: str = "value",
                          order_col: str = "event_id",
                          bucket: str = "1 day",
                          bucket_seconds: int | None = None,
                          carry_in: bool = False) -> str:
    """DuckDB oracle for :func:`time_weighted_avg` — same millisecond
    weights (epoch_ms), same in-bucket lead over the same (ts, order)
    ordering, same cross-bucket lag for the ``carry_in`` contract, same
    fixed-point quotient. ``bucket_seconds`` derives from ``bucket``
    exactly like the Spark side (ADVICE r9: an independent default
    here is the oracle-side variant of the denominator-drift class).
    Week-and-coarser buckets raise (require_sub_week_bucket, ADVICE
    r10): DuckDB time_bucket's Monday origin vs Spark's epoch origin
    would shift every bucket and the parity would be spurious."""
    require_sub_week_bucket(bucket, "time_weighted_avg_sql")
    if bucket_seconds is None:
        bucket_seconds = bucket_width_seconds(bucket)
    width_ms = bucket_seconds * 1000
    tb = f"time_bucket(INTERVAL '{bucket}', {ts_col})"
    if carry_in:
        carry_cols = f""",
         CASE WHEN lag(c) OVER wb IS NULL THEN lag(c) OVER wk END AS cc,
         CASE WHEN lag(c) OVER wb IS NULL AND lag(c) OVER wk IS NOT NULL
              THEN tm - epoch_ms(bucket_ts) ELSE 0 END AS cdt"""
        carry_num = " + COALESCE(CAST(SUM(cc * cdt) AS BIGINT), 0)"
        carry_den = " + CAST(SUM(cdt) AS BIGINT)"
    else:
        carry_cols = ", CAST(NULL AS BIGINT) AS cc, 0 AS cdt"
        carry_num = carry_den = ""
    return f"""
WITH s0 AS (
  SELECT {key_col}, {tb} AS bucket_ts,
         CAST(CAST({value_col} AS DECIMAL(12,2)) * 100 AS BIGINT) AS c,
         epoch_ms({ts_col}) AS tm, {ts_col} AS t, {order_col} AS o
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL),
s AS (
  SELECT {key_col}, bucket_ts, c, tm,
         lead(tm) OVER wb AS nx{carry_cols}
  FROM s0
  WINDOW wb AS (PARTITION BY {key_col}, bucket_ts ORDER BY t, o),
         wk AS (PARTITION BY {key_col} ORDER BY t, o)),
a AS (
  SELECT {key_col}, bucket_ts,
         CAST(COUNT(*) AS BIGINT) AS n_samples,
         CAST(SUM(c * (COALESCE(nx, epoch_ms(bucket_ts) + {width_ms})
                       - tm)) AS BIGINT){carry_num} AS num,
         CAST(SUM(COALESCE(nx, epoch_ms(bucket_ts) + {width_ms}) - tm)
              AS BIGINT){carry_den} AS den
  FROM s GROUP BY 1, 2)
SELECT {key_col}, bucket_ts, n_samples,
       CAST((200 * num + den) // (2 * den) AS DOUBLE) / 10000.0 AS twa
FROM a ORDER BY {key_col}, bucket_ts
"""


def state_durations(events: DataFrame, key_col: str = "user_id",
                    ts_col: str = "ts", state_col: str = "event_type",
                    order_col: str = "event_id",
                    bucket: str = "1 day",
                    carry_in: bool = False,
                    hot_split: str | None = None) -> DataFrame:
    """Time-in-state rollup — Timescale ``state_agg`` / ``duration_in``:
    per (series, bucket, state) how long the series SAT in each state
    (the LOCF step curve of a categorical value), how many times it
    ENTERED the state, and the sample count. The time-weighted-average
    idea with a categorical value: a state sample holds until the next
    in-bucket sample (any state), the bucket's last sample holds to the
    bucket end.

    Two contracts, selected by ``carry_in`` (the q175/q176 pair, on a
    categorical value):

    - ``carry_in=False`` (default, q177): SELF-CONTAINED per bucket —
      the span from bucket start to the first sample belongs to no
      state, and an entry is a sample whose IN-BUCKET predecessor is a
      different state (or absent: the bucket's first sample opens its
      state).
    - ``carry_in=True`` (q180, Timescale ``interpolated_duration_in``):
      the series' previous state — from ANY earlier bucket, LOCF
      carries across empty ones — HOLDS from the bucket start to the
      first sample, charged to the carried state (a (key, bucket,
      state) row with ``n_samples = 0`` when that state has no sample
      of its own in the bucket; a zero-width leading span adds
      nothing). Entries then count TRANSITIONS of the continuous
      curve: the bucket's first sample is an entry only if it differs
      from the carried state (or there is none). Only buckets with ≥1
      sample are emitted (the family rollup convention).

    Exactness: pure integer millisecond durations (``unix_millis`` /
    ``epoch_ms`` truncate identically; same-millisecond predecessors
    hold for 0 ms deterministically via the (ts, order_col) ordering)
    — no fixed-point machinery needed, nothing fractional is emitted.
    NULL-ts and NULL-state samples are missed scrapes, excluded up
    front (the family convention), so the carried state is the
    previous RECORDED state.

    100 TB shape: ONE exchange either way — the lead/lag windows
    partition by (key, bucket) and the aggregate groups by (key,
    bucket, state), which the same hashpartitioning satisfies (subset
    clustering); with carry-in the extra cross-bucket lag partitions
    by key alone and rides the same exchange (the q176 reuse), at the
    price of the per-key skew class. The carry contribution is an
    in-row 2-element array explode — no join, no second pass.

    Past the per-key serialization cliff (the q173 class: one series
    dominating the feed makes the cross-bucket carry lag sort that
    series on a single task), ``hot_split`` (an interval string,
    carry_in only — the self-contained form has no per-key window)
    engages the counter_rate/TWA PARALLEL-PREFIX STITCH on the ONE
    per-key window here: the carry lag partitions by (key, time-slice)
    so each slice sorts in parallel, and a boundary pass over the
    |slices|-row summary relation (per (key, slice) the LAST sample's
    state — one map-side-combinable max_by — lagged per key) carries
    the previous non-empty slice's closing state onto each slice's
    first sample. Results are IDENTICAL (equivalence property-pinned);
    when the slice width EQUALS the bucket width the in-slice lag IS
    the in-bucket lag, so the stitch shares the existing (key,
    bucket_ts) exchange (plan-pinned: aligned = generic − 1)."""
    validate_bucket(bucket)
    if hot_split is not None and not carry_in:
        raise ValueError(
            "hot_split only applies to carry_in=True (the self-contained "
            "form has no per-key window to split — it is already "
            "per-bucket-parallel)")
    width_ms = bucket_width_seconds(bucket) * 1000
    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(state_col).isNotNull())
    b = F.window(ts_col, bucket).start.alias("bucket_ts")
    tms = F.unix_millis(F.col(ts_col).cast("timestamp_ltz"))
    hot = carry_in and hot_split is not None
    # hot mode wraps the key in a one-field struct: struct equality is
    # null-safe under a PLAIN equi-join, so a NULL-key series keeps its
    # cross-slice carry through the boundary join without the extra
    # exchange an eqNullSafe condition's rewritten keys would cost
    # (ADVICE r11; see counter_rate).
    kcol = "_k" if hot else key_col
    kexpr = F.struct(F.col(key_col)).alias("_k") if hot else F.col(key_col)
    s = e.select(kexpr, b, F.col(state_col).alias("_st"),
                 tms.alias("_tm"), F.col(order_col).alias("_o"),
                 F.col(ts_col).alias("_ts"))
    w = Window.partitionBy(kcol, "bucket_ts").orderBy("_ts", "_o")
    bucket_start = F.unix_millis(F.col("bucket_ts").cast("timestamp_ltz"))
    bucket_end = bucket_start + F.lit(width_ms)
    dt = F.coalesce(F.lead("_tm").over(w), bucket_end) - F.col("_tm")
    prev_st = F.lag("_st").over(w)
    if not carry_in:
        entered = F.when(prev_st.isNull() | (prev_st != F.col("_st")), 1) \
            .otherwise(0)
        contribs = s.select(key_col, "bucket_ts", "_st",
                            dt.alias("_dt"), entered.alias("_en"),
                            F.lit(1).alias("_is_sample"))
    else:
        if hot_split is not None:
            # the counter_rate/TWA parallel-prefix stitch on the one
            # per-key window (the cross-bucket carry lag): per-slice
            # lag + a boundary pass carrying the previous non-empty
            # slice's LAST state. For a slice-first sample the in-slice
            # lag is NULL and the boundary carry IS the global
            # predecessor's state; everywhere else the in-slice lag is
            # the global lag — so the coalesce equals lag over the
            # whole series exactly.
            width_us = validate_bucket(hot_split)
            if width_us == validate_bucket(bucket):
                # aligned: the in-slice lag is the in-bucket lag — one
                # shared (key, bucket_ts) exchange (the literal-column
                # rule: an aliased copy would be a different attribute)
                sl_cols = [kcol, "bucket_ts"]
            else:
                s = s.withColumn(
                    "_sl",
                    F.expr("unix_micros(CAST(_ts AS TIMESTAMP_LTZ)) "
                           f"DIV {width_us}"))
                sl_cols = [kcol, "_sl"]
            wsl = Window.partitionBy(*sl_cols).orderBy("_ts", "_o")
            bnd = (s.groupBy(*sl_cols)
                   .agg(F.max_by("_st", F.struct("_ts", "_o"))
                        .alias("_last_st")))
            wk_sl = Window.partitionBy(kcol).orderBy(sl_cols[1])
            bnd = bnd.select(*sl_cols,
                             F.lag("_last_st").over(wk_sl)
                             .alias("_carry"))
            s = (s.withColumn("_pin_sl", F.lag("_st").over(wsl))
                 .join(bnd, sl_cols, "left"))
            pg = F.coalesce(F.col("_pin_sl"), F.col("_carry"))
        else:
            wk = Window.partitionBy(kcol).orderBy("_ts", "_o")
            pg = F.lag("_st").over(wk)
        # window expressions must materialize BEFORE the explode — a
        # Generate operator cannot host them
        f2 = s.select(kcol, "bucket_ts", "_st", "_tm",
                      dt.alias("_dt"), prev_st.alias("_pin"),
                      pg.alias("_pg"),
                      bucket_start.alias("_bs"))
        first = F.col("_pin").isNull()
        prev_g = F.col("_pg")
        entered = (F.when(first,
                          F.when(prev_g.isNull()
                                 | (prev_g != F.col("_st")), 1)
                          .otherwise(0))
                   .otherwise(F.when(F.col("_pin") != F.col("_st"), 1)
                              .otherwise(0)))
        mk = lambda st, d, en, smp: F.struct(  # noqa: E731
            st.alias("st"), d.alias("dt"), en.alias("en"),
            smp.alias("smp"))
        carry = F.when(first & prev_g.isNotNull()
                       & (F.col("_tm") > F.col("_bs")),
                       mk(prev_g, F.col("_tm") - F.col("_bs"),
                          F.lit(0), F.lit(0)))
        pair = F.array(mk(F.col("_st"), F.col("_dt"), entered,
                          F.lit(1)), carry)
        contribs = (f2.select(kcol, "bucket_ts",
                              F.explode(pair).alias("_c"))
                    .filter(F.col("_c").isNotNull())
                    .select(kcol, "bucket_ts",
                            F.col("_c.st").alias("_st"),
                            F.col("_c.dt").alias("_dt"),
                            F.col("_c.en").alias("_en"),
                            F.col("_c.smp").alias("_is_sample")))
    agg = (contribs
           .groupBy(kcol, "bucket_ts", F.col("_st").alias(state_col))
           .agg(F.sum("_dt").alias("held_ms"),
                F.sum("_en").alias("n_entries"),
                F.sum("_is_sample").alias("n_samples")))
    if not hot:
        return agg.orderBy(key_col, "bucket_ts", state_col)
    # unwrap the struct key AFTER the sort (ordering by the struct IS
    # ordering by its single field); referencing state_col pre-select
    # keeps the projection unambiguous even when key_col == state_col
    return (agg.orderBy("_k", "bucket_ts", state_col)
            .select(F.col("_k").getField(key_col).alias(key_col),
                    "bucket_ts", state_col, "held_ms", "n_entries",
                    "n_samples"))


def state_durations_rollup(events: DataFrame, key_col: str = "user_id",
                           ts_col: str = "ts",
                           state_col: str = "event_type",
                           order_col: str = "event_id",
                           bucket: str = "1 day") -> DataFrame:
    """The self-contained (carry_in=False) :func:`state_durations` in
    stream-safe form. The batch operator's in-bucket lead/lag windows
    are not streamable, but the SAME semantics are: ONE
    watermark-evictable aggregation collects the bucket's samples
    (sort_array ∘ collect_list over the (ts, order) total order —
    collect_list is a declarative aggregate, so this runs as a plain
    streaming agg, no transformWithState needed), then a stateless
    projection folds the sorted array into per-state (held_ms,
    n_entries, n_samples) and explodes — hold finalization against
    the NEXT sample happens inside the array, where the future is
    already visible.

    State bound: the open (key, bucket) groups' sample lists — exactly
    the rows a bucket must see before it can close, evicted at the
    watermark. The per-element HOF fold is interpreted (not codegen'd)
    but touches only each group's own array; for batch backfills use
    :func:`state_durations` (window lag, whole-stage codegen).

    ``carry_in`` is deliberately absent: the carried state is the
    previous bucket's LAST sample, which the watermark has already
    evicted when the next bucket opens — interpolate carries on the
    landed table downstream (the batch operator's carry_in=True).

    Update-mode materialization merge key: (key, bucket_ts, state) —
    a state's row never disappears as its bucket accumulates samples,
    so the group-key upsert is complete."""
    validate_bucket(bucket)
    if dict(events.dtypes).get(state_col) != "string":
        raise ValueError(
            f"state_durations_rollup: state column {state_col!r} must "
            "be string (the per-bucket fold keys a map on it); cast "
            "upstream")
    width_ms = bucket_width_seconds(bucket) * 1000
    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(state_col).isNotNull())
    tms = F.unix_millis(F.col(ts_col).cast("timestamp_ltz"))
    agg = (e.groupBy(F.col(key_col),
                     F.window(ts_col, bucket).start.alias("bucket_ts"))
           .agg(F.sort_array(F.collect_list(F.struct(
               F.col(ts_col).alias("t"), F.col(order_col).alias("o"),
               tms.alias("tm"), F.col(state_col).alias("st"))))
               .alias("_ss")))
    end_ms = (f"unix_millis(CAST(bucket_ts AS TIMESTAMP_LTZ)) "
              f"+ {width_ms}")
    # durations + transition flags per element (the lead/lag of the
    # batch form, replayed inside the sorted array; element_at is
    # 1-based and the CASE guards evaluation order)
    elems = F.expr(f"""
        transform(_ss, (x, i) -> named_struct(
            'st', x.st,
            'dt', (CASE WHEN i < size(_ss) - 1
                        THEN element_at(_ss, i + 2).tm
                        ELSE {end_ms} END) - x.tm,
            'en', CASE WHEN i = 0 THEN 1
                       WHEN element_at(_ss, i).st <> x.st THEN 1
                       ELSE 0 END))""")
    folded = F.aggregate(
        elems,
        F.expr("cast(map() as map<string, "
               "struct<held: bigint, en: bigint, n: bigint>>)"),
        lambda acc, x: F.map_concat(
            F.map_filter(acc, lambda k, _v: k != x["st"]),
            F.create_map(
                x["st"],
                F.struct(
                    (F.coalesce(F.try_element_at(acc, x["st"])["held"],
                                F.lit(0)) + x["dt"]).alias("held"),
                    (F.coalesce(F.try_element_at(acc, x["st"])["en"],
                                F.lit(0)) + x["en"]).alias("en"),
                    (F.coalesce(F.try_element_at(acc, x["st"])["n"],
                                F.lit(0)) + F.lit(1)).alias("n")))))
    return (agg.select(key_col, "bucket_ts", folded.alias("_m"))
            .select(key_col, "bucket_ts",
                    F.explode("_m").alias(state_col, "_v"))
            .select(key_col, "bucket_ts", state_col,
                    F.col("_v.held").alias("held_ms"),
                    F.col("_v.en").alias("n_entries"),
                    F.col("_v.n").alias("n_samples")))


def state_durations_sql(table: str = "events", key_col: str = "user_id",
                        ts_col: str = "ts", state_col: str = "event_type",
                        order_col: str = "event_id",
                        bucket: str = "1 day",
                        carry_in: bool = False) -> str:
    """DuckDB oracle for :func:`state_durations` — same millisecond
    holds (epoch_ms), same in-bucket lead/lag over the same (ts, order)
    ordering, integral SUMs cast back to BIGINT (the HUGEINT lesson);
    with ``carry_in`` the carried leading span arrives as a UNION ALL
    contribution exactly like the Spark side's exploded pair.
    Week-and-coarser buckets raise (require_sub_week_bucket, ADVICE
    r10): time_bucket's Monday origin would shift every bucket."""
    require_sub_week_bucket(bucket, "state_durations_sql")
    width_ms = bucket_width_seconds(bucket) * 1000
    tb = f"time_bucket(INTERVAL '{bucket}', {ts_col})"
    if carry_in:
        entered = ("CASE WHEN prev_st IS NULL THEN "
                   "  CASE WHEN prev_g IS NULL OR prev_g <> st "
                   "       THEN 1 ELSE 0 END "
                   "ELSE CASE WHEN prev_st <> st THEN 1 ELSE 0 END END")
        contribs = f"""
contribs AS (
  SELECT {key_col}, bucket_ts, st,
         COALESCE(nx, epoch_ms(bucket_ts) + {width_ms}) - tm AS dt,
         {entered} AS en, 1 AS smp
  FROM s
  UNION ALL
  SELECT {key_col}, bucket_ts, prev_g AS st,
         tm - epoch_ms(bucket_ts) AS dt, 0 AS en, 0 AS smp
  FROM s
  WHERE prev_st IS NULL AND prev_g IS NOT NULL
    AND tm > epoch_ms(bucket_ts))"""
    else:
        contribs = f"""
contribs AS (
  SELECT {key_col}, bucket_ts, st,
         COALESCE(nx, epoch_ms(bucket_ts) + {width_ms}) - tm AS dt,
         CASE WHEN prev_st IS NULL OR prev_st <> st
              THEN 1 ELSE 0 END AS en, 1 AS smp
  FROM s)"""
    return f"""
WITH s AS (
  SELECT {key_col}, {tb} AS bucket_ts, {state_col} AS st,
         epoch_ms({ts_col}) AS tm,
         lead(epoch_ms({ts_col})) OVER wb AS nx,
         lag({state_col}) OVER wb AS prev_st,
         lag({state_col}) OVER wk AS prev_g
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {state_col} IS NOT NULL
  WINDOW wb AS (PARTITION BY {key_col}, {tb}
                ORDER BY {ts_col}, {order_col}),
         wk AS (PARTITION BY {key_col}
                ORDER BY {ts_col}, {order_col})),{contribs}
SELECT {key_col}, bucket_ts, st AS {state_col},
       CAST(SUM(dt) AS BIGINT) AS held_ms,
       CAST(SUM(en) AS BIGINT) AS n_entries,
       CAST(SUM(smp) AS BIGINT) AS n_samples
FROM contribs GROUP BY 1, 2, 3
ORDER BY {key_col}, bucket_ts, {state_col}
"""


def heartbeat_uptime(events: DataFrame, key_col: str = "user_id",
                     ts_col: str = "ts", order_col: str = "event_id",
                     bucket: str = "1 day",
                     tolerance: str = "15 minutes",
                     carry_in: bool = False,
                     hot_split: str | None = None,
                     emit_downtime: bool = False) -> DataFrame:
    """Liveness rollup — Timescale ``heartbeat_agg`` / ``uptime``: each
    heartbeat keeps the series LIVE for ``tolerance``; a next beat
    inside the window extends it, a longer silence is an OUTAGE. Per
    (series, bucket): n_beats, uptime_ms = the measure of the union of
    the in-bucket live intervals = Σ least(gap to next in-bucket beat,
    tolerance) with the last beat clipped to least(tolerance,
    bucket_end − beat), and n_gaps = in-bucket silences longer than
    the tolerance (mid-bucket outages; the bucket-end clip is not a
    gap — the next bucket owns that silence).

    Two contracts, selected by ``carry_in`` (completing the q176/q180
    carry pair on the liveness curve):

    - ``carry_in=False`` (default, q178): SELF-CONTAINED per bucket —
      a beat near the previous bucket's end does not extend liveness
      into this one.
    - ``carry_in=True`` (q181, Timescale ``interpolated_uptime``): the
      series' previous beat — from any earlier bucket — extends its
      live window across the boundary, adding
      ``greatest(0, least(prev_beat + tolerance, first_beat) −
      bucket_start)`` to the bucket's uptime (never past the first
      in-bucket beat, so the union stays disjoint; only buckets with
      ≥1 beat are emitted, the family rollup convention). Gap
      ACCOUNTING is unchanged — n_gaps stays the count of in-bucket
      silences, a boundary-crossing outage is not attributed to
      either bucket (documented divergence knob; Timescale's
      ``interpolated_downtime`` is the complement — shipped as
      ``emit_downtime``, which appends
      ``downtime_ms = bucket_width − uptime_ms`` to the rollup, q182:
      measure-complement exact, so a boundary-crossing outage IS
      downtime even though it is not an in-bucket gap).

    Same-millisecond duplicate beats contribute 0 ms and no gap.
    NULL-ts beats are excluded.

    Exactness: pure integer milliseconds, nothing fractional.

    100 TB shape: ONE exchange — the lead window partitions by
    (key, bucket) and the aggregate groups by the same keys (the q175
    reuse); sort cost bounded by one series' one bucket. With carry-in
    the extra cross-bucket lag partitions by key alone and rides the
    same exchange (the q176 reuse), at the price of the per-key skew
    class; the carry is a per-row scalar added to the first beat's
    live span — no join, no explode.

    Past the per-key serialization cliff (the q173 class), ``hot_split``
    (an interval string, carry_in only) engages the counter_rate/TWA
    PARALLEL-PREFIX STITCH on the one per-key window: the carry lag
    partitions by (key, time-slice) and a boundary pass over the
    |slices|-row summary (per (key, slice) the last beat's epoch-ms —
    one map-side-combinable max, since the beat clock is monotone in
    the (ts, order) total order — lagged per key) carries the previous
    non-empty slice's last beat onto each slice's first beat. Results
    are IDENTICAL (equivalence property-pinned); a bucket-aligned
    slice shares the existing (key, bucket_ts) exchange (plan-pinned:
    aligned = generic − 1)."""
    validate_bucket(bucket)
    if hot_split is not None and not carry_in:
        raise ValueError(
            "hot_split only applies to carry_in=True (the self-contained "
            "form has no per-key window to split — it is already "
            "per-bucket-parallel)")
    width_ms = bucket_width_seconds(bucket) * 1000
    tol_us = validate_bucket(tolerance)
    if tol_us % 1000:
        raise ValueError(
            f"tolerance {tolerance!r} is not a whole number of "
            "milliseconds (liveness is measured in ms)")
    tol_ms = tol_us // 1000
    e = events.filter(F.col(ts_col).isNotNull())
    b = F.window(ts_col, bucket).start.alias("bucket_ts")
    tms = F.unix_millis(F.col(ts_col).cast("timestamp_ltz"))
    hot = carry_in and hot_split is not None
    # hot mode wraps the key in a one-field struct: struct equality is
    # null-safe under a PLAIN equi-join, so a NULL-key series keeps its
    # cross-slice carry through the boundary join without the extra
    # exchange an eqNullSafe condition's rewritten keys would cost
    # (ADVICE r11; see counter_rate).
    kcol = "_k" if hot else key_col
    kexpr = F.struct(F.col(key_col)).alias("_k") if hot else F.col(key_col)
    s = e.select(kexpr, b, tms.alias("_tm"),
                 F.col(order_col).alias("_o"), F.col(ts_col).alias("_ts"))
    w = Window.partitionBy(kcol, "bucket_ts").orderBy("_ts", "_o")
    bucket_start = F.unix_millis(F.col("bucket_ts").cast("timestamp_ltz"))
    bucket_end = bucket_start + F.lit(width_ms)
    nx = F.lead("_tm").over(w)
    live = F.least(F.coalesce(nx, bucket_end) - F.col("_tm"),
                   F.lit(tol_ms))
    if carry_in:
        first = F.lag("_tm").over(w).isNull()
        if hot_split is not None:
            # parallel-prefix stitch on the one per-key window: for a
            # slice-first beat the in-slice lag is NULL and the
            # boundary carry IS the global predecessor's clock;
            # everywhere else the in-slice lag equals the global lag.
            width_us = validate_bucket(hot_split)
            if width_us == validate_bucket(bucket):
                sl_cols = [kcol, "bucket_ts"]
            else:
                s = s.withColumn(
                    "_sl",
                    F.expr("unix_micros(CAST(_ts AS TIMESTAMP_LTZ)) "
                           f"DIV {width_us}"))
                sl_cols = [kcol, "_sl"]
            wsl = Window.partitionBy(*sl_cols).orderBy("_ts", "_o")
            # max(_tm) IS the last beat's clock: _tm is monotone in the
            # (_ts, _o) total order (ms truncation of _ts)
            bnd = s.groupBy(*sl_cols).agg(F.max("_tm").alias("_last_tm"))
            wk_sl = Window.partitionBy(kcol).orderBy(sl_cols[1])
            bnd = bnd.select(*sl_cols,
                             F.lag("_last_tm").over(wk_sl)
                             .alias("_carry"))
            s = (s.withColumn("_pin_sl", F.lag("_tm").over(wsl))
                 .join(bnd, sl_cols, "left"))
            prev_tm = F.coalesce(F.col("_pin_sl"), F.col("_carry"))
        else:
            wk = Window.partitionBy(kcol).orderBy("_ts", "_o")
            prev_tm = F.lag("_tm").over(wk)
        live = live + F.when(
            first & prev_tm.isNotNull(),
            F.greatest(
                F.lit(0),
                F.least(prev_tm + tol_ms, F.col("_tm")) - bucket_start)
        ).otherwise(F.lit(0))
    gap = F.when(nx.isNotNull() & (nx - F.col("_tm") > tol_ms), 1) \
        .otherwise(0)
    aggs = [F.count(F.lit(1)).alias("n_beats"),
            F.sum("_lv").alias("uptime_ms"),
            F.sum("_gp").alias("n_gaps")]
    if emit_downtime:
        # Timescale downtime / interpolated_downtime: the bucket-width
        # complement of (interpolated_)uptime — derived IN the rollup,
        # zero extra shuffle; only emitted (>= 1 beat) buckets, the
        # family convention. This is the documented gap-accounting
        # divergence knob's complement (see n_gaps above): a
        # boundary-crossing outage IS downtime here even though it is
        # not an in-bucket gap.
        aggs.append((F.lit(width_ms) - F.sum("_lv")).alias("downtime_ms"))
    agg = (s.select(kcol, "bucket_ts", live.alias("_lv"),
                    gap.alias("_gp"))
           .groupBy(kcol, "bucket_ts")
           .agg(*aggs))
    if not hot:
        return agg.orderBy(key_col, "bucket_ts")
    # unwrap the struct key AFTER the sort (ordering by the struct IS
    # ordering by its single field)
    return (agg.orderBy("_k", "bucket_ts")
            .select(F.col("_k").getField(key_col).alias(key_col),
                    "bucket_ts", "n_beats", "uptime_ms", "n_gaps",
                    *(["downtime_ms"] if emit_downtime else [])))


def heartbeat_uptime_rollup(events: DataFrame, key_col: str = "user_id",
                            ts_col: str = "ts",
                            order_col: str = "event_id",
                            bucket: str = "1 day",
                            tolerance: str = "15 minutes",
                            emit_downtime: bool = False) -> DataFrame:
    """The self-contained (carry_in=False) :func:`heartbeat_uptime` in
    stream-safe form, via the recipe of :func:`state_durations_rollup`:
    one collect_list aggregation over the (ts, order) total order,
    then a stateless fold clips each beat against its in-array
    successor (or the bucket end) at the tolerance — the batch form's
    lead window, replayed where the future is visible. carry_in is
    deliberately absent (the carried beat is watermark-evicted state;
    interpolate downstream on the landed table). Update-mode merge
    key: (key, bucket_ts)."""
    validate_bucket(bucket)
    width_ms = bucket_width_seconds(bucket) * 1000
    tol_us = validate_bucket(tolerance)
    if tol_us % 1000:
        raise ValueError(
            f"tolerance {tolerance!r} is not a whole number of "
            "milliseconds (liveness is measured in ms)")
    tol_ms = tol_us // 1000
    e = events.filter(F.col(ts_col).isNotNull())
    tms = F.unix_millis(F.col(ts_col).cast("timestamp_ltz"))
    agg = (e.groupBy(F.col(key_col),
                     F.window(ts_col, bucket).start.alias("bucket_ts"))
           .agg(F.sort_array(F.collect_list(F.struct(
               F.col(ts_col).alias("t"), F.col(order_col).alias("o"),
               tms.alias("tm")))).alias("_bb")))
    end_ms = (f"unix_millis(CAST(bucket_ts AS TIMESTAMP_LTZ)) "
              f"+ {width_ms}")
    stats = F.expr(f"""
        aggregate(
            transform(_bb, (x, i) -> named_struct(
                'lv', least((CASE WHEN i < size(_bb) - 1
                                  THEN element_at(_bb, i + 2).tm
                                  ELSE {end_ms} END) - x.tm,
                            {tol_ms}L),
                'gp', CASE WHEN i < size(_bb) - 1
                            AND element_at(_bb, i + 2).tm - x.tm
                                > {tol_ms} THEN 1 ELSE 0 END)),
            named_struct('lv', 0L, 'gp', 0L),
            (acc, x) -> named_struct('lv', acc.lv + x.lv,
                                     'gp', acc.gp + x.gp))""")
    cols = [F.col(key_col), F.col("bucket_ts"),
            F.size("_bb").cast("bigint").alias("n_beats"),
            F.col("_s.lv").alias("uptime_ms"),
            F.col("_s.gp").alias("n_gaps")]
    if emit_downtime:
        cols.append((F.lit(width_ms) - F.col("_s.lv"))
                    .alias("downtime_ms"))
    return agg.select(key_col, "bucket_ts", stats.alias("_s"), "_bb") \
              .select(*cols)


def heartbeat_uptime_sql(table: str = "events", key_col: str = "user_id",
                         ts_col: str = "ts", order_col: str = "event_id",
                         bucket: str = "1 day",
                         tolerance: str = "15 minutes",
                         carry_in: bool = False,
                         emit_downtime: bool = False) -> str:
    """DuckDB oracle for :func:`heartbeat_uptime` — same millisecond
    clock (epoch_ms), same in-bucket lead, same least() clipping,
    same cross-bucket carry term for ``carry_in``, same width-minus-SUM
    complement for ``emit_downtime``, integral SUMs cast back to
    BIGINT. Week-and-coarser buckets raise (require_sub_week_bucket,
    ADVICE r10): time_bucket's Monday origin would shift every
    bucket."""
    require_sub_week_bucket(bucket, "heartbeat_uptime_sql")
    width_ms = bucket_width_seconds(bucket) * 1000
    tol_ms = validate_bucket(tolerance) // 1000
    tb = f"time_bucket(INTERVAL '{bucket}', {ts_col})"
    carry = ""
    if carry_in:
        carry = f"""
           + CASE WHEN lag(tm) OVER wb IS NULL
                   AND lag(tm) OVER wk IS NOT NULL
                  THEN greatest(0, least(lag(tm) OVER wk + {tol_ms}, tm)
                                   - epoch_ms(bucket_ts))
                  ELSE 0 END"""
    downtime = ""
    if emit_downtime:
        downtime = (f",\n       CAST({width_ms} - SUM(lv) AS BIGINT) "
                    "AS downtime_ms")
    return f"""
WITH s0 AS (
  SELECT {key_col}, {tb} AS bucket_ts, epoch_ms({ts_col}) AS tm,
         {ts_col} AS t, {order_col} AS o
  FROM {table}
  WHERE {ts_col} IS NOT NULL),
s AS (
  SELECT {key_col}, bucket_ts, tm,
         least(COALESCE(lead(tm) OVER wb,
                        epoch_ms(bucket_ts) + {width_ms}) - tm,
               {tol_ms}){carry} AS lv,
         CASE WHEN lead(tm) OVER wb IS NOT NULL
               AND lead(tm) OVER wb - tm > {tol_ms}
              THEN 1 ELSE 0 END AS gp
  FROM s0
  WINDOW wb AS (PARTITION BY {key_col}, bucket_ts ORDER BY t, o),
         wk AS (PARTITION BY {key_col} ORDER BY t, o))
SELECT {key_col}, bucket_ts,
       CAST(COUNT(*) AS BIGINT) AS n_beats,
       CAST(SUM(lv) AS BIGINT) AS uptime_ms,
       CAST(SUM(gp) AS BIGINT) AS n_gaps{downtime}
FROM s GROUP BY 1, 2
ORDER BY {key_col}, bucket_ts
"""


def instant_rate(events: DataFrame, key_col: str = "user_id",
                 ts_col: str = "ts", value_col: str = "value",
                 order_col: str = "event_id",
                 bucket: str = "1 day") -> DataFrame:
    """Instant rate — Prometheus ``irate()``: per (series, bucket) the
    rate between the LAST TWO samples, in value units per second at
    exactly 4 decimals. Where counter_rate (q173) averages every
    sample-to-sample step across the bucket, irate reacts to the
    freshest movement only — the standard choice for volatile,
    fast-moving counters. Prometheus reset semantics on the final
    step: value dropping means counter reset, the increase is the new
    value itself. NULL when the bucket has fewer than two samples or
    the last two share a millisecond (zero time delta). Values must
    be non-negative (counters are; the fixed-point quotient is the
    unsigned half-up form — resets make the increase non-negative by
    construction). A negative value RAISES on both engines (the ohlc
    raise_error pattern, ADVICE r11): with a negative increase the
    half-up form is invalid and Spark's truncating DIV disagrees with
    DuckDB's flooring // — the exact divergence the sibling trend
    operator sign-splits to avoid.

    Exactness: integral cents over integer millisecond deltas, the
    q59 half-up quotient — rate(value/s) = inc·10/Δms rendered as
    (2·inc·10·10⁴ + Δms) DIV (2·Δms); both engines bit-agree. NULL-ts
    and NULL-value samples are missed scrapes, excluded up front; a
    NULL key is a legitimate series.

    100 TB shape: ONE exchange — the in-bucket lag window partitions
    by (key, bucket) and the rollup groups by the same keys (the q175
    subset-clustering reuse); the last-two pick is a
    map-side-combinable max_by over the windowed rows, so the shuffle
    after the window is rollup-sized. Reference behavior: Prometheus
    irate() (public semantics)."""
    validate_bucket(bucket)
    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
    raw_cents = (F.col(value_col).cast("decimal(12,2)") * 100) \
        .cast("bigint")
    cents = (F.when(raw_cents < 0,
                    F.raise_error(F.format_string(
                        "instant_rate: negative counter value (%s "
                        "cents): irate's unsigned half-up quotient "
                        "needs non-negative counters", raw_cents)))
             .otherwise(raw_cents))
    b = F.window(ts_col, bucket).start.alias("bucket_ts")
    tms = F.unix_millis(F.col(ts_col).cast("timestamp_ltz"))
    s = e.select(F.col(key_col), b, cents.alias("_c"), tms.alias("_tm"),
                 F.col(order_col).alias("_o"), F.col(ts_col).alias("_ts"))
    w = Window.partitionBy(key_col, "bucket_ts").orderBy("_ts", "_o")
    last = (s.select(key_col, "bucket_ts", "_ts", "_o", "_c", "_tm",
                     F.lag("_c").over(w).alias("_pc"),
                     F.lag("_tm").over(w).alias("_ptm"))
            .groupBy(key_col, "bucket_ts")
            .agg(F.count(F.lit(1)).alias("n_samples"),
                 F.max_by(F.struct("_c", "_pc", "_tm", "_ptm"),
                          F.struct("_ts", "_o")).alias("_l")))
    c, pc = F.col("_l._c"), F.col("_l._pc")
    dms = F.col("_l._tm") - F.col("_l._ptm")
    inc = F.when(c >= pc, c - pc).otherwise(c)
    rate4 = F.expr("(2 * _inc * 10 * 10000 + _dms) DIV (2 * _dms)")
    return (last.select(key_col, "bucket_ts", "n_samples",
                        inc.alias("_inc"), dms.alias("_dms"))
            .select(key_col, "bucket_ts", "n_samples",
                    F.when(F.col("_dms") > 0,
                           rate4.cast("double") / 10000.0)
                    .alias("irate_per_sec"))
            .orderBy(F.col(key_col).asc_nulls_last(), "bucket_ts"))


def instant_rate_rollup(events: DataFrame, key_col: str = "user_id",
                        ts_col: str = "ts", value_col: str = "value",
                        order_col: str = "event_id",
                        bucket: str = "1 day") -> DataFrame:
    """:func:`instant_rate` in stream-safe form, via the collect_list
    recipe of :func:`state_durations_rollup`: the batch form's
    in-bucket lag is replayed on the sorted array's last two elements
    (Prometheus reset rule on the final step, the same unsigned
    half-up fixed-point quotient rendered in SQL so both engines
    bit-agree). The negative-counter guard raises inside the fold
    exactly like the batch raise_error. State: the open buckets'
    sample lists, watermark-evicted."""
    validate_bucket(bucket)
    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
    c = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    cg = F.when(c < 0, F.raise_error(F.format_string(
        "instant_rate: negative counter value (%s cents): irate's "
        "unsigned half-up quotient needs non-negative counters",
        c))).otherwise(c)
    tms = F.unix_millis(F.col(ts_col).cast("timestamp_ltz"))
    agg = (e.groupBy(F.col(key_col),
                     F.window(ts_col, bucket).start.alias("bucket_ts"))
           .agg(F.sort_array(F.collect_list(F.struct(
               F.col(ts_col).alias("t"), F.col(order_col).alias("o"),
               cg.alias("c"), tms.alias("tm")))).alias("_vv")))
    n = F.size("_vv")
    rate4 = F.expr("(2 * _inc * 10 * 10000 + _dms) DIV (2 * _dms)")
    picked = (agg.select(
        key_col, "bucket_ts", n.cast("bigint").alias("n_samples"),
        # ANSI element_at(-2) raises on a 1-element array — the when()
        # guards evaluation (CASE branches are conditional)
        F.element_at("_vv", -1).alias("_last"),
        F.when(n >= 2, F.element_at("_vv", -2)).alias("_prev")))
    last, prev = F.col("_last"), F.col("_prev")
    inc = F.when(last["c"] >= prev["c"], last["c"] - prev["c"]) \
        .otherwise(last["c"])
    return (picked
            .select(key_col, "bucket_ts", "n_samples",
                    inc.alias("_inc"),
                    (last["tm"] - prev["tm"]).alias("_dms"))
            .select(key_col, "bucket_ts", "n_samples",
                    F.when(F.col("_dms") > 0,
                           rate4.cast("double") / 10000.0)
                    .alias("irate_per_sec")))


def instant_rate_sql(table: str = "events", key_col: str = "user_id",
                     ts_col: str = "ts", value_col: str = "value",
                     order_col: str = "event_id",
                     bucket: str = "1 day") -> str:
    """DuckDB oracle for :func:`instant_rate` — same in-bucket lag over
    the same (ts, order) ordering, the last row picked by
    row_number() DESC instead of max_by (an independent mechanism for
    the same total order), same reset rule, same unsigned half-up
    quotient. Week-and-coarser buckets raise (require_sub_week_bucket,
    ADVICE r10); a negative counter value raises via error() exactly
    like the Spark side's raise_error guard (ADVICE r11 — the loud
    twin of the same precondition)."""
    require_sub_week_bucket(bucket, "instant_rate_sql")
    tb = f"time_bucket(INTERVAL '{bucket}', {ts_col})"
    cents = f"CAST(CAST({value_col} AS DECIMAL(12,2)) * 100 AS BIGINT)"
    return f"""
WITH s AS (
  SELECT {key_col}, {tb} AS bucket_ts,
         CASE WHEN {cents} < 0
              THEN error('instant_rate: negative counter value ('
                         || {cents} || ' cents): irate''s unsigned '
                         || 'half-up quotient needs non-negative '
                         || 'counters')
              ELSE {cents} END AS c,
         epoch_ms({ts_col}) AS tm, {ts_col} AS t, {order_col} AS o
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL),
r AS (
  SELECT {key_col}, bucket_ts, c, tm,
         lag(c) OVER wb AS pc, lag(tm) OVER wb AS ptm,
         CAST(COUNT(*) OVER (PARTITION BY {key_col}, bucket_ts)
              AS BIGINT) AS n_samples,
         row_number() OVER (PARTITION BY {key_col}, bucket_ts
                            ORDER BY t DESC, o DESC) AS rn
  FROM s
  WINDOW wb AS (PARTITION BY {key_col}, bucket_ts ORDER BY t, o))
SELECT {key_col}, bucket_ts, n_samples,
       CASE WHEN tm - ptm > 0 THEN
         CAST((2 * (CASE WHEN c >= pc THEN c - pc ELSE c END) * 10
               * 10000 + (tm - ptm)) // (2 * (tm - ptm)) AS DOUBLE)
         / 10000.0
       END AS irate_per_sec
FROM r WHERE rn = 1
ORDER BY {key_col} NULLS LAST, bucket_ts
"""


def value_histogram(events: DataFrame, key_col: str = "user_id",
                    ts_col: str = "ts", value_col: str = "value",
                    bucket: str = "1 day", lo: float = 0.0,
                    hi: float = 100.0, nbins: int = 10) -> DataFrame:
    """Per-(series, bucket) value histogram — Timescale ``histogram()``:
    ``nbins`` equal-width interior bins over [lo, hi) plus an
    underflow bin 0 (value < lo) and an overflow bin nbins+1
    (value ≥ hi), one output row per NON-EMPTY (series, bucket, bin)
    with its sample count (the relational long form — a dense array
    per row would fight column pruning and the oracle; downstream
    pivots are one groupBy away).

    Exactness: binning runs on integral cents —
    ``bin = (v_c − lo_c)·nbins DIV (hi_c − lo_c) + 1`` for in-range
    values, where truncating integer division on non-negative
    operands IS floor on both engines; lo/hi quantize to cents via
    decimal(12,2) exactly like the values, so edges land exactly
    (a sample AT an interior edge belongs to the higher bin, AT hi to
    overflow — the standard half-open convention). Counts are exact
    integers. NULL-ts/NULL-value samples are missed scrapes, excluded;
    a NULL key is a legitimate series.

    100 TB shape: ONE map-side-combinable hash aggregation on (key,
    bucket, bin) — the shuffle is histogram-sized (≤ nbins+2 rows per
    series-bucket per map partition), never sample-sized; no window,
    no join (the q174 OHLC shape). Reference behavior:
    timescale/toolkit histogram + Prometheus le-bucket convention
    (public semantics)."""
    return value_histogram_rollup(events, key_col, ts_col, value_col,
                                  bucket, lo, hi, nbins) \
        .orderBy(F.col(key_col).asc_nulls_last(), "bucket_ts", "bin")


def value_histogram_rollup(events: DataFrame, key_col: str = "user_id",
                           ts_col: str = "ts",
                           value_col: str = "value",
                           bucket: str = "1 day", lo: float = 0.0,
                           hi: float = 100.0,
                           nbins: int = 10) -> DataFrame:
    """The :func:`value_histogram` aggregation WITHOUT the output sort
    — one COUNT per watermark-evictable (key, window, bin) group, so
    this form runs UNCHANGED as a Structured Streaming incremental
    rollup over a watermarked frame (plans/builder.Rollup.stream;
    equivalence pinned in tests/test_streaming.py). Batch callers want
    :func:`value_histogram`."""
    validate_bucket(bucket)
    if nbins < 1:
        raise ValueError(f"nbins must be >= 1: {nbins}")
    from decimal import Decimal
    lo_c = int(Decimal(str(lo)).quantize(Decimal("0.01")) * 100)
    hi_c = int(Decimal(str(hi)).quantize(Decimal("0.01")) * 100)
    if hi_c <= lo_c:
        raise ValueError(
            f"histogram range is empty: lo={lo} hi={hi} (hi must exceed "
            "lo by at least one cent)")
    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
    cents = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    b = F.window(ts_col, bucket).start.alias("bucket_ts")
    v = F.col("_c")
    # (v−lo)·nbins stays far inside int64 (|v| ≤ 10¹² cents), and
    # truncating DIV == floor here (non-negative operands)
    bin_ = (F.when(v < lo_c, F.lit(0))
            .when(v >= hi_c, F.lit(nbins + 1))
            .otherwise(F.expr(f"((_c - {lo_c}) * {nbins}) "
                              f"DIV ({hi_c} - {lo_c}) + 1")))
    return (e.select(F.col(key_col), b, cents.alias("_c"))
            .select(key_col, "bucket_ts",
                    bin_.cast("bigint").alias("bin"))
            .groupBy(key_col, "bucket_ts", "bin")
            .agg(F.count(F.lit(1)).alias("n_samples")))


def value_histogram_sql(table: str = "events", key_col: str = "user_id",
                        ts_col: str = "ts", value_col: str = "value",
                        bucket: str = "1 day", lo: float = 0.0,
                        hi: float = 100.0, nbins: int = 10) -> str:
    """DuckDB oracle for :func:`value_histogram` — same cents
    quantization, same integer floor binning (// on non-negative
    operands), same under/overflow bins, integral COUNT cast to
    BIGINT. Week-and-coarser buckets raise (require_sub_week_bucket,
    ADVICE r10)."""
    require_sub_week_bucket(bucket, "value_histogram_sql")
    if nbins < 1:
        raise ValueError(f"nbins must be >= 1: {nbins}")
    from decimal import Decimal
    lo_c = int(Decimal(str(lo)).quantize(Decimal("0.01")) * 100)
    hi_c = int(Decimal(str(hi)).quantize(Decimal("0.01")) * 100)
    if hi_c <= lo_c:
        raise ValueError(
            f"histogram range is empty: lo={lo} hi={hi} (hi must exceed "
            "lo by at least one cent)")
    tb = f"time_bucket(INTERVAL '{bucket}', {ts_col})"
    return f"""
WITH s AS (
  SELECT {key_col}, {tb} AS bucket_ts,
         CAST(CAST({value_col} AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL)
SELECT {key_col}, bucket_ts,
       CAST(CASE WHEN c < {lo_c} THEN 0
                 WHEN c >= {hi_c} THEN {nbins + 1}
                 ELSE ((c - {lo_c}) * {nbins}) // ({hi_c} - {lo_c}) + 1
            END AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_samples
FROM s GROUP BY 1, 2, 3
ORDER BY {key_col} NULLS LAST, bucket_ts, bin
"""


def delta_rollup(events: DataFrame, key_col: str = "user_id",
                 ts_col: str = "ts", value_col: str = "value",
                 order_col: str = "event_id",
                 bucket: str = "1 day") -> DataFrame:
    """Per-(series, bucket) gauge delta — Timescale ``delta()``: the
    LAST value minus the FIRST value in the bucket, in value units
    (exact: integer cents difference, one final /100 double cast).
    Pure min_by/max_by aggregate over the q174 padded ordering key
    (same non-negative domain guard), so this form runs UNCHANGED as
    a Structured Streaming incremental rollup — state is one
    (first, last) pair per open (key, window) group.

    100 TB shape: one map-side-combinable aggregate, one exchange,
    no window functions. NULL-ts / NULL-value samples are missed
    scrapes, excluded; a NULL key is a legitimate series. Reference
    behavior: TimescaleDB counter_agg/stats delta (public semantics).
    """
    validate_bucket(bucket)
    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
    c = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    ep = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    oc = F.col(order_col).cast("bigint")
    key = (
        F.when(oc.isNull() | (ep < 0) | (oc < 0),
               F.raise_error(F.format_string(
                   "delta: ordering key out of domain (epoch_micros=%s, "
                   f"{order_col}=%s): the padded-string first/last key "
                   "needs non-negative (post-1970) timestamps and "
                   "non-negative, NON-NULL order ids", ep, oc)))
        .otherwise(F.format_string("%019d%019d", ep, oc)))
    return (e.groupBy(key_col,
                      F.window(ts_col, bucket).start.alias("bucket_ts"))
            .agg(F.count(F.lit(1)).alias("n_samples"),
                 ((F.max_by(c, key) - F.min_by(c, key)).cast("double")
                  / 100.0).alias("delta")))


def delta(events: DataFrame, key_col: str = "user_id",
          ts_col: str = "ts", value_col: str = "value",
          order_col: str = "event_id", bucket: str = "1 day") -> DataFrame:
    """:func:`delta_rollup` plus the deterministic batch output order."""
    return (delta_rollup(events, key_col, ts_col, value_col, order_col,
                         bucket)
            .orderBy(F.col(key_col).asc_nulls_last(), "bucket_ts"))


def delta_sql(table: str = "events", key_col: str = "user_id",
              ts_col: str = "ts", value_col: str = "value",
              order_col: str = "event_id", bucket: str = "1 day") -> str:
    """DuckDB oracle for :func:`delta` — arg_max − arg_min over the
    same 19+19-digit padded ordering key (the q174 lpad contract),
    integral cents difference cast to double once. Week-and-coarser
    buckets raise (require_sub_week_bucket, ADVICE r10)."""
    require_sub_week_bucket(bucket, "delta_sql")
    k = (f"lpad(CAST(epoch_us({ts_col}) AS VARCHAR), 19, '0') || "
         f"lpad(CAST({order_col} AS VARCHAR), 19, '0')")
    c = f"CAST(CAST({value_col} AS DECIMAL(12,2)) * 100 AS BIGINT)"
    return f"""
SELECT {key_col},
       time_bucket(INTERVAL '{bucket}', {ts_col}) AS bucket_ts,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(arg_max({c}, {k}) - arg_min({c}, {k}) AS DOUBLE) / 100.0
         AS delta
FROM {table}
WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL
GROUP BY 1, 2
ORDER BY {key_col} NULLS LAST, bucket_ts
"""


def changes(events: DataFrame, key_col: str = "user_id",
            ts_col: str = "ts", value_col: str = "value",
            order_col: str = "event_id",
            bucket: str = "1 day") -> DataFrame:
    """Per-(series, bucket) change count — Prometheus ``changes()``:
    how many times the value CHANGED between consecutive in-bucket
    samples (on exact integer cents; the bucket's first sample is a
    baseline, not a change — the self-contained q177 convention).

    100 TB shape: the in-bucket lag window partitions by (key,
    bucket_ts) and the rollup groups by the same keys, so both ride
    ONE hash exchange (the q175 subset-clustering reuse); the shuffle
    after the window is rollup-sized. NULL-ts / NULL-value samples
    excluded; NULL key legitimate. Reference behavior: Prometheus
    changes() (public semantics)."""
    validate_bucket(bucket)
    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
    c = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    s = e.select(F.col(key_col),
                 F.window(ts_col, bucket).start.alias("bucket_ts"),
                 c.alias("_c"), F.col(ts_col).alias("_ts"),
                 F.col(order_col).alias("_o"))
    w = Window.partitionBy(key_col, "bucket_ts").orderBy("_ts", "_o")
    ch = F.when(F.lag("_c").over(w).isNotNull()
                & (F.lag("_c").over(w) != F.col("_c")), 1).otherwise(0)
    return (s.select(key_col, "bucket_ts", ch.alias("_ch"))
            .groupBy(key_col, "bucket_ts")
            .agg(F.count(F.lit(1)).alias("n_samples"),
                 F.sum("_ch").alias("n_changes"))
            .orderBy(F.col(key_col).asc_nulls_last(), "bucket_ts"))


def changes_rollup(events: DataFrame, key_col: str = "user_id",
                   ts_col: str = "ts", value_col: str = "value",
                   order_col: str = "event_id",
                   bucket: str = "1 day") -> DataFrame:
    """:func:`changes` in stream-safe form, via the collect_list recipe
    of :func:`state_durations_rollup`: one aggregation collects the
    bucket's (ts, order, cents) samples, a stateless fold counts
    adjacent differing cents in the sorted array. State: the open
    buckets' sample lists, watermark-evicted."""
    validate_bucket(bucket)
    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
    c = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    agg = (e.groupBy(F.col(key_col),
                     F.window(ts_col, bucket).start.alias("bucket_ts"))
           .agg(F.sort_array(F.collect_list(F.struct(
               F.col(ts_col).alias("t"), F.col(order_col).alias("o"),
               c.alias("c")))).alias("_vv")))
    n_changes = F.expr("""
        aggregate(
            transform(_vv, (x, i) -> CASE WHEN i > 0
                 AND element_at(_vv, i).c <> x.c THEN 1L ELSE 0L END),
            0L, (acc, x) -> acc + x)""")
    return (agg.select(key_col, "bucket_ts",
                       F.size("_vv").cast("bigint").alias("n_samples"),
                       n_changes.alias("n_changes")))


def changes_sql(table: str = "events", key_col: str = "user_id",
                ts_col: str = "ts", value_col: str = "value",
                order_col: str = "event_id",
                bucket: str = "1 day") -> str:
    """DuckDB oracle for :func:`changes` — same in-bucket lag over the
    same (ts, order) ordering on the same integral cents, integral SUM
    cast back to BIGINT (the HUGEINT lesson). Week-and-coarser buckets
    raise (require_sub_week_bucket, ADVICE r10)."""
    require_sub_week_bucket(bucket, "changes_sql")
    tb = f"time_bucket(INTERVAL '{bucket}', {ts_col})"
    return f"""
WITH s AS (
  SELECT {key_col}, {tb} AS bucket_ts,
         CAST(CAST({value_col} AS DECIMAL(12,2)) * 100 AS BIGINT) AS c,
         {ts_col} AS t, {order_col} AS o
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL),
r AS (
  SELECT {key_col}, bucket_ts, c,
         lag(c) OVER (PARTITION BY {key_col}, bucket_ts
                      ORDER BY t, o) AS pc
  FROM s)
SELECT {key_col}, bucket_ts,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(CASE WHEN pc IS NOT NULL AND pc <> c THEN 1 ELSE 0 END)
            AS BIGINT) AS n_changes
FROM r GROUP BY 1, 2
ORDER BY {key_col} NULLS LAST, bucket_ts
"""


def value_stats_rollup(events: DataFrame, key_col: str = "user_id",
                       ts_col: str = "ts", value_col: str = "value",
                       bucket: str = "1 day") -> DataFrame:
    """Per-(series, bucket) mean and sample variance — Timescale
    ``stats_agg`` → average/variance: both at exactly 4 decimals from
    pure integer sums, so both engines bit-agree and the rollup runs
    UNCHANGED as a Structured Streaming incremental aggregate (state:
    three integer sums per open group).

    Exactness: on integral cents c, mean = Σc/(100·n) rendered as the
    sign-split half-up quotient (2·|Σc|·100 + n) DIV (2·n) at scale 4
    (Spark DIV truncates, DuckDB // floors — they agree only on
    non-negative magnitudes, the q183 lesson); sample variance uses
    S = n·Σc² − (Σc)² ≥ 0 (so no sign split) with
    var4 = (2·S + d) DIV (2·d), d = 10⁴·n·(n−1)/10⁴ · ... = n·(n−1)
    — variance in value² units at 4 decimals is exactly
    S/(n·(n−1)) half-up. NULL when n < 2. Sums ride decimal(38,0):
    exact while n·max(c²) < 10³⁸ (n·|c|max ≤ 10¹⁹ — far past any real
    bucket; past it Spark raises on overflow rather than drifting,
    ANSI mode). Reference behavior: TimescaleDB stats_agg (public
    semantics)."""
    validate_bucket(bucket)
    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
    c = ((F.col(value_col).cast("decimal(12,2)") * 100)
         .cast("decimal(19,0)"))
    agg = (e.select(F.col(key_col),
                    F.window(ts_col, bucket).start.alias("bucket_ts"),
                    c.alias("_c"), (c * c).alias("_cc"))
           .groupBy(key_col, "bucket_ts")
           .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
                F.sum("_c").cast("decimal(38,0)").alias("_sc"),
                F.sum("_cc").cast("decimal(38,0)").alias("_scc")))
    mean_mag = F.expr("(2 * abs(_sc) * 100 + _n) DIV (2 * _n)")
    mean4 = F.when(F.col("_sc") < 0, -mean_mag).otherwise(mean_mag)
    var4 = F.expr("(2 * (_n * _scc - _sc * _sc) + (_n * (_n - 1))) "
                  "DIV (2 * (_n * (_n - 1)))")
    return (agg.select(key_col, "bucket_ts",
                       F.col("_n").cast("bigint").alias("n_samples"),
                       (mean4.cast("double") / 10000.0).alias("mean"),
                       F.when(F.col("_n") > 1,
                              var4.cast("double") / 10000.0)
                       .alias("variance")))


def value_stats(events: DataFrame, key_col: str = "user_id",
                ts_col: str = "ts", value_col: str = "value",
                bucket: str = "1 day") -> DataFrame:
    """:func:`value_stats_rollup` plus the deterministic batch output
    order."""
    return (value_stats_rollup(events, key_col, ts_col, value_col,
                               bucket)
            .orderBy(F.col(key_col).asc_nulls_last(), "bucket_ts"))


def value_stats_sql(table: str = "events", key_col: str = "user_id",
                    ts_col: str = "ts", value_col: str = "value",
                    bucket: str = "1 day") -> str:
    """DuckDB oracle for :func:`value_stats` — same three integer sums
    in HUGEINT (exact like the Spark side's decimal(38,0)), same
    sign-split half-up mean quotient, same non-negative variance
    quotient, integral count cast back to BIGINT. Week-and-coarser
    buckets raise (require_sub_week_bucket, ADVICE r10)."""
    require_sub_week_bucket(bucket, "value_stats_sql")
    tb = f"time_bucket(INTERVAL '{bucket}', {ts_col})"
    return f"""
WITH s AS (
  SELECT {key_col}, {tb} AS bucket_ts,
         CAST(CAST(CAST({value_col} AS DECIMAL(12,2)) * 100 AS BIGINT)
              AS HUGEINT) AS c
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL),
a AS (
  SELECT {key_col}, bucket_ts, CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(c) AS sc, SUM(c * c) AS scc
  FROM s GROUP BY 1, 2)
SELECT {key_col}, bucket_ts, CAST(n AS BIGINT) AS n_samples,
       CAST(CAST(CASE WHEN sc < 0
            THEN -((2 * (-sc) * 100 + n) // (2 * n))
            ELSE ((2 * sc * 100 + n) // (2 * n)) END AS BIGINT)
            AS DOUBLE) / 10000.0 AS mean,
       CASE WHEN n > 1 THEN
         CAST(CAST((2 * (n * scc - sc * sc) + (n * (n - 1)))
              // (2 * (n * (n - 1))) AS BIGINT) AS DOUBLE) / 10000.0
       END AS variance
FROM a
ORDER BY {key_col} NULLS LAST, bucket_ts
"""


def value_topk(events: DataFrame, key_col: str = "user_id",
               ts_col: str = "ts", value_col: str = "value",
               bucket: str = "1 day", k: int = 3) -> DataFrame:
    """Per-(series, bucket) top-k most frequent values — the
    ClickHouse ``topK`` / heavy-hitters rollup in exact relational
    form: one row per (key, bucket, rank ≤ k) with the value (exact
    cents → double) and its occurrence count. Deterministic total
    order: count DESC, then value ASC (ties at the cut resolve to the
    smaller value — both engines replay it exactly).

    100 TB shape: first a map-side-combinable (key, bucket, cents)
    count — the shuffle is distinct-values-sized, never row-sized;
    then a rank window with a LITERAL limit, so
    InferWindowGroupLimit bounds it (a Partial WindowGroupLimit below
    the exchange ships ≤ k rows per group per map partition — the
    round-7 lesson: trust the rule, don't hand-build the pre-cut).
    NULL-ts / NULL-value samples excluded; NULL key legitimate.
    Reference behavior: ClickHouse topK (public semantics; exact
    form — the sketchy variant is approx_count_distinct territory)."""
    validate_bucket(bucket)
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
    c = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    counts = (e.select(F.col(key_col),
                       F.window(ts_col, bucket).start.alias("bucket_ts"),
                       c.alias("_c"))
              .groupBy(key_col, "bucket_ts", "_c")
              .agg(F.count(F.lit(1)).alias("n_occurrences")))
    w = Window.partitionBy(key_col, "bucket_ts") \
        .orderBy(F.col("n_occurrences").desc(), F.col("_c").asc())
    return (counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(key_col, "bucket_ts", "rank",
                    (F.col("_c").cast("double") / 100.0).alias("value"),
                    "n_occurrences")
            .orderBy(F.col(key_col).asc_nulls_last(), "bucket_ts",
                     "rank"))


def value_topk_sql(table: str = "events", key_col: str = "user_id",
                   ts_col: str = "ts", value_col: str = "value",
                   bucket: str = "1 day", k: int = 3) -> str:
    """DuckDB oracle for :func:`value_topk` — same cents counts, same
    (count DESC, value ASC) total order via row_number(), integral
    count cast back to BIGINT. Week-and-coarser buckets raise
    (require_sub_week_bucket, ADVICE r10)."""
    require_sub_week_bucket(bucket, "value_topk_sql")
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    tb = f"time_bucket(INTERVAL '{bucket}', {ts_col})"
    return f"""
WITH s AS (
  SELECT {key_col}, {tb} AS bucket_ts,
         CAST(CAST({value_col} AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL),
a AS (
  SELECT {key_col}, bucket_ts, c,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences
  FROM s GROUP BY 1, 2, 3),
r AS (
  SELECT {key_col}, bucket_ts, c, n_occurrences,
         CAST(row_number() OVER (PARTITION BY {key_col}, bucket_ts
                                 ORDER BY n_occurrences DESC, c ASC)
              AS INTEGER) AS rank
  FROM a)
SELECT {key_col}, bucket_ts, rank,
       CAST(c AS DOUBLE) / 100.0 AS value, n_occurrences
FROM r WHERE rank <= {k}
ORDER BY {key_col} NULLS LAST, bucket_ts, rank
"""


def trend(events: DataFrame, key_col: str = "user_id",
          ts_col: str = "ts", value_col: str = "value",
          bucket: str = "1 day") -> DataFrame:
    """Per-(series, bucket) least-squares linear trend — Timescale
    two-dimensional ``stats_agg`` → ``slope(...)``: the ordinary
    least-squares slope of value over time within each bucket, in
    value units per SECOND, carrying exactly 4 decimals. A rising
    counter's drift, a sensor's warm-up ramp, a latency trend — the
    bucket-local direction a plain average hides. NULL when the
    bucket cannot support a fit (a single sample, or every sample on
    the same millisecond — zero time variance).

    Exactness (the q59/q172 fixed-point discipline — no float sums,
    no transcendentals, both engines bit-agree): x = millisecond
    offset from the BUCKET START (slope is translation-invariant, and
    the small x keeps magnitudes bounded), y = integral cents. With
    pure integer sums ``num = n·Σxy − Σx·Σy`` (cents·ms) and
    ``den = n·Σx² − (Σx)²`` (ms², ≥ 0),
    slope(value/s) = num·10/den, rendered half-up at 4 decimals via
    sign(num) · (2·|num|·10·10⁴ + den) DIV (2·den) — the sign is
    split out because the half-up quotient form needs non-negative
    operands (DuckDB's // floors toward −∞, Spark's DIV truncates:
    they agree only for non-negatives). Sums ride decimal(38,0) on
    the Spark side and HUGEINT in the DuckDB twin — both exact; with
    day-scale buckets and 12,2-decimal values the worst-case
    n·Σxy stays under 10³⁸ up to ~10⁶ samples per (series, bucket),
    and past that ANSI decimal overflow fails LOUD, never silently
    wrong. NULL-ts and NULL-value samples are missed scrapes,
    excluded up front; a NULL key is a legitimate series (the family
    groupBy convention).

    100 TB shape: ONE map-side-combinable hash aggregation — five
    integer sums per (series, bucket), so each map partition ships
    one 5-tuple per group and the shuffle is trend-sized, never
    sample-sized; no window, no join (the q174 OHLC shape). Reference
    behavior: timescale/toolkit stats_agg slope (public semantics)."""
    return trend_rollup(events, key_col, ts_col, value_col, bucket) \
        .orderBy(F.col(key_col).asc_nulls_last(), "bucket_ts")


def trend_rollup(events: DataFrame, key_col: str = "user_id",
                 ts_col: str = "ts", value_col: str = "value",
                 bucket: str = "1 day") -> DataFrame:
    """The :func:`trend` aggregation WITHOUT the output sort — five
    declarative integer sums over one watermark-evictable window
    group, so this form runs UNCHANGED as a Structured Streaming
    incremental rollup over a watermarked frame (plans/builder.Rollup.
    stream; equivalence pinned in tests/test_streaming.py). Batch
    callers want :func:`trend`."""
    validate_bucket(bucket)
    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
    b = F.window(ts_col, bucket).start.alias("bucket_ts")
    tms = F.unix_millis(F.col(ts_col).cast("timestamp_ltz"))
    bstart = F.unix_millis(F.window(ts_col, bucket).start
                           .cast("timestamp_ltz"))
    x = (tms - bstart).cast("decimal(19,0)")
    y = (F.col(value_col).cast("decimal(12,2)") * 100) \
        .cast("decimal(19,0)")
    s = e.select(F.col(key_col), b, x.alias("_x"), y.alias("_y"),
                 (x * y).alias("_xy"), (x * x).alias("_xx"))
    agg = (s.groupBy(key_col, "bucket_ts")
           .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("_n"),
                F.sum("_x").alias("_sx"), F.sum("_y").alias("_sy"),
                F.sum("_xy").alias("_sxy"), F.sum("_xx").alias("_sxx")))
    num = F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    den = F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    mag = F.expr("(2 * abs(_num) * 10 * 10000 + _den) DIV (2 * _den)")
    slope4 = F.when(F.col("_num") < 0, -mag).otherwise(mag)
    return (agg.select(key_col, "bucket_ts",
                       F.col("_n").cast("bigint").alias("n_samples"),
                       num.alias("_num"), den.alias("_den"))
            .select(key_col, "bucket_ts", "n_samples",
                    F.when(F.col("_den") > 0,
                           slope4.cast("double") / 10000.0)
                    .alias("slope_per_sec")))


def trend_sql(table: str = "events", key_col: str = "user_id",
              ts_col: str = "ts", value_col: str = "value",
              bucket: str = "1 day") -> str:
    """DuckDB oracle for :func:`trend` — same bucket-origin x, same
    integral cents y, same five integer sums (HUGEINT — exact like the
    Spark side's decimal(38,0)), same sign-split half-up quotient
    (DuckDB // floors, Spark DIV truncates: they agree only on the
    non-negative magnitudes both sides use). Integral outputs cast
    back to BIGINT (the HUGEINT pandas lesson). Week-and-coarser
    buckets raise (require_sub_week_bucket, ADVICE r10)."""
    require_sub_week_bucket(bucket, "trend_sql")
    tb = f"time_bucket(INTERVAL '{bucket}', {ts_col})"
    return f"""
WITH s AS (
  SELECT {key_col}, {tb} AS bucket_ts,
         CAST(epoch_ms({ts_col})
              - epoch_ms({tb}) AS HUGEINT) AS x,
         CAST(CAST(CAST({value_col} AS DECIMAL(12,2)) * 100 AS BIGINT)
              AS HUGEINT) AS y
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL),
a AS (
  SELECT {key_col}, bucket_ts,
         CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM s GROUP BY 1, 2),
f AS (
  SELECT {key_col}, bucket_ts, n,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den
  FROM a)
SELECT {key_col}, bucket_ts, CAST(n AS BIGINT) AS n_samples,
       CASE WHEN den > 0 THEN
         CAST(CAST(CASE WHEN num < 0
              THEN -((2 * (-num) * 10 * 10000 + den) // (2 * den))
              ELSE ((2 * num * 10 * 10000 + den) // (2 * den)) END
              AS BIGINT) AS DOUBLE) / 10000.0
       END AS slope_per_sec
FROM f
ORDER BY {key_col} NULLS LAST, bucket_ts
"""


def lttb(events: DataFrame, key_col: str = "user_id",
         ts_col: str = "ts", value_col: str = "value",
         order_col: str = "event_id", resolution: int = 12,
         max_points_per_series: int | None = None) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling — Timescale ``lttb``
    (Steinarsson's visual downsampling algorithm): per series keep
    exactly ``resolution`` points (first, last, and per equal-count
    interior bucket the point forming the largest triangle with the
    PREVIOUSLY SELECTED point and the NEXT bucket's centroid), so the
    downsampled series preserves the visual shape — peaks, troughs,
    steps — that per-bucket averages smear. Series with ≤ resolution
    points pass through whole.

    Contract (pinned exactly on both engines):

    - points order by (ts, order_col); NULL-ts/NULL-value samples are
      missed scrapes, excluded (the family convention);
    - interior index r ∈ [0, m) lands in bucket ``r·(res−2) DIV m`` —
      the integer stratification (every bucket non-empty when
      m ≥ res−2, which pass-through guarantees);
    - the triangle comparison is EXACT integer arithmetic: with
      A = (ax, ay) the previous selection, B a candidate and the next
      anchor's count/sums (n3, sx, sy) — the centroid times n3 —
      compare |(ax·n3 − sx)·(by − ay) − (ax − bx)·(sy − ay·n3)|,
      x in epoch milliseconds, y in integral cents; magnitudes exceed
      int64, so the kernel uses Python ints (arbitrary precision) and
      the oracle HUGEINT — both exact, so ties are real ties and break
      deterministically to the smallest (ts, order_col).

    This is the ONE operator in the family whose selection is
    inherently SEQUENTIAL per series (each bucket's winner depends on
    the previous bucket's), so the Spark expression is a grouped Arrow
    kernel (``applyInPandas`` per series — the brief's designated
    pattern for operators the built-ins can't express), not a chain of
    ``resolution`` joins. The DuckDB oracle UNROLLS the recursion into
    ``resolution − 2`` chained CTEs (a fixed resolution makes the
    recursion finite SQL), so the driver certifies the full algorithm.

    100 TB shape: one hash exchange — on a BUCKET of series
    (pmod(xxhash64(key), 2×shuffle partitions)), not per series: the
    per-call Arrow overhead dominates at many-small-series shape
    (measured ~4 s of pure IPC on 1,500 series), so each kernel call
    iterates its bucket's series in pandas and the overhead amortizes
    bucket-fold. Each task holds one bucket's points (≈ |rows| /
    (2·shuffle partitions) — sized by the same dial as every other
    shuffle; an individual series must still fit, so pre-slice
    unbounded series upstream, e.g. per (series, month), exactly how
    dashboards consume downsamples — and ``max_points_per_series``
    turns that contract into a GUARD (VERDICT r10 #4): when set, a
    series larger than the cap fails with this operator's own error
    naming the pre-slice fix, inside the kernel before any selection
    work, instead of a generic executor OOM. The kernel is O(points) —
    vectorized int64 numpy inside a translation-invariant exactness
    bound, exact Python ints past it. Output is ≤ resolution rows per
    series — everything downstream is downsample-sized."""
    if resolution < 3:
        raise ValueError(f"resolution must be >= 3: {resolution}")
    if max_points_per_series is not None \
            and max_points_per_series < resolution:
        raise ValueError(
            f"max_points_per_series={max_points_per_series} is below "
            f"resolution={resolution} — every non-pass-through series "
            "would fail; the cap bounds task memory, not the output")
    cols = (key_col, ts_col, value_col, order_col)
    if len(set(cols)) != 4:
        raise ValueError(
            f"lttb requires four DISTINCT columns, got {cols} — the "
            "output carries all four, so aliases would collide")
    import pandas as pd

    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
    cents = (F.col(value_col).cast("decimal(12,2)") * 100).cast("bigint")
    tms = F.unix_millis(F.col(ts_col).cast("timestamp_ltz"))
    s = e.select(F.col(key_col), F.col(ts_col), F.col(order_col),
                 F.col(value_col).cast("double").alias(value_col),
                 cents.alias("_y"), tms.alias("_x"))
    out_schema = s.drop("_y", "_x").schema

    out_cols = [f.name for f in out_schema.fields]

    def _select(xs_np, ys_np, n) -> list:
        """Selected LOCAL positions for one ts-ordered series.
        Translate to the series origin — the triangle determinant is
        exactly translation-invariant in integers — then bound the
        worst-case area term: within the bound the whole bucket scan
        vectorizes in int64 numpy; past it (decade-spanning
        high-magnitude series) fall back to exact Python ints. Both
        paths are exact, so they agree bit-for-bit where both apply."""
        import numpy as np

        m, nb = n - 2, resolution - 2
        edge = [1 + (-(-(i * m) // nb)) for i in range(nb + 1)]  # ceil
        xs_np = xs_np - xs_np.min()
        ys_np = ys_np - ys_np.min()
        span = int(xs_np.max())
        crange = int(ys_np.max())
        max_n3 = max(edge[i + 1] - edge[i] for i in range(nb))
        exact = (2 * (max_n3 + 1) * max(span, 1) * max(crange, 1)
                 >= 2 ** 62)
        if exact:
            xs = [int(v) for v in xs_np]
            ys = [int(v) for v in ys_np]
        sel, a = [0], 0
        for i in range(nb):
            if i < nb - 1:
                nlo, nhi = edge[i + 1], edge[i + 2]
                n3 = nhi - nlo
                if exact:
                    sx, sy = sum(xs[nlo:nhi]), sum(ys[nlo:nhi])
                else:
                    sx = int(xs_np[nlo:nhi].sum())
                    sy = int(ys_np[nlo:nhi].sum())
            else:
                n3 = 1
                sx, sy = int(xs_np[n - 1]), int(ys_np[n - 1])
            lo, hi = edge[i], edge[i + 1]
            if exact:
                ax, ay = xs[a], ys[a]
                best, best_area = lo, -1
                for j in range(lo, hi):
                    area = abs((ax * n3 - sx) * (ys[j] - ay)
                               - (ax - xs[j]) * (sy - ay * n3))
                    if area > best_area:
                        best, best_area = j, area
            else:
                ax, ay = int(xs_np[a]), int(ys_np[a])
                areas = np.abs((ax * n3 - sx) * (ys_np[lo:hi] - ay)
                               - (ax - xs_np[lo:hi]) * (sy - ay * n3))
                best = lo + int(np.argmax(areas))   # first max = tie rule
            sel.append(best)
            a = best
        sel.append(n - 1)
        return sel

    def _kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # one call per HASH BUCKET of series, not per series: the
        # per-call Arrow/IPC overhead dominated at many-small-series
        # shape (measured: a no-op per-series kernel cost ~4 s on
        # 1,500 series where the whole selection is milliseconds).
        # Inside, everything is numpy position arithmetic with ONE
        # final iloc — per-series DataFrame slicing + concat cost
        # another ~2x on the same shape.
        import numpy as np

        xs_all = pdf["_x"].to_numpy(np.int64)
        ys_all = pdf["_y"].to_numpy(np.int64)
        ts_all = pdf[ts_col].to_numpy()
        o_all = pdf[order_col].to_numpy()
        keep: list = []
        grp = pdf.groupby(key_col, dropna=False, sort=False)
        for gkey, idx in grp.indices.items():
            n = len(idx)
            if max_points_per_series is not None \
                    and n > max_points_per_series:
                # loud, before any selection work — the alternative is
                # a generic executor OOM with no operator context
                raise ValueError(
                    f"lttb: series {gkey!r} has {n} points, over "
                    f"max_points_per_series={max_points_per_series} — "
                    "an individual series must fit one task; pre-slice "
                    "unbounded series upstream (e.g. downsample per "
                    "(series, month)) or raise the cap")
            order = idx[np.lexsort((o_all[idx], ts_all[idx]))]
            if n <= resolution:
                keep.extend(order.tolist())
            else:
                sel = _select(xs_all[order], ys_all[order], n)
                keep.extend(order[sel].tolist())
        return pdf.iloc[keep][out_cols]

    n_buckets = max(
        64, int(s.sparkSession.conf.get("spark.sql.shuffle.partitions",
                                        "200")) * 2)
    g = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
    return (s.groupBy(g.alias("_g"))
            .applyInPandas(_kernel, schema=out_schema)
            .orderBy(F.col(key_col).asc_nulls_last(), ts_col, order_col))


def lttb_sql(table: str = "events", key_col: str = "user_id",
             ts_col: str = "ts", value_col: str = "value",
             order_col: str = "event_id", resolution: int = 12) -> str:
    """DuckDB oracle for :func:`lttb` — the sequential selection
    UNROLLED into ``resolution − 2`` chained CTEs (each picks bucket
    i's winner given CTE i−1's selection via a deterministic
    row_number over (area DESC, ts, order)), with the same integer
    bucket stratification and the same exact HUGEINT triangle
    arithmetic the kernel does in Python ints."""
    if resolution < 3:
        raise ValueError(f"resolution must be >= 3: {resolution}")
    n, nb = resolution, resolution - 2
    h = "CAST({} AS HUGEINT)"
    picks = []
    for i in range(nb):
        prev = "sel0" if i == 0 else f"pick{i - 1}"
        picks.append(f"""
pick{i} AS (
  SELECT k, t, o, v, x AS ax, y AS ay FROM (
    SELECT c.k, c.t, c.o, c.v, c.x, c.y,
           row_number() OVER (
             PARTITION BY c.k
             ORDER BY abs(({h.format('p.ax')} * a.n3 - a.sx)
                            * (c.y - p.ay)
                          - (p.ax - c.x)
                            * (a.sy - {h.format('p.ay')} * a.n3)) DESC,
                      c.t, c.o) AS rnk
    FROM bkt c
    JOIN {prev} p ON p.k IS NOT DISTINCT FROM c.k
    JOIN anchor a ON a.k IS NOT DISTINCT FROM c.k AND a.i = {i}
    WHERE c.b = {i}) q
  WHERE rnk = 1)""")
    pick_union = "\n  UNION ALL ".join(
        f"SELECT k, t, o, v FROM pick{i}" for i in range(nb))
    return f"""
WITH pts AS (
  SELECT {key_col} AS k, {ts_col} AS t, {order_col} AS o,
         CAST({value_col} AS DOUBLE) AS v,
         epoch_ms({ts_col}) AS x,
         CAST(CAST({value_col} AS DECIMAL(12,2)) * 100 AS BIGINT) AS y,
         row_number() OVER (PARTITION BY {key_col}
                            ORDER BY {ts_col}, {order_col}) AS rn,
         count(*) OVER (PARTITION BY {key_col}) AS cnt
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL),
small AS (SELECT k, t, o, v FROM pts WHERE cnt <= {n}),
big AS (SELECT * FROM pts WHERE cnt > {n}),
bkt AS (
  SELECT k, t, o, v, x, y, ((rn - 2) * {nb}) // (cnt - 2) AS b
  FROM big WHERE rn > 1 AND rn < cnt),
cent AS (
  SELECT k, b, CAST(COUNT(*) AS BIGINT) AS n3,
         SUM({h.format('x')}) AS sx, SUM({h.format('y')}) AS sy
  FROM bkt GROUP BY 1, 2),
lastp AS (SELECT k, x, y FROM big WHERE rn = cnt),
anchor AS (
  SELECT k, b - 1 AS i, n3, sx, sy FROM cent WHERE b >= 1
  UNION ALL
  SELECT k, {nb - 1} AS i, CAST(1 AS BIGINT) AS n3,
         {h.format('x')} AS sx, {h.format('y')} AS sy
  FROM lastp),
sel0 AS (SELECT k, x AS ax, y AS ay FROM big WHERE rn = 1),{','.join(picks)},
ends AS (SELECT k, t, o, v FROM big WHERE rn = 1 OR rn = cnt)
SELECT k AS {key_col}, t AS {ts_col}, o AS {order_col}, v AS {value_col}
FROM (SELECT * FROM small
      UNION ALL SELECT * FROM ends
      UNION ALL {pick_union}) u
ORDER BY {key_col} NULLS LAST, {ts_col}, {order_col}
"""


def ohlc(events: DataFrame, type_col: str = "event_type",
         ts_col: str = "ts", value_col: str = "value",
         order_col: str = "event_id", bucket: str = "1 day") -> DataFrame:
    """Candlestick rollup — Timescale ``candlestick_agg``/``ohlc``: per
    (series, bucket) the first/highest/lowest/last sample value plus the
    sample count. Completes the hypertable set next to q53 (rollup),
    q72/q172 (fill) and q173 (counter rate).

    Determinism: open/close are ``min_by``/``max_by`` over a UNIQUE
    zero-padded ``(epoch_micros, order_col)`` string key — lexicographic
    equals chronological, and the unique tiebreaker makes same-timestamp
    samples deterministic (DuckDB's arg_min/arg_max accept no composite
    key, so the padded string IS the portable composite). The key domain
    is GUARDED, not just documented (VERDICT r9 / ADVICE r9): a negative
    epoch (pre-1970 ts) or negative order id would render a minus sign
    and break lexicographic == chronological SILENTLY, so the key
    expression raises on either — cheap comparisons per row inside the
    partial aggregate, loud-wrong instead of silent-wrong. A NULL order
    id raises too (ADVICE r10): with it NULL the negative checks are
    NULL, the row would fall to the otherwise branch, and format_string
    renders the id as the literal text 'null' — which sorts after every
    digit and can silently win open/close, while the DuckDB twin's
    lpad(NULL) key is NULL and arg_min/arg_max SKIP the row — the exact
    silent cross-engine divergence class this guard exists to close
    (ts is already filtered non-null; only the order id can be NULL). Both fields
    are padded to 19 digits, the full non-negative int64 range (the
    first cut padded order ids to 12: an id ≥ 10¹² — plausible at
    100 TB — made Spark's format_string WIDEN the field while DuckDB's
    lpad TRUNCATED it, diverging engines both wrong). Values stay
    decimal(12,2) through the aggregate and cast to double once —
    nothing derived, so no fixed-point machinery is needed. NULL-ts and
    NULL-value samples are excluded on both sides.

    100 TB shape: ONE hash aggregation — min_by/max_by/min/max/count all
    combine map-side, so each map partition ships one candle per
    (series, bucket) and the shuffle is candle-sized, never
    sample-sized; no window, no join. The string key exists only inside
    the partial aggregate (never shuffled per sample)."""
    return ohlc_rollup(events, type_col, ts_col, value_col, order_col,
                       bucket) \
        .orderBy(F.col(type_col).asc_nulls_last(), "bucket_ts")


def ohlc_rollup(events: DataFrame, type_col: str = "event_type",
                ts_col: str = "ts", value_col: str = "value",
                order_col: str = "event_id",
                bucket: str = "1 day") -> DataFrame:
    """The :func:`ohlc` aggregation WITHOUT the output sort — every
    expression is a declarative aggregate over one watermark-evictable
    window group, so this form runs UNCHANGED as a Structured
    Streaming incremental rollup (plans/builder.Rollup.stream
    watermarks the stream and calls it; equivalence pinned in
    tests/test_streaming.py). Batch callers want :func:`ohlc` (adds
    the deterministic output order); streams cannot sort."""
    validate_bucket(bucket)
    e = events.filter(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull())
    v = F.col(value_col).cast("decimal(12,2)")
    ep = F.unix_micros(F.col(ts_col).cast("timestamp_ltz"))
    oc = F.col(order_col).cast("bigint")
    key = (
        F.when(oc.isNull() | (ep < 0) | (oc < 0),
               F.raise_error(F.format_string(
                   "ohlc: ordering key out of domain (epoch_micros=%s, "
                   f"{order_col}=%s): the padded-string open/close key "
                   "needs non-negative (post-1970) timestamps and "
                   "non-negative, NON-NULL order ids", ep, oc)))
        .otherwise(F.format_string("%019d%019d", ep, oc)))
    return (e.groupBy(type_col,
                      F.window(ts_col, bucket).start.alias("bucket_ts"))
            .agg(F.min_by(v, key).cast("double").alias("open"),
                 F.max(v).cast("double").alias("high"),
                 F.min(v).cast("double").alias("low"),
                 F.max_by(v, key).cast("double").alias("close"),
                 F.count(F.lit(1)).alias("n_events")))


def ohlc_sql(table: str = "events", type_col: str = "event_type",
             ts_col: str = "ts", value_col: str = "value",
             order_col: str = "event_id", bucket: str = "1 day") -> str:
    """DuckDB oracle for :func:`ohlc` — same padded-string ordering key
    (arg_min/arg_max take no composite), same decimal-through double
    casts, NULLS LAST ordering matching Spark's asc_nulls_last. Both
    fields lpad to 19 digits = the full non-negative int64 range
    (DuckDB lpad TRUNCATES past the width — at 12 it disagreed with
    Spark's widening format_string for ids ≥ 10¹², ADVICE r9); the
    non-negative domain itself is raise-guarded on the Spark side.
    Week-and-coarser buckets raise (require_sub_week_bucket, ADVICE
    r10): time_bucket's Monday origin would shift every bucket."""
    require_sub_week_bucket(bucket, "ohlc_sql")
    k = (f"lpad(CAST(epoch_us({ts_col}) AS VARCHAR), 19, '0') || "
         f"lpad(CAST({order_col} AS VARCHAR), 19, '0')")
    v = f"CAST({value_col} AS DECIMAL(12,2))"
    return f"""
SELECT {type_col},
       time_bucket(INTERVAL '{bucket}', {ts_col}) AS bucket_ts,
       CAST(arg_min({v}, {k}) AS DOUBLE) AS open,
       CAST(max({v}) AS DOUBLE) AS high,
       CAST(min({v}) AS DOUBLE) AS low,
       CAST(arg_max({v}, {k}) AS DOUBLE) AS close,
       CAST(count(*) AS BIGINT) AS n_events
FROM {table}
WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL
GROUP BY 1, 2
ORDER BY {type_col} NULLS LAST, bucket_ts
"""


def gapfill_sql(table: str = "events", key_col: str = "user_id",
                ts_col: str = "ts", value_col: str = "value",
                bucket: str = "1 day") -> str:
    """DuckDB oracle for :func:`gapfill` — same bucket alignment
    (``time_bucket``), same exact fixed-point arithmetic, same final
    int→double cast and division.

    Bucket-width contract: Spark's ``window()`` is EPOCH-aligned for
    every width, DuckDB's ``time_bucket`` only for sub-week intervals
    (from a week up it snaps to the ISO Monday 2024-01-01-style
    origin) — so this oracle is valid for buckets < 1 week (parity
    pinned at '1 day' and '6 hours'); coarser grains now RAISE via
    require_sub_week_bucket (ADVICE r10 upgraded the prose caveat to a
    guard across all time_bucket twins); for such grains give
    time_bucket an explicit epoch origin before trusting a twin.

    The grid join is null-safe on the key (IS NOT DISTINCT FROM) to
    match the Spark side's eqNullSafe — the original USING join shared
    the plain-equality wart (ADVICE r9), the shared-wart class parity
    cannot catch."""
    require_sub_week_bucket(bucket, "gapfill_sql")
    return f"""
WITH actual AS (
  SELECT {key_col},
         time_bucket(INTERVAL '{bucket}', {ts_col}) AS bucket_ts,
         (2 * CAST(SUM(CAST(CAST({value_col} AS DECIMAL(12,2)) * 100
                            AS BIGINT)) AS BIGINT) * 100 + COUNT(*))
           // (2 * COUNT(*)) AS val4
  FROM {table}
  WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL
  GROUP BY 1, 2),
bounds AS (SELECT min(bucket_ts) AS lo, max(bucket_ts) AS hi FROM actual),
grid AS (
  SELECT k.{key_col},
         unnest(generate_series(b.lo, b.hi, INTERVAL '{bucket}')) AS bucket_ts
  FROM (SELECT DISTINCT {key_col} FROM actual) k CROSS JOIN bounds b),
filled AS (
  SELECT g.{key_col}, g.bucket_ts, a.val4
  FROM grid g LEFT JOIN actual a
    ON g.{key_col} IS NOT DISTINCT FROM a.{key_col}
   AND g.bucket_ts = a.bucket_ts),
f2 AS (
  SELECT {key_col}, bucket_ts, val4,
    last_value(val4 IGNORE NULLS) OVER wp AS prev4,
    last_value(CASE WHEN val4 IS NOT NULL
                    THEN CAST(epoch(bucket_ts) AS BIGINT) END
               IGNORE NULLS) OVER wp AS pt,
    first_value(val4 IGNORE NULLS) OVER wn AS next4,
    first_value(CASE WHEN val4 IS NOT NULL
                     THEN CAST(epoch(bucket_ts) AS BIGINT) END
                IGNORE NULLS) OVER wn AS nt
  FROM filled
  WINDOW wp AS (PARTITION BY {key_col} ORDER BY bucket_ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY {key_col} ORDER BY bucket_ts
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT {key_col}, bucket_ts,
  CAST(val4 AS DOUBLE) / 10000.0 AS val,
  CAST(prev4 AS DOUBLE) / 10000.0 AS locf_val,
  CASE WHEN val4 IS NOT NULL THEN CAST(val4 AS DOUBLE) / 10000.0
       WHEN prev4 IS NULL OR next4 IS NULL THEN NULL
       ELSE CAST((2 * (prev4 * ((nt - pt) - (CAST(epoch(bucket_ts) AS BIGINT)
                                             - pt))
                       + next4 * (CAST(epoch(bucket_ts) AS BIGINT) - pt))
                  + (nt - pt)) // (2 * (nt - pt)) AS DOUBLE) / 10000.0
  END AS interp_val
FROM f2 ORDER BY {key_col} NULLS LAST, bucket_ts
"""
