"""Event-time operators on the events stream table (SURVEY.md §7.4,
§2.6 note: the reference is batch-only; these are the engine's
extension surface).

Scale notes: sliding aggs are single hash shuffles keyed by
(bucket, ...); sessionization shuffles once by user and sorts within
partitions (window functions) — the classic sessionize-at-scale plan.
Double sums go through decimal(18,2) so results are exact and
order-independent (events.value carries 2 decimals).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _exact_sum(col: str):
    """Order-independent sum of a 2-decimal double: cast to decimal,
    sum exactly, return as double."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double")


def sliding_agg(
    df: DataFrame,
    width_minutes: int = 120,
    slide_minutes: int = 60,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Sliding windows of ``width_minutes`` every ``slide_minutes``:
    each event explodes into the ceil(width/slide) slide-aligned
    windows that contain it, then one plain hash agg — the standard
    shuffle-once sliding-window plan (generalizes the 2h/1h case).

    Window starts are slide-grid-aligned epoch instants computed in
    integer microseconds (no float rounding, engine-portable); when
    slide doesn't divide width, candidate windows that don't actually
    contain the event are filtered out before the explode."""
    if width_minutes <= 0 or slide_minutes <= 0 or width_minutes < slide_minutes:
        raise ValueError(
            f"need width >= slide > 0: width={width_minutes}, slide={slide_minutes}"
        )
    import math

    slide_us = slide_minutes * 60_000_000
    width_us = width_minutes * 60_000_000
    n = math.ceil(width_minutes / slide_minutes)
    us = F.unix_micros(F.col(ts_col))
    # grid-align via exact long modulo (NOT floor(us/slide): the double
    # quotient rounds at ~1e15 µs, off-by-one within ~1 µs of a boundary)
    base_us = us - (us % F.lit(slide_us))
    starts = [base_us - j * slide_us for j in range(n)]
    buckets = F.filter(
        F.array(*[F.timestamp_micros(s) for s in starts]),
        lambda w: us < F.unix_micros(w) + width_us,
    )
    return (
        df.select(F.explode(buckets).alias("window_start"), value_col)
        .groupBy("window_start")
        .agg(F.count(F.lit(1)).alias("n_events"), _exact_sum(value_col).alias("sum_value"))
    )


def sessionize(
    df: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap to
    the previous event of the same user exceeds ``gap_minutes``.
    session_n is the per-user running count of session starts — a
    lag + cumulative-sum over one per-user sort (ties broken by
    event_id so the plan is deterministic).

    The gap test runs in exact integer microseconds (unix_micros),
    never double seconds: a gap ulp-close to the threshold must not
    flip the session boundary between engines (repo invariant: grid/
    boundary timestamp math is long µs, not floor(double))."""
    order = [F.col(ts_col).asc(), F.col("event_id").asc()]
    w = Window.partitionBy(user_col).orderBy(*order)
    prev = F.lag(ts_col).over(w)
    gap_us = F.unix_micros(F.col(ts_col)) - F.unix_micros(prev)
    is_new = F.when(prev.isNull() | (gap_us > gap_minutes * 60_000_000), 1).otherwise(0)
    wsum = Window.partitionBy(user_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return df.withColumn("session_n", F.sum(is_new).over(wsum))


def session_stats(
    df: DataFrame, gap_minutes: int = 30, ts_col: str = "ts", user_col: str = "user_id"
) -> DataFrame:
    """Per-session rollup: event count, duration seconds, exact value
    sum. duration_s = exact long µs difference divided ONCE by 1e6 —
    a single IEEE op on integer-derived operands, identical across
    engines (vs double(max) - double(min), two lossy conversions)."""
    s = sessionize(df, gap_minutes, ts_col, user_col)
    return s.groupBy(user_col, "session_n").agg(
        F.count(F.lit(1)).alias("n_events"),
        ((F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col))) / F.lit(1_000_000.0)).alias(
            "duration_s"
        ),
        _exact_sum("value").alias("sum_value"),
    )


def top_users_by_activity(df: DataFrame, k: int = 10, user_col: str = "user_id") -> DataFrame:
    """Top-k users by event count (rank with deterministic id
    tie-break) — the sort/limit surface the reference lacks (§2.6)."""
    counts = df.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_events"), _exact_sum("value").alias("sum_value")
    )
    # orderBy+limit plans as TakeOrderedAndProject: each partition
    # keeps its local top-k and only k·n_partitions rows reach the
    # driver-side merge — the global-window-then-filter alternative
    # would drag EVERY user's count into one partition (WindowExec
    # warns exactly that). The rank window then runs over k rows.
    topk = counts.orderBy(F.desc("n_events"), F.asc(user_col)).limit(k)
    w = Window.orderBy(F.desc("n_events"), F.asc(user_col))
    return topk.withColumn("rank", F.row_number().over(w))


def rollup_agg(
    df: DataFrame, ts_col: str = "ts", value_col: str = "value"
) -> DataFrame:
    """Hypertable-style multi-resolution rollup: counts, exact value
    sums and distinct users at (day, hour, event_type), (day, hour),
    (day) and grand-total grains in ONE pass via ``rollup`` (grouping
    sets). ``lvl`` is the grouping_id bitmask (0 = finest); grouped-out
    keys are NULL, the grouping-sets convention.

    Plan: Catalyst expands the input ×4 (Expand node) then runs one
    partial+final hash agg — a single shuffle for all four grains.
    At 100 TB with only distributive aggs (count/sum), a cascade
    (agg hour → re-agg day from hour partials) shuffles less data and
    is the continuous-aggregate refresh shape; countDistinct is NOT
    distributive, so the one-pass grouping-sets plan (which expands
    raw rows) is the correct general form here.
    """
    d = df.select(
        F.date_trunc("day", F.col(ts_col)).alias("day"),
        F.date_trunc("hour", F.col(ts_col)).alias("hour"),
        "event_type",
        value_col,
        "user_id",
    )
    return (
        d.rollup("day", "hour", "event_type")
        .agg(
            F.grouping_id().alias("lvl"),
            F.count(F.lit(1)).alias("n_events"),
            _exact_sum(value_col).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select("lvl", "day", "hour", "event_type", "n_events", "sum_value", "n_users")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    strict: bool = True,
    prefix: str = "asof_",
    tolerance_s: int | None = None,
) -> DataFrame:
    """As-of join: attach to each left row the most recent right row of
    the same key with ``right.ts < left.ts`` (``strict=True``) or
    ``<= left.ts`` (``strict=False``); left rows with no earlier right
    row keep NULLs. ``tolerance_s`` (pandas merge_asof parity) nulls
    the match when it is more than that many seconds older than the
    left row — compared in exact integer microseconds, per the repo's
    boundary-math invariant. The operator Spark's DataFrame API lacks
    natively (pandas has merge_asof; DuckDB has ASOF JOIN).

    Implementation is the scale-correct union+window formulation rather
    than a range join: tag both inputs, union them, and run ONE window
    pass partitioned by key and ordered by (ts, side) taking the last
    non-null right payload. That is a single hash shuffle on the key +
    an in-partition sort — no range explosion, no nested-loop join,
    and it streams at 100 TB the same way sessionization does. The
    strict/inclusive tie rule is encoded purely in the sort order of
    the side tag, so equal-timestamp semantics are deterministic.

    Right payload columns ride in ONE struct column so the matched row
    is picked atomically (per-column ``last(ignorenulls)`` could mix
    columns from different right rows when right values are NULL).

    Requires right to be unique per (key, ts) — pre-aggregate
    otherwise (any tie-break here would be engine-defined).

    Skew note: one partition must hold each key's full history; for a
    pathological hot key use ``asof_join_bucketed``, which
    range-partitions by (key, coarse time bucket) and carries the
    previous bucket's last right row forward (the streaming variant's
    state hand-off) — equivalence-tested against this operator.
    """
    rc = [c for c in right.columns if c not in (key_col, ts_col)]
    # sort tag: lower sorts first ⇒ visible to later rows of same ts.
    # strict: left(0) before right(1) at equal ts ⇒ right invisible.
    # inclusive: right(0) before left(1) ⇒ right visible.
    left_tag, right_tag = (0, 1) if strict else (1, 0)
    payload = F.struct(F.col(ts_col).alias("ts"), *[F.col(c).alias(c) for c in rc])
    r = right.select(
        F.col(key_col),
        F.col(ts_col),
        F.lit(right_tag).alias("__tag"),
        payload.alias("__r"),
    )
    l = left.select(
        *left.columns,
        F.lit(left_tag).alias("__tag"),
        F.lit(None).cast(r.schema["__r"].dataType).alias("__r"),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = l.unionByName(r, allowMissingColumns=True)
    matched = u.withColumn("__m", F.last("__r", ignorenulls=True).over(w))
    if tolerance_s is not None:
        if tolerance_s < 0:
            raise ValueError(f"tolerance_s must be >= 0, got {tolerance_s}")
        too_old = (
            F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("__m.ts"))
        ) > int(tolerance_s) * 1_000_000
        matched = matched.withColumn(
            "__m",
            F.when(too_old, F.lit(None).cast(r.schema["__r"].dataType)).otherwise(
                F.col("__m")
            ),
        )
    out = matched.filter(F.col("__tag") == left_tag).select(
        *left.columns,
        F.col("__m.ts").alias(f"{prefix}{ts_col}"),
        *[F.col(f"__m.{c}").alias(f"{prefix}{c}") for c in rc],
    )
    return out


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    bucket_s: int,
    key_col: str = "user_id",
    ts_col: str = "ts",
    strict: bool = True,
    prefix: str = "asof_",
    tolerance_s: int | None = None,
) -> DataFrame:
    """``asof_join`` for pathological HOT KEYS — identical semantics
    (equivalence-tested), different partitioning. Plain asof_join puts
    each key's FULL history in one window partition; a key holding 10%
    of 100 TB pins one executor. This variant splits the time axis into
    ``bucket_s``-second buckets so the window partition key becomes
    (key, bucket) and a hot key spreads over history/bucket_s tasks.

    Three-step state hand-off (the batch twin of the streaming
    variant's per-key state):

    1. per (key, bucket): reduce the right side to its LAST row — a
       map-side-combinable ``max(struct(ts, payload))`` aggregate, so
       the hot key's right rows collapse before they ever shuffle;
    2. per key: window over the per-bucket aggregates (ONE ROW per
       (key, bucket) — thousands of rows, not billions) to compute each
       bucket's carry-in = last right row of any earlier bucket;
    3. per (key, bucket): the same union+window pass as asof_join,
       with the carry-in injected as a synthetic right row. Its ts is
       strictly below the bucket's start (it came from an earlier
       bucket), so it sorts first naturally and the strict/inclusive
       tag rule — and ``tolerance_s``, which checks the REAL carry ts
       in exact integer microseconds — behave exactly as in asof_join.

    Bucket ids use true-floor division ``(us - pmod(us, w)) div w`` so
    pre-1970 timestamps bucket correctly (Spark ``div`` truncates
    toward zero). Equal-ts left/right rows always share a bucket, so
    tie semantics never cross the hand-off.

    Same uniqueness requirement as asof_join: right unique per
    (key, ts). Choose ``bucket_s`` ≈ hot-key history span / desired
    parallelism; cold keys cost one extra (tiny) aggregate pass.
    """
    if bucket_s <= 0:
        raise ValueError(f"bucket_s must be > 0, got {bucket_s}")
    rc = [c for c in right.columns if c not in (key_col, ts_col)]
    left_tag, right_tag = (0, 1) if strict else (1, 0)
    bucket_us = int(bucket_s) * 1_000_000

    def bucket_of(col):
        # true floor for negatives: subtract the non-negative pmod
        # remainder first; the quotient is then exact (numerator is an
        # exact multiple and |us| < 2^53, so the double division is
        # lossless before the cast)
        us = F.unix_micros(col)
        return ((us - F.pmod(us, F.lit(bucket_us))) / F.lit(bucket_us)).cast("long")

    # struct field order (ts first) makes max() pick the latest row;
    # right is unique per (key, ts) so later fields never tie-break
    payload = F.struct(F.col(ts_col).alias("ts"), *[F.col(c).alias(c) for c in rc])
    r = right.select(
        F.col(key_col),
        F.col(ts_col),
        bucket_of(F.col(ts_col)).alias("__bucket"),
        payload.alias("__r"),
    )
    l = left.select(
        *left.columns,
        bucket_of(F.col(ts_col)).alias("__bucket"),
        F.lit(None).cast(r.schema["__r"].dataType).alias("__r"),
    )

    # step 1: last right row per (key, bucket) — partial-aggregates
    # map-side, so the hot key never concentrates raw rows
    last_in_bucket = r.groupBy(key_col, "__bucket").agg(F.max("__r").alias("__last"))

    # step 2: carry-in per populated bucket (left OR right) from
    # strictly earlier buckets; one row per (key, bucket) only
    buckets = (
        l.select(key_col, "__bucket").union(r.select(key_col, "__bucket")).distinct()
    )
    w_carry = (
        Window.partitionBy(key_col)
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        buckets.join(last_in_bucket, [key_col, "__bucket"], "left")
        .withColumn("__carry", F.last("__last", ignorenulls=True).over(w_carry))
        .filter(F.col("__carry").isNotNull())
        .select(
            F.col(key_col),
            F.col("__bucket"),
            F.col("__carry.ts").alias(ts_col),
            # carry sorts before every in-bucket row on ts alone
            # (its ts < bucket start); tag -1 is belt-and-braces
            F.lit(-1).alias("__tag"),
            F.col("__carry").alias("__r"),
        )
    )

    # step 3: in-bucket union+window, exactly the asof_join pass but
    # partitioned by (key, bucket)
    u = (
        l.withColumn("__tag", F.lit(left_tag))
        .unionByName(
            r.withColumn("__tag", F.lit(right_tag)), allowMissingColumns=True
        )
        .unionByName(carry, allowMissingColumns=True)
    )
    w = (
        Window.partitionBy(key_col, "__bucket")
        .orderBy(F.col(ts_col).asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("__m", F.last("__r", ignorenulls=True).over(w))
    if tolerance_s is not None:
        if tolerance_s < 0:
            raise ValueError(f"tolerance_s must be >= 0, got {tolerance_s}")
        too_old = (
            F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("__m.ts"))
        ) > int(tolerance_s) * 1_000_000
        matched = matched.withColumn(
            "__m",
            F.when(too_old, F.lit(None).cast(r.schema["__r"].dataType)).otherwise(
                F.col("__m")
            ),
        )
    return matched.filter(F.col("__tag") == left_tag).select(
        *left.columns,
        F.col("__m.ts").alias(f"{prefix}{ts_col}"),
        *[F.col(f"__m.{c}").alias(f"{prefix}{c}") for c in rc],
    )


def interval_join(
    fact: DataFrame,
    intervals: DataFrame,
    bucket_minutes: int,
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
) -> DataFrame:
    """Range (interval) join: fact rows × interval rows with
    ``start <= ts < end``, as a bucketed EQUI-join instead of the
    BroadcastNestedLoopJoin Spark plans for a raw inequality join.

    Each fact row maps to exactly one ``bucket_minutes`` time bucket;
    each interval explodes to every bucket it overlaps (``sequence``
    over the integer bucket range — arbitrary interval lengths
    supported, an interval spanning B buckets costs B rows). The join
    is then a plain hash equi-join on the bucket key refined by the
    exact range predicate, so a fact row can match an interval in only
    one bucket — exactly-once without dedup. Pick ``bucket_minutes``
    near the typical interval length: too small inflates the interval
    explode, too large inflates per-bucket fan-in. Time-clustered
    workloads skew bucket keys — AQE skew-join or salting the bucket
    handles it (operators/skew.py).

    Output: all fact columns + all interval columns.
    """
    if bucket_minutes <= 0:
        raise ValueError(f"bucket_minutes must be positive: {bucket_minutes}")
    b = F.lit(bucket_minutes * 60_000_000)

    def bucket_of(us):
        # floor division in exact long arithmetic; pmod keeps floor
        # semantics for pre-1970 (negative-epoch) timestamps
        return ((us - F.pmod(us, b)) / b).cast("long")

    fb = fact.withColumn("__fbucket", bucket_of(F.unix_micros(F.col(ts_col))))
    ib = intervals.withColumn(
        "__ibucket",
        F.explode(
            F.sequence(
                bucket_of(F.unix_micros(F.col(start_col))),
                # end is exclusive: last covered bucket holds end-1µs
                bucket_of(F.unix_micros(F.col(end_col)) - F.lit(1)),
            )
        ),
    )
    joined = fb.join(
        ib,
        on=[
            F.col("__fbucket") == F.col("__ibucket"),
            F.col(ts_col) >= F.col(start_col),
            F.col(ts_col) < F.col(end_col),
        ],
    )
    return joined.drop("__fbucket", "__ibucket")


def json_props_extract(df: DataFrame, key: str = "k", props_col: str = "props") -> DataFrame:
    """Scalar JSON extraction from the props column (string JSON), as a
    typed column — the event-enrichment projection."""
    return df.withColumn(
        f"prop_{key}", F.get_json_object(F.col(props_col), f"$.{key}").cast("int")
    )


def gapfill_locf(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    step_minutes: int = 60,
) -> DataFrame:
    """Hypertable-style gap-filled per-key time series with
    last-observation-carried-forward (the time_bucket_gapfill + locf
    pair): one row per (key, bucket) on a REGULAR step_minutes grid
    spanning each key's observed range; buckets with no events carry
    the previous bucket's last value (``filled=true`` marks them).

    Bucket starts are exact long-µs modulo arithmetic (repo invariant:
    grid timestamps are integer µs, never floor(double) — see
    sliding_agg).

    Plan shape and scale notes:
    - per-key grid = one agg for (min, max) bucket + ``sequence``
      explode — the grid is generated, never stored; its size is
      range/step per key, so the explode is output-sized, not
      input-sized. A pathological key whose range/step explodes to
      billions of buckets is the caller's step choice.
    - observed buckets = one groupBy; "last value" is a (ts, value)
      max-struct — deterministic latest-event-wins.
    - LOCF = running ``last(ignorenulls)`` window per key in bucket
      order: partitioned by KEY, so no global sort and no
      single-partition collapse.
    - total: two shuffles; the final window reuses the join's
      key partitioning.
    """
    if step_minutes <= 0:
        raise ValueError(f"step_minutes must be > 0, got {step_minutes}")
    step_us = step_minutes * 60_000_000
    us = F.unix_micros(F.col(ts_col))
    bucket = F.timestamp_micros(us - (us % F.lit(step_us)))
    observed = (
        df.groupBy(F.col(key_col), bucket.alias("bucket"))
        .agg(
            F.max(F.struct(F.col(ts_col), F.col(value_col))).alias("__last"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            key_col,
            "bucket",
            F.col(f"__last.{value_col}").alias("last_value"),
            "n_events",
        )
    )
    spans = observed.groupBy(key_col).agg(
        F.min("bucket").alias("__lo"), F.max("bucket").alias("__hi")
    )
    grid = spans.select(
        key_col,
        F.explode(
            F.sequence("__lo", "__hi", F.expr(f"interval {step_minutes} minutes"))
        ).alias("bucket"),
    )
    joined = grid.join(observed, [key_col, "bucket"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        key_col,
        "bucket",
        F.last("last_value", ignorenulls=True).over(w).alias("value_locf"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("last_value").isNull().alias("filled"),
    )


def rolling_stats(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window_minutes: int = 60,
) -> DataFrame:
    """Per-event trailing-window features: count, exact sum, and mean
    of ``value`` over the last ``window_minutes`` per key, INCLUDING
    the current event — the standard event-time feature-engineering
    primitive ("activity in the last hour at the moment of this
    event").

    Implementation: a rangeBetween window over exact long µs (repo
    invariant — the frame boundary is an integer comparison, never
    float seconds), partitioned by key and ordered by event time.
    One shuffle on the key; within a partition Spark's sliding-frame
    aggregation adds/removes rows incrementally, so cost is O(events)
    amortized, not O(events × window).

    rangeBetween orders by the µs VALUE, so same-µs events share a
    frame (both included in each other's stats) — the well-defined
    tie semantics, identical to SQL RANGE BETWEEN.
    """
    if window_minutes <= 0:
        raise ValueError(f"window_minutes must be > 0, got {window_minutes}")
    us = F.unix_micros(F.col(ts_col))
    w = (
        Window.partitionBy(key_col)
        .orderBy(us)
        .rangeBetween(-(window_minutes * 60_000_000 - 1), 0)
    )
    dec = F.col(value_col).cast("decimal(18,2)")
    return df.select(
        "*",
        F.count(F.lit(1)).over(w).alias("n_trailing"),
        F.sum(dec).over(w).cast("double").alias("sum_trailing"),
        (F.sum(dec).over(w) / F.count(F.lit(1)).over(w))
        .cast("double")
        .alias("mean_trailing"),
    )


def funnel_analysis(
    df: DataFrame,
    steps: list[str],
    within_minutes: int | None = None,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel completion: per user, the earliest time each
    ``steps[i]`` event occurred STRICTLY AFTER the user's step-i−1
    time; a step is reached only if every prior step was. Returns one
    row per user with ``ts_step_i`` columns (NULL from the first
    missed step on) and ``n_steps_completed``. ``within_minutes``
    bounds the whole funnel: step i counts only within the window
    after step 0.

    Plan: one conditional-min aggregation PER STEP over the same
    (user, type, ts) projection — k tiny joins on user_id (the first
    agg fixes t₀; each later step's min is conditional on the previous
    step's time, which rides in via the join). All aggregations are
    map-side combining; user_id keys every shuffle, so the whole
    funnel is k equi-shuffles of per-user rows — no window sort, no
    explode. The greedy earliest-event semantics matches the standard
    product-analytics funnel (and the SQL oracle in the tests).
    """
    if len(steps) < 2:
        raise ValueError("funnel needs >= 2 steps")
    base = df.select(
        F.col(user_col), F.col(type_col).alias("__t"), F.col(ts_col).alias("__ts")
    )
    out = (
        base.filter(F.col("__t") == steps[0])
        .groupBy(user_col)
        .agg(F.min("__ts").alias("ts_step_0"))
    )
    for i, step in enumerate(steps[1:], start=1):
        prev = f"ts_step_{i - 1}"
        cand = base.filter(F.col("__t") == step).select(
            user_col, F.col("__ts").alias("__cand")
        )
        joined = out.join(cand, user_col, "left")
        cond = F.col("__cand") > F.col(prev)
        if within_minutes is not None:
            cond = cond & (
                F.unix_micros("__cand")
                <= F.unix_micros(F.col("ts_step_0")) + within_minutes * 60_000_000
            )
        out = joined.groupBy(user_col, *[f"ts_step_{j}" for j in range(i)]).agg(
            F.min(F.when(cond, F.col("__cand"))).alias(f"ts_step_{i}")
        )
    reached = sum(
        F.col(f"ts_step_{i}").isNotNull().cast("int") for i in range(len(steps))
    )
    return out.withColumn("n_steps_completed", reached)


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity period
    (cohort), counted as retained in each later period they were
    active — (cohort, period_offset, n_active, n_cohort,
    retention_rate), offset 0 = the cohort period itself.

    Two shuffles: first-activity per user (min agg), then the
    (cohort, offset) distinct-user count after a broadcast-size join
    of per-user cohorts back onto activity periods. date_trunc
    bucketing keeps everything on the exact calendar grid."""
    act = df.select(
        F.col(user_col), F.date_trunc(period, F.col(ts_col)).alias("__p")
    ).distinct()
    first = act.groupBy(user_col).agg(F.min("__p").alias("cohort"))
    sizes = first.groupBy("cohort").agg(F.countDistinct(user_col).alias("n_cohort"))
    offset_seconds = F.unix_timestamp("__p") - F.unix_timestamp("cohort")
    divisor = {"week": 604_800, "day": 86_400, "month": None}.get(period, None)
    if divisor is None:
        # calendar months aren't fixed-width: count month boundaries
        offset = (
            (F.year("__p") - F.year("cohort")) * 12
            + (F.month("__p") - F.month("cohort"))
        ).alias("period_offset")
    else:
        offset = (offset_seconds / divisor).cast("long").alias("period_offset")
    active = (
        act.join(first, user_col)
        .select("cohort", offset, F.col(user_col))
        .groupBy("cohort", "period_offset")
        .agg(F.countDistinct(user_col).alias("n_active"))
    )
    return (
        active.join(sizes, "cohort")
        .select(
            "cohort",
            "period_offset",
            "n_active",
            "n_cohort",
            (F.col("n_active") / F.col("n_cohort")).alias("retention_rate"),
        )
        .orderBy("cohort", "period_offset")
    )


def rolling_anomaly_flags(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window_minutes: int = 60,
    threshold: float = 3.0,
    min_baseline: int = 5,
) -> DataFrame:
    """Per-event anomaly flag against the key's OWN trailing-window
    baseline: |x − mean_prev| > threshold·std_prev over the
    ``window_minutes`` BEFORE the event (current row excluded — a
    spike must not dilute the baseline it's judged against). Events
    with fewer than ``min_baseline`` prior points flag false (no
    baseline, no verdict).

    Same single key-shuffle RANGE frame as ``rolling_stats``, with the
    frame's upper bound at −1 µs so the current row stays out. The
    std uses the population form over exact-decimal sums (computed
    from Σx, Σx² — no second pass)."""
    if window_minutes <= 0:
        raise ValueError(f"window_minutes must be > 0, got {window_minutes}")
    us = F.unix_micros(F.col(ts_col))
    w = (
        Window.partitionBy(key_col)
        .orderBy(us)
        .rangeBetween(-(window_minutes * 60_000_000), -1)
    )
    x = F.col(value_col).cast("double")
    n = F.count(value_col).over(w)
    s1 = F.sum(x).over(w)
    s2 = F.sum(x * x).over(w)
    mean = s1 / n
    var = F.greatest(s2 / n - mean * mean, F.lit(0.0))
    std = F.sqrt(var)
    flag = (
        (n >= min_baseline)
        & (F.abs(x - mean) > threshold * std)
        & (std > 0)
    )
    return df.select(
        "*",
        n.alias("n_baseline"),
        mean.alias("baseline_mean"),
        std.alias("baseline_std"),
        F.coalesce(flag, F.lit(False)).alias("is_anomaly"),
    )
