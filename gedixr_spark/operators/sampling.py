"""Deterministic sampling / split operators (SURVEY.md §7.4 — the
corpus-assembly side of a training-data pipeline).

Everything here derives randomness from md5 of (seed | id) instead of
RNG state, which buys three properties a 100 TB pipeline needs:
- reproducible across runs, partitionings, and engines (the DuckDB
  oracle replays the same arithmetic byte-for-byte);
- stable under incremental reprocessing — a doc's split never changes
  when other docs are added or removed (F.rand cannot promise that:
  it seeds per-partition, so assignment moves with the partitioning);
- no shuffle: assignment is a map-side expression, the split column
  is just another predicate for downstream pruning.

Bucket = first 4 hex digits of md5 → uniform int h in [0, 65536),
mapped to [0, n_buckets) by floor(h·n/65536) — exact integer range
partitioning, so every bucket covers the same number of hash values
(taking h % n would over-weight low buckets by 1/65536 each when n
doesn't divide 65536: a requested 0.5 split would actually select
0.5004). md5 is engine-portable (Spark == DuckDB), and 4 digits keep
the oracle's strpos arithmetic short.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_bucket(col: Column | str, seed: str = "split", n_buckets: int = 10_000) -> Column:
    """Deterministic uniform bucket in [0, n_buckets) from md5(seed|id):
    floor(h·n/65536) over the 16-bit hash h — bias-free for any n ≤
    65536 (h·n ≤ 2^30 is exact in both int64 and double, and /65536 is
    a power-of-two division, so floor sees an exact value)."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}|"), c.cast("string"))), 1, 4), 16, 10)
    return F.floor(h.cast("long") * n_buckets / 65536).cast("int").alias("bucket")


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    fractions: Mapping[str, float] | None = None,
    seed: str = "split",
) -> DataFrame:
    """Train/val/test assignment by hash bucket: cumulative fraction
    thresholds over basis-point buckets. Adds `bucket` and `split`
    columns; fractions must sum to ≤ 1 (remainder falls in the last
    named split)."""
    fractions = dict(fractions or {"train": 0.9, "val": 0.05, "test": 0.05})
    if not fractions or sum(fractions.values()) > 1.0 + 1e-9:
        raise ValueError(f"fractions must be non-empty and sum to <= 1: {fractions}")
    b = hash_bucket(id_col, seed=seed)
    out = df.withColumn("bucket", b)
    expr: Column | None = None
    hi = 0.0
    names = list(fractions)
    for name in names[:-1]:
        hi += fractions[name]
        cond = F.col("bucket") < int(round(hi * 10_000))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return out.withColumn("split", last)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    id_col: str = "doc_id",
    seed: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sample: keep a row iff its hash bucket
    falls under its stratum's fraction (strata absent from `fractions`
    are dropped). The per-stratum rates compile into ONE map-side
    predicate — no groupBy, no sampleBy RNG, pushdown-friendly, and
    exactly reproducible (Spark's own sampleBy is none of these)."""
    if not fractions:
        raise ValueError("fractions must be non-empty")
    b = hash_bucket(id_col, seed=seed)
    thresholds = F.create_map(
        *[x for k, v in fractions.items() for x in (F.lit(k), F.lit(int(round(v * 10_000))))]
    )
    return df.withColumn("bucket", b).filter(
        F.col("bucket") < thresholds[F.col(strata_col)]
    )


def upsample_strata(
    df: DataFrame,
    strata_col: str,
    factors: Mapping[str, float],
    id_col: str = "doc_id",
    seed: str = "upsample",
) -> DataFrame:
    """Deterministic per-stratum UPsampling for training-mixture
    construction ("books ×2.5, web ×1"): each row replicates
    floor(factor) times, plus one more iff its hash bucket falls under
    the fractional remainder — so expected stratum size is exactly
    factor×n, reproducibly (no RNG), and growth is stable under corpus
    growth (hash buckets never move — the same doc is always the one
    replicated). Strata absent from ``factors`` keep factor 1.

    Output adds ``copy_n`` (0-based replica index) so downstream
    shuffles can decorrelate copies (e.g. salt batch assignment by
    (doc_id, copy_n)). Map-side explode, zero shuffle, scale-free."""
    if any(v < 0 for v in factors.values()):
        raise ValueError(f"factors must be >= 0: {factors}")
    whole = F.create_map(
        *[x for k, v in factors.items() for x in (F.lit(k), F.lit(int(v)))]
    )
    frac = F.create_map(
        *[
            x
            for k, v in factors.items()
            for x in (F.lit(k), F.lit(int(round((v - int(v)) * 10_000))))
        ]
    )
    b = hash_bucket(id_col, seed=seed)
    n_copies = (
        F.coalesce(whole[F.col(strata_col)], F.lit(1))
        + F.when(b < F.coalesce(frac[F.col(strata_col)], F.lit(0)), 1).otherwise(0)
    )
    # explode must be top-level in the projection (no arithmetic around
    # the generator). Guard n_copies=0 with an empty array — Spark's
    # sequence(0, -1) would DESCEND ([0, -1]), not come up empty.
    copies = F.when(
        n_copies > 0, F.sequence(F.lit(0), (n_copies - 1).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    return df.withColumn("copy_n", F.explode(copies))


# --- temperature-based domain mixing ---------------------------------------
# The mixture-reweighting rule multilingual and mixture-of-corpora
# training uses (e.g. the multilingual-BERT / GLaM exponent): sample
# domain d with probability p_d ∝ n_d^T. T=1 keeps the natural
# distribution, T=0 flattens to uniform, 0<T<1 upweights tail domains
# without letting any head domain dominate.


def mixture_weights(
    df: DataFrame, domain_col: str = "lang", temperature: float = 1.0
) -> DataFrame:
    """Per-domain mixture weights p_d = n_d^T / Σ n^T — the audit table
    a pipeline owner reviews before committing to a mix. One k-row
    aggregate plus a k-row window (k = #domains); corpus scale only
    enters through the groupBy count."""
    if temperature < 0:
        raise ValueError(f"temperature must be >= 0, got {temperature}")
    from pyspark.sql.window import Window

    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("n_docs"))
    powed = counts.withColumn(
        "__p", F.pow(F.col("n_docs").cast("double"), F.lit(float(temperature)))
    )
    w = Window.partitionBy()  # k rows total — safe single-partition window
    return powed.select(
        F.col(domain_col),
        "n_docs",
        (F.col("__p") / F.sum("__p").over(w)).alias("weight"),
    )


def mixture_factors(
    df: DataFrame,
    domain_col: str = "lang",
    temperature: float = 1.0,
    target_rows: int | None = None,
) -> dict[str, float]:
    """Driver-side per-domain replication factors realizing the
    temperature mix at ``target_rows`` total expected rows (default:
    the current corpus size). factor_d = p_d·target / n_d — may be <1
    (downsample a head domain) or >1 (upsample a tail domain). Collects
    one row per domain (small by contract: domains are languages/
    sources, not documents)."""
    if temperature < 0:
        raise ValueError(f"temperature must be >= 0, got {temperature}")
    rows = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("n")).collect()
    n = {r[0]: r["n"] for r in rows}
    if not n:
        return {}
    total_t = sum(c**temperature for c in n.values())
    target = target_rows if target_rows is not None else sum(n.values())
    return {
        d: (c**temperature / total_t) * target / c for d, c in n.items()
    }


def mixture_sample(
    df: DataFrame,
    domain_col: str = "lang",
    temperature: float = 1.0,
    target_rows: int | None = None,
    id_col: str = "doc_id",
    seed: str = "mixture",
) -> DataFrame:
    """Materialize a temperature-mixed corpus: ``mixture_factors``
    drives ``upsample_strata``, so head domains Bernoulli-downsample
    (whole factor 0 + fractional hash bucket) and tail domains
    replicate — one map-side explode, no shuffle, reproducible under
    reprocessing (hash buckets never move). Output carries ``copy_n``
    like upsample_strata; expected per-domain size is exactly
    factor_d·n_d."""
    factors = mixture_factors(df, domain_col, temperature, target_rows)
    return upsample_strata(df, domain_col, factors, id_col=id_col, seed=seed)


def epoch_order(
    df: DataFrame,
    epoch: int,
    id_col: str = "doc_id",
    seed: str = "epoch",
    n_partitions: int | None = None,
) -> DataFrame:
    """Deterministic per-epoch training order: order_key = md5 of
    (seed | epoch | id) gives every epoch an independent, reproducible
    pseudo-random permutation — the data-order side of training-run
    reproducibility (resume a crashed epoch and rows come back in the
    identical order; F.rand cannot do this across restarts/partitioning).

    Global order without a single-task sort: repartitionByRange on the
    key (one range shuffle whose boundaries come from a sampled sketch)
    + sortWithinPartitions — partition i holds keys entirely below
    partition i+1, so reading partitions in index order IS the epoch
    order. At 100 TB pick n_partitions ≈ corpus/target-task-size."""
    key = F.md5(
        F.concat_ws("|", F.lit(seed), F.lit(int(epoch)).cast("string"), F.col(id_col).cast("string"))
    )
    out = df.withColumn("order_key", key)
    if n_partitions is not None:
        out = out.repartitionByRange(n_partitions, "order_key")
    else:
        out = out.repartitionByRange("order_key")
    return out.sortWithinPartitions("order_key")


def leakage_safe_split(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    fractions: Mapping[str, float] | None = None,
    seed: str = "split",
) -> DataFrame:
    """Train/val/test assignment at near-dup-CLUSTER granularity.

    Plain ``hash_split`` leaks: two near-duplicate documents hash
    independently, so ~2·p·(1−p) of every dup pair straddles the
    train/test boundary and the test set silently contains
    near-copies of training data. Here the split hash is computed on
    ``coalesce(cluster_id, doc_id)`` — every member of a connected
    component (``dedup.dedup_clusters`` / ``_star`` output: doc_id,
    cluster_id) inherits its component's assignment; unclustered docs
    fall back to their own id, which keeps the split deterministic,
    reproducible, and uniform over GROUPS rather than docs.

    One broadcast-or-shuffle left join on ids (the cluster table is
    pairs-incident docs only — tiny next to the corpus) plus map-side
    hashing; fraction semantics identical to ``hash_split``.
    """
    cl = clusters.select(
        F.col("doc_id").alias(id_col), F.col("cluster_id").alias("__cluster_id")
    )
    joined = df.join(cl, on=id_col, how="left")
    group_key = F.coalesce(F.col("__cluster_id"), F.col(id_col))
    with_key = joined.withColumn("__group_key", group_key)
    out = hash_split(with_key, id_col="__group_key", fractions=fractions, seed=seed)
    return out.drop("__group_key", "__cluster_id")


def bottomk_sample(
    df: DataFrame, k: int, id_col: str = "doc_id", seed: int = 0
) -> DataFrame:
    """Deterministic uniform k-row sample by hash priority: rank every
    row by xxhash64(seed, id) and keep the k smallest (ties → lowest
    id). Why this over df.sample(): (a) exact size k, (b) bit-identical
    under any partitioning/ordering, (c) the plan is
    TakeOrderedAndProject — per-partition top-k heaps + a driver merge
    of p·k candidate rows, never a full sort shuffle, and (d) the
    sample is a MERGEABLE sketch: bottomk(A ∪ B) ==
    bottomk(bottomk(A) ∪ bottomk(B)), so per-shard / per-day samples
    maintained independently combine into the corpus sample without
    touching raw data again (the bottom-k trick HLL/KMV sketches are
    built on). At 100 TB this is how you keep a standing 1M-row QA
    sample current per ingest batch for ~free."""
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    pri = F.xxhash64(F.lit(seed), F.col(id_col))
    return df.orderBy(pri.asc(), F.col(id_col).asc()).limit(k)


def leakage_audit(
    splits: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Verification twin of `leakage_safe_split`: count near-dup pairs
    by the (ordered) split pair they land in. A clean cluster-granular
    assignment has ZERO cross-split rows; a plain per-doc hash split
    leaks ~2·p·(1−p) of every dup pair across the train/test boundary
    — this is the audit that catches it BEFORE the eval set is
    contaminated (run it on any externally-supplied split column, not
    just ours).

    Returns (split_a, split_b, n_pairs), split_a <= split_b
    lexicographically so symmetric pairs aggregate once. Two
    broadcast-size joins of the ids-only pair table against the
    (id, split) projection — the corpus never moves."""
    s = splits.select(F.col(id_col), F.col(split_col))
    a = s.select(
        F.col(id_col).alias("id_a"), F.col(split_col).alias("__sa")
    )
    b = s.select(
        F.col(id_col).alias("id_b"), F.col(split_col).alias("__sb")
    )
    return (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .select(
            F.least("__sa", "__sb").alias("split_a"),
            F.greatest("__sa", "__sb").alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _quantile_boundaries(
    df: DataFrame, col: str, n_buckets: int, rel_err: float = 0.001
) -> list[float]:
    """Approximate quantile cut points of ``col`` used ONLY for load
    balancing: any monotone bucketing of the sort key yields the same
    final result (offsets are computed from the buckets' actual sums),
    so sketch error never affects correctness — a bad boundary just
    imbalances one bucket. Heavy ties collapse duplicate cut points."""
    if n_buckets <= 1:
        return []  # one bucket: no cut points needed
    probs = [i / n_buckets for i in range(1, n_buckets)]
    qs = df.stat.approxQuantile(col, probs, rel_err)
    return sorted({float(q) for q in qs})


def running_total(
    df: DataFrame,
    value_col: str,
    score_col: str,
    descending: bool = True,
    tiebreak: str = "doc_id",
    n_buckets: int = 64,
    boundaries: list[float] | None = None,
    out_col: str = "running_total",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Exact DISTRIBUTED prefix sum of ``value_col`` in
    (``score_col`` desc|asc, ``tiebreak`` asc) order — the primitive
    behind budget-constrained corpus selection, cumulative-coverage
    curves, and "top docs until N tokens" quotas.

    A naive ``sum() OVER (ORDER BY ...)`` with no PARTITION BY is a
    single-task window — one executor sorts the full corpus, which is
    exactly the operator you cannot run at 100 TB. This runs the
    classic two-phase scan instead, all DataFrame-native:

    1. bucket every row by a MONOTONE function of the sort key
       (quantile cut points of ``score_col``; equal scores always share
       a bucket, so the bucket id is a pure row function — no frozen
       partitioning to keep consistent between passes, unlike
       ``repartitionByRange`` + ``spark_partition_id``, whose sampled
       boundaries would have to be pinned across two jobs);
    2. ONE tiny aggregate (≤ n_buckets rows) gives each bucket's total;
       the exclusive per-bucket offsets are a window over that
       ≤ n_buckets-row frame, equi-joined back in-plan — no driver
       collect anywhere in the operator (the join is AQE-broadcast at
       runtime; see the group_cols note below);
    3. the cumulative sum runs as a window PARTITIONED BY bucket —
       n_buckets parallel sorted windows instead of one global one —
       and each row's exact global prefix = bucket offset + local sum.

    Exactly one shuffle of the data (the window's hash exchange by
    bucket) plus two cheap stats jobs. Ordering must be total for a
    well-defined prefix: ``tiebreak`` must be unique per row. NULL
    scores/values are the caller's problem (document or filter first);
    sum skips NULL values, NULL scores all land in bucket 0.

    ``group_cols`` restarts the prefix per group (per-language /
    per-source quotas — the "data recipe" shape): buckets still come
    from the GLOBAL score quantiles (good enough for balance), the
    window partitions by (group, bucket), and per-(group, bucket)
    offsets ride an equi-join of the small totals table instead of the
    map literal (no forced broadcast — AQE picks broadcast when the
    totals frame really is small, so unbounded group columns never
    build a giant broadcast relation on the driver). A hot group splits across its score buckets, so
    even 'one group holds 90% of the corpus' never funnels into one
    task — the failure mode of the naive PARTITION BY group window.
    """
    from pyspark.sql.window import Window

    if tiebreak not in df.columns:
        raise ValueError(f"tiebreak column {tiebreak!r} not in DataFrame")
    groups = list(group_cols or [])
    if boundaries is None:
        boundaries = _quantile_boundaries(df, score_col, n_buckets)
    if boundaries:
        arr = (
            "array("
            + ",".join(repr(float(b)) + "D" for b in boundaries)
            + ")"
        )
        bucket = F.expr(
            f"size(filter({arr}, x -> `{score_col}` > x))"
        ).cast("int")
    else:
        bucket = F.lit(0)  # constant score: one bucket, still correct
    work = df.withColumn("__bucket", bucket)

    totals_frame = work.groupBy(*groups, "__bucket").agg(
        F.sum(value_col).alias("__t")
    )
    # offsets stay DISTRIBUTED and IN-PLAN in both shapes (r8 VERDICT
    # #3; r15 folds the ungrouped path in too — its driver collect +
    # Python fold was the operator's only pre-action, guide §5): the
    # totals frame is |groups|·n_buckets rows (≤ n_buckets+1 when
    # ungrouped), so the exclusive cumulative sum is a window over it
    # partitioned by group — at most n_buckets rows per partition, and
    # the ungrouped single-partition window sorts ≤ n_buckets+1 rows.
    # Addition order matches the old Python fold (bucket ids in sort
    # order) and the long cast truncates identically, so running
    # totals are bit-identical.
    bucket_order = (
        F.col("__bucket").desc() if descending else F.col("__bucket").asc()
    )
    woff = (
        Window.partitionBy(*groups)
        .orderBy(bucket_order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_df = totals_frame.select(
        *groups,
        "__bucket",
        F.coalesce(F.sum("__t").over(woff), F.lit(0))
        .cast("long")
        .alias("__off"),
    )
    # No broadcast hint ON PURPOSE (r9 VERDICT #3): off_df is
    # |groups|·n_buckets rows — tiny for per-language quotas, but a
    # forced broadcast of a per-domain group column (millions of
    # domains × 8 buckets) builds a multi-GB relation on the
    # driver. AQE broadcasts small frames at runtime by itself;
    # the unbounded case keeps a plain shuffled equi-join.
    work = work.join(off_df, [*groups, "__bucket"])
    offset_col = F.col("__off")

    s = F.col(score_col)
    w = (
        Window.partitionBy(*groups, "__bucket")
        .orderBy(s.desc() if descending else s.asc(), F.col(tiebreak).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        work.withColumn(
            out_col, (offset_col + F.sum(value_col).over(w)).cast("long")
        )
        .drop("__bucket", "__off")
    )


def budget_select(
    df: DataFrame,
    budget: int,
    cost_col: str,
    score_col: str,
    descending: bool = True,
    id_col: str = "doc_id",
    n_buckets: int = 64,
    keep_running: bool = False,
    group_cols: list[str] | None = None,
    boundaries: list[float] | None = None,
) -> DataFrame:
    """Budget-constrained corpus selection: walk documents from best to
    worst ``score_col`` (ties → lowest ``id_col``) and keep each doc
    while the running ``cost_col`` total — INCLUDING the doc — stays
    ≤ ``budget``. The 'take the best N-token subset' step every
    training-data recipe ends with, made exact and deterministic: the
    kept set is a pure function of (data, budget), independent of
    partitioning, cluster size, or row order.

    Built on :func:`running_total`, so the global ordering never
    funnels through one task; the filter itself is a map-side predicate
    on the exact prefix sum. Note the greedy prefix rule deliberately
    STOPS at the first doc that would overflow — it does not knapsack
    around it; a later cheaper doc with a worse score is also excluded
    (prefix semantics, not bin packing — reproducibility beats the last
    <1-doc sliver of budget).

    ``group_cols`` applies the SAME budget independently per group —
    per-language / per-source caps, the quota half of a data recipe.

    Costs must be NON-NEGATIVE (a negative cost makes the running
    total non-monotone, so 'running ≤ budget' is no longer a prefix);
    the guard is in-plan and rides the scan for free."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    df = df.withColumn(
        cost_col,
        F.when(F.col(cost_col) >= 0, F.col(cost_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"budget_select: negative or NULL {cost_col!r} for "
                        f"{id_col!r}="
                    ),
                    F.col(id_col).cast("string"),
                    F.lit(
                        " — costs must be non-NULL and >= 0 (negative costs break "
                        "the prefix property of the budget filter)"
                    ),
                )
            )
        ),
    )
    out = running_total(
        df,
        value_col=cost_col,
        score_col=score_col,
        descending=descending,
        tiebreak=id_col,
        n_buckets=n_buckets,
        out_col="__running",
        group_cols=group_cols,
        boundaries=boundaries,
    ).filter(F.col("__running") <= budget)
    if keep_running:
        return out.withColumnRenamed("__running", "running_" + cost_col)
    return out.drop("__running")


def weighted_priority(
    weight_col: Column | str, id_col: Column | str, seed: int = 0
) -> Column:
    """Efraimidis–Spirakis priority as a pure column function:
    ``-ln(u) / w`` with ``u`` a deterministic uniform in (0, 1] derived
    from ``xxhash64(seed, id)`` — the exponential-clock form of
    weighted sampling. Selecting the k SMALLEST priorities samples k
    rows without replacement with inclusion probability proportional
    to weight (for k=1 exactly w_i/Σw). Like bottomk_sample's hash
    priority, it is a pure function of (seed, id, weight): stable
    under any partitioning and MERGEABLE — wbk(A ∪ B) ==
    wbk(wbk(A) ∪ wbk(B)) as long as a given id always carries the
    same weight. Non-positive or NULL weights raise in-plan (a zero
    weight would divide to +inf and silently never sample; better
    loud)."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    i = F.col(id_col) if isinstance(id_col, str) else id_col
    # h uniform in [0, 2^53); u = (h+1)/2^53 in (0, 1] — never 0, so
    # ln(u) is finite; 2^53 keeps the double mantissa exact
    h = F.pmod(F.xxhash64(F.lit(seed), i), F.lit(1 << 53))
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 53))
    wd = w.cast("double")
    # NaN must be caught explicitly: Spark orders NaN ABOVE every
    # double, so `NaN > 0` passes and the row would get a NaN priority
    # that sorts last — silently never sampled instead of loudly wrong
    guarded = F.when((wd > 0) & ~F.isnan(wd), wd).otherwise(
        F.raise_error(
            F.concat(
                F.lit("weighted_priority: non-positive or NULL weight for id "),
                i.cast("string"),
                F.lit(" — weights must be > 0"),
            )
        )
    )
    return -F.log(u) / guarded


def weighted_bottomk_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
    keep_priority: bool = False,
) -> DataFrame:
    """Deterministic weighted k-row sample WITHOUT replacement
    (importance sampling for data mixing: weight by quality score,
    token count, dedup-cluster size...). Same execution shape as
    bottomk_sample — orderBy(priority).limit(k) compiles to
    TakeOrderedAndProject: per-partition top-k heaps + a driver merge
    of p·k rows, never a full sort shuffle — and the same mergeable-
    sketch property, so per-shard weighted samples fold into the
    corpus sample without re-reading raw data."""
    if k <= 0:
        raise ValueError(f"k must be positive (got {k})")
    pri = weighted_priority(weight_col, id_col, seed)
    out = (
        df.withColumn("__pri", pri)
        .orderBy(F.col("__pri").asc(), F.col(id_col).asc())
        .limit(k)
    )
    if keep_priority:
        return out.withColumnRenamed("__pri", "priority")
    return out.drop("__pri")
