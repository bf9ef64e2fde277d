"""Deduplication operators (SURVEY.md §7.4 — LLM-pipeline surface).

Scale design notes (the point of each variant):
- exact_dedup: one hash shuffle on the fingerprint; at 100 TB the key
  is a 128-bit digest, so the shuffle carries ~48 B/row, not documents.
- ngram_jaccard_pairs: exact all-pairs *verification* — quadratic in
  docs sharing a shingle; only run it on LSH candidates at scale.
- MinHash+LSH: the scale path. Signatures are k min-aggregations over
  one shingle explosion (one shuffle); banding turns near-dup search
  into an equi-join on band keys — no cross join ever materializes.
- simhash16: 16-bit SimHash from md5 hex digits — pure integer column
  math so the DuckDB oracle can replay it bit-for-bit.
- embedding near-dup lives in operators/similarity.py (shares the
  quantized-cosine machinery).

Everything is md5-based: Spark's and DuckDB's md5 agree byte-for-byte,
which makes every op here oracle-checkable (lexicographic min over hex
digests is deterministic in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gedixr_spark.operators.text import tokens


def normalized_text(col: Column | str) -> Column:
    """Normalization used for exact dedup: lowercase + collapse runs of
    whitespace (cheap canonicalization before hashing)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the md5 of normalized text; the survivor is the
    minimum id per group (deterministic under any partitioning)."""
    key = F.md5(normalized_text(text_col)).alias("content_key")
    return (
        df.select(key, F.col(id_col))
        .groupBy("content_key")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document."""
    toks = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    empty = F.array().cast("array<string>")
    return F.array_distinct(F.when(F.size(toks) >= n, grams).otherwise(empty))


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs: int | None = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥
    threshold). intersection/union counts are integers, so the jaccard
    division is a single exact-input IEEE op — oracle-stable.

    FOOTGUN GUARD: this op is quadratic in documents sharing a shingle
    — it exists as the verification/oracle twin of
    ``minhash_lsh_neardup``, which is the corpus-scale path. To make
    that API-visible (not just documented), the input cardinality is
    checked against ``max_docs`` (default 100k) and a ValueError names
    the LSH alternative; pass ``max_docs=None`` to run it on inputs
    you know are bounded (e.g. LSH candidate neighborhoods).

    Plan shape: the self-join keys on a 64-bit shingle hash (~4× smaller
    shuffle than shingle strings; collision odds 2^-64·|pairs| —
    immaterial), and set sizes live in a separate per-doc table that is
    broadcast-joined onto the aggregated pairs. Keeping n_sh OUT of the
    pair-join stage matters: carrying the (large, nested-lambda)
    shingle expression for both join sides into one stage blows Spark's
    generated-method size limit and drops the stage to interpreted
    evaluation (~50× slower, measured)."""
    if max_docs is not None:
        n_docs = df.count()
        if n_docs > max_docs:
            raise ValueError(
                f"ngram_jaccard_pairs is quadratic: {n_docs} docs > max_docs="
                f"{max_docs}. Use minhash_lsh_neardup for corpus-scale "
                "near-dup, or pass max_docs=None for bounded inputs."
            )
    sha = word_shingles(text_col, n)
    sh = df.select(
        F.col(id_col), F.explode(F.transform(sha, lambda s: F.xxhash64(s))).alias("sh")
    )
    # pin the exploded shingle frame: the self-join below would
    # otherwise run the regex-shingle + xxhash pass over the corpus
    # twice (once per side)
    sh = sh.localCheckpoint(eager=False)
    sizes = df.select(F.col(id_col), F.size(sha).alias("n_sh")).filter(F.col("n_sh") > 0)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="sh")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = F.broadcast(sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")))
    sb = F.broadcast(sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold)


def minhash_signature(
    df: DataFrame,
    k: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """k-permutation MinHash via seeded md5: mh_i = min(md5(i || '|' ||
    shingle)).

    ZERO-shuffle formulation: the min over a document's shingle set is
    an array fold (array_min over transform), evaluated per row inside
    codegen — no explode, no groupBy. At 100 TB this is the difference
    between a map-only stage and shuffling the entire shingle explosion
    (~50× the corpus size). Documents with fewer than n tokens have no
    shingles and are dropped (same as the grouped formulation)."""
    sha = word_shingles(text_col, n)

    def mh(i: int):
        # NB: the lambda must stay single-parameter — PySpark treats a
        # two-param lambda as (element, index)
        return F.array_min(
            F.transform(sha, lambda s: F.md5(F.concat(F.lit(f"{i}|"), s)))
        ).alias(f"mh{i}")

    cols = [mh(i) for i in range(k)]
    return df.select(F.col(id_col), F.size(sha).alias("__n"), *cols).filter(
        F.col("__n") > 0
    ).drop("__n")


def minhash_signature_grouped(
    df: DataFrame,
    k: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signatures via explode + k min-aggregations — same
    values as ``minhash_signature`` (identical seeded-md5 minima, same
    docs-with-shingles domain), different physical plan: ONE shuffle of
    (doc_id, shingle) pairs with map-side partial min, and the md5×k
    work runs in Spark's vectorized hash-agg instead of a nested array
    fold (measured ~3-4× faster locally at sf0.1). Pick per context:
    the fold is map-only (zero shuffle — wins when the downstream is
    another shuffle anyway); this wins when the signature IS the
    output or feeds a join that needs compact columns materialized."""
    sha = word_shingles(text_col, n)
    sh = df.select(F.col(id_col), F.explode(sha).alias("shingle"))
    return sh.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"mh{i}")
            for i in range(k)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 8,
    bands: int = 2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH banding over the MinHash signature: docs sharing any band
    key become candidate pairs (id_a < id_b, distinct). Equi-join per
    band — broadcastable when candidates are rare, shuffle-join
    otherwise; never a cross join."""
    assert k % bands == 0
    r = k // bands
    # grouped (explode + k min-aggs) rather than the fold formulation:
    # the shuffle materializes compact signatures, so the band self-join
    # stage never sees the giant shingle expression (which would drop
    # the stage out of codegen — same failure mode as in
    # ngram_jaccard_pairs, measured ~5-20× slower).
    sig = minhash_signature_grouped(df, k=k, n=n, text_col=text_col, id_col=id_col)
    # explode band keys out of ONE signature computation: a single
    # equi-join on (band_key) replaces one join per band.
    keys = F.array(
        *[
            F.md5(F.concat_ws("|", *[F.col(f"mh{b * r + j}") for j in range(r)]))
            for b in range(bands)
        ]
    )
    banded = sig.select(F.col(id_col), F.explode(keys).alias("band_key"))
    x = banded.alias("x")
    y = banded.alias("y")
    return (
        x.join(y, on="band_key")
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_lsh_neardup(
    df: DataFrame,
    threshold: float,
    k: int = 8,
    bands: int = 2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The full scale pipeline: LSH candidates → exact Jaccard verify,
    computed ONLY for candidate pairs (never all-pairs): each candidate
    pair joins in both docs' shingle-hash sets and intersects them with
    array_intersect — O(|candidates|·shingles) instead of
    O(pairs-sharing-a-shingle). Identical output to ngram_jaccard_pairs
    minus pairs LSH missed (tunable recall via k/bands)."""
    cand = minhash_lsh_pairs(df, k=k, bands=bands, n=n, text_col=text_col, id_col=id_col)
    # ids-only candidates are tiny in bytes → AQE coalesces them to one
    # partition, and when the sets side broadcasts the array_intersect
    # verify inherits that single partition. Re-spread first (same
    # finding as prefix_jaccard_pairs).
    cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism)
    # shingle-hash SETS per doc, materialized through the join shuffle
    # so the giant shingle expression never rides into the join stage
    sets_df = df.select(
        F.col(id_col),
        F.transform(word_shingles(text_col, n), lambda s: F.xxhash64(s)).alias("shs"),
    )
    sa = sets_df.select(F.col(id_col).alias("id_a"), F.col("shs").alias("shs_a"))
    sb = sets_df.select(F.col(id_col).alias("id_b"), F.col("shs").alias("shs_b"))
    joined = cand.join(sa, "id_a").join(sb, "id_b")
    n_inter = F.size(F.array_intersect("shs_a", "shs_b"))
    jaccard = n_inter.cast("double") / (
        F.size("shs_a") + F.size("shs_b") - n_inter
    )
    return joined.select("id_a", "id_b", jaccard.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def signature_store(
    df: DataFrame,
    k: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document dedup signature store — the table a production
    pipeline PERSISTS per ingested batch so that deduplicating
    tomorrow's batch never touches the historical corpus text:
    ``(id, exact_key, mh0..mh{k-1}, shs)`` where ``exact_key`` is the
    md5 of normalized text, ``mh*`` the seeded-md5 MinHash signature,
    and ``shs`` the xxhash64 shingle-hash set (8 bytes per shingle vs
    the raw text) used for exact-Jaccard verification of LSH
    candidates. Docs with < n tokens have no shingles: they stay in
    the store for exact dedup with NULL mh*/empty shs."""
    sig = minhash_signature_grouped(df, k=k, n=n, text_col=text_col, id_col=id_col)
    base = df.select(
        F.col(id_col),
        F.md5(normalized_text(text_col)).alias("exact_key"),
        F.transform(word_shingles(text_col, n), lambda s: F.xxhash64(s)).alias("shs"),
    )
    return base.join(sig, id_col, "left")


def incremental_dedup(
    new_df: DataFrame,
    history: DataFrame,
    threshold: float = 0.5,
    k: int = 8,
    bands: int = 2,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    history_is_store: bool = False,
) -> DataFrame:
    """Deduplicate a NEW batch against an already-ingested corpus —
    the shape every continuously-fed training pipeline actually runs
    (full-corpus re-dedup per batch is a non-starter at 100 TB).

    Decisions per new doc, exact first then near:
    1. ``drop_exact``  — exact_key matches a historical doc
       (match_id = minimum matching historical id);
    2. ``drop_near``   — an LSH band key collides with a historical
       doc AND exact shingle-Jaccard ≥ threshold (match_id = minimum
       verified historical id);
    3. ``keep``        — everything else (match_id NULL).

    ``history`` is either raw documents or (``history_is_store=True``)
    a persisted :func:`signature_store` — the store path reads ONLY
    compact signatures, never historical text. 100 TB plan: the exact
    pass shuffles (id, 16-byte key) pairs; the near pass equi-joins
    band keys (history side pre-partitionable by band_key at write
    time) and verifies Jaccard only on candidates via stored hash
    sets. Intra-batch dedup is the existing exact_dedup/apply_dedup
    composition — run it on the survivors this returns."""
    assert k % bands == 0
    hist = (
        history
        if history_is_store
        else signature_store(history, k=k, n=n, text_col=text_col, id_col=id_col)
    )
    # the new batch's signatures feed FIVE consumers below (exact join,
    # anti-join remainder, band keys, shingle join, keep anti-join) —
    # materialize once instead of re-hashing the batch per consumer.
    # Same for a DERIVED history store; a persisted store
    # (history_is_store=True) is already a cheap parquet scan.
    new_store = signature_store(
        new_df, k=k, n=n, text_col=text_col, id_col=id_col
    ).localCheckpoint(eager=False)  # first consumer materializes it
    if not history_is_store:
        hist = hist.localCheckpoint(eager=False)
    r = k // bands

    def band_keys(store: DataFrame, out_id: str) -> DataFrame:
        keys = F.array(
            *[
                F.md5(F.concat_ws("|", *[F.col(f"mh{b * r + j}") for j in range(r)]))
                for b in range(bands)
            ]
        )
        return (
            store.filter(F.col("mh0").isNotNull())
            .select(F.col(id_col).alias(out_id), F.explode(keys).alias("band_key"))
        )

    hist_exact = hist.groupBy("exact_key").agg(F.min(id_col).alias("match_id"))
    exact = (
        new_store.select(F.col(id_col), "exact_key")
        .join(hist_exact, "exact_key")
        .select(F.col(id_col), F.lit("drop_exact").alias("action"), "match_id")
    )
    rem = new_store.join(exact.select(id_col), id_col, "left_anti")
    cand = (
        band_keys(rem, id_col)
        .join(band_keys(hist, "hist_id"), "band_key")
        .select(F.col(id_col), "hist_id")
        .distinct()
    )
    # re-spread the tiny candidate set before the per-row
    # array_intersect verify (AQE 1-partition trap — see
    # prefix_jaccard_pairs)
    cand = cand.repartition(new_df.sparkSession.sparkContext.defaultParallelism)
    j = (
        cand.join(rem.select(F.col(id_col), F.col("shs").alias("shs_a")), id_col)
        .join(
            hist.select(F.col(id_col).alias("hist_id"), F.col("shs").alias("shs_b")),
            "hist_id",
        )
    )
    n_inter = F.size(F.array_intersect("shs_a", "shs_b"))
    jaccard = n_inter.cast("double") / (F.size("shs_a") + F.size("shs_b") - n_inter)
    near = (
        j.select(F.col(id_col), "hist_id", jaccard.alias("__j"))
        .filter(F.col("__j") >= threshold)
        .groupBy(id_col)
        .agg(F.min("hist_id").alias("match_id"))
        .select(F.col(id_col), F.lit("drop_near").alias("action"), "match_id")
    )
    dropped = exact.select(id_col).unionByName(near.select(id_col))
    keeps = (
        new_store.select(F.col(id_col))
        .join(dropped, id_col, "left_anti")
        .select(
            F.col(id_col),
            F.lit("keep").alias("action"),
            F.lit(None).cast("long").alias("match_id"),
        )
    )
    return exact.unionByName(near).unionByName(keeps)


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Near-dup CLUSTER ASSIGNMENT: connected components over a pair
    table (e.g. minhash_lsh_pairs output). The last mile of real dedup:
    pairs alone don't say which docs to drop — components do. Returns
    (doc_id, cluster_id, is_survivor) for every doc appearing in a
    pair; cluster_id = min doc id in the component (deterministic under
    any partitioning), survivor = the doc equal to it.

    Algorithm: iterative min-label propagation to convergence — each
    round every node takes the min of its own and its neighbors'
    labels; a driver loop over lazy plans (the MLlib pattern for
    iterative algorithms), with localCheckpoint truncating lineage so
    the plan doesn't grow with iterations. Rounds needed = graph
    diameter; near-dup components are overwhelmingly tiny cliques
    (diameter 1-2). At 100 TB-with-adversarial-chains, swap in the
    large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce"), which converges in O(log^2 n) — same
    DataFrame-only building blocks, more rounds machinery.
    """
    fwd = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    # materialize the edge list ONCE: every propagation round below
    # joins against `edges`, and without this each round re-evaluates
    # the full pair-generation lineage (LSH banding / cluster
    # self-join + cosine) — n_rounds× the most expensive stage of the
    # whole dedup. Ids-only rows, so the checkpointed state is tiny;
    # dedup_clusters_star already did this (same reasoning).
    edges = fwd.union(
        pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v"))
    ).localCheckpoint(eager=False)
    labels = edges.select("u").distinct().select(
        F.col("u").alias("node"), F.col("u").alias("lbl")
    )
    converged = False
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        new_labels = (
            labels.join(nbr, labels.node == nbr.u, "left")
            .select(
                "node",
                F.least(F.col("lbl"), F.coalesce("nbr_lbl", F.col("lbl"))).alias("lbl"),
                (F.col("nbr_lbl") < F.col("lbl")).alias("__changed"),
            )
        ).localCheckpoint(eager=False)  # the probe below (and any
        # partitions it leaves uncomputed, backfilled by Spark's
        # missing-partition checkpoint job) materializes the round —
        # an eager checkpoint here was a whole extra pass per round
        labels = new_labels
        if new_labels.filter(F.col("__changed")).limit(1).isEmpty():
            converged = True
            break
    if not converged:
        # falling through with unstable labels would silently mark
        # MULTIPLE 'survivors' per component → apply_dedup under-deletes
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds — "
            "component diameter exceeds max_iter; raise max_iter or use "
            "large-star/small-star for adversarial chain graphs"
        )
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("lbl").alias("cluster_id"),
        (F.col("node") == F.col("lbl")).alias("is_survivor"),
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node's strictly-LARGER neighbors
    re-attach to the minimum of its closed neighborhood."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    lbl = F.least(F.col("u"), F.col("mv"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), lbl.alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: canonicalize each edge child≥parent, then
    every node's ≤-neighbors (and itself) attach to the neighborhood
    minimum."""
    canon = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = canon.groupBy("u").agg(F.min("v").alias("mv"))
    with_min = canon.join(mins, "u")
    child_edges = with_min.select(F.col("v").alias("u"), F.col("mv").alias("v"))
    center_edges = mins.select("u", F.col("mv").alias("v"))
    return child_edges.union(center_edges).filter(F.col("u") != F.col("v")).distinct()


def dedup_clusters_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al.) — the scale-safe twin of ``dedup_clusters``:
    converges in O(log² n) ROUNDS regardless of component diameter,
    where min-label propagation needs diameter rounds (a 1M-node
    adversarial chain: ~20 rounds here vs 1M there). Same output
    contract: (doc_id, cluster_id=component min, is_survivor).

    Each round is two groupBy-min + join stages over the (shrinking)
    edge list — ids only, documents never shuffle; localCheckpoint
    truncates lineage per round. Convergence = the canonical star edge
    set reaches a fixed point (every node attached directly to its
    component minimum)."""
    edges = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).filter(F.col("u") != F.col("v")).distinct().localCheckpoint(eager=False)
    nodes = (
        edges.select("u").union(edges.select(F.col("v").alias("u"))).distinct()
    )
    converged = False
    # per-round action budget (lazy checkpoints + carried counts): ONE
    # count job per round — it materializes the round's checkpoint as a
    # side effect (the pagerank pattern) — plus the exceptAll probe only
    # on rounds whose edge count reached a fixed point. The former
    # eager-checkpoint + fresh count-of-BOTH-sides shape ran 3-4 jobs a
    # round for the same booleans.
    n_edges: int | None = None
    for _ in range(max_iter):
        new_edges = _small_star(_large_star(edges)).localCheckpoint(
            eager=False
        )
        n_new = new_edges.count()
        if n_edges is None:
            n_edges = edges.count()  # first round only; checkpointed
        same = (
            n_new == n_edges
            and new_edges.exceptAll(edges).limit(1).isEmpty()
        )
        edges, n_edges = new_edges, n_new
        if same:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_clusters_star did not converge in {max_iter} rounds"
        )
    # fixed point: every non-root points straight at its component min
    labels = edges.groupBy("u").agg(F.min("v").alias("lbl"))
    return (
        nodes.join(labels, "u", "left")
        .select(
            F.col("u").alias("doc_id"),
            F.coalesce("lbl", F.col("u")).alias("cluster_id"),
            (F.coalesce("lbl", F.col("u")) == F.col("u")).alias("is_survivor"),
        )
    )


def choose_survivors(
    clusters: DataFrame,
    docs: DataFrame,
    order_col: str,
    id_col: str = "doc_id",
    ascending: bool = False,
) -> DataFrame:
    """Re-pick each cluster's survivor by a QUALITY policy instead of
    min-id: e.g. keep the longest document (order_col='n_tokens') or
    the highest quality score — what production dedup actually wants
    (min-id is deterministic but arbitrary). Ties break on doc id
    ascending, so the result stays deterministic.

    Input: ``dedup_clusters`` output + a docs table carrying
    ``order_col``. Returns the same (doc_id, cluster_id, is_survivor)
    shape with is_survivor recomputed; feed straight to ``apply_dedup``.
    Plan: one ids+metric join and one per-cluster window — cluster
    tables are ids-only, documents never shuffle."""
    from pyspark.sql.window import Window

    metric = docs.select(F.col(id_col).alias("doc_id"), F.col(order_col).alias("__m"))
    j = clusters.select("doc_id", "cluster_id").join(metric, "doc_id", "left")
    direction = F.asc("__m") if ascending else F.desc("__m")
    w = Window.partitionBy("cluster_id").orderBy(direction, F.asc("doc_id"))
    return (
        j.withColumn("__r", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            (F.col("__r") == 1).alias("is_survivor"),
        )
    )


def apply_dedup(
    df: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Materialize a dedup decision: keep every row of ``df`` except
    non-survivor members of ``clusters`` (dedup_clusters output). The
    loser set is the (small) join side — at 100 TB the corpus stays a
    map-side scan against a broadcast/shuffled anti-join on ids only;
    full documents never move for the decision."""
    losers = clusters.filter(~F.col("is_survivor")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def simhash_signatures(
    df: DataFrame, bits: int = 32, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc ``bits``-wide SimHash as (id, sig) — the DataFrame-level
    formulation: explode tokens, per-bit ±1 SUM aggregates, pack signs.

    vs the simhash16 column fold: this shuffles, but partial (map-side)
    aggregation reduces the exchange to `bits` ints per doc, and Spark's
    vectorized hash-agg beats the nested-array fold codegen ~2×
    (measured at sf0.1). Per-token bit digits come from the first
    bits/4 hex chars of the token md5 (conv base16), so DuckDB replays
    them digit-by-digit. Docs with zero tokens have no signature (no
    rows to aggregate) — they can't be NEAR anything; exact dedup owns
    them."""
    if bits % 4 != 0 or not 4 <= bits <= 60:
        raise ValueError(f"bits must be a multiple of 4 in [4, 60]: {bits}")
    d = F.conv(F.substring(F.md5(F.col("__t")), 1, bits // 4), 16, 10).cast("long")
    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__t")
    ).select(id_col, d.alias("__d"))
    aggs = [
        F.sum(((F.floor(F.col("__d") / (2**i)) % 2) * 2 - 1).cast("int")).alias(f"b{i}")
        for i in range(bits)
    ]
    g = tok.groupBy(id_col).agg(*aggs)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(F.col(f"b{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0))
    return g.select(id_col, sig.alias("sig"))


def simhash_neardup_pairs(
    df: DataFrame,
    max_dist: int = 3,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup pairs: (id_a < id_b, hamming) with hamming
    distance ≤ ``max_dist`` between ``bits``-wide simhash signatures.

    Candidate generation is ``max_dist+1``-band banding — by
    pigeonhole, any pair within distance d ≤ max_dist agrees on ≥1 of
    the max_dist+1 bands (d flipped bits touch ≤ d bands), so the band
    equi-join finds EVERY qualifying pair: banding is exact, not
    approximate, at any max_dist with bits % (max_dist+1) == 0.
    Verification is one integer op per candidate:
    bit_count(sig_a XOR sig_b).

    Scale shape: signatures materialize first (doc_id + one long — the
    token explosion never crosses the join), the self-join is an
    equi-join on (band_idx, band_val) — never a cross join — and
    hamming verification runs on the joined ints before the distinct.
    Default 32-bit: 16 bits puts ~12% of ALL pairs within distance 3
    at sf0.1 (a quadratic blowup); 32 bits keeps candidates ≈ true
    near-dups. Larger max_dist ⇒ more, narrower bands ⇒ bigger
    candidate sets — the standard recall/cost dial."""
    n_bands = max_dist + 1
    if max_dist < 0 or bits % n_bands != 0:
        raise ValueError(
            f"banding needs max_dist >= 0 and bits divisible by max_dist+1: "
            f"bits={bits}, max_dist={max_dist}"
        )
    band_w = 2 ** (bits // n_bands)
    sigs = simhash_signatures(df, bits=bits, text_col=text_col, id_col=id_col)
    bands = sigs.select(
        id_col,
        "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    (F.floor(F.col("sig") / (band_w**i)) % band_w).cast("long").alias("band_val"),
                )
                for i in range(n_bands)
            ])
        ).alias("band"),
    ).select(id_col, "sig", "band.band_idx", "band.band_val")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, on=["band_idx", "band_val"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_dist)
        .distinct()
    )


def simhash16(col: Column | str) -> Column:
    """16-bit SimHash over word tokens: the first 4 hex digits of each
    token's md5 give a 16-bit value; per bit, sum +1/-1 across tokens;
    the sign vector packs back into an int. One pass: a 16-bit digit
    per token (via conv base16→10), then a single fold with a 16-field
    struct accumulator. Integer-only math — replayable in ANSI SQL
    (hex digits via strpos in the oracle)."""
    digits = F.transform(
        tokens(col), lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("int")
    )
    zero = F.struct(*[F.lit(0).alias(f"b{i}") for i in range(16)])
    folded = F.aggregate(
        digits,
        zero,
        lambda acc, d: F.struct(
            *[
                (acc[f"b{i}"] + ((F.floor(d / (2**i)) % 2) * 2 - 1).cast("int")).alias(f"b{i}")
                for i in range(16)
            ]
        ),
    )
    out = F.lit(0)
    for i in range(16):
        out = out + F.when(folded[f"b{i}"] > 0, F.lit(2**i)).otherwise(F.lit(0))
    return out


# --- FastSS edit-distance near-dup join ------------------------------------
# Deletion-neighborhood blocking (Bocek et al. 2007, "Fast Similarity
# Search in Large Dictionaries"): two strings with edit distance <= k
# share at least one member of their k-deletion neighborhoods, so the
# candidate set is an EQUI-join on deletion variants — no all-pairs
# scan — and candidates verify with the JVM levenshtein builtin.
# The lexical twin of minhash/simhash for SHORT fields (titles,
# names, codes): the neighborhood is O(len^k) per string, hence the
# max_len guard. No reference counterpart; §7.4 extension surface.


def deletion_variants(col: Column | str, max_dist: int = 1) -> Column:
    """All strings reachable by deleting up to ``max_dist`` chars from
    the NORMALIZED input (the string itself included), distinct. Pure
    column math: one sequence+transform round per deletion level,
    flattened and deduped — O(len^max_dist) variants, all JVM-side."""
    if max_dist not in (1, 2):
        raise ValueError(f"max_dist must be 1 or 2, got {max_dist}")
    s = normalized_text(col)

    def one_level(c: Column) -> Column:
        # every string in c with one char deleted
        return F.array_distinct(
            F.flatten(
                F.transform(
                    c,
                    lambda v: F.transform(
                        F.sequence(F.lit(1), F.greatest(F.length(v), F.lit(1))),
                        lambda i: F.concat(
                            F.substring(v, F.lit(1), i - 1),
                            F.substr(v, i + 1, F.length(v)),
                        ),
                    ),
                )
            )
        )

    level0 = F.array(s)
    out = level0
    prev = level0
    for _ in range(max_dist):
        prev = one_level(prev)
        out = F.array_distinct(F.concat(out, prev))
    return out


def edit_distance_pairs(
    df: DataFrame,
    max_dist: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_len: int = 64,
) -> DataFrame:
    """(id_a, id_b, dist) for all pairs with levenshtein distance of
    the normalized strings <= ``max_dist`` (id_a < id_b, each pair
    once). COMPLETE by the deletion-neighborhood pigeonhole — unlike
    LSH there are no false negatives; the equi-join on variants only
    bounds the candidate set.

    Scale shape: explode to O(len^max_dist) signature rows per doc,
    ONE equi-join on the signature (ids only ride it), distinct, then
    exact `levenshtein` verification in whole-stage codegen against
    the two normalized strings. ``max_len`` guards the neighborhood
    blow-up the same way ngram_jaccard_pairs' max_docs guards its
    quadratic: strings longer than it raise, naming the right tool
    (minhash_lsh_neardup for long texts). The guard is IN-PLAN
    (`raise_error` under a `when` on the signature path, r6 VERDICT
    #5): composing the DataFrame fires no Spark job; the check rides
    the scan the join already pays and costs nothing on clean
    inputs."""
    s = df.select(F.col(id_col), normalized_text(text_col).alias("__s"))
    s = s.withColumn(
        "__s",
        F.when(F.length("__s") <= max_len, F.col("__s")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "edit_distance_pairs saw a normalized string longer "
                        f"than max_len={max_len} (doc "
                    ),
                    F.col(id_col).cast("string"),
                    F.lit(
                        f"); the deletion neighborhood is O(len^{max_dist}) "
                        "per row. Use minhash_lsh_neardup/"
                        "simhash_neardup_pairs for long texts, or raise "
                        "max_len deliberately."
                    ),
                )
            )
        ),
    )
    sigs = s.select(
        id_col, F.explode(deletion_variants(F.col("__s"), max_dist)).alias("__v")
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(b, on="__v")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # re-spread the tiny candidate set before the per-row levenshtein
    # verify (AQE 1-partition trap — see prefix_jaccard_pairs)
    cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism)
    sa = s.select(F.col(id_col).alias("id_a"), F.col("__s").alias("__sa"))
    sb = s.select(F.col(id_col).alias("id_b"), F.col("__s").alias("__sb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("dist", F.levenshtein("__sa", "__sb"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def prefix_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    order: str = "rarity",
) -> DataFrame:
    """EXACT n-gram Jaccard pairs (id_a < id_b, jaccard >= threshold)
    via prefix filtering (AllPairs, Bayardo et al. WWW'07; the PPJoin
    family) — the corpus-scale path to *exact* similarity join, where
    `ngram_jaccard_pairs` is quadratic and MinHash-LSH is approximate.

    How it prunes: order every document's shingle set by GLOBAL
    rarity (corpus document frequency asc, hash asc — any total order
    works; rarity makes prefixes selective, ``order='hash'`` skips the
    frequency stage entirely and orders by shingle hash, two shuffles
    cheaper but without the hot-token bound). A pair with jaccard >= t
    must share at least one token in the first
    ``p = m - ceil(t*m) + 1`` tokens of each side's ordering
    (pigeonhole on the overlap bound ``inter >= t * max(m_a, m_b)``),
    so candidate generation is an equi-join on PREFIX tokens only —
    rare tokens, tiny groups — instead of an all-pairs or full-token
    join. A size filter (``min_m >= t * max_m``, necessary for
    jaccard >= t) prunes before the distinct. Verification then joins
    the two full hashed-shingle arrays and computes the EXACT jaccard
    with JVM ``array_intersect`` — integer intersection / integer
    union, the same single IEEE division as the brute-force twin, so
    results are bit-identical to `ngram_jaccard_pairs` on any input.

    Float-safety: both ceil() sites nudge DOWN by 1e-9 before
    rounding, so representation error can only LENGTHEN a prefix /
    LOOSEN the size filter (extra candidates, later rejected by exact
    verification) — never create a false negative.

    Plan shape at 100 TB: one explode + token-frequency aggregation
    (shuffle keyed on 64-bit shingle hash), one join back to attach
    counts, one per-doc sort_array fold to build prefixes (no window
    functions — a single groupBy), one prefix-token equi-join whose
    group sizes are bounded by token rarity, and one ids->arrays
    verification join bounded by candidate count. Skew note: a token
    appearing in k docs contributes O(k^2) candidate pairs, but
    frequency ordering puts frequent tokens LAST, so they never enter
    prefixes — the hot-token quadratic that kills naive token joins is
    pruned by construction."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if order not in ("rarity", "hash"):
        raise ValueError(f"order must be 'rarity' or 'hash', got {order!r}")
    sha = word_shingles(text_col, n)
    # sorted hashed-shingle arrays, pinned ONCE: the frame feeds the
    # prefix build AND both verification joins — unpinned, the
    # regex-shingle + xxhash pass over the full corpus ran three times
    # (measured 2× the whole operator at sf0.1)
    docs = (
        df.select(
            F.col(id_col).alias("id"),
            F.array_sort(
                F.array_distinct(F.transform(sha, lambda s: F.xxhash64(s)))
            ).alias("hs"),
        )
        .withColumn("m", F.size("hs"))
        .filter(F.col("m") > 0)
        .localCheckpoint(eager=False)
    )

    # prefix length p = m - ceil(t*m) + 1, ceil nudged down (see above)
    p = F.col("m") - F.ceil(F.lit(threshold) * F.col("m") - F.lit(1e-9)).cast("int") + 1
    if order == "hash":
        # hash order: the sorted array IS the ordering — prefixes are a
        # map-side slice, no frequency aggregation and no per-doc
        # re-sort (two shuffles cheaper). Trade-off: frequent tokens
        # can enter prefixes, so a token in k docs can contribute up to
        # O(k²) candidates — fine at high thresholds / bench scale;
        # prefer 'rarity' when the corpus has heavy-tail token skew.
        prefixes = docs.select(
            "id", "m", F.explode(F.slice("hs", 1, p)).alias("sh")
        )
    else:
        ex = docs.select("id", "m", F.explode("hs").alias("sh"))
        freq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("cnt"))
        prefixes = (
            ex.join(freq, "sh")
            .groupBy("id")
            .agg(
                F.first("m").alias("m"),
                F.sort_array(F.collect_list(F.struct("cnt", "sh"))).alias("ordered"),
            )
            .select(
                "id",
                "m",
                F.transform(F.slice("ordered", 1, p), lambda x: x["sh"]).alias("pref"),
            )
            .select("id", "m", F.explode("pref").alias("sh"))
        )
    # the self-join below references the prefix pipeline TWICE — pin it
    # so the prefix build materializes once (lazy: the join's first
    # action triggers it)
    prefixes = prefixes.localCheckpoint(eager=False)
    a, b = prefixes.alias("a"), prefixes.alias("b")
    size_ok = F.least(F.col("a.m"), F.col("b.m")) >= F.ceil(
        F.lit(threshold) * F.greatest(F.col("a.m"), F.col("b.m")) - F.lit(1e-9)
    )
    cand = (
        a.join(b, on="sh")
        .filter((F.col("a.id") < F.col("b.id")) & size_ok)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # ids-only candidates are tiny in BYTES, so AQE coalesces them to
    # ONE partition — which then serializes the verification stage's
    # per-row array_intersect over full shingle arrays (measured 2.5×
    # on the whole operator). Re-spread before the heavy-per-row work.
    cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism)
    arrs = docs.select("id", "m", "hs")
    out = (
        cand.join(arrs.select(F.col("id").alias("id_a"),
                              F.col("m").alias("n_a"),
                              F.col("hs").alias("hs_a")), "id_a")
        .join(arrs.select(F.col("id").alias("id_b"),
                          F.col("m").alias("n_b"),
                          F.col("hs").alias("hs_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("n_inter"),
            "n_a",
            "n_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out
