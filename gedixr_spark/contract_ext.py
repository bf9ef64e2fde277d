"""Driver-contract queries for the §7.4 extension operators (dedup,
similarity search, text analysis, event-time ops, multimodal plumbing)
with DuckDB oracles where SQL-expressible.

Parity techniques (same discipline as contract.py):
- md5 is byte-identical across engines → all text hashing/minhash.
- Jaccard / ratios: integer counts into one division.
- Embeddings: quantized to ints (round(e*1000)) → exact dot products;
  cosine = one division of exact values.
- Event value sums: decimal(18,2) cast → exact, order-independent.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gedixr_spark.operators import dedup, events, similarity, text
from gedixr_spark.operators.multimodal import attach_fake_payload


_SCRATCH_ROOT: str | None = None


def _scratch_root() -> str:
    """One private mkdtemp root PER PROCESS, created lazily, removed at
    interpreter exit. mkdtemp gives an unpredictable 0700 directory, so
    (a) two concurrent driver processes (bench + correctness on one
    host) can never wipe each other's live scratch files, and (b) no
    other user can pre-own the path — the two hazards of the previous
    fixed /tmp/gedixr_scratch layout (r7 ADVICE, medium). Within the
    process the root is reused across calls, so repeated bench runs
    still leave /tmp flat."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        import atexit
        import shutil
        import tempfile

        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="gedixr_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return _SCRATCH_ROOT


def _scratch_dir(name: str, key: str = "") -> str:
    """Per-(name, key) scratch dir under this process's private root,
    wiped and recreated on each call. Repeated bench/correctness runs
    (warm-up + min-of-3 × many rounds) reuse ONE path instead of
    accumulating a mkdtemp tree per invocation (r6 VERDICT #6 /
    ADVICE): /tmp stays flat no matter how often the query runs. The
    caller must materialize the returned DataFrame before invoking the
    same query again — the next call wipes the files."""
    import os
    import shutil

    d = os.path.join(_scratch_root(), f"{name}_{key}" if key else name)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


def _sf_key(sf_dir: str) -> str:
    """Collision-free scratch key for a data directory: hash of the
    FULL absolute path, not its basename — two different trees that
    happen to end in .../sf0.1 must not share cached index metadata
    (r7 ADVICE)."""
    import hashlib
    import os

    return hashlib.sha1(
        os.path.abspath(sf_dir.rstrip("/")).encode()
    ).hexdigest()[:12]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from gedixr_spark.operators.skew import fan_out

    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return fan_out(load_events(spark, sf_dir), memo_key=path)
    return fan_out(spark.read.parquet(path), memo_key=path)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table stores TIMESTAMP(NANOS, isAdjustedToUTC=false)
    parquet. How Spark surfaces that column depends on version:

    - Spark 4.1+ reads it natively as TIMESTAMP_NTZ, flooring nanos to
      micros — byte-identical to DuckDB's parquet reader (verified: ns
      remainders ≥ 500 are floored, not rounded), so oracle parity holds.
    - Older Spark 4.0 rejects it unless
      ``spark.sql.legacy.parquet.nanosAsLong`` is set, in which case the
      column arrives as a BIGINT of epoch-nanos.

    Branch on the dtype actually read so both engines (and any driver
    session config) land on the same micros-precision TIMESTAMP column.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # events timestamps are instants; pin the session to UTC so
    # date_trunc/month agree with DuckDB's naive reading even if the
    # driver's session runs in another timezone, and so the
    # TIMESTAMP_NTZ → TIMESTAMP cast below is the identity
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        # nanosAsLong path: epoch-nanos → FLOOR to micros in pure long
        # arithmetic: subtract the non-negative pmod remainder, then the
        # truncating `div` of an exact multiple equals floor. (`ts div
        # 1000` alone truncates toward zero — pre-1970 nanos would round
        # UP where DuckDB floors.)
        return df.withColumn(
            "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) div 1000"))
        )
    if ts_type.startswith("timestamp"):  # timestamp / timestamp_ntz
        # NTZ → TIMESTAMP is the identity cast under the UTC session
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    raise TypeError(
        f"events.ts read as unexpected dtype {ts_type!r}; "
        "expected bigint (nanosAsLong) or timestamp[_ntz]"
    )


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: md5-of-normalized-text survivor table."""
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


def q_doc_signatures(spark, sf_dir):
    """Every per-doc signature in one row: order-insensitive
    bag-of-words fingerprint, 16-bit SimHash, Rabin-Karp rolling hash,
    and the 4-permutation MinHash — the full fingerprinting surface
    (exact-dup keys, near-dup sketches, order-sensitive hashes) one
    scan produces. Left join: docs with <3 tokens have no MinHash."""
    df = _t(spark, sf_dir, "documents")
    base = df.select(
        "doc_id",
        text.doc_fingerprint("text").alias("fingerprint"),
        dedup.simhash16("text").alias("simhash"),
        text.rolling_hash("text").alias("rhash"),
    )
    # grouped formulation: the signature is a join input here, so the
    # materialize-through-an-exchange plan wins (see its docstring);
    # the zero-shuffle fold twin is minhash_signature
    sig = dedup.minhash_signature_grouped(df, k=4)
    return base.join(sig, "doc_id", "left")


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs, BOTH engines as one
    labeled union (r8 consolidation — one recorded row hash-checks two
    implementations against the same SQL body): leg 'brute' is the
    quadratic verification twin at 0.5; leg 'prefix' is
    `prefix_jaccard_pairs` (AllPairs prefix filtering — the
    corpus-scale EXACT path) at 0.7, the regime prefix filtering is
    FOR (p ≈ 0.3·m): at low thresholds the prefix covers most of each
    doc and the candidate join degenerates toward a full token join —
    the first-cut 0.3 leg cost 2.3× the whole r7 row by itself. Both
    produce integer-intersection / integer-union jaccards,
    bit-identical to the DuckDB replay."""
    docs = _t(spark, sf_dir, "documents")
    brute = dedup.ngram_jaccard_pairs(docs, 0.5).select(
        F.lit("brute").alias("leg"), "id_a", "id_b", "jaccard"
    )
    pref = dedup.prefix_jaccard_pairs(docs, 0.7, order="hash").select(
        F.lit("prefix").alias("leg"), "id_a", "id_b", "jaccard"
    )
    return brute.unionByName(pref)


def q_minhash_lsh_neardup(spark, sf_dir):
    """Full scale dedup pipeline: LSH candidates → exact Jaccard verify
    at 0.5 (recall bounded by banding; the oracle replays the same
    candidate restriction)."""
    return dedup.minhash_lsh_neardup(
        _t(spark, sf_dir, "documents"), threshold=0.5, k=4, bands=2
    )


def q_dedup_pipeline(spark, sf_dir):
    """r7 window consolidation: `dedup_clusters` (star-CC labels over
    the LSH pair graph) and `dedup_apply` (min-label CC → survivor
    anti-join) as ONE labeled union — both component algorithms keep
    their driver-checked rows in a single registry slot; each leg is
    the former standalone recorded query, unchanged, and the oracle
    reuses both SQL bodies verbatim (the shared recursive-CTE work
    rides one WITH). The Spark side shares the LSH pair graph the same
    way the oracle shares its CTE: pairs are banded once
    (localCheckpoint) and both CC algorithms consume the materialized
    edge list — without it each leg re-runs the shingle→minhash→band
    pipeline from the parquet scan."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, k=4, bands=2).localCheckpoint(
        eager=False  # first leg's job materializes it; both legs share
    )
    clusters = dedup.dedup_clusters_star(pairs).select(
        F.lit("clusters").alias("leg"),
        "doc_id",
        "cluster_id",
        "is_survivor",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
    )
    applied = dedup.apply_dedup(docs, dedup.dedup_clusters(pairs)).select(
        F.lit("apply").alias("leg"),
        "doc_id",
        F.lit(None).cast("long").alias("cluster_id"),
        F.lit(None).cast("boolean").alias("is_survivor"),
        "lang",
        "source",
    )
    return clusters.unionByName(applied)


def q_lexical_neardup(spark, sf_dir):
    """r7 window consolidation: the two lexical near-dup sketches —
    MinHash-LSH (Jaccard ≥ 0.5, banded candidates + exact verify) and
    SimHash (hamming ≤ 3, pigeonhole bands) — as one labeled union;
    each leg is the former standalone recorded query, unchanged."""
    mh = q_minhash_lsh_neardup(spark, sf_dir).select(
        F.lit("minhash").alias("leg"),
        "id_a",
        "id_b",
        "jaccard",
        F.lit(None).cast("int").alias("hamming"),
    )
    sh = q_simhash_neardup(spark, sf_dir).select(
        F.lit("simhash").alias("leg"),
        "id_a",
        "id_b",
        F.lit(None).cast("double").alias("jaccard"),
        "hamming",
    )
    return mh.unionByName(sh)


def q_span_cleaning(spark, sf_dir):
    """r7 window consolidation: the three sub-document cleaning rails
    — CCNet segment dedup (chunk-level boilerplate removal +
    reassembly), cross-doc exact substring spans, and Gopher
    repetition signals — as one labeled union; each leg is the former
    standalone recorded query, unchanged."""
    seg = q_segment_dedup(spark, sf_dir).select(
        F.lit("segment").alias("leg"),
        "doc_id",
        F.col("n_segs").alias("n1"),
        F.col("n_kept").alias("n2"),
        F.col("text_clean").alias("s"),
        F.lit(None).cast("double").alias("x1"),
        F.lit(None).cast("double").alias("x2"),
    )
    spans = q_substring_dedup_spans(spark, sf_dir).select(
        F.lit("spans").alias("leg"),
        "doc_id",
        F.col("span_start").cast("long").alias("n1"),
        F.col("span_end").cast("long").alias("n2"),
        F.lit(None).cast("string").alias("s"),
        F.lit(None).cast("double").alias("x1"),
        F.lit(None).cast("double").alias("x2"),
    )
    rep = q_repetition(spark, sf_dir).select(
        F.lit("repetition").alias("leg"),
        "doc_id",
        F.lit(None).cast("long").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        F.lit(None).cast("string").alias("s"),
        F.col("dup_token_ratio").alias("x1"),
        F.col("top_bigram_ratio").alias("x2"),
    )
    return seg.unionByName(spans).unionByName(rep)


def q_incremental_dedup(spark, sf_dir):
    """Incremental dedup of a new batch (doc_id ≥ 250) against the
    already-ingested history (doc_id < 250) via the persisted
    signature store (operators/dedup.py:incremental_dedup): exact-key
    drop, LSH-band + exact-Jaccard-verified near drop (min matching
    historical id), keep otherwise — without touching historical
    text."""
    docs = _t(spark, sf_dir, "documents")
    hist_store = dedup.signature_store(docs.filter(F.col("doc_id") < 250), k=4)
    return dedup.incremental_dedup(
        docs.filter(F.col("doc_id") >= 250),
        hist_store,
        threshold=0.5,
        k=4,
        bands=2,
        history_is_store=True,
    )


def q_segment_dedup(spark, sf_dir):
    """CCNet-style segment dedup (operators/text.py:segment_dedup):
    10-token chunks occurring in ≥2 distinct docs are boilerplate;
    docs are reassembled from surviving chunks in original order."""
    return text.segment_dedup(
        _t(spark, sf_dir, "documents"), seg_tokens=10, min_docs=2
    )


def q_quality_gate(spark, sf_dir):
    """C4/Gopher document quality gate (operators/text.py:
    filter_documents): one conjunctive codegen'd predicate — token
    band, mean-token-length band, stopword floor, uppercase cap,
    duplicate-token cap — over the raw corpus; survivors only."""
    gated = text.filter_documents(_t(spark, sf_dir, "documents"))
    return gated.select(
        "doc_id", text.token_count("text").alias("n_tokens"), "n_chars"
    )


def q_deterministic_splits(spark, sf_dir):
    """Both deterministic-sampling surfaces in one labeled union:
    md5-bucket train/val/test split (90/5/5) and per-language
    stratified sample (en 50% / de 30% / fr 20%, others dropped) —
    map-side predicates, no RNG, one registry slot."""
    from gedixr_spark.operators import sampling

    docs = _t(spark, sf_dir, "documents")
    a = sampling.hash_split(docs).select(
        F.lit("hash_split").alias("op"),
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        "bucket",
        "split",
    )
    b = sampling.stratified_sample(docs, "lang", {"en": 0.5, "de": 0.3, "fr": 0.2}).select(
        F.lit("stratified").alias("op"),
        "doc_id",
        "lang",
        "bucket",
        F.lit(None).cast("string").alias("split"),
    )
    return a.unionByName(b)


def q_substring_dedup_spans(spark, sf_dir):
    """Cross-doc exact substring spans (operators/text.py:
    substring_dedup_spans): verbatim 5-gram runs shared across ≥2
    docs, merged to maximal (doc_id, span_start, span_end) ranges."""
    return text.substring_dedup_spans(_t(spark, sf_dir, "documents"), n=5, min_docs=2)


def q_simhash_neardup(spark, sf_dir):
    """SimHash hamming-≤3 near-dup pairs via exact 4-band pigeonhole
    candidates; oracle is the all-pairs hamming filter (equivalent by
    the completeness guarantee, checked end-to-end)."""
    return dedup.simhash_neardup_pairs(_t(spark, sf_dir, "documents"), max_dist=3)


def q_repetition(spark, sf_dir):
    """Gopher-style repetition signals (shuffle-free per-doc fold)."""
    df = text.repetition_features(_t(spark, sf_dir, "documents"))
    return df.select("doc_id", "dup_token_ratio", "top_bigram_ratio")


def q_pii_redact(spark, sf_dir):
    """PII audit + redaction. The synthetic corpus has no PII, so the
    query plants a deterministic email + dotted-quad per doc first —
    the operator then has real matches to count and redact."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ).alias("text"),
    )
    out = text.redact_pii(text.pii_features(docs))
    return out.select("doc_id", "n_email", "n_ipv4", "text_redacted")


def q_blocklist_filter(spark, sf_dir):
    """Broadcast anti-join source blocklist (C4-style source cleanup)."""
    docs = _t(spark, sf_dir, "documents")
    out = text.blocklist_filter(docs, ["src3", "src7", "src13"])
    return out.select("doc_id", "source")


# ---------------------------------------------------------------------------
# Similarity
# ---------------------------------------------------------------------------


def q_cosine_topk(spark, sf_dir):
    """Brute-force quantized-cosine top-5 for query vectors vec_id<3."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb.filter(F.col("vec_id") < 3), emb, k=5)


def q_embedding_neardup(spark, sf_dir):
    """Multi-table LSH embedding near-dup pairs (L=2 tables × 10 bits;
    cosine ≥ 0.3 — the synthetic embeddings are random unit vectors, so
    'near-dup' means top-tail cosine; real corpora would use ≥ 0.95).
    The scale-safe parameterization: per-table occupancy n/2^bits stays
    O(1) when bits ≈ log2(n); the OR of tables buys recall back."""
    return similarity.embedding_neardup_pairs_multitable(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, n_tables=2, bits=10
    )


def q_ann_topk(spark, sf_dir):
    """Multi-table LSH ANN top-3 for query vectors vec_id<5 (L=2 × 8
    bits): the corpus index is replicated per table, queries probe each
    table's bucket, pairs dedupe before scoring."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_ann_topk_multitable(
        emb.filter(F.col("vec_id") < 5), emb, k=3, n_tables=2, bits=8
    )


def q_ivf_ann_topk(spark, sf_dir):
    """IVF ANN top-3 (nprobe=1) for query vectors vec_id<5, with the
    centroid set round-tripped through the parquet persistence path
    (save_centroids → load_centroids) — the write-once / broadcast-load
    index-metadata lifecycle a 100 TB vector store runs, now on the
    driver-checked path. Same centroid values either way, so the
    oracle row is unchanged."""
    emb = _t(spark, sf_dir, "embeddings")
    loaded = _ivf_centroids_roundtripped(spark)
    return similarity.ivf_ann_topk(
        emb.filter(F.col("vec_id") < 5), emb, k=3, n_cells=8, centroids=loaded
    )


_IVF_ROUNDTRIP_CACHE: list[list[int]] | None = None


def _ivf_centroids_roundtripped(spark) -> list[list[int]]:
    """Save→load the centroid set through parquet ONCE per process
    (write-once index metadata is the real lifecycle; re-writing per
    bench repetition would time tiny-file I/O, not the query plan) and
    assert losslessness."""
    global _IVF_ROUNDTRIP_CACHE
    if _IVF_ROUNDTRIP_CACHE is None:
        cen = similarity.ivf_centroids(dim=64, n_cells=8, seed=7)
        path = _scratch_dir("ivf_centroids") + "/centroids.parquet"
        similarity.save_centroids(spark, cen, path)
        loaded = similarity.load_centroids(spark, path)
        if loaded != cen:  # not assert: must survive python -O
            raise RuntimeError("IVF centroid parquet round-trip was lossy")
        _IVF_ROUNDTRIP_CACHE = loaded
    return _IVF_ROUNDTRIP_CACHE


def q_kmeans_clusters(spark, sf_dir):
    """Distributed k-means cluster sizes (k=8, 3 Lloyd iterations —
    iterative algorithms bound cost, not epsilon; deterministic init).
    Iterative ⇒ intentionally no SQL oracle; the driver records the
    rows-only check (per the build brief's rule)."""
    from gedixr_spark.operators.clustering import kmeans_cluster_sizes

    return kmeans_cluster_sizes(_t(spark, sf_dir, "embeddings"), k=8, n_iter=3)


_SEMDEDUP_CENTROIDS: dict[str, object] = {}


def _semdedup_centroids(spark, sf_dir):
    """Fit the SemDeDup k-means ONCE per (process, sf) and round-trip
    the k×dim float matrix through parquet (clustering.
    save_kmeans_centroids / load_kmeans_centroids) — the same
    write-once index-metadata lifecycle `ivf_ann_topk` exercises
    (r6 VERDICT #7). The fit is deterministic and float64 survives
    parquet exactly, so load-then-assign ≡ fit-then-assign; bench
    repetitions then time the dedup pipeline, not a re-fit of static
    index metadata."""
    key = sf_dir
    if key not in _SEMDEDUP_CENTROIDS:
        from gedixr_spark.operators.clustering import (
            kmeans_fit,
            load_kmeans_centroids,
            save_kmeans_centroids,
        )

        cents, _ = kmeans_fit(
            _t(spark, sf_dir, "embeddings"), k=32, n_iter=3
        )
        path = (
            _scratch_dir(
                "semdedup_centroids", _sf_key(sf_dir)
            )
            + "/centroids.parquet"
        )
        save_kmeans_centroids(spark, cents, path)
        loaded = load_kmeans_centroids(spark, path)
        if loaded.shape != cents.shape or (loaded != cents).any():
            raise RuntimeError("k-means centroid parquet round-trip was lossy")
        _SEMDEDUP_CENTROIDS[key] = loaded
    return _SEMDEDUP_CENTROIDS[key]


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup semantic dedup end-to-end (similarity.semantic_dedup):
    k-means clusters → within-cluster quantized-cosine pairs → CC →
    min-id survivor → anti-join. The centroid set is fitted once per
    process and reloaded from parquet (`_semdedup_centroids` — the
    write-once index lifecycle), bit-identical to fitting in-line.
    Iterative k-means inside ⇒ rows-only by design (past the 50-slot
    window; bench-timed, pytest-verified with a numpy differential).
    k=32 sizes clusters to ~60 rows at sf0.1 (SemDeDup picks
    k ≈ n/target_cluster_size — 110k clusters at LAION scale); the
    quadratic term stays per-cluster-bounded."""
    return similarity.semantic_dedup(
        _t(spark, sf_dir, "embeddings"),
        k=32,
        threshold=0.99,
        n_iter=3,
        centroids=_semdedup_centroids(spark, sf_dir),
    )


def q_mixture_sample(spark, sf_dir):
    """Temperature mixture (T=0.5) over documents.lang realized via
    deterministic upsample/downsample explode. The driver-side factor
    computation makes it non-single-statement ⇒ rows-only; summed to a
    per-lang histogram so the bench sink is small."""
    from gedixr_spark.operators.sampling import mixture_sample

    mixed = mixture_sample(
        _t(spark, sf_dir, "documents"), domain_col="lang", temperature=0.5
    )
    return mixed.groupBy("lang").agg(F.count(F.lit(1)).alias("n_rows"))


def q_ann_suite(spark, sf_dir):
    """r8 consolidation: the three same-schema ANN top-k queries —
    brute-force cosine (the exactness baseline), multi-table LSH, and
    IVF with round-tripped centroids — as ONE labeled union (each leg
    is the former standalone recorded query, SQL bodies reused
    verbatim). Frees two recorded slots for the asof_bucketed /
    corpus_budget promotions."""
    legs = [
        ("brute", q_cosine_topk),
        ("lsh", q_ann_topk),
        ("ivf", q_ivf_ann_topk),
    ]
    out = None
    for label, fn in legs:
        leg = fn(spark, sf_dir).select(F.lit(label).alias("method"), "*")
        out = leg if out is None else out.unionByName(leg)
    return out


def q_corpus_budget(spark, sf_dir):
    """Budget-constrained corpus selection (sampling.budget_select) as
    a labeled union of both quota shapes a data recipe needs:

    - ``global``: the best documents by stopword ratio while the
      running token total stays ≤ 8000 — 'the best N-token subset';
    - ``per_lang``: the same selection with an independent 2000-token
      cap PER LANGUAGE (``group_cols``) — per-source quotas, with the
      hot group split across score buckets so no single-task window.

    Both legs run the DISTRIBUTED prefix sum (quantile-bucketed
    two-phase scan — plan-asserted no SinglePartition exchange in
    test_budget_select), yet hash-match the oracle's single-statement
    global / PARTITION BY windows."""
    from gedixr_spark.operators.sampling import (
        _quantile_boundaries, budget_select,
    )

    docs = _t(spark, sf_dir, "documents")
    # each budget_select leg drives 3 actions (quantile sketch, bucket
    # totals, the selection itself) — 6 total; checkpoint the tokenize
    # pass once so they share it instead of re-scanning text 6×, and
    # compute the (load-balancing-only) score boundaries once for both
    feats = text.quality_features(docs).select(
        "doc_id", "lang", "n_tokens",
        F.col("stopword_ratio").alias("quality"),
    ).localCheckpoint(eager=False)
    bnds = _quantile_boundaries(feats, "quality", 64)
    glob = budget_select(
        feats.drop("lang"), 8000, cost_col="n_tokens", score_col="quality",
        keep_running=True, boundaries=bnds,
    ).select(
        F.lit("global").alias("leg"),
        F.lit(None).cast("string").alias("lang"),
        "doc_id", "n_tokens", "quality", "running_n_tokens",
    )
    per_lang = budget_select(
        feats, 2000, cost_col="n_tokens", score_col="quality",
        keep_running=True, group_cols=["lang"], boundaries=bnds,
    ).select(
        F.lit("per_lang").alias("leg"),
        "lang", "doc_id", "n_tokens", "quality", "running_n_tokens",
    )
    return glob.unionByName(per_lang)


def q_asof_bucketed(spark, sf_dir):
    """Hot-key as-of variant (events.asof_join_bucketed, 1-day
    buckets) on the same query as `asof_join` — equivalence to the
    windowed plan is pytest-pinned. Promoted to the recorded window in
    r8: the carry-forward plan's RESULT is exactly the as-of join, so
    DuckDB's ASOF LEFT JOIN (the temporal_joins leg's oracle, reused
    verbatim) hash-checks the bucketed execution end to end."""
    e = _t(spark, sf_dir, "events")
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = events.asof_join_bucketed(
        e.select("event_id", "user_id", "ts"),
        purch,
        bucket_s=86_400,
        key_col="user_id",
        ts_col="ts",
        strict=True,
        prefix="last_",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("last_ts").alias("last_purchase_ts"),
        F.col("last_purchase_value"),
    )


def q_bpe_tokens(spark, sf_dir):
    """BPE tokenizer: train 6 merges on a deterministic 200-doc slice
    (driver merge loop — hence rows-only), then exact trained-tokenizer
    counts over the full documents table (the map-only corpus half)."""
    from gedixr_spark.operators import bpe

    docs = _t(spark, sf_dir, "documents")
    merges = bpe.bpe_train(
        bpe.word_counts(docs.filter(F.col("doc_id") < 200)), n_merges=6
    )
    return bpe.bpe_token_count(docs, merges).select("doc_id", "n_bpe_tokens")


def q_bloom_join(spark, sf_dir):
    """Bloom-pruned semi-join (sketches.bloom_semi_join): orders
    against the high-balance customer segment. The result is EXACTLY
    the semi-join (the Bloom bitset only prunes; the equi-join
    verifies), so the plain-SQL EXISTS oracle hash-checks it end to
    end — promoted into the recorded window in r7. Bench-times the
    map-side prune's cost profile."""
    from gedixr_spark.operators import sketches

    orders = _t(spark, sf_dir, "orders")
    segment = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 8000)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return sketches.bloom_semi_join(orders, segment, on="o_custkey").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def q_distinct_rollup(spark, sf_dir):
    """Mergeable HLL distinct-user rollup (sketches.distinct_*): per-day
    sketches → month rollup via hll_union_agg → estimates. HLL binary
    layout is engine-specific ⇒ rows-only; pytest pins estimates within
    5% of exact and exact per-month merge-consistency."""
    from gedixr_spark.operators import sketches

    e = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    per_day = sketches.distinct_sketches(e, ["day"], "user_id")
    monthly = sketches.merge_distinct_sketches(
        per_day.withColumn("month", F.date_trunc("month", "day")), ["month"]
    )
    return sketches.with_estimates(monthly).orderBy("month")


def q_profile_docs(spark, sf_dir):
    """One-pass column census of documents (stats.profile_table):
    nulls/distinct/min/max/mean/stddev for every column in ONE
    aggregate over one scan (plan-asserted in pytest). HLL++ distinct
    estimates are engine-specific ⇒ rows-only; the exact facets are
    DuckDB-pinned in test_profile_table."""
    from gedixr_spark.operators.stats import profile_table

    return profile_table(_t(spark, sf_dir, "documents")).orderBy("column")


def q_heavy_hitters(spark, sf_dir):
    """Heavy hitters over events.event_type (sketches.heavy_hitters):
    freqItems candidate pass + exact map-side-filtered verification.
    Candidates are a superset and verification prunes, so the result
    is exact and the plain GROUP BY + support-threshold oracle
    hash-checks it — promoted into the recorded window in r7."""
    from gedixr_spark.operators.sketches import heavy_hitters

    return heavy_hitters(_t(spark, sf_dir, "events"), "event_type", support=0.05)


def q_compression_gate(spark, sf_dir):
    """zlib compression-ratio quality rail (text.compression_ratio):
    per-doc ratio + in-band keep flag. zlib float output is
    library-specific ⇒ rows-only; exact zlib differential in pytest."""
    from gedixr_spark.operators.text import compression_ratio

    scored = compression_ratio(_t(spark, sf_dir, "documents"))
    return scored.select(
        "doc_id",
        "compression_ratio",
        F.col("compression_ratio").between(0.2, 0.9).alias("keep"),
    )


def q_gapfill(spark, sf_dir):
    """Gap-filled per-user time series with LOCF (events.gapfill_locf,
    6-hour buckets): regular grid via sequence-explode, latest-event-
    wins bucket values, key-partitioned running last(ignorenulls).
    Exact semantics DuckDB-pinned in tests/test_gapfill.py; registered
    rows-only because the 50-slot oracle window is full."""
    return events.gapfill_locf(_t(spark, sf_dir, "events"), step_minutes=360)


def q_term_search(spark, sf_dir):
    """Inverted-index build + boolean AND search (text.
    build_inverted_index / search_index): the index is a lossless
    derivative, so searching it equals scanning the corpus — the
    list_contains oracle hash-checks the whole path (promoted into the
    recorded window in r7). Bench-tracks the index-build shuffle + the
    corpus-independent lookup."""
    from gedixr_spark.operators.text import build_inverted_index, search_index

    idx = build_inverted_index(_t(spark, sf_dir, "documents"))
    return search_index(idx, ["the", "data"], mode="all").orderBy("doc_id")


def q_contrastive_triplets(spark, sf_dir):
    """Contrastive training-pair mining (operators/mining.py): LSH
    embedding near-dup pairs as positives → hard negatives ranked by
    exact quantized cosine against a deterministic 256-vector pool,
    known positives excluded. Hard-negative selection is the
    similarity ordering (float-free int math) but the pipeline is
    multi-step ⇒ rows-only; determinism + exclusion + argmax pinned in
    tests/test_mining.py."""
    from gedixr_spark.operators.mining import mine_contrastive_triplets

    emb = _t(spark, sf_dir, "embeddings")
    # the pair table rides the mining plan three times (positives leg +
    # both exclusion directions) — materialize it once
    pairs = similarity.embedding_neardup_pairs_multitable(
        emb, threshold=0.3, n_tables=2, bits=10
    ).select("id_a", "id_b").localCheckpoint(eager=False)
    return mine_contrastive_triplets(
        pairs, emb, n_negatives=2, mode="hard", pool_size=256,
        id_col="vec_id",
    )


def q_sq8_ann_topk(spark, sf_dir):
    """SQ8 scalar-quantized ANN top-3 (similarity.sq8_train/encode/
    topk): one-byte-per-dim codes, asymmetric float-query ×
    decoded-candidate cosine over the compressed scan (8× less I/O
    than the float corpus — the feasible brute pass at 100 TB of
    embeddings). Float log-free but divide/sqrt scoring ⇒ no
    cross-engine hash oracle; recall + reconstruction bounds pinned in
    tests/test_sq8.py; rows-only."""
    emb = _t(spark, sf_dir, "embeddings")
    params = _sq8_params(spark, sf_dir)
    enc = similarity.sq8_encode(emb, params)
    return similarity.sq8_topk(
        emb.filter(F.col("vec_id") < 5), enc, params, k=3
    )


def q_bq_ann_topk(spark, sf_dir):
    """Binary-quantized ANN top-3 (similarity.bq_train/encode/
    ann_topk): 1-bit-per-dim sign codes (32× smaller than float32 —
    the representation that keeps a 100 TB embedding corpus
    IO-resident), XOR+popcount Hamming shortlist over the packed
    words, exact int-quantized cosine rerank of shortlist·k survivors
    only. Bit-packing/Hamming are integer-exact but the shortlist
    membership is engine-specific ⇒ rows-only; packing, Hamming, and
    recall≥0.95 differentials pinned in tests/test_bq.py."""
    emb = _t(spark, sf_dir, "embeddings")
    params = _bq_params(spark, sf_dir)
    return similarity.bq_ann_topk(
        emb.filter(F.col("vec_id") < 5), emb, params, k=3, shortlist=4
    )


_BQ_PARAMS: dict[str, dict] = {}


def _bq_params(spark, sf_dir):
    """Per-dim mean thresholds once per (process, sf) — dim floats of
    write-once index metadata, same lifecycle as _sq8_params."""
    if sf_dir not in _BQ_PARAMS:
        _BQ_PARAMS[sf_dir] = similarity.bq_train(
            _t(spark, sf_dir, "embeddings")
        )
    return _BQ_PARAMS[sf_dir]


_SQ8_PARAMS: dict[str, dict] = {}


def _sq8_params(spark, sf_dir):
    """Train the per-dim SQ8 codebook once per (process, sf) — 2·dim
    floats of write-once index metadata, same lifecycle as the IVF and
    k-means centroid caches."""
    if sf_dir not in _SQ8_PARAMS:
        _SQ8_PARAMS[sf_dir] = similarity.sq8_train(
            _t(spark, sf_dir, "embeddings")
        )
    return _SQ8_PARAMS[sf_dir]


def q_ivf_sq8_topk(spark, sf_dir):
    """Cell-restricted SQ8 ANN top-3 (similarity.sq8_index /
    ivf_sq8_ann_topk, nprobe=2): the compression × partitioning
    composition over the 8×-compressed index. Float asymmetric
    scoring ⇒ rows-only; full-probe == flat-scan equivalence and
    recall pinned in tests/test_sq8.py."""
    emb = _t(spark, sf_dir, "embeddings")
    params = _sq8_params(spark, sf_dir)
    cents = similarity.ivf_centroids(dim=64, n_cells=8, seed=7)
    idx = similarity.sq8_index(emb, params, cents)
    return similarity.ivf_sq8_ann_topk(
        emb.filter(F.col("vec_id") < 5), idx, params, cents, k=3, nprobe=2
    )


def q_bm25_search(spark, sf_dir):
    """Okapi BM25 top-20 over the tf inverted index (text.
    build_tf_index / bm25_topk, Lucene idf variant) for a 3-term
    query. Float log/divide scoring ⇒ no cross-engine hash oracle;
    numpy differential in tests/test_bm25.py; rows-only. Bench-tracks
    index build + the corpus-independent ranked lookup."""
    from gedixr_spark.operators.text import bm25_topk, build_tf_index, doc_lengths

    docs = _t(spark, sf_dir, "documents")
    idx = build_tf_index(docs)
    return bm25_topk(idx, doc_lengths(docs), ["the", "data", "model"], k=20)


def q_triangle_count(spark, sf_dir):
    """Exact per-node triangle counts (graph.triangle_count, degree-
    oriented compact-forward) over a deterministic lineitem-derived
    graph: nodes are key residues mod 2999, edges the distinct
    (l_orderkey, l_partkey) residue pairs on a 1/6 order slice —
    unipartite with real triangle structure at every sf. Recorded in
    r8: pure integer joins/aggregates, so the DuckDB replay of the
    same orientation + wedge-close algebra hash-matches exactly."""
    from gedixr_spark.operators.graph import triangle_count

    edges = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 6 == 0)
        .select(
            (F.col("l_orderkey") % 2999).alias("src"),
            (F.col("l_partkey") % 2999).alias("dst"),
        )
    )
    return triangle_count(edges)


def q_vector_index(spark, sf_dir):
    """Versioned IVF vector-index lifecycle on the driver-checked path
    (operators/vectorstore.py): init from even vec_ids (cell-clustered
    files + log cell stats + persisted centroids), fold the odd half
    in by upsert, delete a slice, compact (re-cluster by cell — the
    OPTIMIZE step that repairs stats pruning after upsert churn, r9
    VERDICT #5), then cell-pruned search for 5 query vectors at
    nprobe=2 — the vector-store write path a 100 TB embedding corpus
    runs. Search results are invariant under compaction by
    construction, so the rows-only hash doubles as that proof on the
    driver path. Multi-commit lifecycle ⇒ rows-only;
    tests/test_vectorstore.py pins search == flat ivf_ann_topk at
    every stage and pruning recovery post-compaction."""
    from gedixr_spark.operators.vectorstore import (
        compact_vector_index, delete_vectors, init_vector_index,
        search_vector_index, update_vector_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    path = _scratch_dir("vidx", _sf_key(sf_dir)) + "/t"
    init_vector_index(
        spark, path, emb.filter(F.col("vec_id") % 2 == 0), n_cells=8,
        n_files=8,
    )
    update_vector_index(
        spark, path, emb.filter(F.col("vec_id") % 2 == 1), n_files=8
    )
    delete_vectors(spark, path, list(range(0, 200, 10)))
    compact_vector_index(spark, path, n_files=8)
    return search_vector_index(
        spark, path, emb.filter(F.col("vec_id") < 5), k=3, nprobe=2
    )


def q_schema_evolution(spark, sf_dir):
    """Column-mapping lifecycle on the bench path (sinks/versioned.py::
    rename_column / drop_column, r11 VERDICT #2): a customer-subset
    versioned table advances through append (v1) → RENAME
    c_mktsegment→segment (v2, metadata-only) → upsert under the new
    name (v3) → DROP c_nationkey (v4, metadata-only) → append re-adding
    the dropped NAME with fresh data (v5 — fresh column id, old values
    must NOT resurrect). Returned as a labeled union of the v1 snapshot
    (its own old names) and the latest (new names, NULL-backfilled
    re-add), projected to one stable schema. r13 adds the TYPE
    WIDENING legs (widen_column, r12 VERDICT #4): an int score column
    lands additively, widens to bigint metadata-only, then takes a
    value only the wide type holds AND another batch still in the old
    narrow int (both must land; old files read through the per-epoch
    cast). Multi-commit lifecycle ⇒ rows-only; exactness is pinned by
    the seeded randomized DuckDB ALTER TABLE replay (incl. SET DATA
    TYPE) in tests/test_column_mapping.py + tests/test_type_widening.py."""
    from gedixr_spark.sinks.versioned import (
        add_column, commit_append, commit_upsert, drop_column,
        init_versioned, read_versioned, rename_column, widen_column,
    )

    base = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 4 == 0)
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .coalesce(4)
    )
    path = _scratch_dir("schevo", _sf_key(sf_dir)) + "/t"
    init_versioned(spark, path)
    commit_append(spark, path, base)
    rename_column(spark, path, "c_mktsegment", "segment")
    upd = (
        base.filter(F.col("c_custkey") % 8 == 0)
        .select(
            "c_custkey", "c_nationkey",
            F.lit("EVOLVED").alias("segment"),
        )
    )
    commit_upsert(spark, path, upd, keys=["c_custkey"])
    drop_column(spark, path, "c_nationkey")
    readd = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 16 == 1)  # disjoint: never in table
        .coalesce(2)
        .select(
            "c_custkey",
            F.lit("READD").alias("segment"),
            (F.col("c_nationkey") + 100).alias("c_nationkey"),
        )
    )
    commit_append(spark, path, readd)
    # v6: metadata-only ADD COLUMN with DEFAULT — every pre-add row
    # must surface 'bronze' per-file, the post-add append a real value
    add_column(spark, path, "tier", "string", default="bronze")
    commit_append(
        spark, path,
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 16 == 9)
        .coalesce(2)
        .select(
            "c_custkey",
            F.lit("LATE").alias("segment"),
            (F.col("c_nationkey") + 200).alias("c_nationkey"),
            F.lit("gold").alias("tier"),
        ),
    )
    # v8: additive evolution lands an INT score column
    commit_append(
        spark, path,
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 16 == 5)
        .coalesce(2)
        .select(
            "c_custkey",
            F.lit("SCORED").alias("segment"),
            (F.col("c_nationkey") + 300).alias("c_nationkey"),
            F.lit("silver").alias("tier"),
            (F.col("c_custkey") % 97).cast("int").alias("score"),
        ),
    )
    # v9: WIDEN score int -> bigint (metadata-only; ids unchanged)
    widen_column(spark, path, "score", "bigint")
    # v10: a value only the wide type holds...
    commit_append(
        spark, path,
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 16 == 13)
        .coalesce(2)
        .select(
            "c_custkey",
            F.lit("WIDE").alias("segment"),
            (F.col("c_nationkey") + 400).alias("c_nationkey"),
            F.lit("gold").alias("tier"),
            (F.lit(1099511627776) + F.col("c_custkey")).alias("score"),
        ),
    )
    # ...and v11: a batch STILL in the old narrow int also lands (SQL
    # INSERT semantics — the read path casts per file)
    commit_append(
        spark, path,
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 16 == 3)
        .coalesce(2)
        .select(
            "c_custkey",
            F.lit("NARROW").alias("segment"),
            (F.col("c_nationkey") + 500).alias("c_nationkey"),
            F.lit("iron").alias("tier"),
            (F.col("c_custkey") % 89).cast("int").alias("score"),
        ),
    )
    v1 = read_versioned(spark, path, version=1).select(
        F.lit("v1").alias("snap"),
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").cast("long").alias("nat"),
        F.lit(None).cast("long").alias("score"),
    )
    latest = read_versioned(spark, path).select(
        F.lit("latest").alias("snap"),
        F.col("c_custkey"),
        F.concat(F.col("segment"), F.lit("/"), F.col("tier")).alias("seg"),
        F.col("c_nationkey").cast("long").alias("nat"),
        F.col("score").cast("long").alias("score"),
    )
    return v1.unionByName(latest)


def q_quarantine_readmit(spark, sf_dir):
    """Expectations quarantine LIFECYCLE on the bench path
    (set_table_expectations(on_violation='quarantine') →
    readmit_quarantine, r11 VERDICT #7): a batch with NULL segments and
    negative nationkeys lands split (clean rows in, violations to the
    sidecar), then a fix re-admits the repaired rows and releases the
    sidecars in one atomic commit. Returned as a labeled union: the
    audit trail AT the quarantining version (time travel) + the final
    table state — quarantine must be empty at the end (asserted by the
    'final_quarantine' leg being rowless). Multi-commit ⇒ rows-only;
    atomicity/vacuum/validation pinned in
    tests/test_quarantine_lifecycle.py."""
    from gedixr_spark.sinks.versioned import (
        commit_append, init_versioned, read_quarantine, read_versioned,
        readmit_quarantine, set_table_expectations,
    )

    cust = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 4 == 0)
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .coalesce(4)
    )
    path = _scratch_dir("quar", _sf_key(sf_dir)) + "/t"
    init_versioned(spark, path)
    commit_append(spark, path, cust.filter(F.col("c_custkey") % 8 == 0))
    set_table_expectations(
        spark, path,
        not_null=["c_mktsegment"],
        checks={"nat_nonneg": "c_nationkey >= 0"},
        on_violation="quarantine",
    )
    k = F.col("c_custkey")
    # k%8==4 batch: k%32==4 → negative nationkey, k%32==12 → NULL
    # segment, k%32∈{20,28} → clean (both destinations exercised)
    batch = (
        cust.filter((k % 8 == 4))
        .select(
            "c_custkey",
            F.when(k % 32 == 4, -F.col("c_nationkey") - 1)
            .otherwise(F.col("c_nationkey")).alias("c_nationkey"),
            F.when(k % 32 == 12, F.lit(None).cast("string"))
            .otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
        )
    )
    e = commit_append(spark, path, batch)
    q_version = e["version"]

    def fix(df):
        return df.select(
            "c_custkey",
            F.abs(F.col("c_nationkey")).alias("c_nationkey"),
            F.coalesce(F.col("c_mktsegment"), F.lit("REPAIRED")).alias(
                "c_mktsegment"
            ),
        )

    readmit_quarantine(spark, path, fix=fix)
    cols = ["c_custkey", "c_nationkey", "c_mktsegment"]
    audit = read_quarantine(spark, path, version=q_version).select(
        F.lit("audit_at_quarantine").alias("leg"), *cols
    )
    final = read_versioned(spark, path).select(
        F.lit("final_table").alias("leg"), *cols
    )
    final_q = read_quarantine(spark, path).select(
        F.lit("final_quarantine").alias("leg"), *cols
    )
    return audit.unionByName(final).unionByName(final_q)


def q_cdc_incremental_state(spark, sf_dir):
    """Industrial CDC consumption on the bench path (r11 VERDICT #1):
    a churned source table feeds (a) the MERGE-maintained incremental
    aggregate (operators/incremental.py::refresh_incremental_agg_cdc —
    state commits rewrite only churned-key files) and (b) an
    exactly-once `sinks.cursor` consumer whose poll/commit cycle walks
    the same feed. Returned as the maintained per-nation (n_rows, sum)
    state plus a one-row consumer summary (position, rows consumed) —
    both deterministic. Multi-commit ⇒ rows-only; the
    differential-vs-from-scratch law and crash-replay exactly-once are
    pinned in tests/test_cdc_cursor.py."""
    from gedixr_spark.operators.incremental import (
        init_incremental_agg, read_incremental_agg_cdc,
        refresh_incremental_agg_cdc,
    )
    from gedixr_spark.sinks.cursor import (
        commit_cursor, cursor_position, next_changes,
    )
    from gedixr_spark.sinks.versioned import (
        commit_append, commit_delete, commit_upsert, init_versioned,
    )

    base = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 4 == 0)
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .coalesce(4)
    )
    root = _scratch_dir("cdcstate", _sf_key(sf_dir))
    src, st = root + "/src", root + "/state"
    init_versioned(spark, src)
    init_incremental_agg(spark, st)
    commit_append(spark, src, base)
    # 8 range-clustered state files: enough to SHOW file-granular
    # refresh (the churn rewrites a strict subset) without paying 32
    # tiny-file commits at bench scale
    refresh_incremental_agg_cdc(
        spark, src, st, keys=["c_nationkey"], value_col="c_acctbal",
        state_partitions=8,
    )
    # churn: upsert a slice, DV-delete another, then refresh (the
    # merge-based state path — only churned-nation files rewrite)
    upd = base.filter(F.col("c_custkey") % 16 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1000.0
    )
    commit_upsert(spark, src, upd, keys=["c_custkey"])
    commit_delete(spark, src, F.col("c_custkey") % 24 == 0, mode="dv")
    refresh_incremental_agg_cdc(
        spark, src, st, keys=["c_nationkey"], value_col="c_acctbal"
    )
    # exactly-once cursor pass over the churn (a consumer provisioned
    # at bootstrap starts at the bootstrap version, not at table birth)
    batch = next_changes(spark, src, "bench_consumer", start_version=1)
    n_changes = (
        batch["changes"].count() if batch["changes"] is not None else 0
    )
    commit_cursor(spark, src, "bench_consumer", batch["to_version"])
    pos = cursor_position(spark, src, "bench_consumer")
    state = read_incremental_agg_cdc(spark, st).select(
        F.lit("state").alias("leg"),
        F.col("c_nationkey").cast("long").alias("key"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("sum").alias("sum"),
    )
    summary = spark.createDataFrame(
        [("cursor", int(pos), int(n_changes), float(0))],
        "leg string, key long, n_rows long, sum double",
    )
    return state.unionByName(summary)


def q_table_changes_feed(spark, sf_dir):
    """Row-level CDC read on the bench path (sinks/versioned.py::
    table_changes — the Delta Change Data Feed shape): a customer-
    subset versioned table advances through append (v1) →
    file-granularity upsert (v2) → merge-on-read DV delete (v3), then
    the whole feed since v0 is returned with its _change_type /
    _commit_version classification. Multi-commit lifecycle ⇒ rows-only
    (and the recorded window is full); exact per-op classification and
    the snapshot-reconstruction law are DuckDB-differential-pinned in
    tests/test_table_changes.py."""
    from gedixr_spark.sinks.versioned import (
        commit_append, commit_delete, commit_upsert, init_versioned,
        table_changes,
    )

    base = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 4 == 0)
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .coalesce(4)
    )
    path = _scratch_dir("cdcfeed", _sf_key(sf_dir)) + "/t"
    init_versioned(spark, path)
    commit_append(spark, path, base)
    upd = base.filter(F.col("c_custkey") % 8 == 0).withColumn(
        "c_mktsegment", F.lit("UPDATED")
    )
    commit_upsert(spark, path, upd, keys=["c_custkey"])
    commit_delete(spark, path, F.col("c_nationkey") == 3, mode="dv")
    return table_changes(spark, path, 0)


def q_cdc_mirror(spark, sf_dir):
    """Streaming change-feed consumption on the bench path
    (streaming/cdc.py — r13 VERDICT #4): a churned source table is
    replicated into a MIRROR through bounded micro-batch
    poll→apply→commit cycles — cursor CAS watermark underneath,
    ledger-deduped upsert/tombstone sub-commits on top, never more
    than max_versions commit legs per cycle. Returned as the mirrored
    per-nation counts plus a one-row stream summary (batches, final
    cursor position). Multi-commit lifecycle ⇒ rows-only; the batch-
    twin law (stream-of-micro-batches ≡ one table_changes) and
    mid-crash exactly-once are pinned in tests/test_streaming_cdc.py."""
    from gedixr_spark.sinks.cursor import cursor_position
    from gedixr_spark.sinks.versioned import (
        commit_append, commit_delete, commit_upsert, init_versioned,
        read_versioned,
    )
    from gedixr_spark.streaming.cdc import mirror_table_changes

    base = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 4 == 0)
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .coalesce(4)
    )
    root = _scratch_dir("cdcmirror", _sf_key(sf_dir))
    src, dst = root + "/src", root + "/dst"
    init_versioned(spark, src)
    commit_append(spark, src, base)
    upd = base.filter(F.col("c_custkey") % 16 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 500.0
    )
    commit_upsert(spark, src, upd, keys=["c_custkey"])
    commit_delete(spark, src, F.col("c_custkey") % 24 == 0, mode="dv")
    out = mirror_table_changes(
        spark, src, dst, keys=["c_custkey"], max_versions=2
    )
    mirrored = read_versioned(spark, dst).groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_rows")
    ).select(
        F.lit("mirror").alias("leg"),
        F.col("c_nationkey").cast("long").alias("key"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )
    pos = cursor_position(spark, src, "mirror")
    summary = spark.createDataFrame(
        [("stream", int(pos), int(out["batches"]))],
        "leg string, key long, n_rows long",
    )
    return mirrored.unionByName(summary)


def q_manifest_checkpoint(spark, sf_dir):
    """Metadata-at-scale checkpoint on the bench path (r13 VERDICT #3):
    a lineitem-subset table is range-clustered by compaction,
    checkpointed as light-JSON + PARQUET MANIFEST, expired down to the
    checkpoint, then a selective range read plans through the
    vectorized manifest fast path (typed min/max bound columns — no
    per-file JSON parse) and `manifest_df` re-derives the same
    survivor set as a Spark filter over metadata-as-data. Returned as
    the pruned read's per-flag aggregate plus a one-row planning
    summary. Multi-commit lifecycle ⇒ rows-only; json/parquet twin
    equivalence is pinned in tests/test_parquet_checkpoint.py and the
    100k-file measurements are in SCALE §14."""
    from gedixr_spark.sinks.versioned import (
        checkpoint_log, commit_append, commit_compact, expire_log,
        files_for_range, init_versioned, manifest_df, read_where,
    )

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_linenumber") == 1)
        .select("l_orderkey", "l_quantity", "l_returnflag")
        .coalesce(4)
    )
    path = _scratch_dir("manifestck", _sf_key(sf_dir)) + "/t"
    init_versioned(spark, path)
    commit_append(spark, path, li, stats_cols=["l_orderkey"])
    commit_compact(
        spark, path, sort_by=["l_orderkey"], n_files=8,
        stats_cols=["l_orderkey"],
    )
    checkpoint_log(spark, path, format="parquet")
    expire_log(spark, path)
    b = li.agg(
        F.min("l_orderkey").alias("mn"), F.max("l_orderkey").alias("mx")
    ).collect()[0]
    lo = int(b["mn"] + (b["mx"] - b["mn"]) * 0.45)
    hi = int(b["mn"] + (b["mx"] - b["mn"]) * 0.55)
    keep, total = files_for_range(spark, path, "l_orderkey", lo, hi)
    surv = manifest_df(spark, path).filter(
        (F.col("`max::l_orderkey`") >= lo) & (F.col("`min::l_orderkey`") <= hi)
    ).count()
    pruned = read_where(spark, path, "l_orderkey", lo, hi).groupBy(
        "l_returnflag"
    ).agg(F.count(F.lit(1)).alias("n_rows")).select(
        F.lit("pruned_read").alias("leg"),
        F.col("l_returnflag").alias("key"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )
    summary = spark.createDataFrame(
        [("planning", f"{len(keep)}/{total}", int(surv))],
        "leg string, key string, n_rows long",
    )
    return pruned.unionByName(summary)


def q_catalog_snapshot(spark, sf_dir):
    """Multi-table atomic publish on the bench path (sinks/catalog.py):
    a customer table and a per-nation count table DERIVED from it
    advance through a deliberately torn intermediate state (docs at v2,
    derived still v1, no publish) — the catalog pins only consistent
    pairs, so readers of catalog v1 and latest each see a (docs,
    derived) pair where the counts actually equal a recount of the
    pinned docs. Returned as one labeled union across {catalog
    version} × {table}. Multi-commit lifecycle ⇒ rows-only;
    tests/test_catalog.py pins torn-pair prevention, CAS, and the
    one-winner race."""
    from gedixr_spark.sinks.catalog import (
        init_catalog, publish_latest, read_table,
    )
    from gedixr_spark.sinks.versioned import (
        commit_append, commit_overwrite, init_versioned,
    )

    base = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 4 == 0)
        .select("c_custkey", "c_nationkey")
        .coalesce(4)
    )
    root = _scratch_dir("catsnap", _sf_key(sf_dir))
    docs, drv, cat = root + "/docs", root + "/drv", root + "/cat"
    half1 = base.filter(F.col("c_custkey") % 8 == 0)

    def counts(df):
        return df.groupBy("c_nationkey").agg(
            F.count(F.lit(1)).alias("n_cust")
        ).coalesce(1)

    init_versioned(spark, docs)
    init_versioned(spark, drv)
    init_catalog(spark, cat)
    commit_append(spark, docs, half1)
    commit_append(spark, drv, counts(half1))
    publish_latest(spark, cat, {"docs": docs, "derived": drv})  # cat v1

    # torn state: docs advances, derived is stale, nothing published
    commit_append(spark, docs, base.filter(F.col("c_custkey") % 8 != 0))
    # refresh completes: rebuild derived from FULL docs, publish both
    commit_overwrite(spark, drv, counts(base))
    publish_latest(spark, cat, {"docs": docs, "derived": drv})  # cat v2

    def leg(cv, name):
        df = read_table(spark, cat, name, catalog_version=cv)
        if name == "docs":
            return df.select(
                F.lit(f"cat{cv}_docs").alias("leg"),
                "c_custkey",
                "c_nationkey",
                F.lit(None).cast("long").alias("n_cust"),
            )
        return df.select(
            F.lit(f"cat{cv}_derived").alias("leg"),
            F.lit(None).cast("long").alias("c_custkey"),
            "c_nationkey",
            "n_cust",
        )

    out = leg(1, "docs")
    for cv, name in ((1, "derived"), (2, "docs"), (2, "derived")):
        out = out.unionByName(leg(cv, name))
    return out


def q_weighted_sample(spark, sf_dir):
    """Weighted deterministic sample (sampling.weighted_bottomk_sample,
    Efraimidis–Spirakis exponential clocks): 500 documents without
    replacement, inclusion probability ∝ token count — the importance-
    sampling half of data mixing. -ln(u)/w float scoring ⇒ rows-only
    (like bm25_search); the k=1 inclusion law, mergeability, and the
    reference formula are pinned in tests/test_weighted_sample.py.
    Bench-tracks the TakeOrderedAndProject top-k path under a computed
    weight."""
    from gedixr_spark.operators.sampling import weighted_bottomk_sample
    from gedixr_spark.operators.text import quality_features

    docs = quality_features(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens"
    )
    return weighted_bottomk_sample(
        docs, 500, weight_col="n_tokens", keep_priority=True
    )


def q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical top-20 + brute-cosine dense
    top-20, fused per query with reciprocal-rank fusion
    (text.rrf_fuse, Cormack et al. RRF k=60) — the standard
    two-retriever RAG stack. The lexical leg runs all queries in ONE
    index pass (text.bm25_topk_multi), not one scan per query.
    Three queries, each a (terms, query
    vector) pair keyed by the query's vec_id; the dense leg only
    covers the embedded subset of the corpus (real-world asymmetric
    coverage), which RRF absorbs by construction. Float 1/(k+rank)
    scoring ⇒ rows-only; exact fusion differential (python reference
    over the collected legs) in tests/test_hybrid_search.py."""
    from gedixr_spark.operators.text import (
        bm25_topk_multi,
        build_tf_index,
        doc_lengths,
        rrf_fuse,
    )

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    idx = build_tf_index(docs)
    dl = doc_lengths(docs)
    probes = {10: ["the", "data", "model"], 20: ["spark", "join"],
              30: ["hash", "table", "scan"]}
    lex = bm25_topk_multi(idx, dl, probes, k=20).select(
        "query_id", "doc_id", "rank"
    )
    dense = similarity.cosine_topk(
        emb.filter(F.col("vec_id").isin(list(probes))), emb, k=20
    ).select("query_id", F.col("cand_id").alias("doc_id"), "rank")
    return rrf_fuse(
        [lex, dense], rrf_k=60, topk=10, query_col="query_id"
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# r6 window consolidation: labeled unions freeing recorded slots, and
# the promotions that take them (VERDICT r5 items #3 and #5)
# ---------------------------------------------------------------------------


def q_doc_gates(spark, sf_dir):
    """PII audit+redaction, source blocklist, and the C4/Gopher quality
    gate as ONE labeled union — three document-cleaning rails in one
    registry slot (each leg is the former standalone recorded query,
    unchanged; the freed slots let funnel/retention/gapfill/
    versioned_snapshot earn driver-checked rows)."""
    pii = q_pii_redact(spark, sf_dir).select(
        F.lit("pii").alias("leg"),
        "doc_id",
        F.col("n_email").cast("long").alias("n1"),
        F.col("n_ipv4").cast("long").alias("n2"),
        F.col("text_redacted").alias("s"),
    )
    bl = q_blocklist_filter(spark, sf_dir).select(
        F.lit("blocklist").alias("leg"),
        "doc_id",
        F.lit(None).cast("long").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        F.col("source").alias("s"),
    )
    gate = q_quality_gate(spark, sf_dir).select(
        F.lit("gate").alias("leg"),
        "doc_id",
        F.col("n_tokens").cast("long").alias("n1"),
        F.col("n_chars").cast("long").alias("n2"),
        F.lit(None).cast("string").alias("s"),
    )
    return pii.unionByName(bl).unionByName(gate)


def q_contamination_audit(spark, sf_dir):
    """Benchmark decontamination, doc-level flags + span-level redact
    ranges, as one labeled union (former `contamination` +
    `contamination_spans` recorded queries)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    flag = text.contamination(docs, bench).select(
        F.lit("flag").alias("leg"),
        "doc_id",
        F.col("n_overlap").cast("long").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.col("contaminated").alias("flag"),
    )
    spans = text.contamination_spans(docs, bench).select(
        F.lit("spans").alias("leg"),
        "doc_id",
        F.col("span_start").cast("long").alias("a"),
        F.col("span_end").cast("long").alias("b"),
        F.lit(None).cast("boolean").alias("flag"),
    )
    return flag.unionByName(spans)


def q_funnel_retention(spark, sf_dir):
    """Event analytics, promoted to the recorded window (r6): the
    3-step ordered funnel (view→click→purchase completion histogram)
    and the daily retention cohort matrix as one labeled union."""
    e = _t(spark, sf_dir, "events")
    fun = (
        events.funnel_analysis(e, ["view", "click", "purchase"])
        .groupBy("n_steps_completed")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.lit("funnel").alias("leg"),
            F.lit(None).cast("timestamp").alias("cohort"),
            F.col("n_steps_completed").cast("long").alias("k"),
            F.col("n_users").alias("n1"),
            F.lit(None).cast("long").alias("n2"),
            F.lit(None).cast("double").alias("rate"),
        )
    )
    ret = events.retention_cohorts(e, period="day").select(
        F.lit("retention").alias("leg"),
        "cohort",
        F.col("period_offset").alias("k"),
        F.col("n_active").alias("n1"),
        F.col("n_cohort").alias("n2"),
        F.col("retention_rate").alias("rate"),
    )
    return fun.unionByName(ret)


def q_versioned_snapshot(spark, sf_dir):
    """The versioned parquet table on the driver-checked path
    (sinks/versioned.py): build a commit history from customer subsets
    — append (v1) → file-granularity upsert (v2) → predicate delete
    (v3) → op-coded CDC MERGE INTO (v4: update/delete/insert by op
    column, r9 VERDICT #2) → merge-on-read DELETION-VECTOR delete (v5,
    r10 VERDICT #1) → purging compaction (v6) — in a fresh temp table,
    then read time-travel snapshots (v2, v3), the DV-anti-join
    snapshot (v5), and the post-purge latest as one labeled union. The
    oracle replays the same key-value history in pure SQL, so snapshot
    isolation, upsert last-write-wins, NULL-safe delete, all three
    MERGE clauses, the merge-on-read anti-join, and DV purge are
    hash-checked. The CDC batch only targets keys provably present
    (U/D) or provably absent (I) so the replay SQL is closed-form."""
    from gedixr_spark.sinks.versioned import (
        commit_append,
        commit_compact,
        commit_delete,
        commit_merge,
        commit_upsert,
        init_versioned,
        read_versioned,
        table_history,
    )

    base = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 4 == 0)
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .coalesce(4)  # compaction-sized commits: 4 files, not 32
    )
    path = _scratch_dir("vsnap", _sf_key(sf_dir)) + "/t"
    init_versioned(spark, path)
    ap_entry = commit_append(spark, path, base)
    upd = base.filter(F.col("c_custkey") % 8 == 0).withColumn(
        "c_mktsegment", F.lit("UPDATED")
    )
    up_entry = commit_upsert(spark, path, upd, keys=["c_custkey"])
    del_entry = commit_delete(spark, path, F.col("c_nationkey") == 3)
    # read the versions the commits ACTUALLY created: at tiny SFs a
    # predicate can match nothing and the commit noops WITHOUT
    # consuming a version (same guard the dv leg below always had) —
    # hardcoded version numbers then silently read the wrong snapshot
    # (sf0.001: the rewrite delete noops, so version 3 is the MERGE).
    # A nooped step's snapshot is its predecessor's.
    up_version = up_entry.get("version") or ap_entry["version"]
    del_version = del_entry.get("version") or up_version
    # v4: one op-coded CDC batch drives all three MERGE clauses.
    # Keys: U = multiples of 12 (⊂ %4==0) not multiples of 20 and
    # still live (nationkey≠3); D = live multiples of 20; I = %16==1
    # (never in the table). Restricting U/D to live keys matters:
    # an unmatched source row would INSERT under when_not_matched.
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    k = F.col("c_custkey")
    live = F.col("c_nationkey") != 3
    u_src = cust.filter(
        (k % 12 == 0) & (k % 20 != 0) & live
    ).withColumn("c_mktsegment", F.lit("MERGED")).withColumn(
        "op", F.lit("U")
    )
    d_src = cust.filter((k % 4 == 0) & (k % 20 == 0) & live).withColumn(
        "op", F.lit("D")
    )
    i_src = cust.filter(k % 16 == 1).withColumn(
        "c_mktsegment", F.lit("INSERTED")
    ).withColumn("op", F.lit("I"))
    commit_merge(
        spark,
        path,
        u_src.unionByName(d_src).unionByName(i_src),
        keys=["c_custkey"],
        when_matched_update={"c_mktsegment": "s.c_mktsegment"},
        update_condition="s.op = 'U'",
        when_matched_delete="s.op = 'D'",
    )
    # v5: merge-on-read DELETE — a deletion-vector commit (no data
    # file rewritten; readers anti-join the DV). v6: purging
    # compaction materializes the DV. The 'dv' leg reads AT v5
    # (through the anti-join), the 'latest' leg post-purge (plain
    # scan) — same logical content, so the oracle's two legs share
    # one SELECT body: the driver hash-checks that merge-on-read and
    # its purge agree with the closed-form replay.
    dv_entry = commit_delete(
        spark, path, F.col("c_custkey") % 24 == 0, mode="dv"
    )
    # at tiny SFs the predicate can match nothing → noop dict without
    # a "version" key; the dv leg then just reads the pre-compact tip
    dv_version = dv_entry.get("version")
    if dv_version is None:
        dv_version = table_history(spark, path)[-1]["version"]
    commit_compact(spark, path, purge_dvs=True)
    cols = ["c_custkey", "c_nationkey", "c_mktsegment"]
    v2 = read_versioned(spark, path, version=up_version).select(
        F.lit("v2").alias("snap"), *cols
    )
    v3 = read_versioned(spark, path, version=del_version).select(
        F.lit("v3").alias("snap"), *cols
    )
    dv = read_versioned(spark, path, version=dv_version).select(
        F.lit("dv").alias("snap"), *cols
    )
    latest = read_versioned(spark, path).select(
        F.lit("latest").alias("snap"), *cols
    )
    return v2.unionByName(v3).unionByName(dv).unionByName(latest)


def q_edit_distance(spark, sf_dir):
    """FastSS deletion-neighborhood edit-distance join (dedup.
    edit_distance_pairs, k=1) over short keys derived from documents
    (first 12 normalized chars, 500-doc slice — the operator is for
    short fields; max_len guards the blow-up). Exact and complete
    (pigeonhole, no false negatives), so the brute-force DuckDB
    levenshtein oracle hash-checks it — promoted into the recorded
    window in r7."""
    from gedixr_spark.operators.dedup import edit_distance_pairs

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 500)
        .select("doc_id", F.substring("text", 1, 12).alias("text"))
    )
    return edit_distance_pairs(docs, max_dist=1, max_len=16)


def q_pagerank(spark, sf_dir):
    """PageRank over the part→supplier supply graph (edges = distinct
    (l_partkey, l_suppkey) straight off lineitem — a two-column scan,
    no join, so the bench times the ITERATION, not edge prep):
    supplier authority under link analysis — the crawl-curation
    quality signal exercised on the driver's tables. Iterative ⇒
    rows-only; numpy power-iteration differential in
    tests/test_graph.py. Top-100 by (rank, node) so the bench sink is
    small and deterministic."""
    from gedixr_spark.operators.graph import pagerank

    edges = (
        _t(spark, sf_dir, "lineitem")
        # deterministic 1/6 slice: the query showcases the iteration's
        # plan shape; the full-corpus run is the same operator
        .filter(F.col("l_orderkey") % 6 == 0)
        .select(F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst"))
    )
    ranks = pagerank(edges, n_iter=5)
    return ranks.orderBy(F.desc("rank"), F.asc("node")).limit(100)


def q_ann_partitions(spark, sf_dir):
    """All three ANN partitioning shapes as one labeled histogram:
    hyperplane-LSH buckets (8 planes), IVF nearest-centroid cells, and
    packed PQ codes (2 sub-spaces × 16 centroids) — the data layouts a
    100 TB vector store would partition by."""
    emb = _t(spark, sf_dir, "embeddings")
    planes = similarity.hyperplanes(64, 8, 42)
    cents = similarity.ivf_centroids(64, 8, 7)
    cbs = similarity.pq_codebooks(64, 2, 16, 13)
    lsh = (
        emb.select(similarity.lsh_bucket("embedding", planes).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .select(F.lit("lsh").alias("method"), "part_id", "n_vectors")
    )
    ivf = (
        emb.select(similarity.ivf_cell("embedding", cents).alias("part_id"))
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .select(F.lit("ivf").alias("method"), "part_id", "n_vectors")
    )
    pq = (
        emb.select(
            similarity.pq_code_packed("embedding", cbs).cast("int").alias("part_id")
        )
        .groupBy("part_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .select(F.lit("pq").alias("method"), "part_id", "n_vectors")
    )
    return lsh.unionByName(ivf).unionByName(pq)


def q_pq_ann_topk(spark, sf_dir):
    """PQ/ADC ANN top-3 for query vectors vec_id<5: corpus collapses to
    2×16 sub-space codes, candidates score by exact-int asymmetric
    distance — the compressed-domain search path, fully
    oracle-checked (encode argmins and ADC sums are pure int64)."""
    emb = _t(spark, sf_dir, "embeddings")
    cbs = similarity.pq_codebooks(64, 2, 16, 13)
    return similarity.pq_ann_topk(
        emb.filter(F.col("vec_id") < 5), emb, k=3, codebooks=cbs
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def q_text_features(spark, sf_dir):
    """The whole per-doc text-analysis surface in one scan: three token
    counters (whitespace, BPE-ish, regex), quality features, and
    marker-based language ID against the labeled lang column."""
    df = text.lang_id(text.quality_features(_t(spark, sf_dir, "documents")))
    return df.select(
        "doc_id",
        "n_tokens",
        text.bpe_ish_token_count("text").alias("n_bpe_tokens"),
        text.regex_token_count("text").alias("n_regex_tokens"),
        "mean_token_len",
        "stopword_ratio",
        "upper_ratio",
        "lang",
        "lang_pred",
    )


def q_term_rankings(spark, sf_dir):
    """Both term-ranking surfaces in one labeled union: per-doc top-3
    characteristic terms by tf·(N/df) rank, and corpus-level token
    frequency top-20 (explode → count → global rank). Corpus rows
    carry doc_id/df/tfidf = NULL so both shapes share one schema."""
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents")
    perdoc = text.tfidf_topk(docs, k=3).select(
        F.lit("doc").alias("scope"), "doc_id", "term", "tf", "df", "tfidf", "rnk"
    )
    toks = docs.select(F.explode(text.tokens("text")).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    # orderBy+limit → TakeOrderedAndProject (per-partition partial
    # top-k, no single-partition shuffle of the whole vocabulary);
    # the rank window then runs over 20 rows, not the vocab.
    top20 = counts.orderBy(F.desc("tf"), F.asc("term")).limit(20)
    w = Window.orderBy(F.desc("tf"), F.asc("term"))
    corpus = (
        top20.withColumn("rnk", F.row_number().over(w))
        .select(
            F.lit("corpus").alias("scope"),
            F.lit(None).cast("long").alias("doc_id"),
            "term",
            "tf",
            F.lit(None).cast("long").alias("df"),
            F.lit(None).cast("double").alias("tfidf"),
            "rnk",
        )
    )
    return perdoc.unionByName(corpus)


# ---------------------------------------------------------------------------
# Events
# ---------------------------------------------------------------------------


def q_time_rollup(spark, sf_dir):
    """Multi-resolution rollup (operators/events.py:rollup_agg): one
    grouping-sets pass over (day, hour, event_type) — the lvl=0 rows
    ARE the hourly tumbling aggregate (hour implies day), so this slot
    subsumes the former tumbling_hourly query and adds the day /
    grand-total grains."""
    return events.rollup_agg(_t(spark, sf_dir, "events"))


def q_sliding_windows(spark, sf_dir):
    """Sliding windows at two grids in one labeled union: 2h every 1h
    (the width=slide·2 case) and 3h every 30m (the general
    ceil(width/slide)=6 bucket explosion). One registry slot, both
    parameterizations driver-checked."""
    e = _t(spark, sf_dir, "events")
    a = events.sliding_agg(e, 120, 60).select(F.lit("120m_60m").alias("win"), "*")
    b = events.sliding_agg(e, 180, 30).select(F.lit("180m_30m").alias("win"), "*")
    return a.unionByName(b)


def q_windowed_rollups(spark, sf_dir):
    """r7 window consolidation: the grouping-sets multi-grain rollup
    and the two-grid sliding windows as ONE labeled union (each leg is
    the former standalone recorded query, unchanged; the freed slot
    funds the doc_chunks promotion)."""
    tr = q_time_rollup(spark, sf_dir).select(
        F.lit("rollup").alias("leg"),
        "lvl",
        "day",
        "hour",
        "event_type",
        F.lit(None).cast("string").alias("win"),
        F.lit(None).cast("timestamp").alias("window_start"),
        "n_events",
        "sum_value",
        "n_users",
    )
    sw = q_sliding_windows(spark, sf_dir).select(
        F.lit("sliding").alias("leg"),
        F.lit(None).cast("long").alias("lvl"),
        F.lit(None).cast("timestamp").alias("day"),
        F.lit(None).cast("timestamp").alias("hour"),
        F.lit(None).cast("string").alias("event_type"),
        "win",
        "window_start",
        "n_events",
        "sum_value",
        F.lit(None).cast("long").alias("n_users"),
    )
    return tr.unionByName(sw)


def q_doc_chunks(spark, sf_dir):
    """RAG/embedding-ingest chunker (text.chunk_documents): 64-token
    windows with 8-token overlap over the corpus — deterministic
    (doc_id, chunk_id) keys, map-side explode, short final window.
    Oracle replays the slicing with DuckDB list arithmetic."""
    from gedixr_spark.operators.text import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=64, overlap=8
    )


def q_temporal_joins(spark, sf_dir):
    """r7 window consolidation: the as-of join and the interval join
    as ONE labeled union (each leg is the former standalone recorded
    query, unchanged; the freed slot funds the index_maintenance
    promotion — the versioned tf-index lifecycle's driver row)."""
    ao = q_asof_join(spark, sf_dir).select(
        F.lit("asof").alias("leg"),
        "event_id",
        "user_id",
        "ts",
        "last_purchase_ts",
        "last_purchase_value",
        F.lit(None).cast("long").alias("incident_id"),
        F.lit(None).cast("long").alias("n_events"),
        F.lit(None).cast("double").alias("sum_value"),
    )
    iv = q_interval_join(spark, sf_dir).select(
        F.lit("interval").alias("leg"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("long").alias("user_id"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit(None).cast("timestamp").alias("last_purchase_ts"),
        F.lit(None).cast("double").alias("last_purchase_value"),
        "incident_id",
        "n_events",
        "sum_value",
    )
    return ao.unionByName(iv)


def q_index_maintenance(spark, sf_dir):
    """Incremental tf-index lifecycle on the driver-checked path
    (text.init_tf_index_table / update_tf_index over sinks/versioned):
    batch 1 (even doc ids) initializes the index table, batch 2 (odd
    ids) folds in via the term-keyed file-granularity upsert; the
    result is BOTH snapshots flattened — v1 (time travel: batch 1's
    index alone, untouched by the fold) and latest (== a from-scratch
    build over everything) — so merge correctness, df recomputation,
    and snapshot isolation are all hash-checked against a pure-SQL
    term-frequency replay. Uses the wiped per-(sf) scratch dir like
    versioned_snapshot."""
    from gedixr_spark.operators.text import (
        init_tf_index_table, update_tf_index,
    )
    from gedixr_spark.sinks.versioned import read_versioned

    docs = _t(spark, sf_dir, "documents")
    path = (
        _scratch_dir("tfidx", _sf_key(sf_dir)) + "/t"
    )
    init_tf_index_table(spark, path, docs.filter(F.col("doc_id") % 2 == 0))
    update_tf_index(spark, path, docs.filter(F.col("doc_id") % 2 == 1))

    def _flat(df, snap):
        return df.select(
            F.lit(snap).alias("snap"),
            "term",
            "df",
            F.explode("postings").alias("p"),
        ).select(
            "snap", "term", "df",
            F.col("p.doc_id").alias("doc_id"),
            F.col("p.tf").alias("tf"),
        )

    v1 = _flat(read_versioned(spark, path, version=1), "v1")
    latest = _flat(read_versioned(spark, path), "latest")
    return v1.unionByName(latest)


def q_asof_join(spark, sf_dir):
    """As-of join (operators/events.py:asof_join): each event gets the
    most recent strictly-earlier purchase of the same user. Right side
    pre-aggregated to one row per (user, ts) so the match is
    deterministic; oracle is DuckDB's native ASOF LEFT JOIN."""
    e = _t(spark, sf_dir, "events")
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = events.asof_join(
        e.select("event_id", "user_id", "ts"),
        purch,
        key_col="user_id",
        ts_col="ts",
        strict=True,
        prefix="last_",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("last_ts").alias("last_purchase_ts"),
        F.col("last_purchase_value"),
    )


def q_interval_join(spark, sf_dir):
    """Range join (operators/events.py:interval_join): every error
    event opens a 30-minute incident window; count + exact value sum
    of ALL events inside each window via the bucketed equi-join."""
    e = _t(spark, sf_dir, "events")
    iv = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("start_ts"),
        F.timestamp_micros(F.unix_micros("ts") + F.lit(30 * 60_000_000)).alias("end_ts"),
    )
    ij = events.interval_join(e.select("ts", "value"), iv, bucket_minutes=30)
    return ij.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        events._exact_sum("value").alias("sum_value"),
    )


def q_session_stats(spark, sf_dir):
    return events.session_stats(_t(spark, sf_dir, "events"))


def q_event_enrich(spark, sf_dir):
    """Event-grain enrichment in one pass: per-user gap sessionization
    (session_n) + typed JSON property extraction — the row-level
    transforms an event pipeline applies before aggregation."""
    s = events.sessionize(_t(spark, sf_dir, "events"))
    p = events.json_props_extract(s)
    return p.select("event_id", "user_id", "session_n", "prop_k")


def q_top_users(spark, sf_dir):
    return events.top_users_by_activity(_t(spark, sf_dir, "events"), k=10)


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary column; oracle-checkable part)
# ---------------------------------------------------------------------------


def q_pack_sequences(spark, sf_dir):
    """Sequence packing (next-fit-decreasing per pack group) — the
    training-batch assembly step. Deterministic end to end: portable
    whitespace token counts, doc_id % 8 grouping, (n_tokens DESC,
    doc_id) order, sequential next-fit — so the DuckDB oracle replays
    it exactly with a recursive CTE."""
    from gedixr_spark.operators.packing import pack_sequences
    from gedixr_spark.operators.text import token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("n_tokens")
    )
    return pack_sequences(docs, budget=256, n_groups=8)


def q_binary_payload_meta(spark, sf_dir):
    """Binary payload + typed metadata projection: the oracle checks
    payload bytes (via hex), byte length, and the metadata fields."""
    df = attach_fake_payload(_t(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.hex(F.col("payload")).alias("payload_hex"),
        F.length("payload").alias("n_bytes"),
        F.col("media_meta.media_type").alias("media_type"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
    )


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------

_TOKENS = "list_filter(string_split(text, ' '), t -> t <> '')"
_SHINGLES = f"""
  list_distinct(
    CASE WHEN len({_TOKENS}) >= 3
         THEN list_transform(range(1, len({_TOKENS}) - 1),
              i -> concat_ws(' ', {_TOKENS}[i], {_TOKENS}[i+1], {_TOKENS}[i+2]))
         ELSE [] END)
"""

_QVEC = "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"


def _dot_sql(a: str, b: str) -> str:
    """Exact integer dot product: reduce over the zipped product list."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> p[1] * p[2]), (x, y) -> x + y)"
    )


def _plane_proj_sql(vec: str, plane: list[float]) -> str:
    """Fixed left-assoc chain of quantized-element × literal products —
    mirrors similarity.lsh_bucket exactly."""
    terms = " + ".join(f"{vec}[{j + 1}] * {w!r}" for j, w in enumerate(plane))
    return f"({terms})"


def _lsh_bucket_sql(planes: list[list[float]]) -> str:
    bits = " + ".join(
        f"(CASE WHEN {_plane_proj_sql('qv', p)} > 0 THEN {2 ** i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return f"({bits})"


def _hex4_sql(h: str) -> str:
    """First-4-hex-digits of the md5-string expression ``h`` as an int
    (mirrors F.conv(substring(md5, 1, 4), 16, 10))."""
    return (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
            for i in range(4)
        )
        + ")"
    )


_STOPWORDS_SQL = "['the','a','and','of','to','in','is','it']"


def _lang_score(markers: tuple[str, ...]) -> str:
    arr = "[" + ",".join(f"'{m}'" for m in markers) + "]"
    return f"len(list_filter(list_transform({_TOKENS}, t -> lower(t)), t -> list_contains({arr}, t)))"


def _pq_dist_sql(vec: str, j: int, dsub: int, cent: list[int]) -> str:
    """Exact squared L2 between sub-space j of the ×10-lifted quantized
    vector and one literal centroid — mirrors similarity.pq_codes /
    the ADC kernel term-for-term (all int64)."""
    terms = " + ".join(
        f"(10 * {vec}[{j * dsub + d + 1}] - {cent[d]})"
        f" * (10 * {vec}[{j * dsub + d + 1}] - {cent[d]})"
        for d in range(dsub)
    )
    return f"({terms})"


def _argmin_sql(aliases: list[str]) -> str:
    """First-min CASE chain over distance aliases (ties → lowest index,
    matching numpy argmin)."""
    n = len(aliases)
    cases = []
    for i in range(n - 1):
        conds = " AND ".join(f"{aliases[i]} <= {aliases[j]}" for j in range(i + 1, n))
        cases.append(f"WHEN {conds} THEN {i}")
    return "CASE " + " ".join(cases) + f" ELSE {n - 1} END"


def _pq_ctes(codebooks: list[list[list[int]]]) -> str:
    """CTEs pe/pd/ps: quantized vectors → per-(subspace, code) exact
    distances → per-subspace argmin codes k0..km-1. Names are disjoint
    from the IVF CTEs (e/d/s) so both can share one WITH clause."""
    m, ksub = len(codebooks), len(codebooks[0])
    dsub = len(codebooks[0][0])
    dists = ", ".join(
        f"{_pq_dist_sql('qv', j, dsub, codebooks[j][kk])} AS e{j}_{kk}"
        for j in range(m)
        for kk in range(ksub)
    )
    argmins = ", ".join(
        f"{_argmin_sql([f'e{j}_{kk}' for kk in range(ksub)])} AS k{j}"
        for j in range(m)
    )
    return (
        f"pe AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),\n"
        f"pd AS (SELECT vec_id, qv, {dists} FROM pe),\n"
        f"ps AS (SELECT vec_id, qv, {argmins} FROM pd)"
    )


def _ivf_cell_cte(centroids: list[list[int]]) -> str:
    """CTEs computing per-vector centroid dots d0..dk-1 and the argmax
    cell via a preference CASE chain (first max wins — matching
    numpy argmax)."""
    k = len(centroids)
    dots = ", ".join(
        f"{_plane_proj_sql('qv', c)} AS d{i}" for i, c in enumerate(centroids)
    )
    cases = []
    for i in range(k - 1):
        conds = " AND ".join(f"d{i} >= d{j}" for j in range(i + 1, k))
        cases.append(f"WHEN {conds} THEN {i}")
    argmax = "CASE " + " ".join(cases) + f" ELSE {k - 1} END"
    return (
        f"e AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),\n"
        f"d AS (SELECT vec_id, qv, {dots} FROM e),\n"
        f"s AS (SELECT vec_id, qv, {argmax} AS cell FROM d)"
    )


def build_oracles() -> dict[str, str]:
    from gedixr_spark.operators.similarity import (
        hyperplane_tables,
        hyperplanes,
        ivf_centroids,
    )
    from gedixr_spark.operators.text import LANG_MARKERS

    planes = hyperplanes(64, 8, 42)
    centroids = ivf_centroids(64, 8, 7)
    from gedixr_spark.operators.similarity import pq_codebooks

    nd_tables = hyperplane_tables(64, 2, 10, 42)  # embedding_neardup params
    ann_tables = hyperplane_tables(64, 2, 8, 42)  # ann_topk params
    pq_cbs = pq_codebooks(64, 2, 16, 13)  # pq_ann_topk / ann_partitions params

    def multi_table_s_cte(tables: list[list[list[int]]]) -> str:
        """s CTE: (vec_id, qv, tbl, bucket) — one row per vector per
        table, mirroring similarity.lsh_table_buckets' explode."""
        arms = [
            f"SELECT vec_id, qv, {t} AS tbl, {_lsh_bucket_sql(tbl)} AS bucket FROM e"
            for t, tbl in enumerate(tables)
        ]
        return "s AS (" + " UNION ALL ".join(arms) + ")"

    lang_cases = []
    langs = list(LANG_MARKERS)
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(
            f"{_lang_score(LANG_MARKERS[lang])} >= {_lang_score(LANG_MARKERS[o])}"
            for o in langs[i + 1 :]
        )
        lang_cases.append(f"WHEN {conds} THEN '{lang}'")
    lang_case_sql = "CASE " + " ".join(lang_cases) + f" ELSE '{langs[-1]}' END"

    # 16-bit simhash: digit = first-4-hex-chars of md5(token) as int
    digit = (
        "(strpos('0123456789abcdef', substr(md5(t),1,1)) - 1) * 4096 + "
        "(strpos('0123456789abcdef', substr(md5(t),2,1)) - 1) * 256 + "
        "(strpos('0123456789abcdef', substr(md5(t),3,1)) - 1) * 16 + "
        "(strpos('0123456789abcdef', substr(md5(t),4,1)) - 1)"
    )
    sim_bits = " + ".join(
        f"(CASE WHEN sum(((d // {2 ** i}) % 2) * 2 - 1) > 0 THEN {2 ** i} ELSE 0 END)"
        for i in range(16)
    )
    # 32-bit variant for the near-dup query: digit = first 8 md5 hex
    # chars as a BIGINT, sign-sum per bit as above
    digit8 = " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(t),{i + 1},1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    sim_bits32 = " + ".join(
        f"(CASE WHEN sum(((d // {2 ** i}) % 2) * 2 - 1) > 0 THEN CAST({2 ** i} AS BIGINT) ELSE 0 END)"
        for i in range(32)
    )

    oracles = {
        "dedup_exact": """
            SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_key,
                   min(doc_id) AS doc_id, count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "doc_signatures": f"""
            WITH sh AS (
              SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
            ),
            sig AS (
              SELECT doc_id,
                     min(md5(concat('0|', shingle))) AS mh0,
                     min(md5(concat('1|', shingle))) AS mh1,
                     min(md5(concat('2|', shingle))) AS mh2,
                     min(md5(concat('3|', shingle))) AS mh3
              FROM sh GROUP BY 1
            ),
            tok AS (
              SELECT doc_id, unnest({_TOKENS}) AS t FROM documents
            ),
            dig AS (SELECT doc_id, {digit} AS d FROM tok),
            simh AS (SELECT doc_id, {sim_bits} AS simhash FROM dig GROUP BY doc_id),
            base AS (
              SELECT doc_id,
                     md5(list_aggregate(list_sort(list_distinct({_TOKENS})), 'string_agg', ' '))
                       AS fingerprint,
                     list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                         list_transform({_TOKENS},
                           t -> CAST((strpos('0123456789abcdef', substr(md5(t),1,1)) - 1) * 4096
                                + (strpos('0123456789abcdef', substr(md5(t),2,1)) - 1) * 256
                                + (strpos('0123456789abcdef', substr(md5(t),3,1)) - 1) * 16
                                + (strpos('0123456789abcdef', substr(md5(t),4,1)) - 1) AS BIGINT))),
                       (acc, d) -> (acc * 31 + d) % 1000000007) AS rhash
              FROM documents
            )
            SELECT b.doc_id, b.fingerprint,
                   COALESCE(s.simhash, 0) AS simhash,
                   b.rhash, g.mh0, g.mh1, g.mh2, g.mh3
            FROM base b
            LEFT JOIN simh s USING (doc_id)
            LEFT JOIN sig g USING (doc_id)
        """,
        "ngram_jaccard_pairs": f"""
            WITH sh AS (
              SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            jac AS (
              SELECT id_a, id_b,
                     CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
              FROM inter
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
            )
            SELECT 'brute' AS leg, id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5
            UNION ALL
            SELECT 'prefix' AS leg, id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.7
        """,
        "minhash_lsh_neardup": f"""
            WITH sh AS (
              SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
            ),
            sig AS (
              SELECT doc_id,
                     min(md5(concat('0|', shingle))) AS mh0,
                     min(md5(concat('1|', shingle))) AS mh1,
                     min(md5(concat('2|', shingle))) AS mh2,
                     min(md5(concat('3|', shingle))) AS mh3
              FROM sh GROUP BY 1
            ),
            banded AS (
              SELECT doc_id, md5(concat_ws('|', mh0, mh1)) AS band_key FROM sig
              UNION ALL
              SELECT doc_id, md5(concat_ws('|', mh2, mh3)) AS band_key FROM sig
            ),
            cand AS (
              SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
              FROM banded x JOIN banded y
                ON x.band_key = y.band_key AND x.doc_id < y.doc_id
            ),
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            exact AS (
              SELECT id_a, id_b,
                     CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
              FROM inter
              JOIN sizes sa ON sa.doc_id = id_a
              JOIN sizes sb ON sb.doc_id = id_b
              WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
            )
            SELECT exact.id_a, exact.id_b, jaccard
            FROM cand JOIN exact ON cand.id_a = exact.id_a AND cand.id_b = exact.id_b
        """,
        "dedup_apply": f"""
            WITH RECURSIVE sh AS (
              SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
            ),
            sig AS (
              SELECT doc_id,
                     min(md5(concat('0|', shingle))) AS mh0,
                     min(md5(concat('1|', shingle))) AS mh1,
                     min(md5(concat('2|', shingle))) AS mh2,
                     min(md5(concat('3|', shingle))) AS mh3
              FROM sh GROUP BY 1
            ),
            banded AS (
              SELECT doc_id, md5(concat_ws('|', mh0, mh1)) AS band_key FROM sig
              UNION ALL
              SELECT doc_id, md5(concat_ws('|', mh2, mh3)) AS band_key FROM sig
            ),
            cand AS (
              SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
              FROM banded x JOIN banded y
                ON x.band_key = y.band_key AND x.doc_id < y.doc_id
            ),
            edges AS (
              SELECT id_a AS u, id_b AS v FROM cand
              UNION ALL
              SELECT id_b AS u, id_a AS v FROM cand
            ),
            reach AS (
              SELECT DISTINCT u AS node, u AS r FROM edges
              UNION
              SELECT e.u AS node, reach.r FROM edges e JOIN reach ON e.v = reach.node
            ),
            losers AS (
              SELECT node FROM reach GROUP BY node HAVING node <> min(r)
            )
            SELECT doc_id, lang, source FROM documents
            WHERE doc_id NOT IN (SELECT node FROM losers)
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE sh AS (
              SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
            ),
            sig AS (
              SELECT doc_id,
                     min(md5(concat('0|', shingle))) AS mh0,
                     min(md5(concat('1|', shingle))) AS mh1,
                     min(md5(concat('2|', shingle))) AS mh2,
                     min(md5(concat('3|', shingle))) AS mh3
              FROM sh GROUP BY 1
            ),
            banded AS (
              SELECT doc_id, md5(concat_ws('|', mh0, mh1)) AS band_key FROM sig
              UNION ALL
              SELECT doc_id, md5(concat_ws('|', mh2, mh3)) AS band_key FROM sig
            ),
            cand AS (
              SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
              FROM banded x JOIN banded y
                ON x.band_key = y.band_key AND x.doc_id < y.doc_id
            ),
            edges AS (
              SELECT id_a AS u, id_b AS v FROM cand
              UNION ALL
              SELECT id_b AS u, id_a AS v FROM cand
            ),
            reach AS (
              SELECT DISTINCT u AS node, u AS r FROM edges
              UNION
              SELECT e.u AS node, reach.r FROM edges e JOIN reach ON e.v = reach.node
            )
            SELECT node AS doc_id, min(r) AS cluster_id,
                   (node = min(r)) AS is_survivor
            FROM reach GROUP BY node
        """,
        "incremental_dedup": f"""
            WITH hist AS (SELECT * FROM documents WHERE doc_id < 250),
            newb AS (SELECT * FROM documents WHERE doc_id >= 250),
            hx AS (
              SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                       AS exact_key,
                     min(doc_id) AS match_id
              FROM hist GROUP BY 1
            ),
            nx AS (
              SELECT doc_id,
                     md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                       AS exact_key
              FROM newb
            ),
            exact AS (
              SELECT nx.doc_id, 'drop_exact' AS action, hx.match_id
              FROM nx JOIN hx USING (exact_key)
            ),
            rem AS (
              SELECT * FROM newb
              WHERE doc_id NOT IN (SELECT doc_id FROM exact)
            ),
            shn AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM rem),
            shh AS (SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM hist),
            sign AS (
              SELECT doc_id,
                     min(md5(concat('0|', shingle))) AS mh0,
                     min(md5(concat('1|', shingle))) AS mh1,
                     min(md5(concat('2|', shingle))) AS mh2,
                     min(md5(concat('3|', shingle))) AS mh3
              FROM shn GROUP BY 1
            ),
            sigh AS (
              SELECT doc_id,
                     min(md5(concat('0|', shingle))) AS mh0,
                     min(md5(concat('1|', shingle))) AS mh1,
                     min(md5(concat('2|', shingle))) AS mh2,
                     min(md5(concat('3|', shingle))) AS mh3
              FROM shh GROUP BY 1
            ),
            bn AS (
              SELECT doc_id, md5(concat_ws('|', mh0, mh1)) AS band_key FROM sign
              UNION ALL
              SELECT doc_id, md5(concat_ws('|', mh2, mh3)) AS band_key FROM sign
            ),
            bh AS (
              SELECT doc_id, md5(concat_ws('|', mh0, mh1)) AS band_key FROM sigh
              UNION ALL
              SELECT doc_id, md5(concat_ws('|', mh2, mh3)) AS band_key FROM sigh
            ),
            cand AS (
              SELECT DISTINCT bn.doc_id AS doc_id, bh.doc_id AS hist_id
              FROM bn JOIN bh ON bn.band_key = bh.band_key
            ),
            sn AS (SELECT doc_id, count(*) AS n_sh FROM shn GROUP BY 1),
            sh2 AS (SELECT doc_id, count(*) AS n_sh FROM shh GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS doc_id, b.doc_id AS hist_id,
                     count(*) AS n_inter
              FROM shn a JOIN shh b ON a.shingle = b.shingle
              GROUP BY 1, 2
            ),
            near AS (
              SELECT c.doc_id, 'drop_near' AS action,
                     min(c.hist_id) AS match_id
              FROM cand c
              JOIN inter i ON i.doc_id = c.doc_id AND i.hist_id = c.hist_id
              JOIN sn ON sn.doc_id = c.doc_id
              JOIN sh2 ON sh2.doc_id = c.hist_id
              WHERE CAST(i.n_inter AS DOUBLE)
                      / (sn.n_sh + sh2.n_sh - i.n_inter) >= 0.5
              GROUP BY 1, 2
            ),
            dropped AS (
              SELECT doc_id FROM exact UNION ALL SELECT doc_id FROM near
            )
            SELECT doc_id, action, match_id FROM exact
            UNION ALL
            SELECT doc_id, action, match_id FROM near
            UNION ALL
            SELECT doc_id, 'keep' AS action, CAST(NULL AS BIGINT) AS match_id
            FROM newb WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        """,
        "segment_dedup": f"""
            WITH segged AS (
              SELECT doc_id,
                     list_transform(range((len({_TOKENS}) + 9) // 10),
                       i -> array_to_string(({_TOKENS})[i*10+1:i*10+10], ' '))
                       AS segs
              FROM documents
            ),
            counts AS (SELECT doc_id, len(segs) AS n_segs FROM segged),
            seg AS (
              SELECT doc_id, unnest(segs) AS seg,
                     generate_subscripts(segs, 1) AS pos
              FROM segged
            ),
            boiler AS (
              SELECT md5(seg) AS k FROM seg WHERE length(seg) > 0
              GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
            ),
            kept AS (
              SELECT * FROM seg WHERE md5(seg) NOT IN (SELECT k FROM boiler)
            ),
            reasm AS (
              SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_clean,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id
            )
            SELECT c.doc_id, CAST(c.n_segs AS BIGINT) AS n_segs,
                   coalesce(r.text_clean, '') AS text_clean,
                   CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
            FROM counts c LEFT JOIN reasm r USING (doc_id)
        """,
        "quality_gate": f"""
            WITH f AS (
              SELECT doc_id, n_chars,
                     len({_TOKENS}) AS n_tokens,
                     CAST(list_reduce(list_prepend(0,
                            list_transform({_TOKENS},
                              w -> CAST(length(w) AS BIGINT))),
                          (a, b) -> a + b) AS DOUBLE) / len({_TOKENS})
                       AS mean_len,
                     CAST(len(list_filter({_TOKENS},
                          t -> list_contains({_STOPWORDS_SQL}, lower(t))))
                          AS DOUBLE) / len({_TOKENS}) AS stop_ratio,
                     CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                          AS DOUBLE) / length(text) AS upper_ratio,
                     1.0 - CAST(len(list_distinct({_TOKENS})) AS DOUBLE)
                           / len({_TOKENS}) AS dup_ratio
              FROM documents
            )
            SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, n_chars
            FROM f
            WHERE n_tokens >= 5 AND mean_len >= 2.0 AND mean_len <= 12.0
              AND stop_ratio >= 0.01 AND upper_ratio <= 0.3
              AND dup_ratio <= 0.6
        """,
        "deterministic_splits": f"""
            WITH hs AS (
              SELECT doc_id,
                     ({_hex4_sql("md5(concat('split|', CAST(doc_id AS VARCHAR)))")} * 10000) // 65536
                       AS bucket
              FROM documents
            ),
            ss AS (
              SELECT doc_id, lang,
                     ({_hex4_sql("md5(concat('sample|', CAST(doc_id AS VARCHAR)))")} * 10000) // 65536
                       AS bucket
              FROM documents
            )
            SELECT 'hash_split' AS op, doc_id, CAST(NULL AS VARCHAR) AS lang,
                   CAST(bucket AS INTEGER) AS bucket,
                   CASE WHEN bucket < 9000 THEN 'train'
                        WHEN bucket < 9500 THEN 'val'
                        ELSE 'test' END AS split
            FROM hs
            UNION ALL
            SELECT 'stratified' AS op, doc_id, lang,
                   CAST(bucket AS INTEGER) AS bucket, CAST(NULL AS VARCHAR) AS split
            FROM ss
            WHERE bucket < CASE lang WHEN 'en' THEN 5000
                                     WHEN 'de' THEN 3000
                                     WHEN 'fr' THEN 2000
                                     ELSE -1 END
        """,
        "substring_dedup_spans": f"""
            WITH pos AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len({_TOKENS}) - 3),
                            i -> {{'pos': i - 1,
                                   'sh': concat_ws(' ', {_TOKENS}[i], {_TOKENS}[i+1],
                                                   {_TOKENS}[i+2], {_TOKENS}[i+3],
                                                   {_TOKENS}[i+4])}}))
                       AS u
              FROM documents
            ),
            dup AS (
              SELECT u.sh AS sh FROM pos
              GROUP BY u.sh HAVING count(DISTINCT doc_id) >= 2
            ),
            hits AS (
              SELECT doc_id, CAST(u.pos AS INTEGER) AS span_start,
                     CAST(u.pos + 5 AS INTEGER) AS span_end
              FROM pos JOIN dup ON u.sh = dup.sh
            ),
            m AS (
              SELECT doc_id, span_start, span_end,
                     max(span_end) OVER (PARTITION BY doc_id ORDER BY span_start
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev_end
              FROM hits
            ),
            isl AS (
              SELECT doc_id, span_start, span_end,
                     sum(CASE WHEN prev_end IS NULL OR span_start > prev_end
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY span_start
                             ROWS UNBOUNDED PRECEDING) AS island
              FROM m
            )
            SELECT doc_id, min(span_start) AS span_start, max(span_end) AS span_end
            FROM isl GROUP BY doc_id, island
        """,
        "term_rankings": f"""
            WITH toks AS (
              SELECT doc_id, unnest({_TOKENS}) AS term FROM documents
            ),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            total AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
            scored AS (
              SELECT doc_id, term, tf, df,
                     CAST(tf * n_docs AS DOUBLE) / df AS tfidf
              FROM tf JOIN dfreq USING (term) CROSS JOIN total
            ),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY tfidf DESC, term ASC) AS rnk
              FROM scored
            ),
            corpus AS (SELECT term, count(*) AS tf FROM toks GROUP BY 1),
            cranked AS (
              SELECT term, tf,
                     row_number() OVER (ORDER BY tf DESC, term ASC) AS rnk
              FROM corpus
            )
            SELECT 'doc' AS scope, doc_id, term, tf, df, tfidf,
                   CAST(rnk AS INTEGER) AS rnk
            FROM ranked WHERE rnk <= 3
            UNION ALL
            SELECT 'corpus', CAST(NULL AS BIGINT), term, tf,
                   CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
                   CAST(rnk AS INTEGER)
            FROM cranked WHERE rnk <= 20
        """,
        "ann_topk": f"""
            WITH e AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
            {multi_table_s_cte(ann_tables)},
            pairs AS (
              SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
              FROM s q JOIN s c
                ON q.tbl = c.tbl AND q.bucket = c.bucket
               AND q.vec_id < 5 AND c.vec_id <> q.vec_id
            ),
            scored AS (
              SELECT query_id, cand_id,
                     {_dot_sql('qq.qv', 'cc.qv')}
                       / (sqrt({_dot_sql('qq.qv', 'qq.qv')}) * sqrt({_dot_sql('cc.qv', 'cc.qv')}))
                       AS cosine
              FROM pairs JOIN e qq ON qq.vec_id = query_id
                         JOIN e cc ON cc.vec_id = cand_id
            ),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, cand_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, cand_id, cosine, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "simhash_neardup": f"""
            WITH tok AS (
              SELECT doc_id, unnest({_TOKENS}) AS t FROM documents
            ),
            dig AS (SELECT doc_id, {digit8} AS d FROM tok),
            s AS (SELECT doc_id, {sim_bits32} AS sig FROM dig GROUP BY doc_id)
            SELECT x.doc_id AS id_a, y.doc_id AS id_b,
                   CAST(bit_count(xor(x.sig, y.sig)) AS INTEGER) AS hamming
            FROM s x JOIN s y ON x.doc_id < y.doc_id
            WHERE bit_count(xor(x.sig, y.sig)) <= 3
        """,
        "repetition": f"""
            WITH base AS (
              SELECT doc_id, {_TOKENS} AS toks, len({_TOKENS}) AS n FROM documents
            ),
            bg AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, n),
                            i -> concat_ws(' ', toks[i], toks[i+1]))) AS bigram
              FROM base WHERE n >= 2
            ),
            bgc AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
            mx AS (SELECT doc_id, max(c) AS best FROM bgc GROUP BY 1)
            SELECT b.doc_id,
                   CASE WHEN n > 0
                        THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / n
                   END AS dup_token_ratio,
                   CASE WHEN n >= 2 THEN CAST(best AS DOUBLE) / (n - 1)
                   END AS top_bigram_ratio
            FROM base b LEFT JOIN mx USING (doc_id)
        """,
        "pii_redact": r"""
            WITH aug AS (
              SELECT doc_id,
                     concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                            '@example.com ip 10.0.',
                            CAST(doc_id % 256 AS VARCHAR), '.1') AS text
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                        AS INTEGER) AS n_email,
                   CAST(len(regexp_extract_all(text,
                        '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))
                        AS INTEGER) AS n_ipv4,
                   regexp_replace(
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                     '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}',
                     '<IPV4>', 'g') AS text_redacted
            FROM aug
        """,
        "blocklist_filter": """
            SELECT doc_id, source FROM documents
            WHERE source NOT IN ('src3', 'src7', 'src13')
        """,
        "contamination": f"""
            WITH bench AS (
              SELECT DISTINCT unnest({_SHINGLES}) AS shingle
              FROM documents WHERE doc_id % 97 = 0
            ),
            corp AS (
              SELECT doc_id, unnest({_SHINGLES}) AS shingle FROM documents
            ),
            hits AS (
              SELECT doc_id, count(*) AS n_overlap
              FROM corp JOIN bench USING (shingle) GROUP BY 1
            )
            SELECT d.doc_id,
                   COALESCE(n_overlap, 0) AS n_overlap,
                   COALESCE(n_overlap, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN hits USING (doc_id)
        """,
        "contamination_spans": f"""
            WITH bench AS (
              SELECT DISTINCT unnest({_SHINGLES}) AS shingle
              FROM documents WHERE doc_id % 97 = 0
            ),
            pos AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len({_TOKENS}) - 1),
                            i -> {{'pos': i - 1,
                                   'sh': concat_ws(' ', {_TOKENS}[i], {_TOKENS}[i+1], {_TOKENS}[i+2])}}))
                       AS u
              FROM documents
            ),
            hits AS (
              SELECT doc_id, CAST(u.pos AS INTEGER) AS span_start,
                     CAST(u.pos + 3 AS INTEGER) AS span_end
              FROM pos JOIN bench ON u.sh = bench.shingle
            ),
            m AS (
              SELECT doc_id, span_start, span_end,
                     max(span_end) OVER (PARTITION BY doc_id ORDER BY span_start
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev_end
              FROM hits
            ),
            isl AS (
              SELECT doc_id, span_start, span_end,
                     sum(CASE WHEN prev_end IS NULL OR span_start > prev_end
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY span_start
                             ROWS UNBOUNDED PRECEDING) AS island
              FROM m
            )
            SELECT doc_id, min(span_start) AS span_start, max(span_end) AS span_end
            FROM isl GROUP BY doc_id, island
        """,
        "cosine_topk": f"""
            WITH e AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                     {_dot_sql('q.qv', 'c.qv')}
                       / (sqrt({_dot_sql('q.qv', 'q.qv')}) * sqrt({_dot_sql('c.qv', 'c.qv')}))
                       AS cosine
              FROM e q JOIN e c ON q.vec_id < 3 AND c.vec_id <> q.vec_id
            ),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, cand_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, cand_id, cosine, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 5
        """,
        "embedding_neardup": f"""
            WITH e AS (
              SELECT vec_id, {_QVEC} AS qv FROM embeddings
            ),
            {multi_table_s_cte(nd_tables)},
            cand AS (
              SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
              FROM s x JOIN s y
                ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id
            ),
            scored AS (
              SELECT id_a, id_b,
                     {_dot_sql('a.qv', 'b.qv')}
                       / (sqrt({_dot_sql('a.qv', 'a.qv')}) * sqrt({_dot_sql('b.qv', 'b.qv')}))
                       AS cosine
              FROM cand JOIN e a ON a.vec_id = id_a JOIN e b ON b.vec_id = id_b
            )
            SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.3
        """,
        "ivf_ann_topk": f"""
            WITH {_ivf_cell_cte(centroids)},
            scored AS (
              SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                     {_dot_sql('q.qv', 'c.qv')}
                       / (sqrt({_dot_sql('q.qv', 'q.qv')}) * sqrt({_dot_sql('c.qv', 'c.qv')}))
                       AS cosine
              FROM s q JOIN s c
                ON q.cell = c.cell AND q.vec_id < 5 AND c.vec_id <> q.vec_id
            ),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, cand_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, cand_id, cosine, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "ann_partitions": f"""
            WITH {_ivf_cell_cte(centroids)},
            {_pq_ctes(pq_cbs)},
            l AS (
              SELECT {_lsh_bucket_sql(planes)} AS part_id, count(*) AS n_vectors
              FROM e GROUP BY 1
            )
            SELECT 'lsh' AS method, part_id, n_vectors FROM l
            UNION ALL
            SELECT 'ivf' AS method, cell AS part_id, count(*) AS n_vectors
            FROM s GROUP BY 1, 2
            UNION ALL
            SELECT 'pq' AS method, k0 + 16 * k1 AS part_id, count(*) AS n_vectors
            FROM ps GROUP BY 1, 2
        """,
        "pq_ann_topk": f"""
            WITH {_pq_ctes(pq_cbs)},
            pairs AS (
              SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                     q.qv AS qv, c.k0 AS k0, c.k1 AS k1
              FROM ps c JOIN pe q
                ON q.vec_id < 5 AND c.vec_id <> q.vec_id
            ),
            dist AS (
              SELECT query_id, cand_id,
                     (CASE k0 {' '.join(f"WHEN {kk} THEN {_pq_dist_sql('qv', 0, 32, pq_cbs[0][kk])}" for kk in range(16))} END)
                   + (CASE k1 {' '.join(f"WHEN {kk} THEN {_pq_dist_sql('qv', 1, 32, pq_cbs[1][kk])}" for kk in range(16))} END)
                       AS approx_dist
              FROM pairs
            ),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY approx_dist ASC, cand_id ASC) AS rank
              FROM dist
            )
            SELECT query_id, cand_id, approx_dist, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "text_features": f"""
            SELECT doc_id,
                   CAST(len({_TOKENS}) AS INTEGER) AS n_tokens,
                   CAST(len({_TOKENS})
                        + list_reduce(list_prepend(0,
                            list_transform({_TOKENS}, w -> CAST(length(w) // 6 AS BIGINT))),
                          (a, b) -> a + b) AS INTEGER) AS n_bpe_tokens,
                   CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INTEGER)
                     AS n_regex_tokens,
                   CAST(list_reduce(list_prepend(0,
                          list_transform({_TOKENS}, w -> CAST(length(w) AS BIGINT))),
                        (a, b) -> a + b) AS DOUBLE) / len({_TOKENS}) AS mean_token_len,
                   CAST(len(list_filter({_TOKENS},
                        t -> list_contains({_STOPWORDS_SQL}, lower(t)))) AS DOUBLE)
                     / len({_TOKENS}) AS stopword_ratio,
                   CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
                     / length(text) AS upper_ratio,
                   lang,
                   {lang_case_sql} AS lang_pred
            FROM documents
        """,
        "time_rollup": """
            SELECT CAST(GROUPING(date_trunc('day', ts), date_trunc('hour', ts),
                                 event_type) AS INTEGER) AS lvl,
                   -- DuckDB date_trunc('day') yields DATE; Spark yields TIMESTAMP
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   date_trunc('hour', ts) AS hour,
                   event_type, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
                   count(DISTINCT user_id) AS n_users
            FROM events
            GROUP BY ROLLUP (date_trunc('day', ts), date_trunc('hour', ts), event_type)
        """,
        "sliding_windows": """
            WITH e2h AS (
              SELECT unnest([date_trunc('hour', ts),
                             date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS window_start,
                     value
              FROM events
            ),
            e3h AS (
              SELECT make_timestamp(((epoch_us(ts) // 1800000000) * 1800000000)
                                    - j * 1800000000) AS window_start,
                     value
              FROM events, range(0, 6) AS t(j)
            )
            SELECT '120m_60m' AS win, window_start, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM e2h GROUP BY 2
            UNION ALL
            SELECT '180m_30m' AS win, window_start, count(*) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM e3h GROUP BY 2
        """,
        "asof_join": """
            WITH purch AS (
              SELECT user_id, ts, max(value) AS purchase_value
              FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
            )
            SELECT e.event_id, e.user_id, e.ts,
                   p.ts AS last_purchase_ts,
                   p.purchase_value AS last_purchase_value
            FROM events e ASOF LEFT JOIN purch p
              ON e.user_id = p.user_id AND p.ts < e.ts
        """,
        "interval_join": """
            WITH iv AS (
              SELECT event_id AS incident_id, ts AS start_ts,
                     ts + INTERVAL 30 MINUTE AS end_ts
              FROM events WHERE event_type = 'error'
            )
            SELECT iv.incident_id, count(*) AS n_events,
                   CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM iv JOIN events e
              ON e.ts >= iv.start_ts AND e.ts < iv.end_ts
            GROUP BY 1
        """,
        "event_enrich": """
            WITH lagged AS (
              SELECT event_id, user_id, ts, props,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
              FROM events
            ),
            flagged AS (
              SELECT event_id, user_id, ts, props,
                     CASE WHEN prev_ts IS NULL
                               OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END
                       AS is_new
              FROM lagged
            )
            SELECT event_id, user_id,
                   CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_n,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
            FROM flagged
        """,
        "session_stats": """
            WITH lagged AS (
              SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
              FROM events
            ),
            flagged AS (
              SELECT *, CASE WHEN prev_ts IS NULL
                                  OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END
                          AS is_new
              FROM lagged
            ),
            sessions AS (
              SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_n
              FROM flagged
            )
            SELECT user_id, session_n, count(*) AS n_events,
                   (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 AS duration_s,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM sessions GROUP BY 1, 2
        """,
        "top_users": """
            WITH counts AS (
              SELECT user_id, count(*) AS n_events,
                     CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
              FROM events GROUP BY 1
            ),
            ranked AS (
              SELECT *, row_number() OVER (ORDER BY n_events DESC, user_id ASC) AS rank
              FROM counts
            )
            SELECT user_id, n_events, sum_value, CAST(rank AS INTEGER) AS rank
            FROM ranked WHERE rank <= 10
        """,
        "binary_payload_meta": """
            SELECT doc_id,
                   upper(md5(text)) AS payload_hex,
                   16 AS n_bytes,
                   'image/fake' AS media_type,
                   CAST(length(text) % 640 + 1 AS BIGINT) AS width,
                   CAST(length(text) % 480 + 1 AS BIGINT) AS height
            FROM documents
        """,
        # next-fit-decreasing is a sequential recurrence over the
        # per-group (n_tokens DESC, doc_id) order — a recursive CTE
        # stepping rn -> rn+1 replays each group's pass exactly (all
        # groups advance in lockstep, one row per group per iteration)
        "pack_sequences": """
            WITH RECURSIVE docs AS (
              SELECT doc_id,
                     CAST(len(list_filter(string_split(text, ' '),
                                          x -> x != '')) AS BIGINT) AS n_tokens,
                     ((doc_id % 8) + 8) % 8 AS pack_group
              FROM documents
            ),
            ordered AS (
              SELECT doc_id, n_tokens, pack_group,
                     row_number() OVER (PARTITION BY pack_group
                                        ORDER BY n_tokens DESC, doc_id) AS rn
              FROM docs
            ),
            packed AS (
              SELECT pack_group, rn, doc_id, n_tokens,
                     CAST(0 AS BIGINT) AS seq_id, n_tokens AS fill
              FROM ordered WHERE rn = 1
              UNION ALL
              SELECT o.pack_group, o.rn, o.doc_id, o.n_tokens,
                     CASE WHEN p.fill + o.n_tokens <= 256
                          THEN p.seq_id ELSE p.seq_id + 1 END,
                     CASE WHEN p.fill + o.n_tokens <= 256
                          THEN p.fill + o.n_tokens ELSE o.n_tokens END
              FROM packed p
              JOIN ordered o
                ON o.pack_group = p.pack_group AND o.rn = p.rn + 1
            )
            SELECT doc_id, n_tokens, pack_group, seq_id FROM packed
        """,
    }

    # --- r6 window consolidation -----------------------------------------
    # Merge the five standalone doc-cleaning oracles into two labeled
    # unions (their SQL bodies are reused verbatim as subqueries), then
    # spend the freed recorded slots on funnel/retention, gapfill, and
    # the versioned-table snapshot.
    oracles["doc_gates"] = f"""
        SELECT 'pii' AS leg, doc_id, CAST(n_email AS BIGINT) AS n1,
               CAST(n_ipv4 AS BIGINT) AS n2, text_redacted AS s
        FROM ({oracles.pop('pii_redact')})
        UNION ALL
        SELECT 'blocklist', doc_id, CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT), source
        FROM ({oracles.pop('blocklist_filter')})
        UNION ALL
        SELECT 'gate', doc_id, CAST(n_tokens AS BIGINT),
               CAST(n_chars AS BIGINT), CAST(NULL AS VARCHAR)
        FROM ({oracles.pop('quality_gate')})
    """
    oracles["contamination_audit"] = f"""
        SELECT 'flag' AS leg, doc_id, CAST(n_overlap AS BIGINT) AS a,
               CAST(NULL AS BIGINT) AS b, contaminated AS flag
        FROM ({oracles.pop('contamination')})
        UNION ALL
        SELECT 'spans', doc_id, CAST(span_start AS BIGINT),
               CAST(span_end AS BIGINT), CAST(NULL AS BOOLEAN)
        FROM ({oracles.pop('contamination_spans')})
    """
    oracles["funnel_retention"] = """
        WITH s0 AS (
          SELECT user_id, min(ts) AS t0 FROM events
          WHERE event_type = 'view' GROUP BY 1
        ), s1 AS (
          SELECT s0.user_id, t0,
                 (SELECT min(ts) FROM events e
                  WHERE e.user_id = s0.user_id AND e.event_type = 'click'
                    AND e.ts > s0.t0) AS t1
          FROM s0
        ), s2 AS (
          SELECT s1.user_id, t0, t1,
                 (SELECT min(ts) FROM events e
                  WHERE e.user_id = s1.user_id AND e.event_type = 'purchase'
                    AND e.ts > s1.t1) AS t2
          FROM s1
        ), fun AS (
          SELECT 1 + CAST(t1 IS NOT NULL AS INTEGER)
                   + CAST(t2 IS NOT NULL AS INTEGER) AS n_steps
          FROM s2
        ),
        act AS (
          SELECT DISTINCT user_id, date_trunc('day', ts) AS p FROM events
        ), first AS (
          SELECT user_id, min(p) AS cohort FROM act GROUP BY 1
        ), sizes AS (
          SELECT cohort, count(*) AS n_cohort FROM first GROUP BY 1
        ), ret AS (
          SELECT f.cohort, CAST(date_diff('day', f.cohort, a.p) AS BIGINT) AS k,
                 count(DISTINCT a.user_id) AS n_active,
                 any_value(s.n_cohort) AS n_cohort
          FROM act a JOIN first f USING (user_id)
          JOIN sizes s ON f.cohort = s.cohort
          GROUP BY 1, 2
        )
        SELECT 'funnel' AS leg, CAST(NULL AS TIMESTAMP) AS cohort,
               CAST(n_steps AS BIGINT) AS k, count(*) AS n1,
               CAST(NULL AS BIGINT) AS n2, CAST(NULL AS DOUBLE) AS rate
        FROM fun GROUP BY n_steps
        UNION ALL
        SELECT 'retention', CAST(cohort AS TIMESTAMP), k, n_active, n_cohort,
               CAST(n_active AS DOUBLE) / CAST(n_cohort AS DOUBLE)
        FROM ret
    """
    oracles["gapfill"] = """
        WITH obs AS (
            SELECT user_id,
                   to_timestamp((epoch_us(ts) - epoch_us(ts) % 21600000000)
                                / 1000000)::timestamp AS bucket,
                   max_by(value, ts) AS last_value,
                   count(*) AS n_events
            FROM events
            GROUP BY 1, 2
        ), spans AS (
            SELECT user_id, min(bucket) lo, max(bucket) hi FROM obs GROUP BY 1
        ), grid AS (
            SELECT user_id,
                   unnest(generate_series(lo, hi, INTERVAL 360 MINUTE)) AS bucket
            FROM spans
        )
        SELECT g.user_id, g.bucket,
               last_value(o.last_value IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.bucket
                   ROWS UNBOUNDED PRECEDING) AS value_locf,
               coalesce(o.n_events, 0) AS n_events,
               o.last_value IS NULL AS filled
        FROM grid g LEFT JOIN obs o USING (user_id, bucket)
    """
    oracles["versioned_snapshot"] = """
        WITH base AS (
          SELECT c_custkey, c_nationkey,
                 CASE WHEN c_custkey % 8 = 0 THEN 'UPDATED'
                      ELSE c_mktsegment END AS c_mktsegment
          FROM customer WHERE c_custkey % 4 = 0
        ), after_v3 AS (
          SELECT * FROM base WHERE c_nationkey <> 3
        ),
        -- v4 CDC replay: D drops live multiples of 20, U rewrites the
        -- segment of live multiples of 12 (not 20), I adds %16==1 keys
        after_v4 AS (
          SELECT c_custkey, c_nationkey,
                 CASE WHEN c_custkey % 12 = 0 THEN 'MERGED'
                      ELSE c_mktsegment END AS c_mktsegment
          FROM after_v3 WHERE c_custkey % 20 <> 0
          UNION ALL
          SELECT c_custkey, c_nationkey, 'INSERTED'
          FROM customer WHERE c_custkey % 16 = 1
        ),
        -- v5 deletion-vector delete: multiples of 24 die logically;
        -- v6 purge-compaction materializes it — SAME logical state,
        -- so the 'dv' and 'latest' legs share this body
        after_v5 AS (
          SELECT * FROM after_v4 WHERE c_custkey % 24 <> 0
        )
        SELECT 'v2' AS snap, c_custkey, c_nationkey, c_mktsegment FROM base
        UNION ALL
        SELECT 'v3', c_custkey, c_nationkey, c_mktsegment FROM after_v3
        UNION ALL
        SELECT 'dv', c_custkey, c_nationkey, c_mktsegment FROM after_v5
        UNION ALL
        SELECT 'latest', c_custkey, c_nationkey, c_mktsegment FROM after_v5
    """

    # --- r7 window consolidation ------------------------------------------
    # Merge seven standalone recorded oracles into three labeled unions
    # (SQL bodies reused verbatim as subqueries — the r6 playbook), then
    # spend the four freed slots promoting the exact, DuckDB-expressible
    # rows-only queries bloom_join / heavy_hitters / term_search /
    # edit_distance into the driver's hash-checked window (r6 VERDICT #1).
    oracles["dedup_pipeline"] = f"""
        SELECT 'clusters' AS leg, doc_id, cluster_id, is_survivor,
               CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS source
        FROM ({oracles.pop('dedup_clusters')})
        UNION ALL
        SELECT 'apply', doc_id, CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN),
               lang, source
        FROM ({oracles.pop('dedup_apply')})
    """
    oracles["lexical_neardup"] = f"""
        SELECT 'minhash' AS leg, id_a, id_b, jaccard,
               CAST(NULL AS INTEGER) AS hamming
        FROM ({oracles.pop('minhash_lsh_neardup')})
        UNION ALL
        SELECT 'simhash', id_a, id_b, CAST(NULL AS DOUBLE), hamming
        FROM ({oracles.pop('simhash_neardup')})
    """
    oracles["span_cleaning"] = f"""
        SELECT 'segment' AS leg, doc_id, n_segs AS n1, n_kept AS n2,
               text_clean AS s, CAST(NULL AS DOUBLE) AS x1,
               CAST(NULL AS DOUBLE) AS x2
        FROM ({oracles.pop('segment_dedup')})
        UNION ALL
        SELECT 'spans', doc_id, CAST(span_start AS BIGINT),
               CAST(span_end AS BIGINT), CAST(NULL AS VARCHAR),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        FROM ({oracles.pop('substring_dedup_spans')})
        UNION ALL
        SELECT 'repetition', doc_id, CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
               dup_token_ratio, top_bigram_ratio
        FROM ({oracles.pop('repetition')})
    """
    # The four promotions. Each result is EXACT (the sketch/index step
    # only prunes or accelerates — it never changes the answer), so a
    # plain-SQL oracle hash-checks it end to end.
    oracles["windowed_rollups"] = f"""
        SELECT 'rollup' AS leg, lvl, day, hour, event_type,
               CAST(NULL AS VARCHAR) AS win,
               CAST(NULL AS TIMESTAMP) AS window_start,
               n_events, sum_value, n_users
        FROM ({oracles.pop('time_rollup')})
        UNION ALL
        SELECT 'sliding', CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP),
               CAST(NULL AS TIMESTAMP), CAST(NULL AS VARCHAR),
               win, window_start, n_events, sum_value, CAST(NULL AS BIGINT)
        FROM ({oracles.pop('sliding_windows')})
    """
    oracles["doc_chunks"] = f"""
        WITH base AS (
          SELECT doc_id, {_TOKENS} AS toks, len({_TOKENS}) AS n
          FROM documents
        ),
        c AS (
          SELECT doc_id, toks,
                 CASE WHEN n <= 64
                      THEN CASE WHEN n > 0 THEN 1 ELSE 0 END
                      ELSE CAST(ceil((n - 64) / 56.0) AS BIGINT) + 1
                 END AS n_chunks
          FROM base
        )
        SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
               CAST(i * 56 AS BIGINT) AS chunk_start,
               CAST(len(toks[i*56+1 : i*56+64]) AS BIGINT) AS n_tokens,
               array_to_string(toks[i*56+1 : i*56+64], ' ') AS chunk_text
        FROM c, unnest(range(n_chunks)) AS t(i)
    """
    # the as-of SQL backs both the temporal_joins leg and (r8) the
    # promoted asof_bucketed row — same query, two execution plans
    asof_sql = oracles.pop("asof_join")
    oracles["temporal_joins"] = f"""
        SELECT 'asof' AS leg, event_id, user_id, ts, last_purchase_ts,
               last_purchase_value, CAST(NULL AS BIGINT) AS incident_id,
               CAST(NULL AS BIGINT) AS n_events,
               CAST(NULL AS DOUBLE) AS sum_value
        FROM ({asof_sql})
        UNION ALL
        SELECT 'interval', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS TIMESTAMP), CAST(NULL AS TIMESTAMP),
               CAST(NULL AS DOUBLE), incident_id, n_events, sum_value
        FROM ({oracles.pop('interval_join')})
    """
    oracles["index_maintenance"] = """
        WITH tok AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(lower(text), ' '),
                        t -> t <> '')) AS term
          FROM documents
        ),
        tf AS (
          SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2
        )
        SELECT 'v1' AS snap, term,
               CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df,
               doc_id, CAST(tf AS BIGINT) AS tf
        FROM tf WHERE doc_id % 2 = 0
        UNION ALL
        SELECT 'latest', term,
               CAST(count(*) OVER (PARTITION BY term) AS BIGINT),
               doc_id, CAST(tf AS BIGINT)
        FROM tf
    """
    oracles["bloom_join"] = """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM customer c
          WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 8000
        )
    """
    oracles["heavy_hitters"] = """
        WITH tot AS (SELECT count(*) AS n FROM events),
        hh AS (
          SELECT event_type AS item, count(*) AS n_rows
          FROM events GROUP BY 1
        )
        SELECT item, n_rows,
               CAST(n_rows AS DOUBLE) / (SELECT n FROM tot) AS frac
        FROM hh WHERE n_rows >= 0.05 * (SELECT n FROM tot)
    """
    oracles["term_search"] = """
        SELECT doc_id FROM documents
        WHERE list_contains(string_split(lower(text), ' '), 'the')
          AND list_contains(string_split(lower(text), ' '), 'data')
    """
    oracles["edit_distance"] = r"""
        WITH s AS (
          SELECT doc_id,
                 regexp_replace(lower(trim(substring(text, 1, 12))),
                                '\s+', ' ', 'g') AS t
          FROM documents WHERE doc_id < 500
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(levenshtein(a.t, b.t) AS INTEGER) AS dist
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE levenshtein(a.t, b.t) <= 1
    """

    # --- r8 window consolidation + promotions -----------------------------
    # The three same-schema ANN top-k oracles merge into one labeled
    # union (bodies reused verbatim); the two freed slots record the
    # bucketed as-of plan and the new distributed budget-select.
    oracles["ann_suite"] = f"""
        SELECT 'brute' AS method, * FROM ({oracles.pop('cosine_topk')})
        UNION ALL
        SELECT 'lsh' AS method, * FROM ({oracles.pop('ann_topk')})
        UNION ALL
        SELECT 'ivf' AS method, * FROM ({oracles.pop('ivf_ann_topk')})
    """
    oracles["asof_bucketed"] = asof_sql
    oracles["triangle_count"] = """
        WITH e0 AS (
          SELECT DISTINCT
                 least(l_orderkey % 2999, l_partkey % 2999) AS u,
                 greatest(l_orderkey % 2999, l_partkey % 2999) AS v
          FROM lineitem
          WHERE l_orderkey % 6 = 0
            AND (l_orderkey % 2999) <> (l_partkey % 2999)
        ),
        deg AS (
          SELECT n, count(*) AS d FROM (
            SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0
          ) GROUP BY 1
        ),
        o AS (
          SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
                      THEN u ELSE v END AS s,
                 CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
                      THEN v ELSE u END AS t,
                 CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
                      THEN dv.d ELSE du.d END AS td
          FROM e0
          JOIN deg du ON du.n = e0.u
          JOIN deg dv ON dv.n = e0.v
        ),
        w AS (
          SELECT e1.s, e1.t AS b, e2.t AS c
          FROM o e1 JOIN o e2 ON e1.s = e2.s
          WHERE (e1.td < e2.td) OR (e1.td = e2.td AND e1.t < e2.t)
        ),
        tri AS (
          SELECT w.s AS n1, w.b AS n2, w.c AS n3
          FROM w JOIN o ON o.s = w.b AND o.t = w.c
        )
        SELECT node, count(*) AS n_triangles
        FROM (
          SELECT n1 AS node FROM tri
          UNION ALL SELECT n2 FROM tri
          UNION ALL SELECT n3 FROM tri
        )
        GROUP BY 1
    """
    oracles["corpus_budget"] = """
        WITH f AS (
          SELECT doc_id, lang,
                 CAST(len(list_filter(string_split(text, ' '),
                      t -> t <> '')) AS INTEGER) AS n_tokens,
                 CAST(len(list_filter(list_filter(string_split(text, ' '),
                        t -> t <> ''),
                      t -> list_contains(
                        ['the','a','and','of','to','in','is','it'],
                        lower(t)))) AS DOUBLE)
                   / len(list_filter(string_split(text, ' '),
                         t -> t <> '')) AS quality
          FROM documents
        ),
        g AS (
          SELECT doc_id, n_tokens, quality,
                 sum(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS rt
          FROM f
        ),
        pl AS (
          SELECT doc_id, lang, n_tokens, quality,
                 sum(n_tokens) OVER (PARTITION BY lang
                                     ORDER BY quality DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS rt
          FROM f
        )
        SELECT 'global' AS leg, CAST(NULL AS VARCHAR) AS lang,
               doc_id, n_tokens, quality,
               CAST(rt AS BIGINT) AS running_n_tokens
        FROM g WHERE rt <= 8000
        UNION ALL
        SELECT 'per_lang', lang, doc_id, n_tokens, quality,
               CAST(rt AS BIGINT)
        FROM pl WHERE rt <= 2000
    """
    return oracles


def extension_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Oracle-backed extension queries (dict order = driver grading
    order; see contract.reference_queries docstring on the 50-row cap).
    The rows-only kmeans_clusters lives in contract.rows_only_queries."""
    return {
        "dedup_exact": q_dedup_exact,
        "doc_signatures": q_doc_signatures,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        # r7 consolidations: each union leg is the former standalone
        # recorded query (SQL bodies reused verbatim) — seven slots
        # became three, funding the bloom_join / heavy_hitters /
        # term_search / edit_distance promotions at the end of this dict
        "lexical_neardup": q_lexical_neardup,
        "dedup_pipeline": q_dedup_pipeline,
        "incremental_dedup": q_incremental_dedup,
        "deterministic_splits": q_deterministic_splits,
        "span_cleaning": q_span_cleaning,
        # r6 consolidation: contamination+spans and pii/blocklist/gate
        # merged into labeled unions (legs unchanged), freeing three
        # recorded slots for the promotions at the end of this dict
        "contamination_audit": q_contamination_audit,
        "doc_gates": q_doc_gates,
        "term_rankings": q_term_rankings,
        "text_features": q_text_features,
        # r8 consolidation: cosine_topk + ann_topk + ivf_ann_topk (all
        # same schema) merged into one labeled union, freeing two
        # recorded slots for the promotions at the end of this dict
        "ann_suite": q_ann_suite,
        "embedding_neardup": q_embedding_neardup,
        "ann_partitions": q_ann_partitions,
        "pq_ann_topk": q_pq_ann_topk,
        "windowed_rollups": q_windowed_rollups,
        "doc_chunks": q_doc_chunks,
        "temporal_joins": q_temporal_joins,
        "index_maintenance": q_index_maintenance,
        "session_stats": q_session_stats,
        "event_enrich": q_event_enrich,
        "top_users": q_top_users,
        "binary_payload_meta": q_binary_payload_meta,
        "pack_sequences": q_pack_sequences,
        # r6 promotions into the freed slots: previously rows-only
        # exact queries (+ the versioned table's first driver row)
        "funnel_retention": q_funnel_retention,
        "gapfill": q_gapfill,
        "versioned_snapshot": q_versioned_snapshot,
        # r7 promotions (previously rows-only purely because the window
        # was full): exact results, plain-SQL oracles
        "bloom_join": q_bloom_join,
        "heavy_hitters": q_heavy_hitters,
        "term_search": q_term_search,
        "edit_distance": q_edit_distance,
        # r8 promotions into the slots freed by the ann_suite
        # consolidation: the bucketed as-of plan (exact as-of result,
        # DuckDB ASOF JOIN oracle) and the new distributed
        # budget-select operator
        "asof_bucketed": q_asof_bucketed,
        "corpus_budget": q_corpus_budget,
        # r8 second consolidation (spatial_joins) funded this slot
        "triangle_count": q_triangle_count,
    }


ORACLES_EXT = build_oracles()
