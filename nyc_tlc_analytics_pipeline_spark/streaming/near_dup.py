"""Streaming near-duplicate ingest: the streaming faces of the
incremental refreshes — MinHash (``dedup.incremental_minhash_classify``,
conformance q147), embedding (q163) and segment (q180) dedup — plus the
IVF index ingest (q165).

Each document micro-batch is classified against the ACCUMULATED survivor
store — dup_vs_corpus / dup_in_batch / new — and only the survivors
(status ``new``) join the store and its persisted probe index, so the
index a batch probes is exactly the set of documents an offline
keep-first dedup would have kept at that point in the arrival order.
Per-batch cost is O(batch + candidate matches): the probe is one
equi-join against the index and standing text is only read for
candidates (left-semi prune), never the whole store — the property that
lets a 100 TB corpus ingest continuously instead of re-pairing weekly.

Every face runs on :func:`~.events.for_each_batch`, whose docstring
states the exactly-once rule.  Here it takes two helpers: every store
row carries its ``__batch_id`` (:func:`_commit`), and a batch probes
only the rows of strictly earlier batches (:func:`_earlier`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col, lit

from ..operators import dedup
from ..sources.manifest import ManifestTable
from .events import for_each_batch


def _earlier(path: str, batch_id: int, *cols: str) -> DataFrame | None:
    """``cols`` of the rows earlier batches committed to the manifest
    table at ``path``, or None while the table is empty.  A replayed
    batch never meets its own rows, and a table its first attempt left
    empty reads as "no standing rows"."""
    table = ManifestTable(SparkSession.active(), path)
    if not table.snapshot()["dirs"]:
        return None
    return table.read().filter(col("__batch_id") < lit(batch_id)).select(*cols)


def _commit(tag: str, batch_id: int, tables: list[tuple[str, DataFrame]]) -> None:
    """Append each ``(path, df)``, in order, under ``tag`` with every row
    tagged by its ``__batch_id``."""
    for path, df in tables:
        ManifestTable(df.sparkSession, path).append(
            df.withColumn("__batch_id", lit(batch_id)), tag=tag
        )


def run_streaming_near_dup(
    doc_stream: DataFrame,
    status_path: str,
    docs_path: str,
    bands_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> None:
    """Drain ``doc_stream`` (availableNow) through the near-dup ingest.

    Writes three manifest tables: ``status_path`` — every input doc with
    its batch id and status; ``docs_path`` — the survivor store (the
    deduplicated corpus); ``bands_path`` — the survivors' LSH band
    index, the only thing future batches probe."""

    def classify_batch(batch_df: DataFrame, tag: str, batch_id: int) -> None:
        standing = _earlier(docs_path, batch_id, *batch_df.columns)
        # a micro-batch is small by construction; classifying it uses it
        # several times (bands, shingles, within-batch pairs) — pin it
        batch_df = batch_df.localCheckpoint(eager=True)
        st = dedup.incremental_minhash_classify(
            batch_df,
            batch_df.limit(0) if standing is None else standing,
            id_col,
            text_col,
            n,
            num_hashes,
            bands,
            threshold,
            standing_bands=_earlier(bands_path, batch_id, "doc", "band", "bucket"),
        ).localCheckpoint(eager=True)
        survivors = st.filter(col("status") == "new").drop("status")
        _commit(tag, batch_id, [
            (status_path, st.select(id_col, "status")),
            (docs_path, survivors),
            (bands_path, dedup.lsh_band_table(
                survivors, id_col, text_col, n, num_hashes, bands
            )),
        ])

    for_each_batch(doc_stream, checkpoint_path, classify_batch)


def compact_near_dup_store(
    spark,
    docs_path: str,
    bands_path: str,
    status_path: str | None = None,
    target_partitions: int = 8,
) -> dict[str, int | None]:
    """Maintenance pass for the streaming near-dup stores: N micro-
    batches append N small file sets to each manifest table, and the
    band INDEX is the one every future batch's (band, bucket) probe
    reads — so its file count is a per-batch planning/IO tax that grows
    without bound unless compacted.  Rewrites each table's current
    snapshot into ``target_partitions`` files via
    ``ManifestTable.compact`` (CAS-protected: a concurrent ingest
    commit aborts the compaction, never loses rows; idempotency tags
    survive, so replay safety is untouched).

    The ``__batch_id`` column rides through the rewrite, so
    :func:`_earlier` keeps reading only earlier batches from a
    compacted store.  Returns {table: new_version_or_None} — None means
    the CAS lost to a concurrent writer (retry at a quiet moment)."""
    out: dict[str, int | None] = {}
    for name, path in (
        ("docs", docs_path),
        ("bands", bands_path),
        ("status", status_path),
    ):
        if path is None:
            continue
        out[name] = ManifestTable(spark, path).compact(target_partitions)
    return out


def run_streaming_embedding_near_dup(
    vec_stream: DataFrame,
    status_path: str,
    vecs_path: str,
    buckets_path: str,
    checkpoint_path: str,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> None:
    """Streaming face of the SEMANTIC incremental refresh
    (``dedup.incremental_embedding_classify``, conformance q163) — the
    embedding twin of :func:`run_streaming_near_dup` for the leaks
    lexical bands can't see (paraphrases, templated rewrites,
    re-encodes).

    Each vector micro-batch is classified against the accumulated
    survivor store (dup_vs_corpus / dup_in_batch / new) and only the
    survivors join the store and its persisted (doc, bucket) hyperplane
    index (``dedup.embedding_bucket_table``) — so the index a batch
    probes is exactly what an offline keep-first semantic dedup would
    have kept at that point in arrival order.  Per-batch cost matches
    the q163 contract: one bucket equi-join against the index, standing
    VECTORS fetched for candidate matches only (left-semi prune inside
    the classifier)."""

    def classify_batch(batch_df: DataFrame, tag: str, batch_id: int) -> None:
        standing = _earlier(vecs_path, batch_id, *batch_df.columns)
        batch_df = batch_df.localCheckpoint(eager=True)
        st = dedup.incremental_embedding_classify(
            batch_df,
            batch_df.limit(0) if standing is None else standing,
            planes,
            threshold,
            id_col,
            vec_col,
            standing_buckets=_earlier(buckets_path, batch_id, "doc", "bucket"),
        ).localCheckpoint(eager=True)
        survivors = st.filter(col("status") == "new").drop("status")
        _commit(tag, batch_id, [
            (status_path, st.select(id_col, "status")),
            (vecs_path, survivors),
            (buckets_path, dedup.embedding_bucket_table(
                survivors, planes, id_col, vec_col
            )),
        ])

    for_each_batch(vec_stream, checkpoint_path, classify_batch)


def run_streaming_ivf_ingest(
    vec_stream: DataFrame,
    index_path: str,
    checkpoint_path: str,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Streaming maintenance of the IVF search index under FROZEN
    centroids — the ingest face of ``similarity.append_ivf_index``
    (q165).  Each vector micro-batch is assigned to its nearest frozen
    centroid and committed to a ManifestTable under the batch's
    idempotency tag, so an at-least-once foreachBatch replay can never
    double-insert (a raw ``mode=append`` parquet write would).  The
    parquet-partition-dir layout (``write_ivf_index`` +
    ``append_ivf_index``) stays the READ-optimized twin — compact the
    manifest into it periodically to get partition pruning back; this
    face trades directory pruning for exactly-once ingest, probing via
    a ``cid`` filter instead.  Staleness monitoring is unchanged:
    ``similarity.ivf_staleness_report`` over the manifest's resident
    vs fresh batches is the retrain alarm."""
    from ..operators.similarity import assign_ivf_bucket

    def ingest_batch(batch_df: DataFrame, tag: str, batch_id: int) -> None:
        _commit(tag, batch_id, [
            (index_path, batch_df.withColumn(
                "cid", assign_ivf_bucket(vec_col, centroids)
            )),
        ])

    for_each_batch(vec_stream, checkpoint_path, ingest_batch)


def run_streaming_segment_dedup(
    doc_stream: DataFrame,
    status_path: str,
    index_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_len: int = 8,
) -> None:
    """Streaming face of the incremental SEGMENT dedup
    (``dedup.incremental_segment_classify``, conformance q180): each
    micro-batch's fixed-width token segments classify against the
    ACCUMULATED segment-hash index — dup_vs_corpus / dup_in_batch /
    new — and only the NEW segments' hashes join the index, so the
    index a batch probes is exactly what an offline keep-first pass
    over the arrival order would have kept.  Per-batch cost is
    O(batch segments + matches): the probe is one hash equi-join, the
    standing corpus' text is never re-read."""

    def classify_batch(batch_df: DataFrame, tag: str, batch_id: int) -> None:
        standing_index = _earlier(
            index_path, batch_id, "seg_hash", "first_doc", "first_idx"
        )
        if standing_index is None:
            standing_index = batch_df.sparkSession.createDataFrame(
                [], "seg_hash string, first_doc long, first_idx int"
            )
        batch_df = batch_df.localCheckpoint(eager=True)
        st = dedup.incremental_segment_classify(
            batch_df, standing_index, id_col, text_col, seg_len,
            group_col=None,  # the stores key on (id, seg_idx) only — any
            # (id, text) stream works, no lang column required
        ).localCheckpoint(eager=True)
        _commit(tag, batch_id, [
            (status_path, st.select(id_col, "seg_idx", "status")),
            (index_path, st.filter(col("status") == "new").select(
                col("__h").alias("seg_hash"),
                col(id_col).alias("first_doc"),
                col("seg_idx").alias("first_idx"),
            )),
        ])

    for_each_batch(doc_stream, checkpoint_path, classify_batch)


def compact_ivf_manifest_to_index(
    spark,
    manifest_path: str,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """The maintenance pass ``run_streaming_ivf_ingest`` promises:
    rewrite the exactly-once ingest manifest into the READ-optimized
    ``ivf_bucket=`` partition-dir layout (``similarity.write_ivf_index``
    's layout), restoring partition pruning for probes.  Assignments
    are taken AS COMMITTED (the frozen ``cid`` column) — compaction
    must never re-assign, or a concurrent centroid retrain would make
    the compacted index disagree with the manifest it replaced.

    One read of the manifest snapshot + one bucket-repartitioned write
    (each partition dir written by one task); returns the row count
    written.  The manifest keeps accepting batches while this runs —
    compaction is a snapshot copy, the streaming store stays the source
    of truth until the operator swaps probe paths."""
    snap = ManifestTable(spark, manifest_path)
    rows = snap.read().select(
        col(id_col), col(vec_col), col("cid").alias("ivf_bucket")
    )
    (
        rows.repartition(col("ivf_bucket"))
        .write.mode("overwrite")
        .partitionBy("ivf_bucket")
        .parquet(index_path)
    )
    return spark.read.parquet(index_path).count()
