"""Streaming CURATION ingest: the streaming face of
``CurateJob.run_incremental`` — each document micro-batch runs the full
incremental gate (rules → fixed base-model perplexity →
``incremental_minhash_classify`` → incremental segment rebuild) against
the base run's PERSISTED index artifacts plus the batches standing so
far, and only genuinely novel content (docs surviving the gate, rebuilt
from corpus-unseen segments) joins the curated store and its indexes.

Shares its classification arithmetic with the batch faces —
``curation.incremental_gate_attribution`` (q187's registered form) and
``curation.rebuild_new_segments`` — and its store with
``run_incremental``: one ``curate.IncrementStore``, whose standing-state
function both faces call, so the three faces (registered conformance
query, journaled batch job, streaming ingest) can never drift.
Per-batch cost is the run_incremental shape measured at 100× standing
(BENCH_SCALING.md round 13): O(batch + matches + index scan), with the
bigram model FIXED to the base pool (the CCNet reference-model posture
— micro-batches must not drift the judge).

Runs on :func:`~.events.for_each_batch` (its docstring states the
exactly-once rule): every store table commits a batch under its tag,
and :meth:`IncrementStore.standing` leaves out the batch being
classified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.functions import col

from ..curate import IncrementStore
from ..operators import curation
from .events import for_each_batch


def run_streaming_curate(
    doc_stream: DataFrame,
    base_dir: str,
    store_dir: str,
    checkpoint_path: str,
    ppl_cutoff: float = 3.41,
    threshold: float = 0.5,
    seg_len: int = 8,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> None:
    """Drain ``doc_stream`` (availableNow) through the curation gate.

    ``base_dir`` is a COMPLETED ``CurateJob`` run directory — its
    ``final`` pool, ``index/`` artifacts and bigram model seed the
    standing state.  Each micro-batch commits to the
    :class:`~..curate.IncrementStore` at ``store_dir`` under the tag
    ``batch-<id>``: every input doc's stage (rules / perplexity /
    duplicate_corpus / duplicate_batch / kept) to ``attribution``, the
    appended curated docs (segment-rebuilt) to ``docs``, and their LSH
    band and segment-hash slices, which later batches probe."""
    store = IncrementStore(doc_stream.sparkSession, base_dir, store_dir)

    def classify_batch(batch_df: DataFrame, tag: str, batch_id: int) -> None:
        standing, lm_stats, standing_bands, seg_index = store.standing(tag)

        # a micro-batch is consumed by several plan branches — pin it
        batch_df = batch_df.localCheckpoint(eager=True)
        attr, classified = curation.incremental_gate_attribution(
            batch_df, standing, ppl_cutoff,
            n=n, threshold=threshold, num_hashes=num_hashes, bands=bands,
            lm_stats=lm_stats, standing_bands=standing_bands,
        )
        gated_new = (
            classified.filter(col("status") == "new")
            .select("doc_id", "source", "lang", "text", "n_tokens")
            .localCheckpoint(eager=True)
        )
        rebuilt = curation.rebuild_new_segments(
            # small_batch=True: the pinned micro-batch has no optimizer
            # estimate (LogicalRDD) and would fall back to the
            # index-shuffling join despite being micro-batch-sized
            gated_new, seg_index, seg_len, small_batch=True
        ).localCheckpoint(eager=True)

        store.append(store.attribution, attr, tag)
        store.commit(tag, rebuilt, seg_len, n, num_hashes, bands)

    for_each_batch(doc_stream, checkpoint_path, classify_batch)
