"""End-to-end curation funnel compositions: rule gate → bigram-LM
perplexity filter → keep-best canonical dedup — the pipeline shape of
published LLM-data curation stacks (C4/Gopher rule batteries, CCNet
LM filtering, near-dup canonicalization), composed from this package's
operators so every stage keeps its individual scale posture:

- the rule gate is in-row codegen (``operators.rules``) — fused into
  the scan, no shuffle;
- perplexity is one bigram-keyed join (``operators.lm``), broadcast
  when scoring against a fixed held-out model;
- the dedup stage's pair source is PLUGGABLE through
  :func:`dedup.near_dup_pairs` — MinHash-LSH by default (bucket-bounded
  candidates, the 100 TB path), exact prefix-filtered Jaccard as the
  oracle-gated verification mode.

The funnel runs once; both consumers reuse its stage frames: q122-style
shard building consumes the keepers, q132-style attribution left-joins
the stage frames back onto the full corpus so every document is charged
to the stage that removed it.  The gated pool is pinned (``core.pins`` —
lazy persist, released by the job-shaped caller) because three stages
(scoring, dedup, attribution) would otherwise each re-run the rule
battery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from ..core.pins import pin
from ..functions.scalar import rnd
from . import dedup, lm, rules, text


def curation_funnel_stages(
    docs: DataFrame,
    ppl_cutoff: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    pairs: DataFrame | None = None,
    pair_source: str = "minhash",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    hash_mode: str = "md5",
    lm_stats: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The shared funnel stages, returned separately so callers compose
    them (sharding consumes ``keepers``; attribution joins all three):

    - ``gated``: rule-passing docs — (id, text, n_tokens);
    - ``scored``: per-doc bigram log-perplexity rounded 6 dp (self-model
      over the gated pool by default; pass ``lm_stats`` — a
      :func:`lm.corpus_bigram_stats` frame from a held-out corpus — for
      the production CCNet shape where the model side is a fixed
      broadcastable table);
    - ``keepers``: perplexity-surviving docs after keep-best canonical
      dedup (longest member of each near-dup cluster wins) — (id,
      n_tokens).

    The near-dup pair source is :func:`dedup.near_dup_pairs`'s knob:
    MinHash-LSH default, ``pair_source="jaccard"`` for the exact
    oracle-gated mode, or any precomputed ``pairs=``."""
    tk = docs.withColumn("__tk", text.tokens(text_col))
    # pin (lazy persist, core.pins rule): three stages (scoring, dedup,
    # attribution) consume the gated pool; localCheckpoint here fired a
    # job at build time, breaking the plan-only builder contract
    gated = pin(
        rules.apply_rules(tk, text_col, toks="__tk")
        .filter(col("rules_pass"))
        .select(id_col, text_col, F.size("__tk").alias("n_tokens"))
    )
    scored = pin(
        lm.doc_bigram_perplexity(gated, [id_col], text_col, stats=lm_stats)
        .withColumn("log_ppl", rnd(col("log_ppl"), 6))
        # id-sized, but its lineage is the corpus bigram join — and it
        # feeds BOTH the kept filter (whose pair/keep-best consumers fan
        # out further) and the attribution left-join; pin so the bigram
        # stats build runs once per funnel
    )
    kept = gated.join(
        scored.filter(col("log_ppl") <= lit(float(ppl_cutoff))).select(id_col),
        id_col,
    )
    p = dedup.near_dup_pairs(
        kept, id_col, text_col, pairs=pairs, pair_source=pair_source,
        n=n, threshold=threshold, num_hashes=num_hashes, bands=bands,
        hash_mode=hash_mode,
    ).select("doc_a", "doc_b")
    keepers = (
        dedup.canonical_keep_best(
            kept.select(id_col, "n_tokens"), p, id_col, "n_tokens"
        )
        .filter(col("keep"))
        .select(id_col, "n_tokens")
    )
    return gated, scored, keepers


def funnel_attribution(
    docs: DataFrame,
    ppl_cutoff: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    *,
    pairs: DataFrame | None = None,
    pair_source: str = "minhash",
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    hash_mode: str = "md5",
    lm_stats: DataFrame | None = None,
) -> DataFrame:
    """Every document attributed to the funnel stage that removed it —
    'rules' (failed the gate), 'perplexity' (unscored or over the
    cutoff), 'duplicate' (lost keep-best), or 'kept' — the audit report
    a production pipeline ships next to its curated corpus.

    Returns one row per document: (id, group, n_tokens, stage).  The
    attribution itself is three LEFT JOINs on the id key; all the heavy
    lifting happens once inside :func:`curation_funnel_stages` (whose
    pair source is pluggable — MinHash default, exact as oracle mode)."""
    gated, scored, keepers = curation_funnel_stages(
        docs, ppl_cutoff, id_col, text_col,
        pairs=pairs, pair_source=pair_source, n=n, threshold=threshold,
        num_hashes=num_hashes, bands=bands, hash_mode=hash_mode,
        lm_stats=lm_stats,
    )
    return (
        docs.select(
            id_col, group_col, text.token_count(text_col).alias("n_tokens")
        )
        .join(gated.select(id_col, lit(1).alias("__g")), id_col, "left")
        .join(scored.select(id_col, "log_ppl"), id_col, "left")
        .join(keepers.select(id_col, lit(1).alias("__k")), id_col, "left")
        .withColumn(
            "stage",
            F.when(col("__g").isNull(), "rules")
            .when(
                col("log_ppl").isNull()
                | (col("log_ppl") > lit(float(ppl_cutoff))),
                "perplexity",
            )
            .when(col("__k").isNull(), "duplicate")
            .otherwise("kept"),
        )
        .drop("__g", "__k")
    )


def incremental_gate_attribution(
    batch: DataFrame,
    standing: DataFrame,
    ppl_cutoff: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    *,
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    hash_mode: str = "md5",
    lm_stats: DataFrame | None = None,
    standing_bands: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The INCREMENTAL face of :func:`funnel_attribution` — classify an
    incoming batch against a fixed standing corpus and charge every
    batch document to the stage that removed it:

    - ``rules`` — failed the in-row rule battery;
    - ``perplexity`` — unscored (no bigram of the doc appears in the
      standing model: the inner stats join drops it) or over the
      cutoff, against the STANDING pool's bigram model (CCNet's fixed
      reference-model posture — a 4-document batch must not be judged
      by its own statistics);
    - ``duplicate_corpus`` / ``duplicate_batch`` / ``kept`` — the
      verified MinHash-LSH classification of
      :func:`dedup.incremental_minhash_classify` (candidates from one
      (band, bucket) equi-join vs the standing index, exact-Jaccard
      verify on candidates only: O(batch + matches), never
      O(standing)).

    Returns ``(attr, classified)``: ``attr`` is one row per batch doc —
    (id, group, n_tokens, stage); ``classified`` is the gate-surviving
    pool with its ``status`` column and every batch column preserved,
    so a caller (``CurateJob.run_incremental``) appends
    ``status == 'new'`` directly.  This function IS the job's gate —
    the registered conformance query (q187) and ``run_incremental``
    share it, so the oracle-checked accounting and the production job
    can never drift (the q132 pattern)."""
    tk = batch.withColumn("__tk", text.tokens(text_col))
    gated = pin(  # lazy: the q187 builder stays plan-only
        rules.apply_rules(tk, text_col, toks="__tk")
        .filter(col("rules_pass"))
        .select(*batch.columns, F.size("__tk").cast("long").alias("n_tokens"))
    )
    scored = pin(
        lm.doc_bigram_perplexity(
            gated, [id_col], text_col,
            # persisted model table when the caller has one (CurateJob's
            # index/bigram_stats); derived from the standing pool here
            # (the conformance-query form, q187)
            stats=(
                lm_stats
                if lm_stats is not None
                else lm.corpus_bigram_stats(standing, text_col)
            ),
        )
        .select(id_col, rnd(col("log_ppl"), 6).alias("log_ppl"))
        # batch-sized; pinned because the standing-model bigram join
        # behind it is the gate's most expensive lineage and FIVE
        # consumers sit downstream (kept feeds four plan branches inside
        # incremental_minhash_classify, attr joins scored once more) —
        # unchecked, each re-runs the stats build (measured 4.7 s × 4
        # at sf0.01); pin keeps the builder plan-only
    )
    kept = pin(gated.join(
        scored.filter(col("log_ppl") <= lit(float(ppl_cutoff))).select(id_col),
        id_col,
    ))
    classified = dedup.incremental_minhash_classify(
        kept, standing.select(id_col, text_col), id_col, text_col,
        n=n, num_hashes=num_hashes, bands=bands, threshold=threshold,
        hash_mode=hash_mode, standing_bands=standing_bands,
    )
    attr = (
        batch.select(
            id_col, group_col, text.token_count(text_col).alias("n_tokens")
        )
        .join(gated.select(id_col, lit(1).alias("__g")), id_col, "left")
        .join(scored, id_col, "left")
        .join(classified.select(id_col, "status"), id_col, "left")
        .withColumn(
            "stage",
            F.when(col("__g").isNull(), "rules")
            .when(
                col("log_ppl").isNull()
                | (col("log_ppl") > lit(float(ppl_cutoff))),
                "perplexity",
            )
            .when(col("status") == "dup_vs_corpus", "duplicate_corpus")
            .when(col("status") == "dup_in_batch", "duplicate_batch")
            .otherwise("kept"),
        )
        .select(id_col, group_col, "n_tokens", "stage")
    )
    return attr, classified


def rebuild_new_segments(
    pool: DataFrame,
    index: DataFrame,
    seg_len: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    small_batch: bool | None = None,
) -> DataFrame:
    """Rebuild each pool document from only the segments a standing
    index has NOT seen (CCNet segment dedup, incremental form): classify
    the pool's segment occurrences against the index
    (:func:`dedup.incremental_segment_classify` — O(batch + matches)),
    keep the 'new' ones, reassemble them in segment order, and DROP
    documents emptied entirely.  Every non-text pool column passes
    through; the output carries the rebuilt ``text`` and recomputed
    ``n_tokens``.  Shared by ``CurateJob.run_incremental``'s
    inc_segment stage and the streaming curation face so the two can
    never drift."""
    segs = dedup.incremental_segment_classify(
        pool, index, id_col, text_col, seg_len, group_col=None,
        small_batch=small_batch,
    )
    kept = segs.filter(col("status") == "new")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg_text"))),
                lambda s: s["seg_text"],
            ),
            " ",
        ).alias(text_col),
        F.sum("seg_tokens").cast("long").alias("n_tokens"),
    )
    others = [c for c in pool.columns if c not in (text_col, "n_tokens")]
    return (
        pool.select(*others).join(rebuilt, id_col).filter(col("n_tokens") > 0)
    )
