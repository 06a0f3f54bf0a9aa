"""End-to-end corpus CURATION job: rules gate → perplexity filter →
near-dup keep-best dedup → segment-level dedup → benchmark
decontamination → curriculum schedule → packed training shards, under
the per-stage retry + resume journal :meth:`pipeline.TlcPipeline.run_e2e`
uses (``core.journal``; reference: src/orchestration/flows.py's
@task(retries=2) wiring — here applied to the training-data tier the
reference never had).

Every stage write is an idempotent overwrite, so a killed run re-enters
at the first unjournaled stage and converges to the same outputs; the
funnel-attribution accounting the job emits is exactly the q132
registered form (per-(source, stage) doc/token counts), extended with
the post-funnel stages (segment-emptied, contaminated) so every input
document is accounted for once.

The incremental face (:meth:`CurateJob.run_incremental`) and the
streaming face (``streaming.curate``) classify new batches against a
completed run and commit the novel content to one
:class:`IncrementStore`: four tagged manifest tables, read back through
one standing-state function.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from .core.journal import Journal
from .operators import curation, curriculum, dedup, decontam, lm, packing
from .sources.manifest import ManifestTable
from .sources.sinks import write_corpus_shards


class CurateJob:
    """One curation run rooted at ``out_dir``.  Stage methods are plain
    attributes so tests can inject failures (the run_e2e test pattern:
    ``job.stage_segment_dedup = flaky``)."""

    def __init__(
        self,
        spark: SparkSession,
        docs_path: str,
        out_dir: str,
        bench_path: str | None = None,
        ppl_cutoff: float = 3.41,
        pair_source: str = "minhash",
        threshold: float = 0.5,
        seg_len: int = 8,
        n_stages: int = 4,
        budget: int = 512,
        decontam_n: int = 4,
    ) -> None:
        self.spark = spark
        self.docs_path = docs_path
        self.out_dir = out_dir
        self.bench_path = bench_path
        self.ppl_cutoff = float(ppl_cutoff)
        self.pair_source = pair_source
        self.threshold = float(threshold)
        self.seg_len = int(seg_len)
        self.n_stages = int(n_stages)
        self.budget = int(budget)
        self.decontam_n = int(decontam_n)

    # -- paths ------------------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    @property
    def _state_path(self) -> str:
        return self.path("meta/curate_state.json")

    # -- stages (each: idempotent overwrite write + JSON-sized result) -----
    def _docs(self) -> DataFrame:
        return self.spark.read.parquet(self.docs_path)

    def stage_attribution(self) -> dict:
        """q132's funnel attribution (rules / perplexity / duplicate /
        kept per document), persisted per-doc for the later stages and
        returned rolled up per (source, stage) — the oracle-checked
        accounting form."""
        attr = curation.funnel_attribution(
            self._docs(),
            self.ppl_cutoff,
            pair_source=self.pair_source,
            threshold=self.threshold,
        )
        attr.write.mode("overwrite").parquet(self.path("attribution"))
        rows = (
            self.spark.read.parquet(self.path("attribution"))
            .groupBy("source", "stage")
            .agg(
                F.count("*").cast("long").alias("n_docs"),
                F.sum("n_tokens").cast("long").alias("n_tokens"),
            )
            .collect()
        )
        return {
            f"{r['source']}/{r['stage']}": {
                "n_docs": r["n_docs"],
                "n_tokens": r["n_tokens"],
            }
            for r in rows
        }

    def stage_segment_dedup(self) -> dict:
        """CCNet segment-level dedup over the funnel keepers: rebuild
        each kept document from only globally-first segments (q185's
        writer), DROP docs emptied entirely, carry source/lang."""
        docs = self._docs()
        kept_ids = (
            self.spark.read.parquet(self.path("attribution"))
            .filter(col("stage") == "kept")
            .select("doc_id")
        )
        kept = docs.join(kept_ids, "doc_id")
        cleaned = dedup.remove_duplicated_segments(kept, seg_len=self.seg_len)
        out = (
            kept.select("doc_id", "source", "lang")
            .join(cleaned, "doc_id")
            .select(
                "doc_id",
                "source",
                "lang",
                col("clean_text").alias("text"),
                col("kept_tokens").alias("n_tokens"),
            )
        )
        out.filter(col("n_tokens") > 0).write.mode("overwrite").parquet(
            self.path("clean")
        )
        back = self.spark.read.parquet(self.path("clean"))
        n_kept_in = kept.count()
        n_out = back.count()
        toks = back.agg(F.sum("n_tokens")).head()[0] or 0
        return {
            "n_docs_in": n_kept_in,
            "n_docs_out": n_out,
            "n_emptied": n_kept_in - n_out,
            "kept_tokens": int(toks),
        }

    def stage_decontam(self) -> dict:
        """Benchmark n-gram decontamination (q50's gate form) of the
        segment-cleaned pool; a run with no benchmark passes the pool
        through unchanged (journaled as skipped=True)."""
        pool = self.spark.read.parquet(self.path("clean"))
        if self.bench_path is None:
            pool.write.mode("overwrite").parquet(self.path("final"))
            n = self.spark.read.parquet(self.path("final")).count()
            return {"skipped": True, "n_docs_out": n, "n_removed": 0}
        bench = self.spark.read.parquet(self.bench_path)
        cleanp = decontam.decontaminate(pool, bench, n=self.decontam_n)
        cleanp.write.mode("overwrite").parquet(self.path("final"))
        n_in = pool.count()
        n_out = self.spark.read.parquet(self.path("final")).count()
        return {"skipped": False, "n_docs_out": n_out, "n_removed": n_in - n_out}

    def stage_shards(self) -> dict:
        """q175 curriculum schedule × q182 contiguous packing over the
        final pool, written as stage-partitioned training shards in
        deterministic (stage, pos, id) curriculum order."""
        pool = self.spark.read.parquet(self.path("final"))
        sched = curriculum.curriculum_schedule(pool, n_stages=self.n_stages)
        streams = sched.join(
            pool.select("doc_id", "source", "lang"), "doc_id"
        ).select(
            "doc_id",
            "source",
            "lang",
            "text",
            "stage",
            "n_tokens",
            F.concat(
                col("stage").cast("string"),
                lit(":"),
                F.substring(col("pos"), 1, 1),
            ).alias("stream"),
            F.concat(
                col("pos"), lit(":"), F.lpad(col("doc_id").cast("string"), 12, "0")
            ).alias("ord"),
        )
        packed = packing.pack_contiguous(
            streams, "stream", "ord", "n_tokens", self.budget
        )
        write_corpus_shards(
            packed,
            self.path("shards"),
            partition_cols=("stage",),
            order_col="ord",
        )
        back = self.spark.read.parquet(self.path("shards"))
        agg = back.groupBy("stage", "stream").agg(
            (F.max("pack_id") + 1).alias("n_packs"),
            F.sum("n_tokens").alias("tok"),
        )
        tot = agg.agg(
            F.sum("n_packs").alias("p"), F.sum("tok").alias("t")
        ).head()
        n_docs = back.count()
        return {
            "n_docs": n_docs,
            "n_packs": int(tot["p"] or 0),
            "total_tokens": int(tot["t"] or 0),
            "fill_pct": round(
                100.0 * (tot["t"] or 0) / ((tot["p"] or 1) * self.budget), 4
            ),
        }

    def stage_index(self) -> dict:
        """Persist the standing-corpus INDEX artifacts every later
        increment classifies against — the q147/q163/q180 persisted-
        index economics applied at job level (VERDICT r12 item 3's
        scale shape): the MinHash band table, the segment-hash index
        and the bigram-LM stats are built ONCE here, so an increment's
        cost is O(batch + matches) instead of re-deriving three
        O(standing) artifacts per batch."""
        final = self.spark.read.parquet(self.path("final"))
        dedup.lsh_band_table(final, "doc_id", "text").write.mode(
            "overwrite"
        ).parquet(self.path("index/lsh_bands"))
        dedup.segment_index_table(
            final, "doc_id", "text", self.seg_len
        ).write.mode("overwrite").parquet(self.path("index/segments"))
        lm.corpus_bigram_stats(final).write.mode("overwrite").parquet(
            self.path("index/bigram_stats")
        )
        return {
            "n_bands": self.spark.read.parquet(
                self.path("index/lsh_bands")
            ).count(),
            "n_segment_hashes": self.spark.read.parquet(
                self.path("index/segments")
            ).count(),
            "n_model_bigrams": self.spark.read.parquet(
                self.path("index/bigram_stats")
            ).count(),
        }

    # -- driver -------------------------------------------------------------
    _STAGES = ("attribution", "segment_dedup", "decontam", "shards", "index")

    def run(self, retries: int = 2, resume: bool = True) -> dict:
        """Run (or resume) the whole job.  Returns the summary the CLI
        prints: the q132-form attribution accounting extended with the
        post-funnel stages, plus shard stats — every input document
        lands in exactly one bucket of ``funnel``."""
        stages = Journal(self._state_path, self._STAGES, resume)
        attribution = stages.run("attribution", self.stage_attribution, retries)
        seg = stages.run("segment_dedup", self.stage_segment_dedup, retries)
        dec = stages.run("decontam", self.stage_decontam, retries)
        shards = stages.run("shards", self.stage_shards, retries)
        idx = stages.run("index", self.stage_index, retries)
        funnel = dict(attribution)
        # post-funnel accounting: emptied + contaminated docs leave the
        # 'kept' bucket so the final shard count reconciles exactly
        funnel["_post/segment_emptied"] = {
            "n_docs": seg["n_emptied"],
            "n_tokens": None,
        }
        funnel["_post/contaminated"] = {
            "n_docs": dec["n_removed"],
            "n_tokens": None,
        }
        summary = {
            "funnel": funnel,
            "segment_dedup": seg,
            "decontam": dec,
            "shards": shards,
            "index": idx,
        }
        with open(self.path("meta/curate_summary.json"), "w") as f:
            json.dump(summary, f, indent=2, sort_keys=True)
        return summary


    # -- incremental face -----------------------------------------------
    # The per-index incremental contract (q78/q147/q163/q180: increment
    # cost = O(batch + matches), the standing corpus' text never
    # re-read) applied to the whole job: classify a NEW batch against
    # the completed run's final pool and the increments standing so far,
    # keep only genuinely novel content, and commit it to the increment
    # store under the batch tag.

    def run_incremental(
        self,
        batch_path: str,
        batch_tag: str | None = None,
        retries: int = 2,
        resume: bool = True,
    ) -> dict:
        """Process one incoming batch against a COMPLETED curate run,
        committing to the :class:`IncrementStore` at
        ``<out_dir>/increments``:

        1. ``inc_gate`` — rules gate + perplexity filter on the batch,
           then MinHash-LSH classification against the standing pool
           (``incremental_minhash_classify``): ``dup_vs_corpus`` and
           later in-batch copies drop; the per-document attribution
           (rules / perplexity / duplicate_batch / duplicate_corpus /
           kept) is appended to the store's ``attribution`` table.
        2. ``inc_segment`` — rebuild survivors from only the segments
           the standing corpus hasn't seen (incremental segment
           classify vs the standing index), dropping emptied docs.
        3. ``inc_decontam`` — benchmark gate (skip without a bench).
        4. ``inc_append`` — :meth:`IncrementStore.commit` the surviving
           docs and their index slices under the batch tag (the md5 of
           the batch path unless given): a re-run skips what the tag
           already committed instead of appending twice.

        Stages hand off through parquet under ``scratch/inc_<tag>/``,
        deleted once all four stages are journaled: a later run of the
        tag starts a fresh journal and rewrites it.  Same journal
        semantics as :meth:`run`, per batch tag."""
        import hashlib

        tag = batch_tag or hashlib.md5(batch_path.encode()).hexdigest()[:12]
        store = IncrementStore(self.spark, self.out_dir, self.path("increments"))
        stages = Journal(
            self.path(f"meta/curate_inc_{tag}.json"),
            ("inc_gate", "inc_segment", "inc_decontam", "inc_append"),
            resume,
        )
        batch = self.spark.read.parquet(batch_path)
        standing, lm_stats, standing_bands, seg_index = store.standing(tag)

        def scratch(name: str) -> str:
            return self.path(f"scratch/inc_{tag}/{name}")

        def inc_gate() -> dict:
            # ONE implementation shared with the registered conformance
            # query (q187) and the streaming face, so job and oracle
            # can never drift (the q132 pattern)
            attr, classified = curation.incremental_gate_attribution(
                batch, standing, self.ppl_cutoff, threshold=self.threshold,
                lm_stats=lm_stats, standing_bands=standing_bands,
            )
            store.append(store.attribution, attr, tag)
            classified.filter(col("status") == "new").select(
                "doc_id", "source", "lang", "text", "n_tokens"
            ).write.mode("overwrite").parquet(scratch("gated"))
            rows = (
                store.batch(store.attribution, tag)
                .groupBy("stage")
                .count()
                .collect()
            )
            return {r["stage"]: r["count"] for r in rows}

        def inc_segment() -> dict:
            pool = self.spark.read.parquet(scratch("gated"))
            curation.rebuild_new_segments(
                pool, seg_index, self.seg_len
            ).write.mode("overwrite").parquet(scratch("clean"))
            n_in = pool.count()
            n_out = self.spark.read.parquet(scratch("clean")).count()
            return {"n_docs_in": n_in, "n_docs_out": n_out,
                    "n_emptied_or_dupseg": n_in - n_out}

        def inc_decontam() -> dict:
            pool = self.spark.read.parquet(scratch("clean"))
            if self.bench_path is None:
                pool.write.mode("overwrite").parquet(scratch("final"))
                return {"skipped": True, "n_removed": 0}
            bench = self.spark.read.parquet(self.bench_path)
            decontam.decontaminate(
                pool, bench, n=self.decontam_n
            ).write.mode("overwrite").parquet(scratch("final"))
            n_out = self.spark.read.parquet(scratch("final")).count()
            return {"skipped": False, "n_removed": pool.count() - n_out}

        def inc_append() -> dict:
            store.commit(tag, self.spark.read.parquet(scratch("final")), self.seg_len)
            # from the committed rows: a re-run's appends are skipped
            got = store.batch(store.docs, tag).agg(
                F.count("*").alias("n"), F.sum("n_tokens").alias("tokens")
            ).head()
            return {"n_docs_appended": got["n"],
                    "tokens_appended": int(got["tokens"] or 0)}

        gate = stages.run("inc_gate", inc_gate, retries)
        seg = stages.run("inc_segment", inc_segment, retries)
        dec = stages.run("inc_decontam", inc_decontam, retries)
        app = stages.run("inc_append", inc_append, retries)
        shutil.rmtree(self.path(f"scratch/inc_{tag}"), ignore_errors=True)
        summary = {
            "tag": tag,
            "gate": gate,
            "segment": seg,
            "decontam": dec,
            "appended": app,
        }
        with open(self.path(f"meta/curate_inc_{tag}_summary.json"), "w") as f:
            json.dump(summary, f, indent=2, sort_keys=True)
        return summary


#: the column of every increment-store row that names its batch
BATCH_TAG = "__batch_tag"


class IncrementStore:
    """The store both incremental faces (``CurateJob.run_incremental``
    and ``streaming.curate.run_streaming_curate``) commit to: four
    manifest tables under ``store_dir`` — ``attribution`` (every batch
    document with the stage that removed or kept it), ``docs`` (the
    appended curated docs, segment-rebuilt), ``bands`` and ``segments``
    (those docs' LSH band and segment-hash index slices).  Every row
    carries its batch in :data:`BATCH_TAG`, and every append is tagged,
    so a batch's rows commit at most once per table.

    A batch STANDS — later batches classify against it — once its
    ``docs`` commit exists.  :meth:`commit` appends the two index slices
    first and the docs last: a crash in between leaves slices no reader
    sees, and resuming the tag commits only the appends still missing.

    ``base_dir`` is a completed ``CurateJob`` run: its ``final`` pool
    and ``index/`` artifacts are the standing state every batch starts
    from."""

    def __init__(self, spark: SparkSession, base_dir: str, store_dir: str) -> None:
        if not os.path.isfile(
            os.path.join(base_dir, "index", "lsh_bands", "_SUCCESS")
        ):
            raise ValueError(
                f"{base_dir} has no persisted index artifacts — run "
                "CurateJob.run() (its 'index' stage writes them) first"
            )
        self.spark = spark
        self.base_dir = base_dir
        self.attribution, self.docs, self.bands, self.segments = (
            ManifestTable(spark, os.path.join(store_dir, name))
            for name in ("attribution", "docs", "bands", "segments")
        )

    def batch(self, table: ManifestTable, tag: str) -> DataFrame:
        """The committed rows of one batch in ``table``."""
        return table.read().filter(col(BATCH_TAG) == tag)

    def append(self, table: ManifestTable, df: DataFrame, tag: str) -> None:
        table.append(df.withColumn(BATCH_TAG, lit(tag)), tag=tag)

    def commit(
        self,
        tag: str,
        docs: DataFrame,
        seg_len: int,
        n: int = 3,
        num_hashes: int = 16,
        bands: int = 4,
    ) -> None:
        """Append a batch's surviving ``docs`` with their band and
        segment-index slices (each slice indexes the text AS APPENDED:
        what a later batch must be compared against) — docs last."""
        self.append(
            self.bands,
            dedup.lsh_band_table(docs, "doc_id", "text", n, num_hashes, bands),
            tag,
        )
        self.append(
            self.segments,
            dedup.segment_index_table(docs, "doc_id", "text", seg_len),
            tag,
        )
        self.append(self.docs, docs, tag)

    def standing(self, exclude_tag: str) -> tuple[DataFrame, ...]:
        """``(pool, lm_stats, bands, seg_index)`` a batch classifies
        against: the base run's ``final`` pool and ``index/`` tables ∪
        the rows of every standing batch except ``exclude_tag`` (the
        batch being classified, so a re-run never meets its own
        survivors).  ``lm_stats`` is the base pool's bigram model,
        deliberately FIXED (the CCNet reference-model posture: batches
        are judged by the curated base corpus, not by a drifting
        union).  A rare boundary-shifted rebuild can repeat a hash the
        base segment index holds, which only double-marks that segment
        dup_vs_corpus — never resurrects it."""
        def base(name: str) -> DataFrame:
            return self.spark.read.parquet(os.path.join(self.base_dir, name))

        pool = base("final").select("doc_id", "text")
        bands = base("index/lsh_bands")
        segs = base("index/segments")
        tags = [t for t in self.docs.snapshot()["tags"] if t != exclude_tag]
        if tags:
            def rows(table: ManifestTable) -> DataFrame:
                return table.read().filter(col(BATCH_TAG).isin(tags)).drop(BATCH_TAG)

            pool = pool.unionByName(rows(self.docs).select("doc_id", "text"))
            bands = bands.unionByName(rows(self.bands))
            segs = segs.unionByName(rows(self.segments))
        return pool, base("index/bigram_stats"), bands, segs
