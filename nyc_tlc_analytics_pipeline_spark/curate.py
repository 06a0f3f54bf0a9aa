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
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import col, lit

from .core.journal import Journal
from .operators import curation, curriculum, dedup, decontam, lm, packing
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
    # the completed run's final pool, keep only genuinely novel content,
    # and append it as an idempotent batch-tagged increment directory.

    _INC_AUX_SUFFIXES = (
        "_attribution", "_gated", "_clean", "_bands", "_segidx",
    )

    def _standing_pool(self, exclude_tag: str | None = None) -> DataFrame:
        """The corpus an incoming batch is classified against: the base
        run's ``final`` pool plus every COMPLETED increment (its
        ``increments/<tag>`` dir carries parquet's ``_SUCCESS`` marker),
        excluding the in-flight tag.  Without folding prior increments
        in, a second batch repeating batch 1's novel content would be
        'new' again and appended twice (ADVICE r12).  The union is a
        metadata-only plan over already-written parquet — the standing
        corpus text is still never re-written, only re-scanned by the
        O(batch + matches) incremental classifiers."""
        pool = self.spark.read.parquet(self.path("final")).select(
            "doc_id", "text"
        )
        inc_root = self.path("increments")
        try:
            names = sorted(os.listdir(inc_root))
        except OSError:
            names = []
        for name in names:
            if name == exclude_tag or name.endswith(self._INC_AUX_SUFFIXES):
                continue
            d = os.path.join(inc_root, name)
            if not os.path.isfile(os.path.join(d, "_SUCCESS")):
                continue  # crashed/partial increment: not standing yet
            pool = pool.unionByName(
                self.spark.read.parquet(d).select("doc_id", "text")
            )
        return pool

    def _completed_inc_tags(self, exclude_tag: str | None = None) -> list[str]:
        try:
            names = sorted(os.listdir(self.path("increments")))
        except OSError:
            return []
        return [
            n
            for n in names
            if n != exclude_tag
            and not n.endswith(self._INC_AUX_SUFFIXES)
            and os.path.isfile(self.path(f"increments/{n}/_SUCCESS"))
        ]

    def _standing_indexes(self, exclude_tag: str | None = None):
        """The PERSISTED standing-index artifacts an increment classifies
        against (``stage_index`` wrote the base; ``inc_append`` appends a
        per-tag slice for each completed increment):

        - ``lm_stats`` — the base pool's bigram model, deliberately FIXED
          (the CCNet reference-model posture: batches are judged by the
          curated base corpus, not by a drifting union);
        - ``standing_bands`` — base band table ∪ completed increments'
          band slices (band signatures are per-doc, so union is exact);
        - ``seg_index`` — base segment index ∪ per-increment slices
          (each slice indexes the increment's text AS APPENDED — the
          rebuilt doc's own segment grid, i.e. what a future batch must
          be compared against; a rare boundary-shifted rebuild can
          re-produce a hash the base index already holds, which only
          double-marks that segment dup_vs_corpus — never resurrects it).

        Returns ``(None, None, None)`` for runs completed before the
        index stage existed — callers fall back to deriving the
        artifacts from the standing pool (the legacy O(standing) path).
        """
        if not os.path.isfile(
            os.path.join(self.path("index/lsh_bands"), "_SUCCESS")
        ):
            return None, None, None
        stats = self.spark.read.parquet(self.path("index/bigram_stats"))
        bands = self.spark.read.parquet(self.path("index/lsh_bands"))
        segs = self.spark.read.parquet(self.path("index/segments"))
        for t in self._completed_inc_tags(exclude_tag):
            bp = self.path(f"increments/{t}_bands")
            sp = self.path(f"increments/{t}_segidx")
            # Self-heal a completed increment whose slices are missing
            # (crash between inc_decontam's _SUCCESS and inc_append's
            # slice writes, with the tag never resumed; or an increment
            # that predates stage_index).  _standing_pool counts the tag
            # as standing, so skipping it here would let duplicates of
            # its docs classify 'new' and append twice (ADVICE r13).
            # Deriving the slice from increments/<tag> and WRITING it
            # back is O(that increment) once, then free forever.
            if not os.path.isfile(os.path.join(bp, "_SUCCESS")):
                inc = self.spark.read.parquet(self.path(f"increments/{t}"))
                dedup.lsh_band_table(inc, "doc_id", "text").write.mode(
                    "overwrite"
                ).parquet(bp)
            bands = bands.unionByName(self.spark.read.parquet(bp))
            if not os.path.isfile(os.path.join(sp, "_SUCCESS")):
                inc = self.spark.read.parquet(self.path(f"increments/{t}"))
                dedup.segment_index_table(
                    inc, "doc_id", "text", self.seg_len
                ).write.mode("overwrite").parquet(sp)
            segs = segs.unionByName(self.spark.read.parquet(sp))
        return stats, bands, segs

    def run_incremental(
        self,
        batch_path: str,
        batch_tag: str | None = None,
        retries: int = 2,
        resume: bool = True,
    ) -> dict:
        """Process one incoming batch against a COMPLETED curate run:

        1. ``inc_gate`` — rules gate + perplexity filter on the batch,
           then MinHash-LSH classification against the standing pool
           (``incremental_minhash_classify``): ``dup_vs_corpus`` and
           later in-batch copies drop; per-document attribution
           (rules / perplexity / duplicate_batch / duplicate_corpus /
           kept) persists next to the batch increment.
        2. ``inc_segment`` — rebuild survivors from only the segments
           the standing corpus hasn't seen (incremental segment
           classify vs the standing index), dropping emptied docs.
        3. ``inc_decontam`` — benchmark gate (skip without a bench).
        4. ``inc_append`` — write the surviving docs to
           ``increments/<tag>/`` (idempotent overwrite: the tag is the
           md5 of the batch path unless given, so a crashed re-run
           converges instead of double-appending).

        Same journal semantics as :meth:`run`, per batch tag."""
        import hashlib

        from .operators import curation as _curation

        tag = batch_tag or hashlib.md5(batch_path.encode()).hexdigest()[:12]
        if tag.endswith(self._INC_AUX_SUFFIXES):
            # aux dirs live beside increments/<tag> as <tag>_bands etc.;
            # a user tag ending in an aux suffix would be misread as a
            # sibling increment's aux dir and silently excluded from the
            # standing pool
            raise ValueError(
                f"batch_tag must not end with {self._INC_AUX_SUFFIXES}"
            )
        stages = Journal(
            self.path(f"meta/curate_inc_{tag}.json"),
            ("inc_gate", "inc_segment", "inc_decontam", "inc_append"),
            resume,
        )
        batch = self.spark.read.parquet(batch_path)
        # The standing pool an increment classifies against is the
        # base run's `final` UNIONED with every already-completed
        # increment (excluding this tag): without the union, batch 2
        # repeating batch 1's novel content is classified 'new'
        # again and appended twice, violating the append-only-novel
        # contract for multi-batch use (ADVICE r12).
        standing = self._standing_pool(exclude_tag=tag)
        # persisted index artifacts (stage_index + per-increment slices):
        # the standing pool's TEXT above is scanned only for candidate
        # verification (left-semi pruned); bands / segment hashes / the
        # LM model come from disk, so the increment is O(batch+matches).
        # All-None on legacy runs → bands/segments are derived from the
        # pool; the LM model is still fixed on the base `final` below.
        lm_stats, standing_bands, seg_index = self._standing_indexes(
            exclude_tag=tag
        )
        if lm_stats is None:
            # Legacy run (no persisted index): still FIX the reference
            # model on the base `final` pool, not the drifting
            # final ∪ increments union — both paths must judge a batch
            # by the same CCNet reference-model posture (ADVICE r13).
            lm_stats = lm.corpus_bigram_stats(
                self.spark.read.parquet(self.path("final"))
            )

        def inc_gate() -> dict:
            # ONE implementation shared with the registered conformance
            # query (q187): rules gate + perplexity vs the STANDING
            # pool's model (the CCNet fixed-model shape — a small batch
            # must not be judged by its own 4-document statistics) +
            # incremental MinHash classification, all inside
            # curation.incremental_gate_attribution so job and oracle
            # can never drift (the q132 pattern).
            attr, classified = _curation.incremental_gate_attribution(
                batch, standing, self.ppl_cutoff, threshold=self.threshold,
                lm_stats=lm_stats, standing_bands=standing_bands,
            )
            attr.write.mode("overwrite").parquet(
                self.path(f"increments/{tag}_attribution")
            )
            classified.filter(col("status") == "new").select(
                "doc_id", "source", "lang", "text", "n_tokens"
            ).write.mode("overwrite").parquet(
                self.path(f"increments/{tag}_gated")
            )
            rows = (
                self.spark.read.parquet(
                    self.path(f"increments/{tag}_attribution")
                )
                .groupBy("stage")
                .count()
                .collect()
            )
            return {r["stage"]: r["count"] for r in rows}

        def inc_segment() -> dict:
            pool = self.spark.read.parquet(
                self.path(f"increments/{tag}_gated")
            )
            idx = (
                seg_index
                if seg_index is not None
                else dedup.segment_index_table(
                    standing, "doc_id", "text", self.seg_len
                )
            )
            out = _curation.rebuild_new_segments(
                pool, idx, self.seg_len
            )
            out.write.mode("overwrite").parquet(
                self.path(f"increments/{tag}_clean")
            )
            n_in = pool.count()
            n_out = self.spark.read.parquet(
                self.path(f"increments/{tag}_clean")
            ).count()
            return {"n_docs_in": n_in, "n_docs_out": n_out,
                    "n_emptied_or_dupseg": n_in - n_out}

        def inc_decontam() -> dict:
            pool = self.spark.read.parquet(
                self.path(f"increments/{tag}_clean")
            )
            if self.bench_path is None:
                pool.write.mode("overwrite").parquet(
                    self.path(f"increments/{tag}")
                )
                return {"skipped": True, "n_removed": 0}
            bench = self.spark.read.parquet(self.bench_path)
            cleanp = decontam.decontaminate(
                pool, bench, n=self.decontam_n
            )
            cleanp.write.mode("overwrite").parquet(
                self.path(f"increments/{tag}")
            )
            n_out = self.spark.read.parquet(
                self.path(f"increments/{tag}")
            ).count()
            return {
                "skipped": False,
                "n_removed": pool.count() - n_out,
            }

        def inc_append() -> dict:
            inc = self.spark.read.parquet(self.path(f"increments/{tag}"))
            if standing_bands is not None:
                # maintain the standing indexes: this tag's band slice
                # (signatures of the text AS APPENDED) and segment-hash
                # slice, so the NEXT batch classifies against
                # base ∪ increments without re-deriving either.
                # Idempotent per-tag overwrites, like every inc write.
                dedup.lsh_band_table(inc, "doc_id", "text").write.mode(
                    "overwrite"
                ).parquet(self.path(f"increments/{tag}_bands"))
                dedup.segment_index_table(
                    inc, "doc_id", "text", self.seg_len
                ).write.mode("overwrite").parquet(
                    self.path(f"increments/{tag}_segidx")
                )
            n = inc.count()
            toks = inc.agg(F.sum("n_tokens")).head()[0] or 0
            return {"n_docs_appended": n, "tokens_appended": int(toks)}

        gate = stages.run("inc_gate", inc_gate, retries)
        seg = stages.run("inc_segment", inc_segment, retries)
        dec = stages.run("inc_decontam", inc_decontam, retries)
        app = stages.run("inc_append", inc_append, retries)
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
