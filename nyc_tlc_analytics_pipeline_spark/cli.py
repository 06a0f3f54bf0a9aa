"""Command-line interface — the reference's Click verbs
(reference: src/cli.py:30-297) on argparse (stdlib-only):

    python -m nyc_tlc_analytics_pipeline_spark.cli init-db
    python -m nyc_tlc_analytics_pipeline_spark.cli download --start 2024-01 --end 2024-03
    python -m nyc_tlc_analytics_pipeline_spark.cli load --landing-dir data/raw
    python -m nyc_tlc_analytics_pipeline_spark.cli quality
    python -m nyc_tlc_analytics_pipeline_spark.cli transform
    python -m nyc_tlc_analytics_pipeline_spark.cli aggregates
    python -m nyc_tlc_analytics_pipeline_spark.cli analytics a01_top_zones_by_revenue
    python -m nyc_tlc_analytics_pipeline_spark.cli run-e2e --landing-dir data/raw
    python -m nyc_tlc_analytics_pipeline_spark.cli status
    python -m nyc_tlc_analytics_pipeline_spark.cli explain q01_top_nations_by_revenue --run
    python -m nyc_tlc_analytics_pipeline_spark.cli curate --out data/shards
    python -m nyc_tlc_analytics_pipeline_spark.cli compact --table data/warehouse/bronze/raw_yellow
    python -m nyc_tlc_analytics_pipeline_spark.cli diagnose-skew --table events.parquet --key user_id

``curate`` is the training-data extension verb (no reference analogue):
rule-gate → decontaminate → mixture-rebalance → split → shard-write.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from .core.config import PipelineConfig
from .core.session import build_session
from .pipeline import TlcPipeline


def _pipeline(args) -> TlcPipeline:
    spark = build_session(app_name=f"tlc-{args.command}")
    cfg = PipelineConfig(warehouse_dir=args.warehouse_dir)
    return TlcPipeline(spark, cfg)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="nyc-tlc-analytics-spark")
    p.add_argument("--warehouse-dir", default="data/warehouse")
    sub = p.add_subparsers(dest="command", required=True)

    sub.add_parser("init-db", help="build + materialize dimension tables").add_argument(
        "--zones-csv", default=None
    )

    d = sub.add_parser("download", help="download monthly TLC files (driver-side)")
    d.add_argument("--start", required=True)
    d.add_argument("--end", required=True)
    d.add_argument("--landing-dir", default="data/raw")
    d.add_argument("--services", default="yellow,green,hvfhv")

    # reference QUICK_START convenience verbs (reference: src/cli.py:79-110
    # `download_sample` / `load_zones`) — aliases over download/init-db so a
    # user following the reference's QUICK_START verbatim lands here too
    ds = sub.add_parser(
        "download-sample",
        help="download the reference's three sample months for testing",
    )
    ds.add_argument("--landing-dir", default="data/raw")
    ds.add_argument("--services", default="yellow,green,hvfhv")
    lz = sub.add_parser(
        "load-zones", help="(re)load the taxi-zone dimension only"
    )
    lz.add_argument(
        "--zones-csv",
        required=True,
        help="taxi_zone_lookup.csv path (the reference's load_zones input)",
    )

    ld = sub.add_parser("load", help="load landing dir into bronze")
    ld.add_argument("--landing-dir", default="data/raw")

    sub.add_parser("quality", help="run quality checks on bronze tables")
    sub.add_parser("transform", help="build the silver fact_trips table")
    sub.add_parser("aggregates", help="build the gold aggregate tables")

    an = sub.add_parser("analytics", help="run one analytics query")
    an.add_argument("name")
    an.add_argument("--limit", type=int, default=50)

    e2e = sub.add_parser("run-e2e", help="init + load + quality + transform + aggregates")
    e2e.add_argument("--landing-dir", default="data/raw")
    e2e.add_argument("--zones-csv", default=None)

    # profiling surface (reference: PRAGMA enable_profiling,
    # docs/IMPLEMENTATION_GUIDE.md:835-843) — Spark-side: the optimized
    # physical plan, optionally executed with wall-clock + row count
    ex = sub.add_parser(
        "explain", help="print a query's physical plan; --run also executes it"
    )
    ex.add_argument("name", help="catalog (qNN_*) or analytics (aNN_*) query name")
    ex.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="parquet table dir for catalog queries",
    )
    ex.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "codegen", "cost", "formatted"],
    )
    ex.add_argument("--run", action="store_true", help="execute and report rows/secs")

    # warehouse inventory (reference db-stats: src/cli.py:112-116 →
    # SchemaManager.get_schema_summary, src/database/schema.py:128-148)
    sub.add_parser(
        "status",
        help="warehouse statistics: per-table row counts, column counts, "
        "on-disk bytes (reference db-stats)",
    )

    cp = sub.add_parser(
        "compact",
        help="small-file compaction of a manifest table (keep-tags "
        "overwrite, CAS-protected against concurrent writers)",
    )
    cp.add_argument("--table", required=True, help="manifest table path")
    cp.add_argument("--target-partitions", type=int, default=8)

    vc = sub.add_parser(
        "vacuum",
        help="delete manifest data directories no committed entry "
        "references (crashed writers' leftovers)",
    )
    vc.add_argument("--table", required=True, help="manifest table path")

    xp = sub.add_parser(
        "expire",
        help="reclaim manifest history below a version watermark "
        "(explicit retention; time travel below it is gone)",
    )
    xp.add_argument("--table", required=True, help="manifest table path")
    xp.add_argument("--before-version", type=int, required=True)

    df_ = sub.add_parser(
        "table-diff",
        help="change feed between two manifest versions (full-row "
        "multiset, or keyed inserted/deleted/updated with --keys)",
    )
    df_.add_argument("--table", required=True, help="manifest table path")
    df_.add_argument("--from-version", type=int, required=True)
    df_.add_argument("--to-version", type=int, default=None)
    df_.add_argument("--keys", default=None, help="comma-separated key columns")
    df_.add_argument("--limit", type=int, default=100)

    sk = sub.add_parser(
        "diagnose-skew",
        help="per-key count distribution + skew factor for a parquet "
        "table's join/agg key (the salting pre-flight; operators.skew)",
    )
    sk.add_argument("--table", required=True, help="parquet path")
    sk.add_argument("--key", required=True, help="key column to diagnose")

    # training-data curation: the q55 funnel as a user verb, writing
    # dataloader-ready shards
    cu = sub.add_parser(
        "curate",
        help="rule-gate + decontaminate + rebalance + split a document "
        "corpus and write training shards",
    )
    cu.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="dir containing documents.parquet",
    )
    cu.add_argument("--out", required=True, help="output shard directory")
    cu.add_argument(
        "--weights",
        default="en=0.4,de=0.15,es=0.15,fr=0.15,zh=0.15",
        help="domain=weight list for mixture rebalancing",
    )
    cu.add_argument("--splits", default="train=0.9,val=0.05,test=0.05")
    cu.add_argument("--max-records-per-file", type=int, default=100_000)
    cu.add_argument(
        "--decontam-mode",
        default="drop",
        choices=["drop", "redact"],
        help="benchmark decontamination policy: drop whole contaminated "
        "documents, or redact only the benchmark-covered spans "
        "(operators.decontam.redact_contaminated_spans)",
    )

    tz = sub.add_parser(
        "tokenize",
        help="train a BPE merge table on the corpus (one word-count "
        "pass; merges learned on the model-sized vocab frame) and "
        "report per-source encoded compression",
    )
    tz.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="dir containing documents.parquet",
    )
    tz.add_argument("--merges", type=int, default=6, help="merge rounds")
    tz.add_argument(
        "--out", default=None, help="optional path to write merges JSON"
    )

    at = sub.add_parser(
        "attribution",
        help="curation-funnel attribution report: every document "
        "charged to the stage that removed it (rules / perplexity / "
        "duplicate / kept), per source with token mass "
        "(operators.curation.funnel_attribution)",
    )
    at.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="dir containing documents.parquet",
    )
    at.add_argument("--ppl-cutoff", type=float, default=3.41)
    at.add_argument(
        "--pair-mode",
        default="minhash",
        choices=["minhash", "jaccard"],
        help="near-dup pair source for the duplicate stage: minhash = "
        "the bucket-bounded production default, jaccard = exact "
        "(oracle-verification mode)",
    )
    at.add_argument("--threshold", type=float, default=0.5)

    dc = sub.add_parser(
        "dedup-curve",
        help="dedup-savings threshold what-if: each candidate "
        "threshold's near-dup pair volume and removable-doc estimate "
        "from ONE pair pass (operators.dedup.dedup_threshold_curve)",
    )
    dc.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="dir containing documents.parquet",
    )
    dc.add_argument(
        "--thresholds",
        default="0.3,0.5,0.7,0.9",
        help="comma-separated Jaccard thresholds to evaluate",
    )
    dc.add_argument(
        "--pair-mode", default="minhash", choices=["minhash", "jaccard"]
    )

    tc = sub.add_parser(
        "train-classifier",
        help="train the quality-filter logistic classifier by "
        "distributed full-batch GD over the document features "
        "(operators.train.logreg_train); prints the per-step "
        "weight/loss trajectory",
    )
    tc.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="dir containing documents.parquet",
    )
    tc.add_argument("--iters", type=int, default=4)
    tc.add_argument("--lr", type=float, default=2.0)
    tc.add_argument("--label-lang", default="en")

    nr = sub.add_parser(
        "neardup-refresh",
        help="incremental near-dup refresh: classify a new batch "
        "against the standing corpus via the MinHash band index "
        "(operators.dedup.incremental_minhash_report); optionally "
        "persist the standing band index partitioned by band",
    )
    nr.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="dir containing documents.parquet",
    )
    nr.add_argument(
        "--batch-mod",
        type=int,
        default=3,
        help="doc_id %% N == 0 forms the incoming batch",
    )
    nr.add_argument("--threshold", type=float, default=0.5)
    nr.add_argument(
        "--bands-out",
        default=None,
        help="if set, write the standing (doc, band, bucket) index "
        "here partitioned by band and probe THAT instead of deriving "
        "bands inline",
    )

    ej = sub.add_parser(
        "estimate-join",
        help="price a candidate equi-join from catalog sketches WITHOUT "
        "scanning it: CM inner-product row-count estimate "
        "(sketch.cms_join_size) + HLL inclusion-exclusion distinct-key "
        "overlap (sketch.hll_overlap)",
    )
    ej.add_argument("--left", required=True, help="left parquet path")
    ej.add_argument("--right", required=True, help="right parquet path")
    ej.add_argument("--left-key", required=True)
    ej.add_argument("--right-key", required=True)
    ej.add_argument("--cms-width", type=int, default=512)
    ej.add_argument("--hll-b", type=int, default=9)

    ai = sub.add_parser(
        "ann-index",
        help="persisted IVF ANN index lifecycle: build (write_ivf_index, "
        "bucket-partitioned dirs), append (frozen-centroid O(batch) "
        "append), probe (partition-pruned top-k for a query vector id)",
    )
    ai.add_argument("action", choices=["build", "append", "probe"])
    ai.add_argument("--index", required=True, help="index directory")
    ai.add_argument("--vectors", required=True, help="vectors parquet path")
    ai.add_argument("--centroids-from", help="training vectors parquet path "
                    "(default: --vectors; ignored for append/probe, which "
                    "REQUIRE it to pin the frozen centroid set)")
    ai.add_argument("--id-col", default="vec_id")
    ai.add_argument("--vec-col", default="embedding")
    ai.add_argument("--k", type=int, default=16, help="centroid count")
    ai.add_argument("--query-id", type=int, help="probe: vector id to query")
    ai.add_argument("--top", type=int, default=10)
    ai.add_argument("--n-probe", type=int, default=4)

    ih = sub.add_parser(
        "index-staleness",
        help="IVF index health after incremental appends: per-centroid "
        "resident-vs-append mean assigned-cosine and cos_drift (the "
        "retrain alarm; operators.similarity.ivf_staleness_report)",
    )
    ih.add_argument("--resident", required=True, help="resident vectors parquet path")
    ih.add_argument("--appended", required=True, help="appended vectors parquet path")
    ih.add_argument("--id-col", default="vec_id")
    ih.add_argument("--vec-col", default="embedding")
    ih.add_argument("--k", type=int, default=16, help="frozen centroid count")
    ih.add_argument(
        "--alert", type=float, default=0.05,
        help="cos_drift above this prints retrain=True",
    )

    dr = sub.add_parser(
        "drift",
        help="PSI drift report between a reference and a current "
        "parquet table (fixed deterministic value bins, operators."
        "profile.psi_from_counts)",
    )
    dr.add_argument("--ref", required=True, help="reference parquet path")
    dr.add_argument("--cur", required=True, help="current parquet path")
    dr.add_argument("--value-col", default="value")
    dr.add_argument("--group-col", default="event_type")
    dr.add_argument("--lo", type=float, default=0.0)
    dr.add_argument("--width", type=float, default=50.0)
    dr.add_argument("--buckets", type=int, default=10)
    dr.add_argument("--alert", type=float, default=0.1)

    sd = sub.add_parser(
        "segment-dedup",
        help="cross-document segment-level dedup report over a documents "
        "parquet (CCNet line dedup at fixed token-window grain, "
        "operators.dedup.segment_dedup_report); with --batch, the "
        "incremental refresh report of the batch against the standing "
        "corpus (incremental_segment_report)",
    )
    sd.add_argument("--docs", required=True, help="documents parquet path")
    sd.add_argument(
        "--batch", help="optional batch parquet; --docs becomes the standing corpus"
    )
    sd.add_argument("--seg-len", type=int, default=8)
    sd.add_argument("--boiler-df", type=int, default=3)

    cr = sub.add_parser(
        "curriculum",
        help="quality-staged curriculum report over a documents parquet "
        "(equal-frequency stages, salted within-stage shuffle, "
        "operators.curriculum.curriculum_report)",
    )
    cr.add_argument("--docs", required=True, help="documents parquet path")
    cr.add_argument("--stages", type=int, default=4)
    cr.add_argument("--salt", default="curr")

    cu2 = sub.add_parser(
        "curate-e2e",
        help="END-TO-END corpus curation: rules gate -> perplexity "
        "filter -> near-dup keep-best dedup -> segment-level dedup -> "
        "benchmark decontamination -> curriculum-packed training "
        "shards, resume-journaled per stage (curate.CurateJob; the "
        "run-e2e contract applied to the training-data tier)",
    )
    cu2.add_argument("--docs", required=True, help="corpus documents parquet")
    cu2.add_argument("--out", required=True, help="output root dir")
    cu2.add_argument(
        "--bench", default=None, help="optional benchmark parquet to decontaminate against"
    )
    cu2.add_argument("--ppl-cutoff", type=float, default=3.41)
    cu2.add_argument(
        "--pair-source", default="minhash", choices=("minhash", "jaccard")
    )
    cu2.add_argument("--threshold", type=float, default=0.5)
    cu2.add_argument("--seg-len", type=int, default=8)
    cu2.add_argument("--stages", type=int, default=4)
    cu2.add_argument("--budget", type=int, default=512)
    cu2.add_argument("--retries", type=int, default=2)
    cu2.add_argument(
        "--no-resume", action="store_true", help="discard any prior journal"
    )
    cu2.add_argument(
        "--batch",
        default=None,
        help="incremental batch parquet: classify against the completed "
        "run's final pool and append only novel content as a batch-"
        "tagged increment (CurateJob.run_incremental)",
    )

    args = p.parse_args(argv)

    if args.command == "download":
        from .sources.downloader import download_months, generate_month_range

        months = generate_month_range(args.start, args.end)
        results = download_months(
            months, args.landing_dir, tuple(args.services.split(","))
        )
        print(json.dumps([r.__dict__ for r in results], indent=2))
        return 0 if all(r.status != "failed" for r in results) else 1

    if args.command == "download-sample":
        from .sources.downloader import SAMPLE_MONTHS, download_months

        results = download_months(
            list(SAMPLE_MONTHS), args.landing_dir, tuple(args.services.split(","))
        )
        print(json.dumps([r.__dict__ for r in results], indent=2))
        return 0 if all(r.status != "failed" for r in results) else 1

    pl = _pipeline(args)
    if args.command == "init-db":
        print(json.dumps(pl.init_dims(args.zones_csv)))
    elif args.command == "load-zones":
        from .operators import dimensions
        from .sources import sinks
        from .sources.readers import read_zones_csv

        raw = read_zones_csv(pl.spark, args.zones_csv)
        zones = dimensions.build_dim_zones(raw)
        print(json.dumps({"dim_zones": sinks.overwrite(zones, pl.dim("dim_zones"))}))
    elif args.command == "load":
        print(json.dumps(pl.load_landing_dir(args.landing_dir), indent=2))
    elif args.command == "quality":
        out = {
            s: [r.__dict__ for r in rs] for s, rs in pl.run_quality_checks().items()
        }
        print(json.dumps(out, indent=2, default=str))
    elif args.command == "transform":
        print(json.dumps({"fact_rows": pl.build_fact()}))
    elif args.command == "aggregates":
        print(json.dumps(pl.build_aggregates()))
    elif args.command == "analytics":
        from .plans.analytics import ANALYTICS

        if args.name not in ANALYTICS:
            print(f"unknown query {args.name}; available: {sorted(ANALYTICS)}", file=sys.stderr)
            return 2
        pl.run_analytics(args.name).show(args.limit, truncate=False)
    elif args.command == "run-e2e":
        print(json.dumps(pl.run_e2e(args.landing_dir, args.zones_csv), indent=2))
    elif args.command == "curate-e2e":
        from .curate import CurateJob

        job = CurateJob(
            pl.spark,
            args.docs,
            args.out,
            bench_path=args.bench,
            ppl_cutoff=args.ppl_cutoff,
            pair_source=args.pair_source,
            threshold=args.threshold,
            seg_len=args.seg_len,
            n_stages=args.stages,
            budget=args.budget,
        )
        if args.batch:
            out = job.run_incremental(
                args.batch, retries=args.retries, resume=not args.no_resume
            )
        else:
            out = job.run(retries=args.retries, resume=not args.no_resume)
        print(json.dumps(out, indent=2, sort_keys=True))
    elif args.command == "status":
        from .sources.readers import table_info

        def dir_bytes(path: str) -> int:
            return sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
            )

        tables: dict[str, dict] = {}
        wh = pl.config.warehouse_dir
        for layer in ("bronze", "silver", "gold", "meta"):
            layer_dir = os.path.join(wh, layer)
            if not os.path.isdir(layer_dir):
                continue
            for name in sorted(os.listdir(layer_dir)):
                path = os.path.join(layer_dir, name)
                if not os.path.isdir(path):
                    continue
                try:
                    # bronze/meta tables are read through their manifest
                    if layer == "bronze":
                        df = pl.raw(name.removeprefix("raw_"))
                    elif layer == "meta":
                        df = pl.read_meta(name)
                    else:
                        df = pl.spark.read.parquet(path)
                    info = table_info(df)
                    tables[f"{layer}.{name}"] = {
                        "row_count": info["row_count"],
                        "n_columns": len(info["columns"]),
                        "size_bytes": dir_bytes(path),
                    }
                except Exception as ex:  # noqa: BLE001 — report, keep going
                    tables[f"{layer}.{name}"] = {"error": str(ex)[:120]}
        print(
            json.dumps(
                {
                    "warehouse_dir": wh,
                    "table_count": len(tables),
                    "total_size_bytes": sum(
                        t.get("size_bytes", 0) for t in tables.values()
                    ),
                    "tables": tables,
                },
                indent=2,
                sort_keys=True,
            )
        )
    elif args.command == "explain":
        from .plans.analytics import ANALYTICS
        from .plans.catalog import QUERIES

        if args.name in QUERIES:
            df = QUERIES[args.name].build(pl.spark, args.sf_dir)
        elif args.name in ANALYTICS:
            df = pl.run_analytics(args.name)
        else:
            print(
                f"unknown query {args.name}; available: "
                f"{sorted(QUERIES) + sorted(ANALYTICS)}",
                file=sys.stderr,
            )
            return 2
        df.explain(args.mode)
        if args.run:
            # time the REAL plan that was just printed: the noop sink
            # materializes every projected column (count() would let
            # Catalyst prune projections and understate the cost);
            # the row count is taken after, untimed
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            secs = round(time.perf_counter() - t0, 3)
            print(json.dumps({"rows": df.count(), "secs": secs}))
    elif args.command == "compact":
        from .sources.manifest import ManifestTable

        mt = ManifestTable(pl.spark, args.table)
        before = len(mt.snapshot()["dirs"])
        v = mt.compact(target_partitions=args.target_partitions)
        print(
            json.dumps(
                {
                    "table": args.table,
                    "committed_version": v,  # null = CAS lost, retry
                    "dirs_before": before,
                    "dirs_after": len(mt.snapshot()["dirs"]),
                }
            )
        )
        return 0 if v is not None else 3
    elif args.command == "vacuum":
        from .sources.manifest import ManifestTable

        removed = ManifestTable(pl.spark, args.table).vacuum()
        print(json.dumps({"table": args.table, "removed_dirs": removed}))
    elif args.command == "expire":
        from .sources.manifest import ManifestTable

        out = ManifestTable(pl.spark, args.table).expire(args.before_version)
        print(json.dumps({"table": args.table, **out}))
    elif args.command == "table-diff":
        from .sources.manifest import ManifestTable

        keys = args.keys.split(",") if args.keys else None
        changes = ManifestTable(pl.spark, args.table).diff(
            args.from_version, args.to_version, key_cols=keys
        )
        rows = changes.limit(args.limit).collect()
        print(json.dumps(
            {
                "table": args.table,
                "n_changes": changes.count(),
                "changes": [r.asDict() for r in rows],
            },
            indent=2, sort_keys=True, default=str,
        ))
    elif args.command == "diagnose-skew":
        from .operators.skew import skew_report

        df = pl.spark.read.parquet(args.table)
        row = skew_report(df, args.key, f"{args.table}:{args.key}").collect()[0]
        print(json.dumps(row.asDict(), indent=2, sort_keys=True))
    elif args.command == "curate":
        from pyspark.sql import functions as F

        from .operators import decontam, rules, sampling
        from .sources.sinks import write_corpus_shards
        from .sources.testdata import load_table_parallel

        def parse_kv(s: str) -> dict[str, float]:
            return {
                k: float(v)
                for k, v in (item.split("=", 1) for item in s.split(",") if item)
            }

        weights, splits = parse_kv(args.weights), parse_kv(args.splits)
        docs = load_table_parallel(pl.spark, args.sf_dir, "documents")
        gated = rules.filter_by_rules(docs, "text")
        bench = docs.filter(F.col("doc_id") % 50 == 0)
        pool = gated.filter(F.col("doc_id") % 50 != 0)
        if args.decontam_mode == "redact":
            # span-level: keep the document, strip benchmark-covered
            # spans; fully-redacted docs (empty text) drop out
            clean = (
                decontam.redact_contaminated_spans(
                    pool.select("doc_id", "lang", "text"),
                    bench,
                    n=4,
                    keep_cols=["lang"],
                )
                .filter(F.col("text_clean") != "")
                .select(
                    "doc_id", "lang", F.col("text_clean").alias("text")
                )
            )
        else:
            clean = decontam.decontaminate(pool, bench, n=4)
        sampled = sampling.mixture_sample(clean, "lang", weights, "doc_id", salt="mix")
        final = sampling.assign_split(sampled, "doc_id", splits, salt="cur").select(
            "doc_id", "lang", "split", "text"
        )
        write_corpus_shards(
            final, args.out, max_records_per_file=args.max_records_per_file
        )
        summary = {
            f"{r['split']}/{r['lang']}": r["n"]
            for r in pl.spark.read.parquet(args.out)
            .groupBy("split", "lang")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        print(json.dumps({"total": sum(summary.values()), "shards": summary}, indent=2, sort_keys=True))
    elif args.command == "tokenize":
        from pyspark.sql import functions as F

        from .operators import text as T
        from .sources.testdata import load_table_parallel

        docs = load_table_parallel(pl.spark, args.sf_dir, "documents")
        merges = T.bpe_train_merges(docs, n_merges=args.merges)
        stats = (
            docs.select(
                "source",
                T.token_count("text").alias("ws"),
                T.bpe_encode_symbol_count("text", merges).alias("bpe"),
            )
            .groupBy("source")
            .agg(F.sum("ws").alias("ws"), F.sum("bpe").alias("bpe"))
            .collect()
        )
        out = {
            "merges": [
                {"round": r, "pair": [a, b], "count": c, "avg_symbols": s}
                for r, a, b, c, s in merges
            ],
            "per_source": {
                row.source: round(row.bpe / row.ws, 4) for row in stats
            },
        }
        if args.out:
            with open(args.out, "w") as fh:
                json.dump(out["merges"], fh, indent=2)
        print(json.dumps(out, indent=2, sort_keys=True))
    elif args.command == "attribution":
        from pyspark.sql import functions as F

        from .operators import curation
        from .sources.testdata import load_table_parallel

        docs = load_table_parallel(pl.spark, args.sf_dir, "documents")
        attr = curation.funnel_attribution(
            docs, args.ppl_cutoff, pair_source=args.pair_mode,
            threshold=args.threshold,
        )
        rows = (
            attr.groupBy("source", "stage")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
            )
            .collect()
        )
        report: dict = {}
        for r in rows:
            report.setdefault(r.source, {})[r.stage] = {
                "n_docs": r.n_docs, "n_tokens": r.n_tokens,
            }
        print(json.dumps(report, indent=2, sort_keys=True))
    elif args.command == "dedup-curve":
        from .operators import dedup
        from .sources.testdata import load_table_parallel

        docs = load_table_parallel(pl.spark, args.sf_dir, "documents")
        ts = tuple(float(x) for x in args.thresholds.split(","))
        rows = dedup.dedup_threshold_curve(
            docs, "doc_id", "text", ts, pair_source=args.pair_mode
        ).collect()
        print(
            json.dumps(
                {
                    str(r.threshold): {
                        "n_pairs": r.n_pairs, "n_removable": r.n_removable
                    }
                    for r in rows
                },
                indent=2,
                sort_keys=True,
            )
        )
    elif args.command == "train-classifier":
        from pyspark.sql import functions as F
        from pyspark.sql.functions import col, lit

        from .functions.scalar import rnd
        from .operators import rules as R
        from .operators import text as T
        from .operators import train
        from .sources.testdata import load_table_parallel

        docs = load_table_parallel(pl.spark, args.sf_dir, "documents")
        toks = T.tokens("text")
        feats = docs.select(
            F.when(col("lang") == args.label_lang, lit(1.0))
            .otherwise(lit(0.0))
            .alias("y"),
            rnd(F.coalesce(F.least(F.size(toks) / lit(200.0), lit(1.0)), lit(0.0)), 6).alias("f1"),
            rnd(
                F.coalesce(
                    F.least(R.mean_token_length(toks) / lit(10.0), lit(1.0)),
                    lit(0.0),
                ),
                6,
            ).alias("f2"),
            rnd(
                F.coalesce(
                    T.stopword_ratio("text", T.LANG_STOPWORDS["en"]), lit(0.0)
                ),
                6,
            ).alias("f3"),
            rnd(F.coalesce(T.punct_ratio("text"), lit(0.0)), 6).alias("f4"),
        ).localCheckpoint(eager=True)
        traj = train.logreg_train(
            feats, ["f1", "f2", "f3", "f4"], "y", iters=args.iters, lr=args.lr
        )
        print(json.dumps(traj, indent=2))
    elif args.command == "neardup-refresh":
        from pyspark.sql.functions import col

        from .operators import dedup
        from .sources.testdata import load_table_parallel

        docs = load_table_parallel(pl.spark, args.sf_dir, "documents")
        batch = docs.filter(col("doc_id") % args.batch_mod == 0)
        standing = docs.filter(col("doc_id") % args.batch_mod != 0)
        standing_bands = None
        if args.bands_out:
            dedup.lsh_band_table(standing, "doc_id", "text").write.mode(
                "overwrite"
            ).partitionBy("band").parquet(args.bands_out)
            standing_bands = pl.spark.read.parquet(args.bands_out).select(
                "doc", "band", "bucket"
            )
        rows = dedup.incremental_minhash_report(
            batch,
            standing,
            "doc_id",
            "text",
            "source",
            threshold=args.threshold,
            standing_bands=standing_bands,
        ).collect()
        print(
            json.dumps(
                {r.source: {k: r[k] for k in
                            ("n_batch", "n_dup_vs_corpus", "n_dup_in_batch", "n_new")}
                 for r in rows},
                indent=2,
                sort_keys=True,
            )
        )
    elif args.command == "estimate-join":
        from .operators import sketch

        left = pl.spark.read.parquet(args.left)
        right = pl.spark.read.parquet(args.right)
        ca = sketch.cms_partials(left, args.left_key, d=4, w=args.cms_width)
        cb = sketch.cms_partials(right, args.right_key, d=4, w=args.cms_width)
        rows_est = sketch.cms_join_size(ca, cb).first()[0]
        ha = sketch.hll_partials(left, args.left_key, [], b=args.hll_b)
        hb = sketch.hll_partials(right, args.right_key, [], b=args.hll_b)
        ov = sketch.hll_overlap(ha, hb, b=args.hll_b).first()
        print(
            json.dumps(
                {
                    "join_rows_estimate": rows_est,
                    "distinct_left_keys": round(ov.distinct_a, 1),
                    "distinct_right_keys": round(ov.distinct_b, 1),
                    "distinct_key_overlap": round(ov.overlap_estimate, 1),
                },
                indent=2,
                sort_keys=True,
            )
        )
    elif args.command == "ann-index":
        from .operators import similarity

        vecs = pl.spark.read.parquet(args.vectors)
        train = (
            pl.spark.read.parquet(args.centroids_from)
            if args.centroids_from
            else vecs
        )
        cents = similarity.ivf_centroids(
            train, k=args.k, id_col=args.id_col, vec_col=args.vec_col
        )
        if args.action == "build":
            similarity.write_ivf_index(
                vecs, args.index, cents, id_col=args.id_col, vec_col=args.vec_col
            )
            print(json.dumps({"built": args.index, "centroids": args.k}))
        elif args.action == "append":
            if not args.centroids_from:
                raise SystemExit(
                    "ann-index append requires --centroids-from (the frozen "
                    "training set) — re-deriving centroids from the batch "
                    "would silently fork the index"
                )
            similarity.append_ivf_index(
                vecs, args.index, cents, id_col=args.id_col, vec_col=args.vec_col
            )
            print(json.dumps({"appended_to": args.index}))
        else:
            if args.query_id is None or not args.centroids_from:
                raise SystemExit(
                    "ann-index probe requires --query-id and --centroids-from"
                )
            from pyspark.sql import functions as F

            qvec = [
                float(x)
                for x in vecs.filter(F.col(args.id_col) == args.query_id)
                .select(args.vec_col)
                .head()[0]
            ]
            rows = similarity.read_ivf_probe(
                pl.spark, args.index, qvec, cents,
                k=args.top, n_probe=args.n_probe,
                id_col=args.id_col, vec_col=args.vec_col,
            ).collect()
            print(json.dumps([r.asDict() for r in rows], indent=2))
    elif args.command == "index-staleness":
        from .operators import similarity

        resident = pl.spark.read.parquet(args.resident)
        appended = pl.spark.read.parquet(args.appended)
        cents = similarity.ivf_centroids(
            resident, k=args.k, id_col=args.id_col, vec_col=args.vec_col
        )
        rep = similarity.ivf_staleness_report(
            resident, appended, cents, id_col=args.id_col, vec_col=args.vec_col
        ).collect()
        drifts = [r.cos_drift for r in rep if r.cos_drift is not None]
        print(
            json.dumps(
                {
                    "buckets": [r.asDict() for r in rep],
                    "max_cos_drift": max(drifts) if drifts else None,
                    "retrain": bool(drifts and max(drifts) > args.alert),
                },
                indent=2,
                sort_keys=True,
            )
        )
    elif args.command == "drift":
        from .operators import profile

        def buckets(path: str):
            return profile.value_bucket_counts(
                pl.spark.read.parquet(path),
                args.value_col,
                args.group_col,
                args.lo,
                args.width,
                args.buckets,
            )

        rows = profile.psi_from_counts(
            buckets(args.cur), buckets(args.ref), alert=args.alert
        ).collect()
        report = {
            r.grp: {
                "n_ref": r.n_ref,
                "n_cur": r.n_cur,
                "psi": r.psi,
                "drifted": r.drifted,
            }
            for r in rows
        }
        print(json.dumps(report, indent=2, sort_keys=True))
        return 0 if not any(v["drifted"] for v in report.values()) else 4
    elif args.command == "segment-dedup":
        from .operators import dedup as _dedup

        docs = pl.spark.read.parquet(args.docs)
        if args.batch:
            rows = _dedup.incremental_segment_report(
                pl.spark.read.parquet(args.batch), docs, seg_len=args.seg_len
            ).collect()
        else:
            rows = _dedup.segment_dedup_report(
                docs, seg_len=args.seg_len, boiler_df=args.boiler_df
            ).collect()
        print(
            json.dumps(
                # str(): NULL lang groups (preserved via eqNullSafe)
                # must not crash sort_keys with None-vs-str comparisons
                {str(r["lang"]): r.asDict() for r in rows},
                indent=2,
                sort_keys=True,
            )
        )
    elif args.command == "curriculum":
        from .operators import curriculum as _curr

        rows = _curr.curriculum_report(
            pl.spark.read.parquet(args.docs),
            n_stages=args.stages,
            salt=args.salt,
        ).collect()
        print(
            json.dumps(
                {str(r["stage"]): r.asDict() for r in rows},
                indent=2,
                sort_keys=True,
            )
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
