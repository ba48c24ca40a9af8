#!/usr/bin/env python
"""spark-submit entry point for the flagship ER pipeline.

Cluster launch (north rule: spark-submit --py-files on multi-executor
clusters; package the engine first):

    cd /root/repo && zip -qr /tmp/e2e_el_spark.zip e2e_el_spark
    spark-submit --py-files /tmp/e2e_el_spark.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.adaptive.skewJoin.enabled=true \\
        run_el_job.py --pages s3://bucket/pages --entities s3://bucket/kb \\
        --gazetteer s3://bucket/aliases --workdir s3://bucket/el_work

Local smoke (synthetic corpus):

    python run_el_job.py --synthetic 2000 --workdir /tmp/el_job
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", help="pages table path (parquet/iceberg): url, warc_ts, html, text, lang")
    ap.add_argument("--entities", help="KB table path: entity_id, type, name")
    ap.add_argument("--gazetteer", help="alias table path: entity_id, alias")
    ap.add_argument("--workdir", required=True, help="stage checkpoint root")
    ap.add_argument("--synthetic", type=int, default=0, help="generate N synthetic pages instead of reading --pages")
    ap.add_argument("--n-entities", type=int, default=500)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--langs", default=None, help="comma-separated language filter, e.g. en,de")
    ap.add_argument("--link-threshold", type=float, default=0.55)
    ap.add_argument(
        "--rerank-topk", type=int, default=0,
        help="L3: cross-encoder rerank of the top-K candidates per surface; 0 disables",
    )
    ap.add_argument(
        "--kb-workdir", default=None,
        help="persistent dir for the corpus-invariant KB artifacts (vocab, "
        "entity vectors, block keys) — reuse across corpus runs to skip the "
        "KB build; content-fingerprinted, a changed KB recomputes "
        "(default: {workdir}/_kb)",
    )
    args = ap.parse_args()

    from e2e_el_spark.pipeline import PipelineConfig, run_pipeline
    from e2e_el_spark.session import get_spark

    spark = get_spark(app_name="el_job")
    if args.synthetic:
        from e2e_el_spark.synth import aliases_df, entities_df, pages_df, via_parquet

        # the KB tables go through parquet so Spark plans their joins from
        # real sizes (see via_parquet)
        inputs = f"{args.workdir}/_inputs"
        pages = pages_df(spark, args.synthetic, n_entities=args.n_entities, seed=args.seed)
        entities = via_parquet(
            entities_df(spark, args.n_entities, seed=args.seed), f"{inputs}/entities"
        )
        gazetteer = via_parquet(
            aliases_df(spark, args.n_entities, seed=args.seed), f"{inputs}/aliases"
        )
    else:
        if not (args.pages and args.entities):
            ap.error("--pages and --entities required without --synthetic")
        pages = spark.read.parquet(args.pages)
        entities = spark.read.parquet(args.entities)
        gazetteer = (
            spark.read.parquet(args.gazetteer)
            if args.gazetteer
            else entities.selectExpr("entity_id", "name AS alias")
        )

    cfg = PipelineConfig(
        link_threshold=args.link_threshold,
        langs=tuple(args.langs.split(",")) if args.langs else None,
        rerank_topk=args.rerank_topk or None,
    )
    clusters = run_pipeline(
        spark, pages, entities, gazetteer, args.workdir, cfg,
        kb_workdir=args.kb_workdir,
    )
    n = clusters.count()
    n_clusters = clusters.select("cluster_id").distinct().count()
    print(json.dumps({"mentions_clustered": n, "clusters": n_clusters, "workdir": args.workdir}))
    spark.stop()


if __name__ == "__main__":
    main()
