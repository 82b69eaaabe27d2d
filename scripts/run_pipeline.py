"""spark-submit entrypoint for the KG-construction pipeline.

    python deepie_spark/session.py-built zip first:
        python scripts/build_dist.py          # -> dist/deepie_spark.zip
    then:
        spark-submit --py-files dist/deepie_spark.zip \\
            scripts/run_pipeline.py \\
            --pages <parquet path or 'synth:N'> \\
            --lake /path/to/lake --run-id crawl-2026-08-16 \\
            [--aliases <parquet>] [--resume]

On a cluster, add --master/--num-executors etc. as usual; the script
only uses the session it is given (spark-submit builds it).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--pages", required=True,
                   help="pages parquet path, or synth:N for the seed-42 corpus")
    p.add_argument("--aliases", default=None,
                   help="alias parquet (alias, canonical_id, entity_type, weight); "
                        "default: the synthetic world dictionary")
    p.add_argument("--lake", required=True)
    p.add_argument("--run-id", default=f"run-{int(time.time())}")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--max-seq-length", type=int, default=256)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("deepie_kg_pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from deepie_spark.config.schema import SYNTH_SCHEMA
    from deepie_spark.operators.extract import PageExtractor
    from deepie_spark.plans.pipeline import KgPipeline
    from deepie_spark.sources.synth import corpus_dataframes, gen_world

    if args.pages.startswith("synth:"):
        n = int(args.pages.split(":", 1)[1])
        pages_df, _gold, alias_df = corpus_dataframes(spark, n)
    else:
        pages_df = spark.read.parquet(args.pages)
        alias_df = None
    if args.aliases:
        alias_df = spark.read.parquet(args.aliases)
    if alias_df is None:
        _, _, alias_df = corpus_dataframes(spark, 1)

    world_aliases = [r.asDict() for r in alias_df.collect()]
    extractor = PageExtractor(
        SYNTH_SCHEMA, world_aliases, max_seq_length=args.max_seq_length
    )
    pipe = KgPipeline(spark, args.lake, extractor, run_id=args.run_id)
    res = pipe.run(pages_df, alias_df, resume=args.resume)
    kg = pipe.lake.read("kg_triples")
    summary = {
        "run_id": args.run_id,
        "stages_run": res.stages_run,
        "stages_skipped": res.stages_skipped,
        "wall_s": {k: round(v, 2) for k, v in res.wall_s.items()},
        "kg_triples": kg.count(),
        "kg_entities": pipe.lake.read("kg_entities").count(),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
