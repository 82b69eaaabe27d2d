"""Dump ``explain("formatted")`` for every declared query to files.

Usage: python scripts/dump_plans.py <out_dir> [sf_dir] [query ...]

Used by the optimization rounds to record before/after physical plans
(``plans/rNN/<query>_{before,after}.txt``): run it once from the
round-start tree (e.g. a git worktree of the baseline commit) and once
from the optimized tree.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402


def _dedup_clusters_verify(spark, sf_dir):
    """dedup_clusters' LSH + Jaccard verify step, built as q_dedup_clusters
    builds it: the final dedup_clusters plan starts after
    connected_components has cut the verified edges, so it does not show
    this step."""
    from deepie_spark.operators.dedup import lsh_dedup_pairs, ngram_jaccard_pairs

    docs = entrymod._docs(spark, sf_dir)
    pairs = lsh_dedup_pairs(docs, n_hashes=8, shingle_k=5, n_bands=4, max_bucket=256)
    return ngram_jaccard_pairs(docs, n=2, threshold=0.8, candidates=pairs)


def _pipeline_run(spark, sf_dir):
    """(pipeline, alias_df) after a KgPipeline.run into a temporary lake,
    removed at exit: the committed stage tables the pipeline's later
    stages read."""
    import atexit
    import shutil
    import tempfile

    from deepie_spark.plans.pipeline import KgPipeline
    from deepie_spark.sources.synth import corpus_dataframes

    pages_df, _, alias_df = corpus_dataframes(spark, entrymod._pages_count(sf_dir))
    root = tempfile.mkdtemp(prefix="plan_lake_")
    atexit.register(shutil.rmtree, root, True)
    pipe = KgPipeline(spark, root, entrymod._extractor())
    pipe.run(pages_df, alias_df)
    return pipe, alias_df


def _linked(spark, sf_dir):
    """KgPipeline's linked stage over the triples table a pipeline run
    committed (the stage has no declared query)."""
    from deepie_spark.operators.linking import alias_dim_with_key, link_triples

    pipe, alias_df = _pipeline_run(spark, sf_dir)
    bc = pipe.extractor_bc
    return link_triples(
        pipe.lake.read("triples"), alias_dim_with_key(alias_df, bc), bc
    )


def _entity_clusters(spark, sf_dir):
    """KgPipeline's entity_clusters stage over the linked table a
    pipeline run committed (the stage has no declared query)."""
    from deepie_spark.operators.canonicalize import canonicalize_entities
    from deepie_spark.operators.linking import alias_dim_with_key

    pipe, alias_df = _pipeline_run(spark, sf_dir)
    alias_dim = alias_dim_with_key(alias_df, pipe.extractor_bc)
    return canonicalize_entities(pipe.lake.read("linked"), alias_dim)


# sub-plans of declared queries, and pipeline stages, that no declared
# query's plan shows
STEPS = {
    "dedup_clusters_verify": _dedup_clusters_verify,
    "linked": _linked,
    "entity_clusters": _entity_clusters,
}


def main() -> None:
    out_dir = Path(sys.argv[1])
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    only = set(sys.argv[3:])
    out_dir.mkdir(parents=True, exist_ok=True)

    from deepie_spark.session import get_spark

    spark = get_spark(app_name="plan_dump")
    suffix = os.environ.get("DEEPIE_PLAN_SUFFIX", "")
    for name, fn in {**entrymod.queries(), **STEPS}.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # record the failure instead of dying
            text = f"PLAN DUMP ERROR: {e}\n"
        (out_dir / f"{name}{suffix}.txt").write_text(text)
        print(f"{name}: {len(text)} bytes", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
