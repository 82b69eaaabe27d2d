"""deepie_spark — a from-scratch, PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of the
DeepIE reference (loujie0822/DeepIE).

Pipeline (DataFrame passes, each a checkpointed lakehouse stage):

    pages -> texts -> triples -> linked -> entity_clusters -> kg (MERGE)
               \\-> mentions

``triples`` runs the whole extraction cascade (subject grid ->
per-subject object grid -> assemble) in one fused, page-local pass;
``mentions`` tokenizes and trie-matches each page in one pass too.

Everything is DataFrame/Catalyst-first; Python appears only inside
Arrow-batched pandas UDFs (never per-row Python), per the build contract.
"""

__version__ = "0.1.0"

# Curated top-level API (lazy: importing deepie_spark stays cheap and
# pyspark-free until a symbol is touched).
_EXPORTS = {
    "get_spark": "deepie_spark.session",
    "KgPipeline": "deepie_spark.plans.pipeline",
    "PageExtractor": "deepie_spark.operators.extract",
    "extract_triples_fused": "deepie_spark.operators.extract",
    "extract_triples_fused_dedup": "deepie_spark.operators.extract",
    "StlExtractor": "deepie_spark.operators.etl_stl",
    "detect_mentions": "deepie_spark.operators.linking",
    "link_triples": "deepie_spark.operators.linking",
    "canonicalize_entities": "deepie_spark.operators.canonicalize",
    "connected_components": "deepie_spark.operators.canonicalize",
    "exact_dedup": "deepie_spark.operators.dedup",
    "lsh_dedup_pairs": "deepie_spark.operators.dedup",
    "dedup_clusters": "deepie_spark.operators.dedup",
    "simhash_near_pairs": "deepie_spark.operators.dedup",
    "cosine_topk": "deepie_spark.operators.similarity",
    "lsh_buckets_fast": "deepie_spark.operators.similarity",
    "lsh_ann_pairs_fast": "deepie_spark.operators.similarity",
    "pq_train_codebooks": "deepie_spark.operators.similarity",
    "pq_encode": "deepie_spark.operators.similarity",
    "pq_adc_topk": "deepie_spark.operators.similarity",
    "ivf_pq_index": "deepie_spark.operators.similarity",
    "ivf_pq_search": "deepie_spark.operators.similarity",
    "ivf_train_centroids": "deepie_spark.operators.similarity",
    "NeuralNerModel": "deepie_spark.operators.neuralner",
    "neural_ner_tags": "deepie_spark.operators.neuralner",
    "Lakehouse": "deepie_spark.sources.lakehouse",
}


def __getattr__(name: str):
    mod = _EXPORTS.get(name)
    if mod is None:
        raise AttributeError(f"module 'deepie_spark' has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(mod), name)


def __dir__():
    return sorted(set(globals()) | set(_EXPORTS))
