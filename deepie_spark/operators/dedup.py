"""Deduplication operators for web-scale corpus curation.

Beyond the reference's own surface (its only dedup is triple-set dedup
before scoring, train.py:231-233), these are the corpus-curation ops a
100-TB training-data pipeline needs: exact hash dedup, MinHash+LSH,
SimHash, n-gram Jaccard, and embedding near-dup (see similarity.py).

Design rules:
  - everything is pure Catalyst column expressions (whole-stage
    codegen); no Python UDFs anywhere;
  - MinHash signatures: explode DISTINCT shingles -> map-side-combined
    per-doc min aggregate; the shuffle carries docs x n_hashes longs
    only (the classic scale killer is the (doc x shingle x SEED)
    explosion — one md5 per distinct shingle avoids it).  See
    ``minhash_signatures`` for why this beats the zero-shuffle
    higher-order-function form in practice;
  - hashes are md5-prefix bigints, bit-identical between Spark
    (``conv(substr(md5(x),1,15),16,10)``) and DuckDB
    (``('0x'||substr(md5(x),1,15))::BIGINT``) so every op is
    oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def portable_hash(col, seed: int | None = None):
    """Deterministic 60-bit hash identical in Spark and DuckDB."""
    x = F.concat(F.lit(f"{seed}|"), col) if seed is not None else col
    return F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("bigint")


def char_shingles(col, k: int = 5):
    """Lowercased char k-grams as an array column (short texts yield one
    padded shingle)."""
    low = F.lower(col)
    n_shingles = F.greatest(F.length(low), F.lit(k)) - F.lit(k) + F.lit(1)
    return F.transform(
        F.sequence(F.lit(1), n_shingles), lambda i: low.substr(i, F.lit(k))
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: keeps the smallest id per hash,
    marks the rest.  Returns (id, text_hash, keep)."""
    h = F.md5(F.col(text_col)).alias("text_hash")
    w = Window.partitionBy("text_hash").orderBy(F.col(id_col))
    return (
        docs.select(F.col(id_col), h)
        .withColumn("rn", F.row_number().over(w))
        .select(id_col, "text_hash", (F.col("rn") == 1).alias("keep"))
    )


def minhash_params(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    h_i(x) = (a_i * base(x) + b_i) mod 2^31 with base(x) a 28-bit
    md5-prefix — one md5 per shingle total, the rest cheap arithmetic
    (the classic minwise-hashing construction)."""
    params = []
    a, b = 40503, 12289
    for _ in range(n_hashes):
        params.append((a | 1, b))
        a = (a * 48271 + 11) % 32749
        b = (b * 16807 + 7) % 32749
    return params


def minhash_base(col):
    """28-bit base hash: first 7 hex chars of md5 (cross-engine)."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("bigint")


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """(id, signature array<bigint>).

    signature[i] = min over shingles of (a_i*md5_28(shingle)+b_i) mod
    2^31.  One md5 per DISTINCT shingle (not per shingle x seed): at
    10^12 docs the hash count is the dominant CPU cost of dedup.

    Physical shape: explode distinct shingles -> per-doc min aggregate.
    The aggregation is map-side-combining — all shingles of a doc live
    in its own row/partition, so partial aggregation collapses to one
    row per doc per partition BEFORE the exchange; the shuffle carries
    docs x n_hashes longs, never the shingle stream.  An earlier
    version computed the signature as a single ``aggregate``/
    ``zip_with`` higher-order expression ("no shuffle"), which
    benchmarked WORSE twice over: HOF lambdas are interpreted (no
    codegen), and any generator downstream (``posexplode(signature)``)
    inlines the whole HOF expression and re-evaluates it per output
    row — 9x recompute measured.  Values are bit-identical to that
    version (and to the DuckDB oracle)."""
    params = minhash_params(n_hashes)
    mod = F.lit(2**31)
    sh = F.array_distinct(char_shingles(F.col(text_col), shingle_k))
    # explode_outer keeps null-text docs (null shingle array) as a
    # single null-shingle row -> null mins -> null signature, matching
    # the previous implementation's aggregate-over-null behavior
    ex = docs.select(F.col(id_col), F.explode_outer(sh).alias("_sh"))
    base = minhash_base(F.col("_sh"))
    g = ex.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * base + F.lit(b)) % mod).alias(f"_h{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    sig = F.array(*[F.col(f"_h{i}") for i in range(n_hashes)])
    return g.select(
        F.col(id_col),
        F.when(F.col("_h0").isNotNull(), sig).alias("signature"),
    )


def minhash_fast_py(text: str, n_hashes: int = 16, shingle_k: int = 5) -> list[int]:
    """Single-row numpy MinHash — the pure-python twin of the fast
    kernel (same code path: byte-level k-gram polynomial hashes via a
    sliding-window matmul, then the (a*h+b) mod 2^31 universal family).
    Used per-row by the distributed kernel AND as the driver-side
    oracle that materializes expected fixtures."""
    import numpy as np

    params = np.array(minhash_params(n_hashes), dtype=np.uint64)  # [H,2]
    B, M = np.uint64(1_000_003), np.uint64(2**31)
    powers = np.empty(shingle_k, dtype=np.uint64)
    p = np.uint64(1)
    for j in range(shingle_k):
        powers[j] = p
        p = (p * B) % M
    a = params[:, 0][:, None]
    b = params[:, 1][:, None]
    raw = (text or "").lower().encode("utf-8")
    if len(raw) < shingle_k:
        raw = raw.ljust(shingle_k, b"\x00")
    codes = np.frombuffer(raw, dtype=np.uint8).astype(np.uint64)
    win = np.lib.stride_tricks.sliding_window_view(codes, shingle_k)
    h = (win @ powers) % M  # [S] shingle hashes
    sig = ((a * h[None, :] + b) % M).min(axis=1)  # [H]
    return sig.astype(np.int64).tolist()


def minhash_signatures_fast(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """Arrow-batched numpy MinHash — the 100-TB fast path.

    The relational version (``minhash_signatures``) is exact and
    DuckDB-oracle-checkable, but pays one md5 expression per distinct
    shingle in the JVM.
    This kernel vectorizes everything in numpy (``minhash_fast_py``,
    shared with the fixture oracle).  Signatures are a *different*
    (equally valid) hash family, so near-dup behavior matches but raw
    values differ from the expression op — unit-tested for Jaccard
    estimation accuracy AND hash-checked against the materialized
    python-twin fixture (see __spark_entry__.py)."""
    import numpy as np

    params = np.array(minhash_params(n_hashes), dtype=np.uint64)  # [H,2]
    B, M = np.uint64(1_000_003), np.uint64(2**31)
    powers = np.empty(shingle_k, dtype=np.uint64)
    p = np.uint64(1)
    for j in range(shingle_k):
        powers[j] = p
        p = (p * B) % M

    def kernel(it):
        import pandas as pd

        a = params[:, 0][:, None]
        b = params[:, 1][:, None]
        for pdf in it:
            sigs = []
            for text in pdf[text_col]:
                raw = (text or "").lower().encode("utf-8")
                if len(raw) < shingle_k:
                    raw = raw.ljust(shingle_k, b"\x00")
                codes = np.frombuffer(raw, dtype=np.uint8).astype(np.uint64)
                win = np.lib.stride_tricks.sliding_window_view(codes, shingle_k)
                h = (win @ powers) % M  # [S] shingle hashes
                sig = ((a * h[None, :] + b) % M).min(axis=1)  # [H]
                sigs.append(sig.astype(np.int64).tolist())
            yield pd.DataFrame({id_col: pdf[id_col], "signature": sigs})

    return docs.select(id_col, text_col).mapInPandas(
        kernel, f"{id_col} bigint, signature array<bigint>"
    )


def lsh_bands(
    signatures: DataFrame, n_bands: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Signature -> (id, band_id, band_hash).  Docs agreeing on any full
    band land in the same bucket.

    The band hash is computed AFTER the band-id explode (one md5 per
    output row).  Exploding a ``transform``-built array of hashes
    instead makes the generator re-evaluate the whole n_bands-element
    expression per output row — n_bands x the md5 work (the same
    generator-inlining pathology measured 9x on the MinHash signature,
    see ``minhash_signatures``)."""
    rows_per_band = (F.size("signature") / n_bands).cast("int")
    ex = signatures.select(
        F.col(id_col),
        "signature",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band_id"),
    )
    return ex.select(
        id_col,
        "band_id",
        F.md5(
            F.concat_ws(
                ",",
                F.slice(
                    "signature", F.col("band_id") * rows_per_band + 1,
                    rows_per_band,
                ),
            )
        ).alias("band_hash"),
    )


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str = "doc_id", max_bucket: int | None = None
) -> DataFrame:
    """Bucket self-join -> distinct candidate pairs (a < b).

    Scale note: the join key is (band_id, band_hash); a degenerate
    bucket (e.g. 10^6 identical or empty docs) becomes a quadratic hot
    key.  ``max_bucket`` caps it: bucket populations are counted first
    (one cheap aggregation on the same key the join shuffles on) and
    buckets above the cap are dropped before the self-join, keeping
    pair generation linear in corpus size.

    Recall tradeoff, stated plainly: dropping a bucket loses ALL its
    candidate pairs from that band.  With wide bands (many hash rows
    per band) an oversized bucket is near-identical content that exact
    hash dedup (``exact_dedup``) already owns, so the loss is small —
    but with narrow bands (e.g. 2 rows/band, as the driver entry uses)
    a hot bucket can hold genuinely distinct docs, and pairs whose
    ONLY agreeing band was capped are missed.  Mitigations when recall
    matters: raise ``max_bucket``, use more rows per band, or route
    oversized buckets through ``exact_dedup`` on the full text.  AQE
    skew-join covers moderate skew below the cap.

    The bands table is persisted before fanning out: it feeds the
    bucket-size aggregation, the cap join, and BOTH sides of the
    self-join, and exchange reuse only covered one of the duplicated
    subtrees (measured with a row-count accumulator: every doc's text
    was minhashed 3x per query).  Bands rows are a tiny fixed-width
    projection (id, band_id, hash) while the upstream signature kernel
    re-reads and re-hashes the full text, so caching the small thing
    to skip recomputing the big thing is exactly the guide's
    "lightweight proxy" rule; MEMORY_AND_DISK so an out-of-memory
    corpus spills instead of evicting back to recompute.  The blocks
    are released by Spark's ContextCleaner when the result DataFrame
    is dropped."""
    from pyspark import StorageLevel

    bands = bands.persist(StorageLevel.MEMORY_AND_DISK)
    if max_bucket is not None:
        sizes = bands.groupBy("band_id", "band_hash").agg(
            F.count(F.lit(1)).alias("_bucket_n")
        )
        bands = (
            bands.join(sizes, ["band_id", "band_hash"])
            .where(F.col("_bucket_n") <= max_bucket)
            .drop("_bucket_n")
        )
    a = bands.select(F.col(id_col).alias("a"), "band_id", "band_hash")
    b = bands.select(F.col(id_col).alias("b"), "band_id", "band_hash")
    return (
        a.join(b, ["band_id", "band_hash"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def lsh_dedup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    shingle_k: int = 5,
    n_bands: int = 4,
    max_bucket: int = 256,
) -> DataFrame:
    """Production MinHash-LSH near-dup chain: numpy fast signatures ->
    bands -> capped bucket self-join.

    This is the default 100-TB dedup path: signatures come from the
    Arrow-batched numpy kernel (``minhash_signatures_fast``, ~25x
    faster than the interpreted expression tree), and degenerate
    buckets are capped.  ``minhash_signatures`` stays solely as the
    DuckDB-oracle twin of the signature math."""
    sig = minhash_signatures_fast(
        docs, text_col=text_col, id_col=id_col,
        n_hashes=n_hashes, shingle_k=shingle_k,
    )
    return lsh_candidate_pairs(
        lsh_bands(sig, n_bands=n_bands, id_col=id_col),
        id_col=id_col, max_bucket=max_bucket,
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Word n-gram Jaccard similarity pairs >= threshold.

    Each document's text is lowercased and split once, into its own
    column, and the grams are built from that column.  (Referenced
    inside the ``transform`` lambda, the split is inlined by Catalyst
    and the executed plan re-splits the whole text for every gram:
    O(words^2) per document.)  Both physical plans below share this
    step.

    Two physical plans, picked by whether a candidate set is given:

    **With ``candidates`` (the 100-TB verify path)** — pair-local: join
    the candidate pairs to the two docs' distinct-gram ARRAYS (two
    hash joins on doc id, linear in |candidates|) and compute
    ``size(array_intersect(ga, gb))`` per pair.  No gram-level
    self-join exists anywhere in this plan, so a hot n-gram ("of the"
    in every document) costs nothing: work is O(|candidates| x
    avg_grams), never O(docs-sharing-a-gram ^ 2).  An earlier version
    built the full gram self-join first and only then semi-joined the
    candidates — Catalyst can push the semi join below the aggregate
    but NOT below the self-join (the condition references both sides),
    so one stop-word bigram still went quadratic over the corpus.

    Before the intersect, pairs are length-filtered on the gram-array
    sizes carried from the build side: ``least(|A|,|B|) /
    greatest(|A|,|B|) >= threshold`` (the exact length filter of
    set-similarity joins).  It drops no pair that passes:
    J(A,B) = |A∩B| / |A∪B| <= min(|A|,|B|) / max(|A|,|B|), and
    correctly rounded division is monotone, so the double ratio is at
    least the double Jaccard.  Every gram array has at least one gram
    (a null or empty text has one empty gram), so at ``threshold <= 0``
    it keeps every pair.
    Note: with threshold == 0 this path emits candidate pairs with
    jaccard 0 (no shared gram), which the self-join path cannot
    produce; every real threshold (> 0) makes the two plans identical.

    **Without ``candidates``** — the classic relational form: explode
    distinct n-grams (each row carrying its doc's gram count, so no
    size lookup joins), self-join on the gram, count intersections.
    Only safe when the corpus is small or grams are near-unique; at
    scale always feed LSH candidates."""
    toks = F.col("_toks")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )
    g = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.lower(F.col(text_col)), " ").alias("_toks"),
    ).select("id", grams.alias("grams"))

    if candidates is not None:
        ga = g.select(
            F.col("id").alias("a"), F.col("grams").alias("_ga"),
            F.size("grams").alias("_sza"),
        )
        gb = g.select(
            F.col("id").alias("b"), F.col("grams").alias("_gb"),
            F.size("grams").alias("_szb"),
        )
        return (
            candidates.select("a", "b")
            .join(ga, "a")
            .join(gb, "b")
            .where(
                F.least("_sza", "_szb") / F.greatest("_sza", "_szb") >= threshold
            )
            .select(
                "a",
                "b",
                F.size(F.array_intersect("_ga", "_gb")).alias("_inter"),
                "_sza",
                "_szb",
            )
            .select(
                "a",
                "b",
                (
                    F.col("_inter")
                    / (F.col("_sza") + F.col("_szb") - F.col("_inter"))
                ).alias("jaccard"),
            )
            .where(F.col("jaccard") >= threshold)
        )

    # explode_outer: grams is never null or empty (a null or empty text
    # has one empty gram), so it emits the same rows as explode, but it
    # infers no size(grams) > 0 filter, which Catalyst would push below
    # the token projection with the split inlined into the lambda again
    ex = g.select(
        "id", F.size("grams").alias("sz"), F.explode_outer("grams").alias("gram")
    )
    x = ex.select(F.col("id").alias("a"), F.col("sz").alias("sza"), "gram")
    y = ex.select(F.col("id").alias("b"), F.col("sz").alias("szb"), "gram")
    return (
        x.join(y, "gram")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b", "sza", "szb")
        .agg(F.count(F.lit(1)).alias("inter"))
        .select(
            "a",
            "b",
            (
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_bits: int = 16,
) -> DataFrame:
    """Word-level SimHash: per bit, majority vote of token-hash bits
    weighted by term frequency; relational two-stage aggregation
    (explode words -> per-bit signed sums -> recombine)."""
    toks = F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("w")
    words = docs.select(F.col(id_col).alias("id"), toks).where(F.col("w") != "")
    wh = words.groupBy("id", "w").agg(F.count(F.lit(1)).alias("cnt"))
    wh = wh.withColumn("h", portable_hash(F.col("w"), 0))
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, F.col("cnt"))
            .otherwise(-F.col("cnt"))
        ).alias(f"b{b}")
        for b in range(n_bits)
    ]
    agg = wh.groupBy("id").agg(*bit_sums)
    sim = None
    for b in range(n_bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select(F.col("id").alias(id_col), sim.alias("simhash"))


def simhash_near_pairs(
    sim: DataFrame,
    n_bits: int = 16,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs within a Hamming ball: the classic SimHash
    pigeonhole scheme (Manku et al., WWW'07 — public).  Split the
    fingerprint into ``max_hamming + 1`` bands; any pair differing in
    <= max_hamming bits must agree EXACTLY on at least one band, so a
    band-equality self-join generates all candidates and a
    ``bit_count(xor)`` filter verifies — no all-pairs join.  Output
    (a, b, hamming).

    Same hot-band cap stance as the MinHash/ANN joins: ``max_bucket``
    drops degenerate band buckets (thousands of identical fingerprints)
    before the self-join."""
    k = max_hamming + 1
    assert n_bits % k == 0, (n_bits, k)
    band_bits = n_bits // k
    mask = (1 << band_bits) - 1
    ex = sim.select(
        F.col(id_col).alias("id"),
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("band_id"),
    ).withColumn(
        "band_val",
        F.expr(f"shiftright(simhash, band_id * {band_bits})").bitwiseAND(
            F.lit(mask)
        ),
    )
    if max_bucket is not None:
        sizes = ex.groupBy("band_id", "band_val").agg(
            F.count(F.lit(1)).alias("_n")
        )
        ex = (
            ex.join(sizes, ["band_id", "band_val"])
            .where(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    a = ex.select(
        F.col("id").alias("a"), F.col("simhash").alias("_sa"),
        "band_id", "band_val",
    )
    b = ex.select(
        F.col("id").alias("b"), F.col("simhash").alias("_sb"),
        "band_id", "band_val",
    )
    return (
        a.join(b, ["band_id", "band_val"])
        .where(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.bit_count(
                F.col("_sa").bitwiseXOR(F.col("_sb"))
            ).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_dup_groups(
    sim: DataFrame, id_col: str = "doc_id", max_ids: int = 1000
) -> DataFrame:
    """Exact-simhash buckets with >1 member (near-dup groups).

    ``n`` is the FULL group size; the ``ids`` array is truncated to the
    ``max_ids`` smallest members — an unbounded ``collect_list`` on a
    degenerate group (10^6 identical fingerprints) materializes the
    whole group in one aggregation row and OOMs the executor.  The
    truncation is a window rank BEFORE the aggregation, so oversized
    groups never build the full array anywhere."""
    w = Window.partitionBy("simhash").orderBy(F.col(id_col))
    ranked = sim.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sort_array(
                F.collect_list(
                    F.when(F.col("_rn") <= max_ids, F.col(id_col))
                )
            ).alias("ids"),
        )
        .where(F.col("n") > 1)
    )


def dedup_clusters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    shingle_k: int = 5,
    n_bands: int = 4,
    max_bucket: int = 256,
    verify_threshold: float = 0.8,
    ngram_n: int = 2,
) -> DataFrame:
    """Complete near-dup deduplication: candidate generation -> exact
    verification -> duplicate GROUPS -> keeper selection.

        LSH chain (``lsh_dedup_pairs``)            candidate pairs
          -> n-gram Jaccard on candidates only      verified pairs
          -> connected components (partition-local  duplicate clusters
             union-find, then large-star/small-star
             until a star forest, canonicalize.py)
          -> (doc_id, cluster_id, keep)             keep = min-id doc

    This is the "which rows do I actually drop" operator a corpus
    pipeline runs: LSH bounds the candidate set (linear in corpus),
    Jaccard verification removes LSH false positives, and CC turns
    pairwise hits into groups so A~B, B~C dedups all three even when
    A~C was never sampled by any band.

    Scale shape of the verify stage: pair-local — candidates join the
    two docs' distinct-gram arrays (two doc-id hash joins) and the
    intersection is ``array_intersect`` per pair, O(|candidates| x
    avg_grams_per_doc).  There is no gram-level self-join anywhere in
    this pipeline, so a stop-word bigram shared by the whole corpus
    cannot create a quadratic join group (see ``ngram_jaccard_pairs``
    for the plan-level argument and the adversarial hot-gram test).
    Each document's text is split once, and candidate pairs whose gram
    counts cannot reach ``verify_threshold`` are length-filtered before
    the intersect (an exact filter: no verified pair is lost).

    Each intermediate is evaluated once: ``connected_components`` reads
    the verified edges into its round-0 cut and takes the node set from
    there, so the final plan re-runs neither the signature kernel nor
    the verify (pinned in ``test_plans.py``)."""
    from deepie_spark.operators.canonicalize import connected_components

    pairs = lsh_dedup_pairs(
        docs, text_col=text_col, id_col=id_col, n_hashes=n_hashes,
        shingle_k=shingle_k, n_bands=n_bands, max_bucket=max_bucket,
    )
    verified = ngram_jaccard_pairs(
        docs, text_col=text_col, id_col=id_col, n=ngram_n,
        threshold=verify_threshold, candidates=pairs,
    )
    edges = verified.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    comp = connected_components(edges)
    cluster = F.coalesce("component", F.col(id_col))
    return (
        docs.select(id_col)
        .join(
            comp.withColumnRenamed("node", id_col), id_col, "left"
        )
        .select(
            id_col,
            cluster.alias("cluster_id"),
            (cluster == F.col(id_col)).alias("keep"),
        )
    )
