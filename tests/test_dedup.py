import duckdb
import pytest
from pyspark.sql import functions as F

from deepie_spark.operators import dedup as D

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
    (2, "the quick brown fox jumps over the very lazy dog"),     # near dup
    (3, "completely different text about spark and shuffles"),
    (4, "spark shuffles are completely different from joins"),
    (5, "zzz"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string").cache()


def test_portable_hash_matches_duckdb(spark):
    df = spark.createDataFrame([("abc",), ("xyz 123",)], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", D.portable_hash(F.col("s")).alias("h")).collect()}
    for s, h in got.items():
        want = duckdb.sql(
            f"select ('0x'||substr(md5('{s}'),1,15))::BIGINT"
        ).fetchone()[0]
        assert h == want


def test_exact_dedup(docs):
    rows = {r["doc_id"]: r["keep"] for r in D.exact_dedup(docs).collect()}
    assert rows[0] is True and rows[1] is False
    assert all(rows[i] for i in (2, 3, 4, 5))


def test_minhash_identical_and_near(docs):
    sigs = {r["doc_id"]: r["signature"] for r in D.minhash_signatures(docs, n_hashes=16).collect()}
    assert all(len(s) == 16 for s in sigs.values())
    assert sigs[0] == sigs[1]
    same_near = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    same_far = sum(a == b for a, b in zip(sigs[0], sigs[3]))
    assert same_near > same_far
    assert same_near >= 8  # near-dup shares most minhashes


def test_lsh_candidates_find_planted_dups(docs):
    sigs = D.minhash_signatures(docs, n_hashes=16)
    pairs = {
        (r["a"], r["b"])
        for r in D.lsh_candidate_pairs(D.lsh_bands(sigs, n_bands=8)).collect()
    }
    assert (0, 1) in pairs
    assert (0, 2) in pairs or (1, 2) in pairs
    assert (3, 5) not in pairs


def test_ngram_jaccard_matches_python(docs):
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, n=2, threshold=0.2).collect()
    }

    def grams(t, n=2):
        ws = t.lower().split(" ")
        return set(" ".join(ws[i : i + n]) for i in range(max(len(ws) - n + 1, 1)))

    for (a, b), j in got.items():
        ga, gb = grams(DOCS[a][1]), grams(DOCS[b][1])
        want = len(ga & gb) / len(ga | gb)
        assert abs(j - want) < 1e-9
    assert (0, 1) in got and got[(0, 1)] == 1.0


def test_minhash_fast_properties(spark, docs):
    sigs = {
        r["doc_id"]: r["signature"]
        for r in D.minhash_signatures_fast(docs, n_hashes=32).collect()
    }
    sigs2 = {
        r["doc_id"]: r["signature"]
        for r in D.minhash_signatures_fast(docs, n_hashes=32).collect()
    }
    assert sigs == sigs2  # deterministic
    assert sigs[0] == sigs[1]  # exact dups -> identical signatures
    # jaccard estimation: near pair agrees on more hashes than far pair
    near = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    far = sum(a == b for a, b in zip(sigs[0], sigs[3]))
    assert near > far and near >= 16


def test_minhash_fast_arrow_batch_invariance(spark, docs):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    outs = []
    for n in ("1", "512"):
        spark.conf.set(key, n)
        outs.append(
            {r["doc_id"]: r["signature"]
             for r in D.minhash_signatures_fast(docs).collect()}
        )
    spark.conf.unset(key)
    assert outs[0] == outs[1]


def test_lsh_hot_bucket_cap_keeps_pairs_linear(spark):
    """Adversarial fixture: thousands of identical (and empty) docs all
    land in one LSH bucket per band — uncapped that bucket alone is
    ~n^2/2 pairs (the 100-TB quadratic blow-up).  With ``max_bucket``
    the degenerate buckets are dropped and pair output stays linear,
    while planted near-dups in healthy buckets are still found."""
    n_dup = 3000
    rows = [(i, "identical degenerate text repeated everywhere") for i in range(n_dup)]
    rows += [(n_dup + i, "") for i in range(500)]  # empty docs: same pathology
    rows += [
        (9001, "the quick brown fox jumps over the lazy dog"),
        (9002, "the quick brown fox jumps over the very lazy dog"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = D.lsh_dedup_pairs(df, n_hashes=16, n_bands=8, max_bucket=64)
    got = pairs.collect()
    # linear, not quadratic: without the cap this would be ~4.6M pairs
    assert len(got) <= 10
    assert (9001, 9002) in {(r["a"], r["b"]) for r in got}
    # the capped regime is owned by exact dedup: every dropped doc still
    # dedups via its content hash
    keep = D.exact_dedup(df)
    kept = keep.where(F.col("keep")).count()
    assert kept == 4  # one keeper per distinct text


def test_lsh_dedup_pairs_chain_on_fixture(docs):
    """Production chain (fast numpy signatures -> bands -> capped join)
    finds the planted exact+near dups and not the far pairs."""
    pairs = {
        (r["a"], r["b"])
        for r in D.lsh_dedup_pairs(docs, n_hashes=16, n_bands=8).collect()
    }
    assert (0, 1) in pairs
    assert (0, 2) in pairs or (1, 2) in pairs
    assert (3, 5) not in pairs and (0, 3) not in pairs


def test_simhash_identical_same_bucket(docs):
    sim = D.simhash(docs)
    rows = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    assert rows[0] == rows[1]
    groups = D.simhash_dup_groups(sim).collect()
    assert any(set(g["ids"]) >= {0, 1} for g in groups)


def test_dedup_clusters_transitive_and_keepers(spark):
    """A~B and B~C near-dups must land in ONE cluster (via CC) even if
    A~C never shared a band; keeper = min doc_id; singletons keep."""
    from deepie_spark.operators.dedup import dedup_clusters

    base = "the quick brown fox jumps over the lazy dog " * 8
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + "tail one"),      # near-dup of 1
            (3, base + "tail one more"),  # near-dup of 2 (and 1)
            (10, "completely different content about spark engines " * 6),
            (11, "completely different content about spark engines " * 6),
            (20, "a unique little document"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in dedup_clusters(docs, verify_threshold=0.5).collect()
    }
    assert got[1] == (1, True)
    assert got[2][0] == 1 and not got[2][1]
    assert got[3][0] == 1 and not got[3][1]
    assert got[10] == (10, True) and got[11] == (10, False)
    assert got[20] == (20, True)


def test_dedup_clusters_no_cartesian_plan(spark):
    """The verification join must be candidate-restricted: no
    BroadcastNestedLoopJoin / CartesianProduct anywhere in the plan."""
    from deepie_spark.operators.dedup import dedup_clusters

    docs = spark.createDataFrame(
        [(i, f"doc number {i} content") for i in range(20)],
        "doc_id bigint, text string",
    )
    plan = dedup_clusters(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_candidates_plan_is_pair_local(spark):
    """With a candidate set, the verify plan must contain NO gram-level
    self-join and NO explode at all: intersections are computed
    pair-locally via array_intersect after two doc-id joins.  (The old
    plan exploded grams and self-joined on the gram column, so one hot
    bigram shared corpus-wide still went quadratic — Catalyst pushes a
    left-semi below the aggregate but not below a join whose condition
    references both sides.)"""
    docs = spark.createDataFrame(
        [(i, f"tok{i} of the tail{i}") for i in range(50)],
        "doc_id bigint, text string",
    )
    cands = spark.createDataFrame([(1, 2), (3, 4)], "a bigint, b bigint")
    df = D.ngram_jaccard_pairs(docs, n=2, threshold=0.1, candidates=cands)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan  # no explode anywhere
    assert "array_intersect" in plan
    # exactly the two doc-id hash joins, nothing keyed on a gram
    assert plan.count("Join") <= 2


def test_jaccard_pair_local_equals_self_join_plan(spark):
    """The two physical plans of ngram_jaccard_pairs must agree: for
    random corpora, the pair-local candidates path restricted to ALL
    pairs produces exactly the self-join path's output (threshold > 0,
    where the plans are defined to be identical)."""
    import random

    rng = random.Random(31)
    vocab = ["alpha", "beta", "gamma", "of", "the", "spark", "x1", "x2"]
    for seed in range(3):
        rng.seed(seed)
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 12))))
            for i in range(25)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")
        all_pairs = spark.createDataFrame(
            [(a, b) for a in range(25) for b in range(a + 1, 25)],
            "a bigint, b bigint",
        )
        via_self = {
            (r["a"], r["b"]): round(r["jaccard"], 12)
            for r in D.ngram_jaccard_pairs(docs, n=2, threshold=0.3).collect()
        }
        via_pairs = {
            (r["a"], r["b"]): round(r["jaccard"], 12)
            for r in D.ngram_jaccard_pairs(
                docs, n=2, threshold=0.3, candidates=all_pairs
            ).collect()
        }
        assert via_self == via_pairs, seed


def test_jaccard_hot_gram_stays_linear_in_candidates(spark):
    """Adversarial fixture: EVERY doc shares the stop-word bigram
    'of the'.  The gram self-join form would build ~n^2/2 intermediate
    pairs (12.5M at n=5000) before any candidate restriction; the
    pair-local form touches only |candidates| rows.  Values must equal
    the python set-Jaccard twin exactly."""
    n = 5000
    docs = spark.createDataFrame(
        [(i, f"head{i} of the tail{i} more{i}") for i in range(n)],
        "doc_id bigint, text string",
    )
    cands = spark.createDataFrame(
        [(0, 1), (10, 4000), (123, 4567)], "a bigint, b bigint"
    )
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            docs, n=2, threshold=0.01, candidates=cands
        ).collect()
    }

    def grams(t, k=2):
        ws = t.lower().split(" ")
        return set(" ".join(ws[i : i + k]) for i in range(max(len(ws) - k + 1, 1)))

    for a, b in [(0, 1), (10, 4000), (123, 4567)]:
        ga = grams(f"head{a} of the tail{a} more{a}")
        gb = grams(f"head{b} of the tail{b} more{b}")
        want = len(ga & gb) / len(ga | gb)
        assert abs(got[(a, b)] - want) < 1e-12
    assert len(got) == 3  # nothing outside the candidate set


def _words(prefix, lo, hi):
    return " ".join(f"{prefix}{i}" for i in range(lo, hi))


# bigram counts in the comments; "shared" = bigrams in common
LENGTH_DOCS = [
    (0, _words("w", 0, 5)),                            # 4
    (1, _words("w", 0, 6)),                            # 5 ⊃ doc 0: J = ratio = 0.8
    (2, _words("w", 0, 40)),                           # 39
    (3, _words("w", 0, 50)),                           # 49 ⊃ doc 2: ratio 39/49 < 0.8
    (4, _words("w", 0, 36) + " " + _words("x", 0, 5)),  # 40, 35 shared with 2: J = 35/44
    (5, _words("w", 0, 10)),                           # 9
    (6, _words("w", 0, 9) + " x"),                     # 9, 8 shared with 5: J = 0.8
    (7, None),
    (8, None),
    (9, ""),
    (10, "one"),
    (11, "ONE"),
]


def _twin_jaccard(ta, tb, n=2):
    """Python set-Jaccard twin of ngram_jaccard_pairs (a null text
    splits like the empty string: one empty gram)."""

    def grams(t):
        ws = (t or "").lower().split(" ")
        return set(" ".join(ws[i : i + n]) for i in range(max(len(ws) - n + 1, 1)))

    ga, gb = grams(ta), grams(tb)
    return len(ga & gb) / len(ga | gb)


def test_jaccard_length_filter_boundary(spark):
    """The length filter (least/greatest gram count >= threshold, ahead
    of array_intersect) drops no pair that passes: pairs at exactly
    J = 0.8 (A ⊂ B with 4 and 5 grams, and equal sizes with 8 of 9
    shared), a size ratio just under the threshold, J just under it,
    null/empty/one-word texts, and threshold 0, where jaccard-0
    candidates are still emitted."""
    docs = spark.createDataFrame(LENGTH_DOCS, "doc_id bigint, text string")
    text = dict(LENGTH_DOCS)
    ids = sorted(text)
    cands = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "a bigint, b bigint"
    )
    twin = {(a, b): _twin_jaccard(text[a], text[b]) for a in ids for b in ids if a < b}

    df = D.ngram_jaccard_pairs(docs, n=2, threshold=0.8, candidates=cands)
    got = {(r["a"], r["b"]): r["jaccard"] for r in df.collect()}
    assert got == {k: j for k, j in twin.items() if j >= 0.8}
    assert got[(0, 1)] == 0.8 and got[(5, 6)] == 0.8
    assert (2, 3) not in got and (2, 4) not in got
    assert twin[(2, 3)] == 39 / 49 and twin[(2, 4)] == 35 / 44
    assert got[(7, 8)] == got[(7, 9)] == got[(8, 9)] == got[(10, 11)] == 1.0

    zero = D.ngram_jaccard_pairs(docs, n=2, threshold=0.0, candidates=cands)
    got0 = {(r["a"], r["b"]): r["jaccard"] for r in zero.collect()}
    assert got0 == twin
    assert got0[(0, 10)] == 0.0 and got0[(7, 10)] == 0.0

    # the length predicate is the join condition's first conjunct, so
    # array_intersect runs only on pairs that pass it
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    cond = next(
        line for line in plan.splitlines()
        if line.startswith("Join condition") and "array_intersect" in line
    )
    assert -1 < cond.find("least(") < cond.find("array_intersect")


def test_simhash_near_pairs_complete_vs_brute(spark):
    """Pigeonhole completeness: EVERY pair within hamming <= 3 of the
    16-bit simhash must be found (a pair differing in <= 3 bits leaves
    at least one of the 4 bands untouched), and nothing outside the
    ball is reported."""
    rng = __import__("random").Random(5)
    vocab = [f"w{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(vocab) for _ in range(12))) for i in range(60)],
        "doc_id bigint, text string",
    )
    sim = D.simhash(docs, n_bits=16)
    sims = {r["doc_id"]: r["simhash"] for r in sim.collect()}
    got = {
        (r["a"], r["b"]): r["hamming"]
        for r in D.simhash_near_pairs(sim, n_bits=16, max_hamming=3).collect()
    }
    want = {}
    ids = sorted(sims)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sims[a] ^ sims[b]).count("1")
            if h <= 3:
                want[(a, b)] = h
    assert got == want


def test_simhash_near_pairs_hot_band_cap(spark):
    """Degenerate corpora (hundreds of identical fingerprints) pile
    into every band bucket; the cap bounds the self-join output."""
    rows = [(i, "identical words all the way down") for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    sim = D.simhash(docs)
    capped = D.simhash_near_pairs(sim, max_bucket=50).count()
    assert capped == 0  # every band bucket holds 300 > 50 -> dropped


def test_simhash_dup_groups_truncates_degenerate_groups(spark):
    """A degenerate group (hundreds of identical fingerprints) reports
    its FULL size but materializes only the max_ids smallest members —
    bounded aggregation rows on any corpus."""
    rows = [(i, "identical words here") for i in range(500)]
    rows += [(900, "something else entirely"), (901, "something else entirely")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    groups = {r["n"]: r["ids"] for r in D.simhash_dup_groups(
        D.simhash(docs), max_ids=50).collect()}
    assert len(groups[500]) == 50 and groups[500] == sorted(groups[500])
    assert groups[500][0] == 0  # smallest ids kept (keeper side)
    assert groups[2] == [900, 901]
