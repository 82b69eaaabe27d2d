import random
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from deepie_spark.operators import canonicalize
from deepie_spark.operators.canonicalize import (
    _is_star_forest,
    canonicalize_entities,
    connected_components,
    node_id,
)
from deepie_spark.operators.linking import alias_dim_with_key, link_triples, norm_key_udf


def _cc_oracle(edges):
    """Union-find oracle."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for s, d in edges:
        union(s, d)
    # min-id representative
    comp = {}
    for n in list(parent):
        comp[n] = find(n)
    # path compress to true min: iterate until stable
    changed = True
    while changed:
        changed = False
        for n in comp:
            if comp[comp[n]] != comp[n]:
                comp[n] = comp[comp[n]]
                changed = True
    return comp


@contextmanager
def _sql_conf(spark, settings):
    """Set SQL confs for the block, then restore the previous values."""
    old = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# the round-0 cut in one partition, or in every shuffle partition
ONE_PARTITION = {"spark.sql.shuffle.partitions": "1"}
MANY_PARTITIONS = {"spark.sql.adaptive.coalescePartitions.enabled": "false"}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    want = _cc_oracle(edges)
    # same partition of nodes into clusters, with min-id labels
    assert got == want, (got, want)


def test_cc_two_triangles(spark):
    _check(spark, [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12)])


def test_cc_chain(spark):
    _check(spark, [(i, i + 1) for i in range(1, 30)])


def test_cc_star_with_hub(spark):
    _check(spark, [(100, i) for i in range(1, 40)])


def test_cc_self_loops_and_dups(spark):
    _check(spark, [(5, 5), (1, 2), (2, 1), (2, 3)])


def test_cc_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    nodes = list(range(1, 120))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    _check(spark, edges)


def test_cc_two_lineage_modes_identical(spark, tmp_path):
    """localCheckpoint (default) and reliable checkpoint() must produce
    identical components."""
    rng = random.Random(11)
    nodes = list(range(1, 80))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(100)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    want = _cc_oracle(edges)

    local = {r["node"]: r["component"] for r in connected_components(df).collect()}
    reliable = {
        r["node"]: r["component"]
        for r in connected_components(
            df, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert local == reliable == want
    # reliable mode really wrote RDD checkpoint files
    import os

    assert any(os.scandir(tmp_path / "ckpt"))


def test_cc_reads_edges_once_in_every_lineage_mode(spark, tmp_path):
    """The input edges are evaluated once: the round-0 cut holds them,
    and the node set is read from the cut, not from the raw edges
    (which would re-run the whole upstream chain — LSH and Jaccard
    verify in dedup_clusters — once per side of a src/dst union).  A
    row-counting accumulator in a mapInPandas upstream of the edges
    sees each input row exactly once per call.  The graph has a
    self-loop-only node (7) and a duplicated, reversed edge; both modes
    match union-find."""
    rng = random.Random(5)
    nodes = list(range(10, 60))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)]
    edges += [(7, 7), (1, 2), (2, 1), (2, 1), (2, 3)]
    want = _cc_oracle(edges)
    assert want[7] == 7
    src = spark.createDataFrame(edges, "src bigint, dst bigint").repartition(3)

    for mode in ({}, {"checkpoint_dir": str(tmp_path / "ckpt")}):
        seen = spark.sparkContext.accumulator(0)

        def counted(it, seen=seen):
            for pdf in it:
                seen.add(len(pdf))
                yield pdf

        df = src.mapInPandas(counted, "src bigint, dst bigint")
        got = {
            r["node"]: r["component"]
            for r in connected_components(df, **mode).collect()
        }
        assert got == want, mode
        assert seen.value == len(edges), mode


def test_cc_round_cap_raises_instead_of_wrong_components(spark, monkeypatch):
    """A chain cut over many partitions barely contracts in round 1, so
    it needs star rounds: with the cap at 2 rounds (the contraction and
    one star round) the edges are not yet a star forest, and the call
    raises instead of returning min(src) per dst of them."""
    edges = [(i, i + 1) for i in range(1, 40)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    monkeypatch.setattr(canonicalize, "MAX_ROUNDS", 2)
    with _sql_conf(spark, MANY_PARTITIONS), pytest.raises(RuntimeError):
        connected_components(df).collect()


def test_is_star_forest_hand_cases(spark):
    def star_forest(edges):
        return _is_star_forest(
            spark.createDataFrame(edges, "src bigint, dst bigint")
        )

    assert star_forest([(1, 2), (1, 3), (1, 4)])  # a star
    assert star_forest([(1, 2), (1, 3), (10, 11), (10, 12)])  # two stars
    assert not star_forest([(1, 2), (2, 3)])  # a path of length 2
    assert not star_forest([(1, 3), (2, 3)])  # a leaf with two roots
    assert star_forest([])  # no edges


def _random_graph(rng):
    """Disjoint chains, stars and cycles on shuffled ids, a few random
    cross links, self-loops, duplicated and reversed edges, and edges
    with a null endpoint."""
    ids = rng.sample(range(1, 10_000), 400)
    edges = []

    def take(k):
        return [ids.pop() for _ in range(k)]

    for _ in range(3):  # chains
        c = take(rng.randint(5, 30))
        edges += list(zip(c, c[1:]))
    for _ in range(3):  # stars
        hub, *leaves = take(rng.randint(3, 20))
        edges += [(hub, v) for v in leaves]
    for _ in range(2):  # cycles
        c = take(rng.randint(3, 12))
        edges += list(zip(c, c[1:] + c[:1]))
    used = sorted({n for e in edges for n in e})
    edges += [(rng.choice(used), rng.choice(used)) for _ in range(4)]
    edges += [(n, n) for n in take(2)]  # self-loop-only nodes
    edges += [(rng.choice(used),) * 2 for _ in range(2)]
    edges += [(b, a) for a, b in rng.sample(edges, 10)]  # reversed
    edges += rng.sample(edges, 10)  # duplicated
    edges += [(take(1)[0], None), (None, rng.choice(used)), (None, None)]
    rng.shuffle(edges)
    return edges


def _cc_oracle_nulls(edges):
    """Union-find over the edges without a null endpoint; every endpoint
    (null included) is a node, and a null node's component is null."""
    want = _cc_oracle(
        [(s, d) for s, d in edges if s is not None and d is not None]
    )
    for e in edges:
        for n in e:
            want.setdefault(n, n)
    return want


@pytest.mark.parametrize(
    "partitioning,seed", [(ONE_PARTITION, 3), (MANY_PARTITIONS, 4)],
    ids=["one", "many"],
)
def test_cc_random_graph_matches_union_find_in_every_mode(
    spark, tmp_path, monkeypatch, partitioning, seed
):
    """A random graph matches union-find in both lineage modes, with
    the round-0 cut in one partition (the contraction leaves a star
    forest: no star round runs) and in many (star rounds run after the
    contraction)."""
    edges = _random_graph(random.Random(seed))
    want = _cc_oracle_nulls(edges)
    assert None in want and len(set(want.values())) > 5
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    star_rounds = []
    large_star = canonicalize._large_star

    def spy(e):
        star_rounds.append(e)
        return large_star(e)

    monkeypatch.setattr(canonicalize, "_large_star", spy)
    with _sql_conf(spark, partitioning):
        for mode in ({}, {"checkpoint_dir": str(tmp_path / "ckpt")}):
            star_rounds.clear()
            got = {
                r["node"]: r["component"]
                for r in connected_components(df, **mode).collect()
            }
            assert got == want, mode
            if partitioning is ONE_PARTITION:
                assert len(star_rounds) == 0, mode
            else:
                assert len(star_rounds) >= 1, mode


# -- canonicalize_entities vs the connected-components path --------------

ALIAS_DDL = "alias string, canonical_id bigint, entity_type string, weight double"
SURFACES_DDL = "subject string, object map<string,string>"


def _cc_reference(linked, alias_dim, bc):
    """Reference entity clusters from the general operator:
    connected_components over alias-star edges (every alias node of a
    canonical_id to that id's min node), then min canonical_id per
    component.  A null or blank key is no node."""
    norm = norm_key_udf(bc)
    surf = (
        linked.select(norm("subject").alias("norm_key"))
        .union(linked.select(norm(F.col("object")["@value"]).alias("norm_key")))
        .where(F.col("norm_key") != "")
        .distinct()
        .withColumn("node", node_id("norm_key"))
    )
    keyed = alias_dim.where(F.col("norm_key").isNotNull())
    a = keyed.select(node_id("norm_key").alias("node"), "canonical_id").distinct()
    hub = a.groupBy("canonical_id").agg(F.min("node").alias("hub"))
    edges = (
        a.join(hub, "canonical_id")
        .where(F.col("node") != F.col("hub"))
        .select(F.col("node").alias("src"), F.col("hub").alias("dst"))
    )
    comp = connected_components(edges)
    out = surf.join(comp, "node", "left").withColumn(
        "component", F.coalesce("component", F.col("node"))
    )
    best = (
        keyed.select(node_id("norm_key").alias("node"), "canonical_id")
        .join(comp, "node", "left")
        .withColumn("component", F.coalesce("component", F.col("node")))
        .groupBy("component")
        .agg(F.min("canonical_id").alias("cluster_canonical_id"))
    )
    return out.join(best, "component", "left")


def _assert_same_clusters(linked, alias_dim, bc):
    got = canonicalize_entities(linked, alias_dim)
    want = _cc_reference(linked, alias_dim, bc)
    assert got.columns == want.columns
    got_rows = sorted(tuple(r) for r in got.collect())
    assert got_rows == sorted(tuple(r) for r in want.collect())
    return got_rows


@pytest.fixture(scope="module")
def bc(spark, extractor):
    return spark.sparkContext.broadcast(extractor)


def test_canonicalize_equals_cc_path_on_synth_corpus(spark, extractor, bc):
    from deepie_spark.operators.extract import extract_triples_fused
    from deepie_spark.sources.synth import corpus_dataframes

    pages_df, _gold, alias_df = corpus_dataframes(spark, 120)
    alias_dim = alias_dim_with_key(alias_df, bc)
    linked = link_triples(extract_triples_fused(pages_df, bc), alias_dim, bc)
    rows = _assert_same_clusters(linked, alias_dim, bc)
    # not vacuous: some surfaces match aliases, some do not
    assert any(r[3] is not None for r in rows)
    assert any(r[0] == r[1] and r[3] is None for r in rows)
    # the dictionary really has norm_keys shared across canonical ids
    shared = (
        alias_dim.groupBy("norm_key")
        .agg(F.countDistinct("canonical_id").alias("n"))
        .where("n > 1")
        .count()
    )
    assert shared > 0


HOSTILE_ALIASES = [
    # chained ambiguity: 1-2 share "bravo", 2-3 "charlie", 3-4 "delta"
    ("alpha", 1, "PER", 1.0), ("bravo", 1, "PER", 1.0),
    ("bravo", 2, "PER", 0.5), ("charlie", 2, "PER", 1.0),
    ("charlie", 3, "ORG", 1.0), ("delta", 3, "ORG", 1.0),
    ("delta", 4, "ORG", 1.0), ("echo", 4, "ORG", 1.0),
    # one norm_key shared by three canonical ids
    ("hub name", 10, "LOC", 1.0), ("hub name", 11, "LOC", 1.0),
    ("hub name", 12, "LOC", 1.0), ("ten only", 10, "LOC", 1.0),
    ("eleven only", 11, "LOC", 1.0), ("twelve only", 12, "LOC", 1.0),
    # null canonical ids: each stays its own singleton ...
    ("null one", None, "PER", 1.0), ("null two", None, "PER", 1.0),
    ("null three", None, "PER", 1.0),
    # ... unless its key also belongs to a real id
    ("alpha", None, "PER", 0.1),
    # an isolated entity
    ("solo", 20, "ORG", 1.0),
]


def _hostile_linked(spark, alias_dim, bc):
    """Hand-built (subject, object) triples, linked so that they carry
    the normalized key columns canonicalize_entities reads."""
    surfaces = [
        "alpha", "echo", "hub name", "ten only", "twelve only", "null one",
        "null two", "null three", "solo", "not in the dictionary",
        "another stranger",
    ]
    rows = [
        (s, {"@value": o}) for s, o in zip(surfaces, reversed(surfaces))
    ]
    rows.append(("bravo", {"@value": None}))
    return link_triples(spark.createDataFrame(rows, SURFACES_DDL), alias_dim, bc)


def test_canonicalize_equals_cc_path_on_hostile_dictionary(spark, bc):
    alias_dim = alias_dim_with_key(
        spark.createDataFrame(HOSTILE_ALIASES, ALIAS_DDL), bc
    )
    rows = _assert_same_clusters(_hostile_linked(spark, alias_dim, bc), alias_dim, bc)
    norm = {r[2]: r for r in rows}
    key = {s: " ".join(bc.value._alias_tokens(s)) for s, *_ in HOSTILE_ALIASES}
    chain = {norm[key[s]][0] for s in ("alpha", "bravo", "echo")}
    assert len(chain) == 1 and norm[key["echo"]][3] == 1
    hub = {norm[key[s]][0] for s in ("hub name", "ten only", "twelve only")}
    assert len(hub) == 1 and norm[key["twelve only"]][3] == 10
    nulls = [norm[key[s]] for s in ("null one", "null two", "null three")]
    assert len({r[0] for r in nulls}) == 3
    assert all(r[0] == r[1] and r[3] is None for r in nulls)
    assert norm[key["solo"]][3] == 20


def test_canonicalize_equals_cc_path_on_empty_dictionary(spark, bc):
    alias_dim = alias_dim_with_key(spark.createDataFrame([], ALIAS_DDL), bc)
    rows = _assert_same_clusters(_hostile_linked(spark, alias_dim, bc), alias_dim, bc)
    assert rows and all(r[0] == r[1] and r[3] is None for r in rows)


def test_blank_keys_link_nothing(spark, bc):
    """A blank alias keys to null, as a blank surface does: neither
    links, neither is a cluster member, and two ids that both have a
    blank alias stay apart."""
    alias_dim = alias_dim_with_key(
        spark.createDataFrame(HOSTILE_ALIASES + [
            ("", 50, "PER", 1.0), ("fifty", 50, "PER", 1.0),
            ("  ", 51, "PER", 1.0), ("fifty one", 51, "PER", 1.0),
        ], ALIAS_DDL),
        bc,
    )
    assert alias_dim.where("alias in ('', '  ') and norm_key is not null").isEmpty()
    triples = spark.createDataFrame(
        [("fifty", {"@value": ""}), ("fifty one", {"@value": "  "}),
         ("alpha", {"@value": "fifty"})],
        SURFACES_DDL,
    )
    linked = link_triples(triples, alias_dim, bc)
    got = {r["subject"]: r for r in linked.collect()}
    for subject, cid in (("fifty", 50), ("fifty one", 51)):
        assert got[subject]["subject_id"] == cid
        assert got[subject]["object_id"] is None
        assert got[subject]["object_value_norm_key"] is None
    assert got["alpha"]["object_id"] == 50
    rows = _assert_same_clusters(linked, alias_dim, bc)
    assert all(r[2] for r in rows)
    key = {s: " ".join(bc.value._alias_tokens(s)) for s in ("fifty", "fifty one")}
    by_key = {r[2]: r for r in rows}
    assert by_key[key["fifty"]][0] != by_key[key["fifty one"]][0]
    assert by_key[key["fifty"]][3] == 50 and by_key[key["fifty one"]][3] == 51
