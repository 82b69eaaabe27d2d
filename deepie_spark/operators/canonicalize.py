"""Entity canonicalization, and connected components over a graph.

No reference analogue (its entity-linking module is empty) — this is
the north rule's "distributed canonicalization via connected-components
over a salted entity-similarity graph".

Entity clusters (``canonicalize_entities``): nodes are normalized
surface keys hashed to int64.  Two aliases of one canonical_id share
a cluster, so an alias shared by two entities merges theirs; a surface
joins a cluster by equal normalized key (same node id).  The keys are
the ones ``link_triples`` already computed and kept as columns of
``linked``, so canonicalization runs no Python over triple rows.
Triples add no edges, so the graph is the alias dictionary the
extractor already broadcasts whole: ``alias_components`` solves it by a
driver-side union-find over the dimension ``alias_dim_with_key`` keyed
on the driver (a local DataFrame, so reading it runs no Spark job), and
one broadcast join applies it (no fixpoint, no shuffle of the triple
side).  A null key — a null or blank alias — is no node.

General operator (``connected_components``, for data-sized graphs:
``dedup_clusters`` and the CC query).  Round 1 is a partition-local
union-find contraction (one ``mapInPandas``: every node to its
partition-local component min); the rounds after it alternate
large-star / small-star (Kiveris et al., "Connected Components in
MapReduce and Beyond", SOCC'14 — public), all DataFrame joins, with a
lineage cut each round (``localCheckpoint`` by default; reliable
``checkpoint()`` on request — see ``connected_components``).  The loop
stops as soon as the edge set is a star forest (``_is_star_forest``: one
aggregation and an emptiness check), which is the large-star/small-star
fixpoint.  A graph whose edges fit one partition is a star forest after
the contraction; a call that reaches ``MAX_ROUNDS`` without one raises.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# rounds one connected_components call may run, the contraction included
MAX_ROUNDS = 25


def _canon_edges(edges: DataFrame) -> DataFrame:
    """Undirected edge normal form: src < dst, deduped, no self loops."""
    e = edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    )
    return e.where(F.col("src") != F.col("dst")).distinct()


def _is_star_forest(e: DataFrame) -> bool:
    """True when the canonical (src < dst, distinct) edges ``e`` form a
    star forest: every dst has degree 1, so it is a leaf hung from a
    smaller root, and no dst is two edges' leaf or another edge's root.
    Then every component is a star rooted at its min id, which
    large-star and small-star leave unchanged — their fixpoint.  One
    aggregation over the edges, then an emptiness check."""
    roles = e.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("node"), F.lit(0).alias("is_dst")),
                F.struct(F.col("dst").alias("node"), F.lit(1).alias("is_dst")),
            )
        ).alias("r")
    ).select("r.*")
    per_node = roles.groupBy("node").agg(
        F.max("is_dst").alias("is_dst"), F.count(F.lit(1)).alias("degree")
    )
    return per_node.where(
        (F.col("is_dst") == 1) & (F.col("degree") > 1)
    ).isEmpty()


def _min_roots(pairs, nodes=()) -> dict:
    """Union-find: {node: root} for every node of ``nodes`` and of the
    ``pairs``, in first-seen order, where root is the min id of the
    node's component."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for n in nodes:
        parent.setdefault(n, n)
    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # every root is its min
    return {n: find(n) for n in parent}


def _contract_partition(batches):
    """mapInPandas body: union-find over every edge of the partition,
    then (local min, node) for every node that is not its local root.
    The edges out connect exactly the nodes the edges in connected
    within this partition, so the components of the whole graph are
    unchanged; a graph held by one partition comes out a star forest."""
    import pandas as pd

    roots = _min_roots(
        pair
        for pdf in batches
        for pair in zip(pdf["src"].tolist(), pdf["dst"].tolist())
    )
    pairs = [(r, n) for n, r in roots.items() if r != n]
    if pairs:
        yield pd.DataFrame(pairs, columns=["src", "dst"])


def _min_neighbor(directed: DataFrame) -> DataFrame:
    """(src, m = min(dst ∪ {src})) as ONE partial-aggregated min.

    Hub safety without salting: ``min`` is algebraic, so Spark's
    HashAggregate computes per-partition partial minima BEFORE the
    exchange — a hub node with 10^6 edges ships one partial min per
    map partition, never its raw edge list, which is exactly what the
    previous explicit salted two-phase form achieved at the cost of a
    SECOND shuffle per star operation (2 extra exchanges per CC
    round).  Explicit salting remains the right tool for non-algebraic
    aggregations (collect_list and friends); for min it was redundant
    work."""
    return (
        directed.groupBy("src")
        .agg(F.min("dst").alias("_pm"))
        .select("src", F.least(F.col("_pm"), F.col("src")).alias("m"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to m = min(N(u) ∪ {u})."""
    nbrs = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = _min_neighbor(nbrs)
    return (
        nbrs.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each u, connect all neighbors v <= u (and u) to their min."""
    # direct edges so that src >= dst
    d = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    m = _min_neighbor(d)
    out = (
        d.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(m.select(F.col("src"), F.col("m").alias("dst")))
    )
    return out


def _round0(edges: DataFrame) -> DataFrame:
    """Every input edge once as (least, greatest), self-loops and null
    endpoints kept: the round-0 cut and the node set's only source.
    ``when``, not ``least``/``greatest`` (which skip nulls), so a null
    endpoint stays a node of the output, as it is of the input."""
    swap = F.col("src") > F.col("dst")
    return edges.select(
        F.when(swap, F.col("dst")).otherwise(F.col("src")).alias("src"),
        F.when(swap, F.col("src")).otherwise(F.col("dst")).alias("dst"),
    ).distinct()


def connected_components(
    edges: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """edges(src bigint, dst bigint) -> (node bigint, component bigint)
    where component = min node id of the cluster.

    ``edges`` is evaluated once: the round-0 cut holds every input edge
    once as (least, greatest), self-loops included; the node set is
    read from that cut, and round 1 starts from it minus the self-loops.
    A node whose only edge is a self-loop is its own component.  (A
    node set read from the raw ``edges`` would make the final action
    re-run the whole upstream chain — for ``dedup_clusters``, LSH and
    Jaccard verification — once per side of the src/dst union.)

    Round 1 is a partition-local union-find contraction: one
    ``mapInPandas`` over the cut's partitions emits (local min, node)
    for every node that is not its partition's root, deduped across
    partitions.  Every later round is one large-star + small-star step,
    run only while the edge set is not yet a star forest
    (``_is_star_forest``, tested before each such round): a star forest
    is their fixpoint, so the loop stops there with no confirmation
    round.  A cut that AQE coalesces to one partition is a star forest
    after the contraction, and no star round runs.  A call that runs
    ``MAX_ROUNDS`` rounds, counting the contraction as one, without
    reaching a star forest raises ``RuntimeError``: below the fixpoint,
    min(src) per dst is not the component.

    Lineage modes for the per-round cut (each CC round builds joins on
    the previous round's output; without a cut the plan deepens
    geometrically):

    - default: ``localCheckpoint`` — cheapest (executor-local blocks),
      correct for lineage-cutting, but NOT executor-loss-safe: losing a
      cached block on a real cluster fails the job;
    - ``checkpoint_dir``: ``DataFrame.checkpoint()`` to reliable
      storage (HDFS/S3) — executor loss recovers from the checkpoint
      files, the right mode for long CC runs on a 1000-executor
      cluster.

    Both modes produce identical components (tested)."""
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def cut(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    r0 = cut(_round0(edges))
    local = r0.where(F.col("src") != F.col("dst")).mapInPandas(
        _contract_partition, "src bigint, dst bigint"
    )
    e = cut(_canon_edges(local))
    for _ in range(MAX_ROUNDS - 1):
        if _is_star_forest(e):
            break
        e = cut(_canon_edges(_small_star(_large_star(e))))
    else:
        if not _is_star_forest(e):
            raise RuntimeError(
                f"connected_components: no star forest after {MAX_ROUNDS} "
                "rounds; the components would be wrong"
            )
    nodes = (
        r0.select(F.col("src").alias("node"))
        .union(r0.select(F.col("dst").alias("node")))
        .distinct()
    )
    # edges are kept in canonical (src < dst) form, so at convergence
    # each edge reads (component_root, member)
    comp = e.select(F.col("dst").alias("node"), F.col("src").alias("component"))
    comp = comp.groupBy("node").agg(F.min("component").alias("component"))
    return (
        nodes.join(comp, "node", "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )


def node_id(col):
    """Stable int64 node id for a normalized surface key."""
    return F.xxhash64(col)


def alias_components(alias_dim: DataFrame) -> DataFrame:
    """(node, component, cluster_canonical_id) for every alias node:
    the min node id and min canonical_id of its cluster.  Driver-side
    union-find over the distinct (node, canonical_id) pairs of the keyed
    aliases; a null norm_key or canonical_id links nothing, as under an
    equi-join.  Over the local dimension ``alias_dim_with_key`` returns,
    the collect runs no Spark job (pairs are deduplicated here, not by a
    ``distinct``), and the result is a local DataFrame too."""
    import pyarrow as pa

    rows = dict.fromkeys(
        tuple(r) for r in alias_dim.where(F.col("norm_key").isNotNull())
        .select(node_id("norm_key").alias("node"), "canonical_id")
        .collect()
    )
    first: dict = {}  # canonical_id -> its first alias node
    for node, cid in rows:
        if cid is not None:
            first.setdefault(cid, node)
    roots = _min_roots(
        ((node, first[cid]) for node, cid in rows if cid is not None),
        nodes=(node for node, _ in rows),
    )
    best: dict = {}
    for node, cid in rows:
        if cid is not None:
            r = roots[node]
            best[r] = min(best.get(r, cid), cid)
    cid_type = alias_dim.schema["canonical_id"].dataType.simpleString()
    return alias_dim.sparkSession.createDataFrame(
        pa.table({
            "node": list(roots),
            "component": list(roots.values()),
            "cluster_canonical_id": [best.get(c) for c in roots.values()],
        }),
        f"node bigint, component bigint, cluster_canonical_id {cid_type}",
    )


def canonicalize_entities(
    linked_triples: DataFrame, alias_dim: DataFrame
) -> DataFrame:
    """(component, node, norm_key, cluster_canonical_id) for every
    distinct subject/object surface of ``link_triples``' output, read
    from its normalized key columns (no Python over triple rows); a
    surface matching no alias is its own cluster (component = node,
    cluster_canonical_id null)."""
    from deepie_spark.operators.linking import NORM_KEY_COLS

    subject_key, object_key = NORM_KEY_COLS
    surfaces = (
        linked_triples.select(F.col(subject_key).alias("norm_key"))
        .union(linked_triples.select(F.col(object_key).alias("norm_key")))
        .where(F.col("norm_key").isNotNull())
        .distinct()
    )
    return (
        surfaces.withColumn("node", node_id("norm_key"))
        .join(F.broadcast(alias_components(alias_dim)), "node", "left")
        .select(
            F.coalesce("component", F.col("node")).alias("component"),
            "node", "norm_key", "cluster_canonical_id",
        )
    )
