"""Distributed connected components for duplicate-cluster resolution.

Near-dup detection (MinHash-LSH / SimHash banding, ``operators/textdedup.py``)
emits PAIRS; a curation pipeline must turn those pairs into CLUSTERS and keep
one canonical document per cluster — pairwise "drop b of (a,b)" over-deletes
whenever duplicates chain (a~b, b~c, a!~c would drop both b and c). This is
the grouping step every large-scale dedup stack runs between LSH and the
keep-one decision.

Algorithm: two phases.

1. *Local contraction* (the local step of Kiveris et al., "Connected
   Components in MapReduce and Beyond", SoCC 2014): one ``mapInArrow`` pass
   solves every input partition exactly with a vectorized numpy kernel
   (``local_components``) and replaces the partition's edges by one star
   edge ``(node, local_min)`` per node it saw — the partition's roots as
   ``(root, root)``, so self-loop-only nodes and every endpoint survive.
   The result is exact: every star edge joins two nodes of one input
   component, and every input edge lies inside one local component, so the
   star graph has exactly the input's components. Memory is bounded by the
   partition: the kernel holds one partition's endpoints as int64 arrays,
   like a sort buffer, never a whole component of the global graph.
2. *Global hook+jump* over the star edges: iterative min-label propagation
   with POINTER JUMPING — each round (1) *hook*: every node takes the
   minimum label over itself and its neighbors; (2) *jump*: every node
   replaces its label by its label's label (path halving). The jump step is
   what turns the O(diameter) naive propagation into O(log n) rounds
   (Shiloach-Vishkin style). Components that one partition holds whole
   (the usual case for a pair set after AQE coalescing) arrive already
   labelled, so the loop only has to confirm them; only components split
   across partitions still converge over several rounds.

Scale design (the reason this is a driver loop, not a recursive SQL):
* each round is two shuffles (neighbor-min aggregation keyed by node, label
  self-join keyed by label) over ONE row per node/edge — no transitive
  closure is ever materialized (the SQL-oracle formulation materializes
  O(sum |C|^2) reachability rows, fine at test scale, fatal at 10^10 docs);
* a round costs ~a dozen Spark jobs whatever the graph size, so on dedup
  pair sets (thousands to millions of edges) the cost is rounds, not rows —
  the local phase removes rounds, and its star output is never larger than
  the input's endpoint list;
* labels monotonically decrease, so convergence ("no row changed this
  round") is a well-founded fixpoint, detected for FREE: the pre-round label
  rides through hook+jump as a column and an ``Observation`` counts changed
  rows during the very job that materializes the round's checkpoint — no
  dedicated probe job, no join against the previous label table (which cost
  one extra pass over all labels per round);
* every round ends in ``localCheckpoint`` — the plan would otherwise grow
  by two joins per round and re-plan the whole history each action (the
  standard iterative-algorithm lineage trap).

At the fixpoint each component's label is exactly its minimum node id: labels
start as node ids, only values that are node ids of the same component ever
propagate (edges stay within components), and any edge (u,v) with differing
labels would still change in the next hook — so stability implies
per-component constancy, and the minimum node keeps its own id.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def local_components(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact connected components of the edges ``(u[i], v[i])``: returns
    ``(nodes, comp)``, every distinct endpoint once (ascending) with the
    minimum node id of its component. Pure numpy, no per-edge Python.

    Endpoints are re-indexed densely with ``np.unique`` (sorted, so a smaller
    index is a smaller node id). Each round hooks the larger of every edge's
    two tree roots onto the smaller (``np.minimum.at``), then pointer-jumps
    until every label is a root again. Roots only ever point at smaller
    indices, so the forest stays acyclic, each root is its tree's minimum,
    and the number of trees falls every round until no edge joins two
    trees. Edges already inside one tree are dropped, so the edge list
    contracts as the trees grow."""
    nodes, idx = np.unique(np.concatenate((u, v)), return_inverse=True)
    a, b = idx[: len(u)], idx[len(u) :]
    lab = np.arange(len(nodes))
    while True:
        la, lb = lab[a], lab[b]
        live = la != lb
        if not live.any():
            return nodes, nodes[lab]
        a, b, la, lb = a[live], b[live], la[live], lb[live]
        lo = np.minimum(la, lb)
        np.minimum.at(lab, la, lo)
        np.minimum.at(lab, lb, lo)
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped


def _contract_partition(batches: Iterator) -> Iterator:
    """``mapInArrow`` body: one partition's ``(u, v)`` edges in, one star
    edge ``(node, local_min)`` per endpoint out."""
    import pyarrow as pa

    us, vs = [], []
    for batch in batches:
        us.append(batch.column(0).to_numpy())
        vs.append(batch.column(1).to_numpy())
    if not us:
        return
    nodes, comp = local_components(np.concatenate(us), np.concatenate(vs))
    if len(nodes):
        yield pa.RecordBatch.from_arrays([pa.array(nodes), pa.array(comp)], ["u", "v"])


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 30,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component is
    the minimum node id of its connected component. Node ids are integers
    (returned as long); edges with a null endpoint are ignored.

    Two phases (module docstring): ``local_components`` solves each input
    partition in one ``mapInArrow`` pass — memory bounded by the partition,
    which the kernel holds as two int64 endpoint arrays; its worker imports
    only numpy and pyarrow — then the hook+jump loop below runs on the star
    edges it emits.

    ``max_iter`` bounds the driver loop; with path halving the label chain
    length at least halves per round, so rounds needed ≈ log2(longest chain)
    + a small constant (a 64-node path split across partitions converges in
    ~10). 30 rounds covers chains up to ~2^26 nodes — beyond that (or on
    adversarial topologies) the loop must NOT silently return partial labels
    (split clusters would each elect a "keeper", silently
    under-deduplicating), so exhausting ``max_iter`` without reaching the
    fixpoint raises.
    """
    stars = (
        edges.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .dropna()
        .mapInArrow(_contract_partition, "u long, v long")
    )
    # both edge directions from ONE pass over the star edges: the former
    # e.union(e.swapped) planned the caller's whole pair-generation pipeline
    # (LSH band join at minimum) once per union branch — the explode emits
    # (u,v) and (v,u) from each row of a single scan instead
    sym = (
        stars.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .distinct()
    )
    # the edge list is consumed once per round — compute it once
    sym = sym.localCheckpoint(eager=True)
    # label init FUSED with the first hook: with comp0(v) = v, round 1's
    # neighbor-min is simply min(v) per u, so labels start at
    # min(u, min neighbor) from one aggregate over sym — this replaces the
    # former select(u).distinct() init checkpoint AND the first loop round
    # (the fixpoint is the same monotone limit from any point on its path)
    labels = (
        sym.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("comp"))
        .select(F.col("u").alias("node"), "comp")
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Observation

    for _ in range(max_iter):
        # hook: comp(v) <- min(comp(v), min over neighbors' comp)
        nmin = (
            sym.join(
                labels.select(F.col("node").alias("v"), F.col("comp").alias("_vc")), "v"
            )
            .groupBy("u")
            .agg(F.min("_vc").alias("_nmin"))
            .withColumnRenamed("u", "node")
        )
        # pinned: the jump self-join consumes hooked TWICE — unpinned, the
        # neighbor-min aggregation above would execute once per join side.
        # The pre-round label rides along as `old` so the fixpoint check
        # never needs to join back to the previous label table.
        hooked = (
            labels.join(nmin, "node", "left")
            .select(
                "node",
                F.col("comp").alias("old"),
                F.least("comp", F.coalesce("_nmin", "comp")).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        # jump: comp(v) <- comp(comp(v)) — path halving; comp values are
        # always node ids, so the self-join on the label table total
        jumped = (
            hooked.alias("l")
            .join(
                hooked.select(
                    F.col("node").alias("_c"), F.col("comp").alias("_cc")
                ).alias("r"),
                F.col("l.comp") == F.col("r._c"),
                "left",
            )
            .select(
                F.col("l.node").alias("node"),
                F.coalesce("_cc", "l.comp").alias("comp"),
                F.col("l.old").alias("old"),
            )
        )
        # jumped reads only checkpointed inputs; pin it so the next round
        # plans against stored rows. The convergence count rides the SAME
        # materialization job as an Observation (labels only decrease, so
        # "any comp != its pre-round value" is exactly "not yet a fixpoint")
        # — the probe is free instead of one extra labels-pass per round.
        obs = Observation()
        new_labels = jumped.observe(
            obs, F.count_if(F.col("comp") != F.col("old")).alias("changed")
        ).localCheckpoint(eager=True)
        changed = obs.get["changed"]
        labels = new_labels.select("node", "comp")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge within max_iter={max_iter} "
        "rounds; returning partial labels would split clusters — raise "
        "max_iter (rounds needed ~ log2(longest label chain))"
    )


def dedup_clusters(pairs: DataFrame, src: str = "a", dst: str = "b") -> DataFrame:
    """Cluster assignment + keep-one decision from a near-dup pair set:
    (doc_id, cluster_id, cluster_size, is_keeper).

    ``cluster_id`` is the minimum doc_id of the cluster and its ``is_keeper``
    row marks the canonical survivor (min-id-wins, the deterministic analog
    of the crawl engine's first-wins content dedup — see
    /root/reference/internal/parser/parser.go content-hash skip). Documents
    with no near-dup pair are singletons and are not emitted — the caller
    keeps them unconditionally (an anti-join against the non-keeper rows).

    ``cluster_size`` is stamped with a map-side-combinable
    ``groupBy("comp").count()`` joined back on ``comp`` — NOT a
    ``Window.partitionBy("comp")``: a window forces every row of a component
    into one task buffer, and web-scale near-dup graphs reliably contain one
    giant component (boilerplate templates chain 10^7-10^8 docs), which would
    OOM that task. The aggregate side is one row per component, so the join
    back is skew-tolerant (AQE splits the big build-side scan partitions).
    ``is_keeper`` is a plain comparison — no ordering over the component.
    """
    cc = connected_components(pairs, src=src, dst=dst)
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "comp").select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        F.col("cluster_size"),
        (F.col("node") == F.col("comp")).alias("is_keeper"),
    )


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed link graph: (node, rank),
    rank rounded to 9 dp (float summation order differs across engines and
    partitionings; the rounded value is the deterministic result).

    This is THE canonical crawl-scheduling signal: production crawlers order
    their frontier by (a variant of) the link-graph rank of the page or its
    host — the reference's priority queue
    (/root/reference/internal/frontier/frontier.go) takes the priority as a
    given; this operator is how a Spark pipeline would compute it between
    crawl rounds from the links the parser already extracts.

    Semantics: the standard power iteration
    ``r'(v) = (1-d)/n + d * sum_{u->v} r(u)/outdeg(u)`` run exactly
    ``iters`` rounds from the uniform start — fixed iteration count, not a
    convergence test, so the result is deterministic and SQL-unrollable for
    the oracle. Dangling nodes (no out-edges) leak their mass — the simple
    published variant; redistribute-to-all costs one extra one-row aggregate
    per round if ever needed.

    Scale design: out-degrees join the edge list ONCE before the loop and
    the weighted edge table is checkpointed; each round is then exactly one
    broadcast-or-shuffle equi-join (ranks onto edges, keyed by src) plus one
    map-side-combinable hash aggregate (contributions by dst) plus a left
    join back to the node set — no transitive structure is ever
    materialized, and ``localCheckpoint`` per round truncates the lineage
    (same iterative-plan discipline as ``connected_components``). In-degree
    hot spots (every web graph has them) hit only the AGGREGATE side, which
    partial-combines map-side; no task ever buffers a neighborhood.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    # compute the caller's edge pipeline ONCE: four consumers below (both
    # node-set union branches, out-degrees, the weighted join) would each
    # re-plan it — for host_rank that subtree is the full page parse
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        eager=True
    )
    nodes = (
        e.select("u").union(e.select(F.col("v").alias("u"))).distinct()
        .select(F.col("u").alias("node"))
        .localCheckpoint(eager=True)
    )
    n = nodes.count()  # post-checkpoint count: a cheap stored-rows scan
    if n == 0:
        raise ValueError("pagerank: empty edge set (no nodes to rank)")
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
    weighted = e.join(deg, "u").localCheckpoint(eager=True)
    teleport = (1.0 - damping) / n
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        contribs = (
            weighted.join(
                ranks.select(F.col("node").alias("u"), F.col("rank").alias("_r")), "u"
            )
            .groupBy("v")
            .agg(F.sum(F.col("_r") / F.col("outdeg")).alias("_in"))
        )
        ranks = (
            nodes.join(contribs.withColumnRenamed("v", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.round("rank", 9).alias("rank"))


def host_link_graph(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """The host-level link graph from raw pages: (src_host, dst_host,
    n_links), self-links and unparseable targets dropped.

    This is the input PageRank-style frontier prioritisation runs on — one
    tree parse per page via the SAME Arrow-batched kernel the crawl round
    uses (functions/udfs.py::parse_page_udf, byte-identical semantics to
    the reference's parser, parser.go:131-144), links exploded JVM-side,
    then ONE map-side-combinable aggregate keyed by (src_host, dst_host).
    Page payloads never shuffle — only the exploded host pairs do, already
    pre-combined per partition; hub hosts (every web graph has them) are
    spread by the composite key.
    """
    from nimbus_crawler_spark.functions.udfs import hostname_udf, parse_page_udf

    parsed = pages.select(
        hostname_udf(F.col(url_col)).alias("src_host"),
        parse_page_udf(F.col(html_col), F.col(url_col)).alias("_p"),
    )
    return (
        parsed.select("src_host", F.explode("_p.links").alias("_link"))
        .select("src_host", hostname_udf(F.col("_link")).alias("dst_host"))
        .where(
            F.col("dst_host").isNotNull() & (F.col("dst_host") != F.col("src_host"))
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def host_rank(
    pages: DataFrame, iters: int = 5, damping: float = 0.85
) -> DataFrame:
    """Host-level PageRank straight from raw pages: (host, rank) — the
    composition a crawler runs between rounds to reprioritise its frontier
    (distinct host→host edges, the conventional host-graph formulation)."""
    edges = host_link_graph(pages).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    return pagerank(edges, iters=iters, damping=damping).withColumnRenamed(
        "node", "host"
    )


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """The deduplicated corpus: every document that survives the keep-one
    decision — (doc_id, cluster_size), with cluster_size = 1 for documents
    that had no near-dup pair at all (singletons pass through untouched).

    This is the terminal step of the dedup pipeline (LSH pairs →
    ``dedup_clusters`` → survivor set): the output ids are exactly the
    documents a training run would keep. The reference's crawl-side analog
    is first-wins content dedup (the parser's content-hash skip) — here the
    winner is the cluster's minimum id, the restart-stable choice.

    Scale design: ONE left equi-join of the corpus against the cluster
    table, keyed on doc_id (high-cardinality, skew-free), then a filter.
    An earlier shape used an anti-join (losers) plus a second join (keeper
    sizes), which planned the cluster-size aggregate subtree twice; joining
    the cluster table once and filtering ``is_keeper IS NULL OR is_keeper``
    carries the same information through half the exchanges. The CC
    machinery only ever touches documents that appear in a pair — at
    production near-dup rates (a few percent of the corpus) the cluster
    table is a small fraction of the probe side, and the overwhelming
    singleton majority streams straight through as join misses.
    """
    cc = dedup_clusters(pairs, src=src, dst=dst).select(
        "doc_id", "cluster_size", "is_keeper"
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(cc, "doc_id", "left")
        .where(F.col("is_keeper").isNull() | F.col("is_keeper"))
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_size"), F.lit(1).cast("long")).alias(
                "cluster_size"
            ),
        )
    )
