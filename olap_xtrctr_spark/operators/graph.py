"""Distributed connected components — the transitive-closure primitive
behind duplicate-GROUP labeling (pairwise near-dup tables only say
"a~b"; corpus curation needs "a,b,c are ONE group" even when a~c was
never emitted).

Algorithm: alternating Large-Star / Small-Star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — each round
is one groupBy(min) + one join over the edge list, and the edge set
contracts toward a star per component in O(log n) rounds (vs the
O(diameter) of naive min-label propagation, which a 25-node dup CHAIN
would drag to 24 rounds).  No collect(), no driver-side graph: the
edge list stays distributed; each round's output is
``localCheckpoint``-ed so the iterative lineage cannot snowball into
an exponential plan.

Convergence: a round that changes nothing (same edge multiset) ends
the loop — checked with one tiny aggregate (count + order-independent
xxhash64 checksum), not a full except().

Reference parity note: the reference engine has no graph operator
(verified — SURVEY §2); this is part of the beyond-reference pipeline
surface (dup-group consolidation for keep-one-per-group dedup).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_ROUNDS = 50     # ~log2(n) expected; 50 is a loud-failure backstop


def _canon(edges: DataFrame) -> DataFrame:
    """Drop self-loops, orient u > v (parent-pointer convention:
    every edge points from a node to a SMALLER candidate root), and
    dedup."""
    return (edges
            .filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"),
                    F.least("u", "v").alias("v"))
            .distinct())


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: connect every STRICTLY LARGER neighbor to the
    minimum of Γ(u) ∪ {u}."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("u", "_mn").alias("m")))
    return (sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """For each node u (edges already oriented u > v): connect every
    smaller-or-equal neighbor AND u itself to the minimum neighbor."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = e.select("u", "v").union(
        e.select("u", F.col("u").alias("v")).distinct())
    return (nbrs.join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .select(F.greatest("u", "v").alias("u"),
                    F.least("u", "v").alias("v"))
            .distinct())


def _checksum(e: DataFrame):
    # bit_xor: order-independent and overflow-free (a SUM of full-range
    # xxhash64 longs overflows under ANSI arithmetic); the edge set is
    # distinct, so xor self-cancellation cannot trigger
    return e.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"),
                   F.lit(0)).alias("h")).first()


def connected_components(edges: DataFrame, src: str = "u",
                         dst: str = "v") -> DataFrame:
    """Component labels for every node of the (undirected) edge list:
    returns ``(node, component)`` where ``component`` is the SMALLEST
    node id in the node's connected component — the canonical
    representative, deterministic on any engine.  Nodes never named
    by an edge don't appear (callers join back and coalesce to the
    node's own id for singletons)."""
    from pyspark.sql.types import (ByteType, IntegerType, LongType,
                                   ShortType)
    ok = (ByteType, ShortType, IntegerType, LongType)
    for c in (src, dst):
        t = edges.schema[c].dataType
        if not isinstance(t, ok):
            # fail CLEANLY (ANSI mode would throw a cast error deep in
            # round 1 otherwise): string/decimal node ids must be
            # hashed to longs first (xxhash64) by the caller
            raise ValueError(
                f"connected_components: edge column {c!r} has type "
                f"{t.simpleString()}, need an integral node id — hash "
                f"non-integer ids to longs first (e.g. xxhash64)")
    e = _canon(edges.select(F.col(src).cast("long").alias("u"),
                            F.col(dst).cast("long").alias("v")))
    from ..session import release_local_checkpoint
    e = e.localCheckpoint(eager=True)
    prev = _checksum(e)
    for _ in range(_MAX_ROUNDS):
        nxt = _small_star(_large_star(e)).localCheckpoint(eager=True)
        release_local_checkpoint(e)       # the replaced round
        e = nxt
        cur = _checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {_MAX_ROUNDS} "
            f"rounds — edge set is pathological or non-long ids "
            f"collided; inspect the input")
    # converged edge set is a star forest: u -> component root v
    nodes = e.select(F.col("u").alias("node"),
                     F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node"),
                     F.col("v").alias("component")).distinct()
    return nodes.union(roots).distinct()


def chain_components(df: DataFrame, id_col, key) -> DataFrame:
    """Component labels from the MINIMAL spanning chain of each
    equal-``key`` group: per group (ids sorted) only consecutive ids
    become edges, so the component algorithm must do real transitive
    work to reunite the group — this is the standard way to hand a
    full-SQL-oracle workload to a CC implementation (the oracle states
    ``min(id) over (partition by key)``; the engine recovers it from
    chains).  Rows whose key-group is a singleton label themselves.
    Output ``(id_col, component)`` for EVERY input row."""
    from pyspark.sql import Window

    k = F.col(key) if isinstance(key, str) else key
    w = Window.partitionBy("_k").orderBy(id_col)
    chained = (df.select(F.col(id_col), k.alias("_k"))
               .withColumn("_prev", F.lag(id_col).over(w)))
    edges = chained.filter(F.col("_prev").isNotNull()) \
        .select(F.col("_prev").alias("u"), F.col(id_col).alias("v"))
    comp = connected_components(edges)
    return (df.select(id_col)
            .join(comp, df[id_col] == comp["node"], "left")
            .select(F.col(id_col),
                    F.coalesce("component", F.col(id_col))
                    .alias("component")))


def dup_groups(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Transitive exact-duplicate GROUP labels: md5-equal texts chain
    into edges, connected components reunite the chains, singleton
    docs label themselves.  component = smallest doc_id with
    identical text."""
    return chain_components(docs, id_col, F.md5(F.col(text_col)))


def shared_shingle_group_edges(docs: DataFrame, n: int = 3,
                               max_groups: int = 8,
                               id_col: str = "doc_id",
                               group_col: str = "source",
                               text_col: str = "text") -> DataFrame:
    """Undirected weighted GROUP-duplication graph: one edge per pair
    of groups (sources / domains / crawls), weighted by the number of
    DISTINCT word n-gram shingles present in both groups' documents —
    the domain-level view of content sharing that source-ranking and
    crawl-triage pipelines run on.

    Scale shape: the standard inverted-index pair generation the
    jaccard/containment family already uses — distinct
    (group, shingle) is one map-side-combinable aggregate, and the
    self-join fans out at most ``max_groups**2`` pairs per shingle
    because shingles present in MORE than ``max_groups`` groups are
    dropped first (cross-group boilerplate carries no duplication
    signal; at the shipped test SFs the observed max is 7 groups, so
    nothing is dropped and results are exact — the bound only bites,
    deliberately and loudly documented, at corpus scale).

    Output: ``(u, v, w)`` with ``u < v`` lexicographically, one row
    per unordered group pair, ``w`` = distinct shared shingle count.
    """
    from .dedup import shingle_docs

    sh = (shingle_docs(docs, text_col, id_col, n, distinct=True)
          .join(docs.select(id_col, group_col), id_col)
          .select(F.col(group_col).alias("_g"), "shingle")
          .distinct())
    keep = (sh.groupBy("shingle").agg(F.count("*").alias("_ns"))
            .filter((F.col("_ns") >= 2) & (F.col("_ns") <= max_groups))
            .select("shingle"))
    a = sh.join(keep, "shingle")
    return (a.alias("a")
            .join(a.alias("b"), "shingle")
            .filter(F.col("a._g") < F.col("b._g"))
            .groupBy(F.col("a._g").alias("u"), F.col("b._g").alias("v"))
            .agg(F.count("*").cast("long").alias("w")))


def weighted_pagerank(edges: DataFrame, nodes: DataFrame,
                      iters: int = 5, damping_pct: int = 85,
                      scale: int = 1_000_000_000,
                      node_col: str = "node",
                      teleport: DataFrame | None = None) -> DataFrame:
    """Weighted PageRank in EXACT integer fixed-point, the fixed
    iteration count UNROLLED into one declarative plan — the pattern
    that gives an ITERATIVE algorithm a full SQL oracle (an external
    engine replays the identical integer ops as chained CTEs).

    Conventions (every step exact int64; ``div`` is integer division,
    all quantities non-negative so truncation == floor in both
    engines):

    * ``pr_0(v)       = scale div N``
    * ``base          = (scale * (100 - damping_pct) div 100) div N``
    * ``contrib(u->v) = (pr(u) * w(u,v)) div W(u)``  with ``W(u)`` the
      total out-weight of ``u``
    * ``pr_{k+1}(v)   = base + (damping_pct * SUM contrib) div 100``

    Dangling/isolated nodes receive only the teleport term each round;
    the discarded dangling mass means ranks are a deterministic
    ORDERING, not a probability vector — the contract every consumer
    here needs.  Overflow bound: ``pr * w < 2^63`` requires per-edge
    weights below ~9.2e9 at the default scale; shingle-count weights
    sit orders of magnitude under that even at corpus scale.

    ``edges`` is the UNDIRECTED pair table ``(u, v, w)`` with u < v
    (symmetrized internally); ``nodes`` is one row per ``node_col``.
    Both are tiny aggregates of the corpus scan (|groups| rows), so
    they are localCheckpoint-ed once and reused by all ``iters``
    joins instead of re-deriving the corpus subplan per iteration.
    Output: ``(node_col, pr_ppb)``.

    ``teleport`` (optional) PERSONALIZES the walk: a one-column frame
    of seed nodes S; teleport mass (both pr_0 and the per-round base
    term) lands uniformly on S instead of on all N nodes — the
    proximity-to-S ranking ("which sources sit nearest the
    contaminated ones in the duplication graph").  Same exact integer
    formulas with N replaced by |S| and both terms multiplied by the
    0/1 seed flag; ``teleport=None`` degenerates to those formulas
    with a constant flag of 1, so uniform results are unchanged.  An
    EMPTY teleport set fails loudly (integer division by |S| = 0).
    """
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
    wout = sym.groupBy("u").agg(F.sum("w").alias("wt"))
    # ecw and nodes stay checkpointed: the returned pr plan reads both
    ecw = sym.join(wout, "u").localCheckpoint()
    nodes = nodes.select(F.col(node_col).alias("_n"))
    if teleport is None:
        nodes = nodes.withColumn("_tp", F.lit(1).cast("long"))
    else:
        seeds = (teleport
                 .select(F.col(teleport.columns[0]).alias("_n"))
                 .distinct()
                 .withColumn("_tp", F.lit(1).cast("long")))
        nodes = (nodes.join(seeds, "_n", "left")
                 .withColumn("_tp", F.coalesce(
                     "_tp", F.lit(0).cast("long"))))
    nodes = nodes.localCheckpoint()
    nn = F.broadcast(nodes.agg(F.sum("_tp").alias("n")))

    base_expr = (f"_tp * ((CAST({scale} AS BIGINT) * {100 - damping_pct} "
                 f"div 100) div n)")
    pr = nodes.crossJoin(nn).select(
        "_n", "_tp",
        F.expr(f"_tp * (CAST({scale} AS BIGINT) div n)").alias("pr"))
    for _ in range(iters):
        sums = (pr.join(ecw, pr["_n"] == ecw["u"])
                .select(F.col("v"),
                        F.expr("(pr * w) div wt").alias("c"))
                .groupBy("v").agg(F.sum("c").alias("m")))
        pr = (nodes.join(sums, nodes["_n"] == sums["v"], "left")
              .crossJoin(nn)
              .select("_n", "_tp",
                      F.expr(f"{base_expr} + ({damping_pct} * "
                             f"coalesce(m, CAST(0 AS BIGINT))) div 100")
                      .alias("pr")))
    return pr.select(F.col("_n").alias(node_col),
                     F.col("pr").alias("pr_ppb"))


def contamination_seed_sources(docs: DataFrame, top_k: int = 5,
                               id_col: str = "doc_id",
                               group_col: str = "source",
                               salt: str = "contam-v1") -> DataFrame:
    """The contamination-audit seed set: the ``top_k`` groups whose
    HELD-OUT documents (the deterministic 10% ``salt`` hash split the
    contamination family standardizes on) carry the most train-shingle
    collisions, by the exact :func:`~..operators.dedup.
    contamination_check` counts summed per group; ties to the smaller
    group name.  One |groups|-row aggregate + a limit-k rank — feeds
    :func:`weighted_pagerank`'s ``teleport``."""
    from pyspark.sql import functions as F

    from .dedup import contamination_check
    from .sampling import _hash_bucket

    b = _hash_bucket(F.col(id_col), salt)
    test = docs.filter(b < 1000)
    train = docs.filter(b >= 1000)
    per = (contamination_check(train, test, id_col=id_col)
           .join(docs.select(id_col, group_col), id_col)
           .groupBy(group_col)
           .agg(F.sum("n_contaminated").alias("_c")))
    return (per.orderBy(F.desc("_c"), group_col).limit(top_k)
            .select(group_col))
