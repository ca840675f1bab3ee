"""URI canonicalization via connected components
(BASELINE.json north_star; SURVEY.md §2.6 "north-rule additions").

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — O(log n)
rounds regardless of component diameter, unlike plain min-label
propagation which needs O(diameter) rounds and melts on chain-shaped
sameAs graphs at scale:

 - large-star: for every node u, connect each strictly-larger neighbor
   v > u to m = min(N(u) + {u});
 - small-star: orient edges (big -> small); for every node u, connect
   its smaller neighbors and u itself to m = min of them.

Each star reads its per-node minimum from a ``min(v) OVER (PARTITION BY
u)`` window instead of joining a min-aggregate back to the edges, so a
round's physical plan is three shuffles (the symmetric edges by u, the
large-star output by u, the terminal distinct), two ``Window``s and no
join.  Trade-off: AQE's skew-join handling could split a hub node's
partition of a sort-merge join, but it cannot split a window partition
— a hub's edges are sorted and buffered in one task (the buffer spills
to disk past ``spark.sql.windowExec.buffer.spill.threshold``).  The
frontier is localCheckpointed every round so plan depth stays O(1);
convergence is detected on the materialized partitions via (count,
bit_xor(xxhash64)) of the edge set — no recompute.

At fixpoint every component is a star centred on its minimum node, so
labels fall out of the final edge list without a propagation join."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _node_id(c: Column) -> Column:
    """The long id a node's rounds run on."""
    return F.xxhash64(c)


def _orient(edges: DataFrame) -> DataFrame:
    """(src,dst) -> (u,v) with u > v, self-loops dropped."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to min(N(u) + {u}).  Input edges in
    any orientation (no self-loops); output oriented (big, small), not
    deduplicated: small-star's min is duplicate-insensitive and its
    terminal distinct dedups the round."""
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    # m <= u < v, so no output row is a self-loop
    return (
        sym.select("u", "v", m.alias("m"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect all smaller neighbors of u (and u) to their minimum.
    Input/output oriented (big, small)."""
    m = F.min("v").over(Window.partitionBy("u")).alias("m")
    relink = F.array(
        F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
        F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
    )
    return (
        edges.select("u", "v", m)
        .select(F.inline(relink))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_rounds(
    e: DataFrame, max_iterations: int, stats: dict | None
) -> DataFrame:
    """Alternate large/small-star on oriented (u, v) edges (any
    orderable key type) until the edge set is stable, and return the
    fixpoint edges.  Raises RuntimeError when ``max_iterations`` rounds
    pass without a fixpoint: the edges are then not stars yet, and no
    labelling of them is the components."""
    prev = None
    converged = False
    round_rows: list[int] = []
    for _ in range(max_iterations):
        # eager=False fuses checkpoint materialization into the
        # convergence-check action below; later rounds and the final
        # labelling read the persisted partitions.  Measured: 5 Spark
        # jobs per round — AQE runs the round's three shuffle stages
        # (one job each) while building the checkpoint RDD, and the
        # check is two more.
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        # Order-insensitive, overflow-free edge-set checksum: bit_xor of
        # 64-bit hashes never overflows, unlike sum(xxhash64) which
        # raises ARITHMETIC_OVERFLOW under ANSI mode (default-on in
        # Spark 4.x) after a handful of rows.
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("chk"),
        ).collect()[0]
        state = (row.n, row.chk)
        round_rows.append(row.n)
        if state == prev:
            converged = True
            break
        prev = state

    if stats is not None:
        stats.update(
            rounds=len(round_rows),
            final_edges=prev[0] if prev else 0,
            converged=converged,
            # per-round frontier sizes: with long node ids each row
            # shuffles 16 payload bytes across the 3 exchanges of a
            # round, so this IS the exchange-bytes evidence
            round_rows=round_rows,
        )
    if not converged:
        raise RuntimeError(
            f"connected components did not converge in {len(round_rows)} "
            f"rounds (last frontier: {round_rows[-1] if round_rows else 0} "
            "edges); raise max_iterations"
        )
    return e


def connected_components(
    edges: DataFrame,
    max_iterations: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """edges(left_uri, right_uri) -> (uri, component) with component =
    min uri (lexicographic) of the component.

    Pass a dict as ``stats`` to receive {"node_ids": ..., "rounds": k,
    "final_edges": n, "converged": bool, "round_rows": [...]} — the
    observable evidence for the O(log n) round bound (each round is
    fixed-cost-dominated at toy scale, so wall-clock alone hides the
    asymptotics).  Raises RuntimeError if the rounds do not converge
    within ``max_iterations``.

    The star rounds run on xxhash64 LONG node ids, not URI strings: a
    frontier row is 16 fixed-width bytes instead of two 40-120 byte
    strings, cutting every per-round exchange ~5x and making the min
    windows single-word comparisons — the dominant lever on the
    memory-bandwidth-bound link+CC tail (BENCH/BASELINE.md).  The hash
    order is a valid total order for the rounds; the CONTRACT label
    (lexicographic min uri per component) is restored by one final
    groupBy over the label table (O(|V|), once — not per round).
    The node table keys each id to the min and max uri hashed to it, so
    a hash collision is exactly a row whose two differ; one falls back
    to string-keyed rounds (p ~ n^2/2^64; at 10^12 nodes deploy a
    128-bit id instead — same plan, two hash columns)."""
    # Materialize the input ONCE: the node table and the first round
    # both read it, and without this each would recompute the full
    # upstream plan (e.g. the salted blocked-linking join and its
    # trigram-Jaccard scoring feeding sameas_edges) — measured 2x the
    # linking job, ~3 s of the 10 s link+CC bench at sf0.1.
    raw = (
        edges.select(
            F.col("left_uri").alias("src"), F.col("right_uri").alias("dst")
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .localCheckpoint(eager=True)
    )
    # node universe includes self-loop-only nodes (labelled as selves)
    uris = raw.select(F.explode(F.array("src", "dst")).alias("uri"))
    nodes = (
        uris.groupBy(_node_id(F.col("uri")).alias("nid"))
        .agg(F.min("uri").alias("uri"), F.max("uri").alias("uri_hi"))
        .localCheckpoint(eager=True)
    )
    use_longs = nodes.filter(F.col("uri") != F.col("uri_hi")).isEmpty()
    if stats is not None:
        stats["node_ids"] = "xxhash64" if use_longs else "uri-strings"

    if use_longs:
        e0 = _orient(
            raw.select(
                _node_id(F.col("src")).alias("src"),
                _node_id(F.col("dst")).alias("dst"),
            )
        )
    else:  # hash collision (astronomically rare): keep string keys
        e0 = _orient(raw)
        nodes = uris.distinct().select(F.col("uri").alias("nid"), "uri")

    # fixpoint edges are stars (node -> component min); roots and
    # isolated nodes label themselves.  Root order is hash (or uri)
    # order, so re-label every component with its lexicographic-min
    # member uri (one groupBy + one join over the |V|-sized label table)
    star = _star_rounds(e0, max_iterations, stats).select(
        F.col("u").alias("nid"), F.col("v").alias("root")
    )
    with_root = nodes.join(star, "nid", "left").select(
        "uri", F.coalesce("root", "nid").alias("root_id")
    )
    comp = with_root.groupBy("root_id").agg(F.min("uri").alias("component"))
    return with_root.join(comp, "root_id").select("uri", "component")


def canonicalize_triples(triples: DataFrame, components: DataFrame) -> DataFrame:
    """Rewrite subj/obj URIs to their component representative.

    Two broadcast-or-shuffle left joins (components is small relative to
    the triple corpus; Catalyst/AQE picks broadcast when it fits)."""
    subj_map = components.select(
        F.col("uri").alias("subj"), F.col("component").alias("subj_canon")
    )
    obj_map = components.select(
        F.col("uri").alias("obj"), F.col("component").alias("obj_canon")
    )
    out = (
        triples.join(subj_map, "subj", "left")
        .join(obj_map, "obj", "left")
        .select(
            F.coalesce("subj_canon", "subj").alias("subj"),
            F.col("pred"),
            F.when(
                F.col("obj_is_uri"), F.coalesce("obj_canon", "obj")
            ).otherwise(F.col("obj")).alias("obj"),
            "obj_is_uri",
            "lang",
            "dtype",
        )
    )
    return out
