"""Graph analytics over relationally-derived edges (north-star
extension): clickstream transition graphs + PageRank.

Design: the 100 TB part of a web/event-graph job is EDGE CONTRACTION —
turning a raw event stream into a weighted transition relation — and
that is one window + one hash-aggregate here (distributed, map-side
combined). The rank iteration then runs on the contracted graph as
pure relational algebra (join ranks→edges, ordered-fold incoming mass,
redistribute dangling mass), which is exactly Pregel's message-passing
shape expressed in joins: it distributes unchanged when the node set
itself is huge, and it replays bit-identically in the DuckDB oracle
because every float op is a correctly-rounded IEEE primitive applied
in a FIXED order (sequential fold by source node — the same
associativity discipline as pq_mse's subspace sum).

Deliberately NOT a driver-side numpy loop: collect-and-iterate would
cap the graph at driver memory and leave nothing for the oracle to
replay (compare dup_clusters' distributed label propagation, which is
the unweighted special case of this module's iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mahout_samsara_book_spark.cache import checkpoint, release, track


def transition_edges(
    events: DataFrame,
    user_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """``(src, dst, w)`` — the weighted state-transition graph of user
    journeys: for each user's event sequence (total order: ts, then id
    for ties), count consecutive (state → next state) pairs.

    One window (partitioned by user — parallel across users, no global
    sort) + one hash-aggregate with map-side combine: each partition
    collapses to ≤ |states|² rows before the shuffle, so the exchanged
    payload is O(graph), not O(stream) — the same contraction shape as
    cms_build."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = events.select(
        F.col(state_col).alias("src"),
        F.lead(state_col).over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    return pairs.groupBy("src", "dst").agg(F.count("*").alias("w"))


def _ordered_sum(order_col: str, val) -> F.Column:
    """Sequential fold of ``val`` in ascending ``order_col`` order —
    the oracle twin is ``list_sum(list(val ORDER BY order_col))``."""
    return F.aggregate(
        F.array_sort(F.collect_list(F.struct(F.col(order_col), val.alias("v")))),
        F.lit(0.0),
        lambda acc, x: acc + x["v"],
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
) -> DataFrame:
    """``(node, pr)`` — PageRank after ``iters`` power iterations with
    uniform initialization, out-weight-proportional transition
    probabilities, and dangling-mass redistribution:

        r'(v) = (1−d)/N + d·(Σ_{u→v} p(u,v)·r(u) + dangle/N)

    Every iteration is: join ranks onto edges (broadcast — the rank
    relation is one row per node), ordered-fold the incoming mass per
    destination, fold the dangling mass, recombine. The float sequence
    is pinned — incoming folds by src, dangling folds by node, and the
    recombination applies ops in one fixed order — so DuckDB replays
    the trajectory exactly, not just approximately."""
    edges = track(edges)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = track(nodes)
    n_nodes = nodes.count()
    out_w = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    # p(u,v) = w/out_w(u): one IEEE division of exact integers
    probs = (
        edges.join(out_w, "src")
        .select(
            "src",
            "dst",
            (F.col("w").cast("double") / F.col("ow").cast("double")).alias("p"),
        )
    )
    probs = track(probs)
    dangling = nodes.join(
        edges.select("src").distinct(),
        nodes.node == F.col("src"),
        "left_anti",
    )
    dangling = track(dangling)

    n_d = F.lit(float(n_nodes))
    base = F.lit(1.0 - damping) / n_d
    r = nodes.select("node", (F.lit(1.0) / n_d).alias("pr"))
    prev = None
    for _ in range(iters):
        # materialize the rank relation ONCE per iteration: it is
        # referenced twice below (contribs + dangling), and without a
        # lineage cut the shared subtree re-executes per reference —
        # 2^iters recomputations of the whole chain (measured 8.4s for
        # 5 iterations on a 5-node graph; ~1s with the cut). This is
        # SURVEY §4's iterative-checkpoint rule (Bahmani's loop does
        # the same); one O(|nodes|) job per iteration, after which the
        # previous round's ranks are read by nothing.
        r = checkpoint(r)
        if prev is not None:
            release(prev)
        prev = r
        contribs = probs.join(
            F.broadcast(r), probs.src == r.node
        ).select("dst", "src", (F.col("p") * F.col("pr")).alias("c"))
        inc = contribs.groupBy("dst").agg(
            _ordered_sum("src", F.col("c")).alias("inc")
        )
        dangle = (
            dangling.join(F.broadcast(r), "node")
            .agg(_ordered_sum("node", F.col("pr")).alias("dm"))
            .select(F.coalesce(F.col("dm"), F.lit(0.0)).alias("dm"))
        )
        r = (
            nodes.join(inc, nodes.node == inc.dst, "left")
            .crossJoin(F.broadcast(dangle))
            .select(
                "node",
                (
                    base
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inc"), F.lit(0.0))
                        + F.col("dm") / n_d
                    )
                ).alias("pr"),
            )
        )
    return r


def cooccurrence_edges(
    items: DataFrame,
    group_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_weight: int = 1,
    keep_weight: bool = False,
    pack_ids: bool | None = None,
) -> DataFrame:
    """``(a, b)`` with ``a < b`` — the distinct undirected co-occurrence
    graph: two items are adjacent when at least ``min_weight`` groups
    (orders / baskets / documents) contain both.

    Scale shape: the self-join is an equi-join on the group key, so each
    group's pair fan-out stays inside its own hash partition — cost is
    Σ c(g)² over group sizes, never |items|², and AQE's skew split
    handles a pathological mega-basket. The count-aggregate is the one
    O(edges) shuffle that contracts the pair stream to the graph; the
    ``min_weight`` HAVING filter is how a real co-purchase/affinity
    pipeline keeps the projected graph sparse enough for triangle-order
    analytics (one shared order links everything; repeated co-occurrence
    is signal).

    Implementation is the basket projection, not a fact self-join: ONE
    shuffle contracts the items to per-group sorted item sets, the pair
    fan-out happens map-side inside codegen'd array HOFs, and the pair
    stream is explicitly ``repartition``-ed on the pair key BEFORE the
    count-aggregate. That placement is the round-8 scale fix: the pair
    stream is almost all UNIQUE keys (at sf10, 119.6M distinct of 120M
    pairs), so a map-side partial aggregate over the raw stream builds
    a hash table that combines nothing, overflows, and falls back to
    sort-based spill — measured 350 s at sf10. With the exchange first,
    both aggregate passes run post-shuffle on hash-partitioned slices
    and the same projection takes 31 s (11×). The shuffle itself moves
    raw 8-byte keys, cheaper than the spill it replaces.

    ``pack_ids``: when both endpoint ids fit in 32 bits the pair key is
    packed into ONE long (``a·2³² + b``) — halves shuffle width and
    makes the aggregate a single-long-key hash (2.3× over the two-column
    form at sf10). ``None`` (default) auto-packs only when the item
    column is an integer type ≤ 32 bits; pass ``True`` for long-typed
    ids known to be 32-bit-bounded — a codegen'd range guard
    (``F.assert_true``) fails loudly on overflow rather than corrupting
    pair keys, so the fast path is safe to assert at 100 TB. The
    self-join formulation shuffles the fact table twice and adds a
    join stage for the same result; at 100 TB that is a whole extra
    pass over the largest relation. Weight = number of DISTINCT groups
    containing both items (``collect_set`` dedups within a group)."""
    baskets = (
        items.select(F.col(group_col).alias("g"), F.col(item_col).alias("i"))
        .groupBy("g")
        .agg(F.array_sort(F.collect_set("i")).alias("xs"))
        .filter(F.size("xs") >= 2)
    )
    if pack_ids is None:
        from pyspark.sql.types import ByteType, IntegerType, ShortType

        pack_ids = isinstance(
            items.schema[item_col].dataType, (ByteType, ShortType, IntegerType)
        )
    xs = F.col("xs")
    out_type = items.schema[item_col].dataType
    if pack_ids:
        b32 = F.lit(1 << 32).cast("long")
        max_a = F.lit(1 << 31).cast("long")

        def _pk(x, y):
            xl, yl = x.cast("long"), y.cast("long")
            ok = (xl >= 0) & (xl < max_a) & (yl >= 0) & (yl < b32)
            return F.when(ok, xl * b32 + yl).otherwise(
                F.assert_true(F.lit(False)).cast("long")
            )

        pairs = F.flatten(
            F.transform(
                xs,
                lambda x, i: F.transform(
                    F.slice(xs, i + F.lit(2), F.size(xs) - i - F.lit(1)),
                    lambda y: _pk(x, y),
                ),
            )
        )
        return (
            baskets.select(F.explode(pairs).alias("k"))
            .repartition("k")
            .groupBy("k")
            .agg(F.count("*").alias("w"))
            .filter(F.col("w") >= F.lit(int(min_weight)))
            .select(
                F.shiftright("k", 32).cast(out_type).alias("a"),
                F.col("k")
                .bitwiseAND(F.lit((1 << 32) - 1))
                .cast(out_type)
                .alias("b"),
                *(["w"] if keep_weight else []),
            )
        )
    pairs = F.flatten(
        F.transform(
            xs,
            lambda x, i: F.transform(
                F.slice(xs, i + F.lit(2), F.size(xs) - i - F.lit(1)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .repartition("a", "b")
        .groupBy("a", "b")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= F.lit(int(min_weight)))
        .select("a", "b", *(["w"] if keep_weight else []))
    )


def degrees(edges: DataFrame) -> DataFrame:
    """``(node, deg)`` for an undirected ``(a, b)`` edge relation —
    one union + one map-side-combined count."""
    return (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """``(node, tri)`` — per-node triangle participation via the
    degree-ordered orientation (Suri & Vassilvitskii's MR triangle
    counting / Chiba–Nishizeki node-iterator): direct every undirected
    edge from its lower endpoint to its higher endpoint under the total
    order ``(deg, node)``, so every triangle materializes as exactly one
    directed wedge ``u→v, v→w`` closed by ``u→w``.

    Why this survives 100 TB: orientation bounds every out-degree by
    O(√m) — the wedge join (the only super-linear step) generates
    Σ out(v)·in(v) ≤ m^{3/2} candidates instead of Σ deg² (which a hub
    node makes quadratic). All three steps are hash equi-joins on node
    keys; nothing is collected, nothing is broadcast except optionally
    the degree relation (one row per node). Pure integer relational
    algebra — the DuckDB oracle replays it verbatim."""
    edges = track(edges)
    deg = degrees(edges)
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    e = edges.join(da, "a").join(db, "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = e.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    # three self-references below: persist the (small) oriented edge
    # relation so the contraction pipeline runs once, not per alias
    oriented = track(oriented)
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e1.src") == F.col("e3.src"))
            & (F.col("e2.dst") == F.col("e3.dst")),
        )
        .select(
            F.col("e1.src").alias("u"),
            F.col("e1.dst").alias("v"),
            F.col("e2.dst").alias("w"),
        )
    )
    corners = tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
    return corners.groupBy("node").agg(F.count("*").alias("tri"))


def top_transitions(edges: DataFrame, k: int = 3) -> DataFrame:
    """``(src, dst, w, p, rank)`` — the top-k next states per state of
    a weighted transition graph, with transition probability
    ``p = w / Σ_dst w``: the first-order Markov "what happens next"
    summary of a clickstream (next-event prediction baselines, funnel
    design, anomaly whitelists).

    One aggregate for the out-weights (map-side combined), one
    broadcast-able join back (the per-src totals are O(states)), one
    rank window partitioned by src — every step distributes by the
    state key. p is a single IEEE division of exact integer counts, so
    the oracle replays it bit-for-bit."""
    out_w = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    w = Window.partitionBy("src").orderBy(F.desc("w"), F.asc("dst"))
    return (
        edges.join(F.broadcast(out_w), "src")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(int(k)))
        .select(
            "src",
            "dst",
            "w",
            (F.col("w").cast("double") / F.col("ow").cast("double")).alias("p"),
            "rank",
        )
    )


# frontier size at or below which the per-round peel joins broadcast the
# removed-node set instead of shuffling the edge relation twice
KCORE_FRONTIER_BCAST_LIMIT = 5_000_000


def kcore_peel(edges: DataFrame, k: int, rounds: int = 4) -> DataFrame:
    """``(node, deg)`` — the graph after ``rounds`` synchronous peel
    steps toward the k-core: each step removes every node whose current
    degree is below ``k`` (and the edges touching it), exactly the
    Batagelj–Zaveršnik bulk iteration. A FIXED round count (not
    peel-to-fixpoint) keeps the result oracle-replayable; real cores
    converge in O(log n) synchronous rounds, and the fixpoint is
    reached when a round removes nothing.

    Scale shape — DELTA peeling (frontier-based, r9): the full degree
    aggregate runs ONCE; after that each round maintains the degree
    relation incrementally. Per round: (1) the frontier = nodes whose
    current degree is below k — after round 1 this is a small,
    fast-shrinking set, so the two edge joins against it are
    AQE-broadcastable instead of hash joins against the huge survivor
    set; (2) ONE flagged pass over the edge relation (two left joins
    vs the frontier, materialized once) yields both the surviving
    edges and the delta edges (exactly one endpoint removed); (3) the
    survivors' degree loss is an aggregate over the DELTA only, not a
    recount of the whole graph; (4) the node-sized degree relation is
    updated with one left join. Synchronous Batagelj–Zaveršnik bulk
    semantics are unchanged, so the output is bit-identical to the
    recount formulation. The shrinking edge relation is lineage-cut
    each round so round t does not replay rounds 1..t-1.

    Early exit at the fixpoint: the degree relation shrinks
    monotonically, so an empty frontier means every remaining round is
    a no-op. (An all-isolated frontier likewise converges: it clears
    the zero-degree rows in one extra node-sized pass, touching no
    edges.) The frontier count rides the degree checkpoint itself as an
    ``observe()`` metric (round-13, guide §1.2: the separate count job
    over the materialized checkpoint cost one job floor per round —
    CollectMetrics folds it into the job that materializes the
    relation, so each round runs exactly two jobs, not three)."""
    from pyspark.sql import Observation

    def _ckpt_with_frontier(deg_df: DataFrame) -> tuple[DataFrame, int]:
        obs = Observation()
        ck = checkpoint(deg_df.observe(
            obs,
            F.count(F.when(F.col("deg") < F.lit(int(k)), 1)).alias("f"),
        ))
        return ck, int(obs.get["f"])

    # Lazily CACHE the caller's edge relation instead of letting both
    # of its consumers recompute it (round-13, guide §5): the initial
    # degree checkpoint and round 0's marked pass each need the full
    # edge set, and for the LSH/co-occurrence callers that subtree is
    # the most expensive part of the whole query (measured at sf0.1:
    # the edge build executed twice, 2.7 s + 1.7 s; cached it runs
    # once inside the degree job — degrees() scans every partition, so
    # the cache is fully populated as a side effect, no extra job).
    # A caller that cached `edges` itself keeps that cache: track()
    # leaves it unregistered, so the release below cannot drop it.
    e = track(edges)
    prev_marked = e
    deg, n_removed = _ckpt_with_frontier(degrees(e))
    for _ in range(rounds):
        if n_removed == 0:
            break
        removed = deg.filter(F.col("deg") < F.lit(int(k))).select("node")
        if n_removed <= KCORE_FRONTIER_BCAST_LIMIT:
            # one broadcast of the frontier replaces TWO full shuffles
            # of the edge relation (join by a, then by b) with map-side
            # lookups; the count is already in hand from the early-exit
            # check, so the dispatch is free. A frontier past the limit
            # (~40 MB of longs) keeps the shuffle join.
            removed = F.broadcast(removed)
        ra = removed.select(
            F.col("node").alias("a"), F.lit(True).alias("_ra")
        )
        rb = removed.select(
            F.col("node").alias("b"), F.lit(True).alias("_rb")
        )
        # LAZY cache instead of an eager localCheckpoint (round-13):
        # the degree checkpoint below scans every marked partition
        # through the loss aggregate, so ONE job materializes marked,
        # the new degrees, and the frontier metric together — the
        # separate marked-checkpoint job was pure job-floor (each
        # round ran two jobs; now it runs one).  The next round's
        # survivor filter reads the populated cache; the block manager
        # computes each partition exactly once even with concurrent
        # consumers.
        marked = track(
            e.join(ra, "a", "left")
            .join(rb, "b", "left")
            .select(
                "a",
                "b",
                F.coalesce("_ra", F.lit(False)).alias("_ra"),
                F.coalesce("_rb", F.lit(False)).alias("_rb"),
            )
        )
        e = marked.filter(~F.col("_ra") & ~F.col("_rb")).select("a", "b")
        loss = (
            marked.filter(F.col("_ra") != F.col("_rb"))
            .select(
                F.when(F.col("_ra"), F.col("b"))
                .otherwise(F.col("a"))
                .alias("node")
            )
            .groupBy("node")
            .agg(F.count("*").alias("_lost"))
        )
        prev_deg = deg
        deg, n_removed = _ckpt_with_frontier(
            deg.filter(F.col("deg") >= F.lit(int(k)))
            .join(loss, "node", "left")
            .select(
                "node",
                (
                    F.col("deg") - F.coalesce(F.col("_lost"), F.lit(0))
                ).alias("deg"),
            )
        )
        # the deg job above materialized this round's marked cache;
        # the previous round's (in round 0, the edge cache) and the
        # previous degrees have served every consumer — release them
        # so the loop's storage footprint stays one round
        release(prev_marked)
        release(prev_deg)
        prev_marked = marked
    # the maintained relation equals degrees(e) except it also carries
    # survivors peeled down to zero remaining edges — degrees() never
    # lists those, so drop them for the identical contract.  The
    # returned relation is checkpoint-backed, so the loop's remaining
    # cache can be dropped.
    release(prev_marked)
    return deg.filter(F.col("deg") > 0)
