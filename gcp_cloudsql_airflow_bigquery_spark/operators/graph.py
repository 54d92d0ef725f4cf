"""Iterative graph operators over a pair/edge DataFrame: connected
components (the clustering step that turns near-duplicate PAIRS from
MinHash/Jaccard/SimHash into duplicate GROUPS so a training-data
pipeline can keep one representative per cluster), weighted PageRank,
label propagation and k-core peeling.

Connected components is a hybrid: a few cheap min-label-propagation
rounds with an exact fixpoint test (tiny dense dup-clusters finish
there in 2-4 rounds), falling back to graph CONTRACTION — cluster
each node to the min of its closed neighborhood, rewrite edges onto
representatives, compose the round assignments — whose live-node
count at least halves per round, so the fallback converges in
O(log n) rounds regardless of component diameter.  Pure propagation
is O(diameter) and was measured to silently exhaust a 20-round budget
on a 120-node near-path component.  It cuts lineage every round with
an eager ``localCheckpoint`` that also observes its convergence test.

Every FIXED-round loop goes through :func:`iterate`: a round is one
SQL ``SELECT`` over ``{prev}`` that reads the previous state exactly
once, so a chain of rounds grows the plan linearly, and the rounds
between two cuts fuse into one ``spark.sql`` statement of chained
CTEs.  A cut is an eager ``localCheckpoint`` after each statement,
the last one included: a caller may read the result more than once,
and an uncut tail measured slower even where it reads it once.  A
lazy cut saves only the cut's own job: ``Dataset.localCheckpoint``
runs the round's stages while the plan is built either way, and a
lazy cut lets concurrent tasks recompute the unmaterialized frame.
So the cut cadence trades build-time jobs (a cut every round) against
the analysis and re-execution cost of one long statement (no cut).
The bounded-graph callers share :data:`CUT_EVERY` (the cadence sweep
in CHANGES.md could not tell their best cadences apart), and
``k_core`` builds uncut.  HITS's round total (its L1 norm) is a ``SUM(...) OVER
()`` on the round's own rows, so it does not read the state a second
time; that window is one task, so it is used only on a graph whose
node set is bounded (event types).  PageRank's dangling mass is a
broadcast 1-row total on every path, which reads the round's
contributions twice, so PageRank cuts every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


#: connected components: min-label propagation rounds before the
#: star-contraction fallback, and the fallback's round budget
_PROP_ROUNDS = 4
_MAX_ITER = 20

#: :func:`iterate`'s cut cadence for the loops over bounded graphs
CUT_EVERY = 4


def _checkpoint_observed(df: DataFrame, *exprs):
    """Materialize ``df`` with one eager ``localCheckpoint`` and return
    it with the values of ``exprs``, observed on that same job."""
    ob = Observation()
    return df.observe(ob, *exprs).localCheckpoint(eager=True), ob.get


def iterate(state, round_sql, rounds, *, cut_every, args=None, **frames):
    """The state after ``rounds`` fixed rounds of ``round_sql``.

    ``round_sql`` (or ``round_sql(i)`` for round ``i``, 0-based, where
    rounds alternate) is a ``SELECT`` of the next state from
    ``{prev}``, reading it exactly once unless every round is cut
    (``cut_every=1``); ``{name}`` placeholders bind
    the constant ``frames`` and ``:name`` markers the ``args``.  Up to
    ``cut_every`` rounds chain as CTEs of one ``spark.sql`` statement,
    which binds each frame once, and an eager ``localCheckpoint`` cuts
    each statement, the last one included; ``cut_every=None`` builds
    one uncut statement (no Spark job).  ``rounds=0`` returns
    ``state``.

    Loops left out:
    - connected components: has a convergence test and reads its state twice
    - ``tokenizer.bpe_train``: picks each round's merge on the driver
    - the Lloyd and PQ codebook trainings: keep their model on the driver
    - ``similarity.mmr_rerank``: its state is a growing union
    - ``events.event_type_reachability``: reads its state three times
    - ``advanced.brand_als_factors``: its SQL half-step measured slower
      than its DataFrame one (CHANGES.md)
    """
    sql = round_sql if callable(round_sql) else lambda i: round_sql
    step = cut_every or max(rounds, 1)
    for start in range(0, rounds, step):
        n = min(step, rounds - start)
        ctes = ",\n".join(
            f"s{j + 1} AS (\n{sql(start + j).replace('{prev}', f's{j}' if j else '{prev}')}\n)"
            for j in range(n)
        )
        state = state.sparkSession.sql(
            f"WITH {ctes}\nSELECT * FROM s{n}", args=args, prev=state, **frames
        )
        if cut_every:
            state = state.localCheckpoint(eager=True)
    return state


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Return (node, label) with label = min node id of the component.

    Only nodes appearing in ``edges`` are labeled (isolated nodes are
    their own trivial clusters — callers add them back if needed).

    Hybrid algorithm.  Fast path: up to ``_PROP_ROUNDS`` rounds of
    min-label propagation (one join + one agg per round) with an exact
    fixpoint test — at a propagation fixpoint every edge has equal
    labels on both ends, which is provably the correct answer, and
    near-duplicate clusters (tiny, dense) reach it in 2-4 rounds.
    Fallback: if the fixpoint is NOT reached (high-diameter component
    — propagation is O(diameter) and a 120-node near-path component
    was measured to silently exhaust a 20-round budget), switch to
    alternating large-star/small-star rounds (Kiveris et al.), which
    stabilize to one star per component rooted at the component min in
    O(log^2 n) rounds regardless of diameter, and raise loudly if even
    that budget is exhausted — never return unconverged labels.  Both
    phases cut lineage per round.
    """
    def _sym(pairs: DataFrame) -> DataFrame:
        both = pairs.union(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
        return both.distinct()

    sym = _sym(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    sym = sym.localCheckpoint(eager=True)

    # labels only ever decrease; the exact decimal sum strictly
    # decreases until the fixpoint, so one aggregate replaces a
    # join-based changed? probe.  The sum rides the SAME job as each
    # round's materializing localCheckpoint via ``observe`` — one job
    # per round, not two.
    sum_expr = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    labels, prev_sum = _checkpoint_observed(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        sum_expr,
    )
    for _ in range(_PROP_ROUNDS):
        msgs = sym.join(labels, sym.b == F.col("node")).select(
            F.col("a").alias("node"), "label"
        )
        labels, new_sum = _checkpoint_observed(
            msgs.union(labels).groupBy("node").agg(F.min("label").alias("label")),
            sum_expr,
        )
        if new_sum == prev_sum:
            return labels
        prev_sum = new_sum

    # Large-star/small-star fallback (Kiveris et al., "Connected
    # Components in MapReduce and Beyond"): alternate
    #   large-star(u): attach every neighbor v > u to min(N(u) + {u})
    #   small-star(u): attach every neighbor v <= u (and u) to that min
    # until the edge set is stable — the terminal state is one star per
    # component rooted at the component min, reached in O(log^2 n)
    # rounds REGARDLESS OF DIAMETER (a 200-node path closes in 9
    # rounds; pure propagation needs 199).  Each op is one groupBy-min
    # + one join; edge-set stability is probed with an exact
    # (count, decimal-sum-of-hashes over the canonical a<b half)
    # signature, observed on each round's checkpoint, instead of a join
    # diff.  The first round needs no reference signature: one star per
    # component is the only edge set a round leaves unchanged, and the
    # fallback only starts when propagation found no fixpoint, so the
    # edge set is not yet in that state.
    sig_exprs = (
        F.count_if(F.col("a") < F.col("b")).alias("c"),
        F.sum(
            F.when(F.col("a") < F.col("b"), F.xxhash64("a", "b")).cast(
                "decimal(38,0)"
            )
        ).alias("h"),
    )
    cur, prev_sig = sym, None  # already symmetric + distinct + materialized
    for _ in range(_MAX_ITER):
        # large-star
        mins = (
            cur.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("a", "mb").alias("m"))
        )
        large = (
            cur.filter(F.col("b") > F.col("a"))
            .join(mins, "a")
            .filter(F.col("b") != F.col("m"))
            .select(
                F.least("b", "m").alias("a"), F.greatest("b", "m").alias("b")
            )
        )
        cur = _sym(large).localCheckpoint(eager=True)
        # small-star
        le = cur.filter(F.col("b") <= F.col("a"))
        mins_s = le.groupBy("a").agg(F.min("b").alias("m"))
        members = le.select("a", "b").union(
            mins_s.select("a", F.col("a").alias("b"))
        )
        small = (
            members.join(mins_s, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("b").alias("b"))
        )
        cur, sig = _checkpoint_observed(_sym(small), *sig_exprs)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components: star contraction did not stabilize in {_MAX_ITER} rounds"
        )
    # terminal stars: every node's label is the min over its closed
    # neighborhood (the root for leaves, itself for roots).  The "itself"
    # rows come from ``sym``, not ``cur``: a node whose only edge is a
    # self-loop has no star edge (large-star keeps b > a only), and
    # labels itself.
    return (
        cur.select("a", F.col("b").alias("label"))
        .union(sym.select("a", F.col("a").alias("label")))
        .groupBy("a")
        .agg(F.min("label").alias("label"))
        .select(F.col("a").alias("node"), "label")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    *,
    damping: float = 0.85,
    max_iter: int = 20,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """Weighted PageRank: (node, rank), ranks summing to 1.

    Power iteration through :func:`iterate`: each round joins ranks to
    the out-normalized edge list, sums contributions per destination
    (one shuffle, map-side combined) and adds the teleport term plus the
    redistributed mass of dangling nodes (computed as total minus
    emitted mass — no extra anti-join).  It runs exactly ``max_iter``
    rounds (no convergence test), so the result replays as fixed-round
    SQL.  At 100 TB the per-round cost is one edge-list join + one
    aggregation, the same shape GraphX's Pregel emits.

    ``broadcast_ranks`` is OPT-IN (default False — scale policy: node
    sets are unbounded unless the caller KNOWS otherwise).  With it
    (bounded node sets: types, labels, entities) the rank table
    broadcasts, the join is map-side, and the dst-grouped aggregation
    reuses the standing partitioning of the edge list; on the default
    path ranks shuffle by src each round (node-sized).  On both paths
    the emitted total is a broadcast 1-row cross join over the round's
    contributions, which reads them twice, so every round is cut.
    """
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        (F.col(weight) if weight else F.lit(1.0)).cast("double").alias("w"),
    )
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    # Pre-partition the (static) normalized edge list by dst ONCE: the
    # per-round contribution aggregation groups by dst, so with ranks
    # broadcast the round's plan reuses this partitioning and pays NO
    # edge-sized exchange — one partitioning amortized over max_iter
    # rounds, the Pregel trade.  (Checkpointed frames also lose size
    # stats, so without the explicit broadcast below each round would
    # fall back to a sort-merge join + full shuffle.)
    norm = (
        e.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("p"))
        .repartition(F.col("dst"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    rank_hint = "/*+ BROADCAST(r) */ " if broadcast_ranks else ""
    step_hint = "BROADCAST(c), BROADCAST(e)" if broadcast_ranks else "BROADCAST(e)"
    round_sql = f"""WITH contribs AS (
  SELECT {rank_hint}n.dst, SUM(n.p * r.rank) AS contrib
  FROM {{norm}} n JOIN {{prev}} r ON n.src = r.node GROUP BY n.dst)
SELECT /*+ {step_hint} */ v.node,
       :teleport + :dn * (:one - COALESCE(e.emitted, :zero))
         + :d * COALESCE(c.contrib, :zero) AS rank
FROM {{nodes}} v LEFT JOIN contribs c ON v.node = c.dst
CROSS JOIN (SELECT SUM(contrib) AS emitted FROM contribs) e"""
    # named-parameter binding keeps the literals EXACT Python doubles
    # (no decimal-text round trip)
    return iterate(
        nodes.withColumn("rank", F.lit(1.0 / n)),
        round_sql,
        max_iter,
        cut_every=1,
        args=dict(
            zero=0.0, one=1.0, teleport=(1.0 - damping) / n, dn=damping / n, d=damping
        ),
        norm=norm,
        nodes=nodes,
    )


def triangle_count(edges: DataFrame, src: str = "a", dst: str = "b") -> DataFrame:
    """Global triangle count of an undirected graph, 1-row output.

    Classic degree-ordered orientation: every undirected edge is
    directed from its lower-degree endpoint to the higher (ties broken
    by id), which caps each vertex's out-degree at O(sqrt(|E|)) — the
    wedge join (out-neighbors × out-neighbors) then enumerates each
    triangle exactly once and never fans out on a skewed hub vertex.
    Two shuffles: the wedge self-join on the pivot vertex and the
    closing-edge semi join.  A naive undirected 3-way join counts each
    triangle 6 times and squares on hub degrees — the orientation is
    what survives a power-law graph at scale."""
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("x"))
        .unionAll(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )
    # orient by (degree, id): lower-rank endpoint -> higher
    with_deg = (
        und.join(deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    w1 = oriented.select(F.col("s").alias("p"), F.col("t").alias("x"))
    w2 = oriented.select(F.col("s").alias("p"), F.col("t").alias("y"))
    wedges = w1.join(w2, "p").filter(F.col("x") < F.col("y"))
    closing = oriented.select(
        F.least("s", "t").alias("x"), F.greatest("s", "t").alias("y")
    ).distinct()
    tris = wedges.join(closing, ["x", "y"], "left_semi")
    return tris.agg(F.count("*").alias("n_triangles"))


def label_propagation(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    weight: str | None = None,
    *,
    rounds: int = 5,
    broadcast_labels: bool = False,
) -> DataFrame:
    """Synchronous weighted label propagation (community detection):
    every node starts in its own community, and each round adopts the
    label with the greatest summed edge weight among its neighbors
    (ties to the SMALLEST label).  Fixed synchronous rounds + the
    deterministic tie-break make the result a pure function of the
    graph — replayable as unrolled CTEs by the DuckDB oracle
    (``plans/events.event_state_communities``), unlike the
    asynchronous/randomized LPA variants.

    Returns ``(node, community)`` after ``rounds`` rounds.

    Scale shape — same Pregel economics as :func:`pagerank`: the
    symmetrized, parallel-edge-merged edge list is pre-partitioned by
    ``dst`` ONCE and checkpointed; with ``broadcast_labels`` — OPT-IN,
    default False, because the label table is node-sized and a forced
    hint bypasses ``autoBroadcastJoinThreshold`` at any size — each
    round's join is map-side against the broadcast model-sized label
    table, so a round costs one vote aggregation over the static edge
    partitioning and NO edge-sized exchange.  Pass True only when the
    caller KNOWS the node set is bounded (types, states, entities); on
    the default path the round is a sort-merge join — still one
    shuffle per round, never quadratic — and Catalyst/AQE may still
    auto-broadcast under the threshold."""
    w = (F.col(weight) if weight else F.lit(1)).cast("long")
    half = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"), w.alias("w"))
    sym = (
        half.unionByName(half.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
        .repartition(F.col("v"))
        .localCheckpoint(eager=True)
    )
    hint = "/*+ BROADCAST(l) */ " if broadcast_labels else ""
    labels = iterate(
        sym.select(F.col("u").alias("node")).distinct().withColumn("label", F.col("node")),
        f"""SELECT node, label FROM (
  SELECT v AS node, label,
         ROW_NUMBER() OVER (PARTITION BY v ORDER BY s DESC, label) AS rn
  FROM (SELECT {hint}e.v, l.label, SUM(e.w) AS s
        FROM {{sym}} e JOIN {{prev}} l ON e.u = l.node
        GROUP BY e.v, l.label)
) WHERE rn = 1""",
        rounds,
        cut_every=CUT_EVERY,
        sym=sym,
    )
    return labels.select("node", F.col("label").alias("community"))


def k_core(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    *,
    k: int = 3,
    rounds: int = 6,
) -> DataFrame:
    """Fixed-round k-core peeling (the crawl-curation centrality
    filter: keep only nodes embedded in a dense mutual neighborhood —
    host-graph k-cores are a published web-corpus quality signal):
    each round drops every node whose degree in the surviving subgraph
    is below ``k``, then recomputes degrees.  A FIXED number of
    synchronous rounds keeps the result a pure function of the graph,
    replayable by the DuckDB oracle as unrolled CTEs — same
    determinism contract as :func:`label_propagation` and
    :func:`pagerank`.

    Returns ``(node, core_degree)`` — the nodes with at least one
    surviving edge after ``rounds`` peels, with their degree inside
    the surviving subgraph.

    Scale shape: one lazy plan, the rounds fused by :func:`iterate`
    with no cut, so construction runs no Spark job.  Peeling keeps the
    edge set symmetric, so deg(x) is the number of rows with ``u = x`` and also
    the number with ``v = x``: a round is ``COUNT(*) OVER (PARTITION
    BY u)`` and ``... BY v`` over the same edges, keeping rows where
    both are ``>= k``.  The window order alternates per round, so each
    round's first window runs on the partitioning the previous round
    left and a round costs ONE edge-sized exchange; the final degree
    count groups on that same column."""
    spark = edges.sparkSession
    e0 = spark.sql(
        f"""SELECT DISTINCT u, v FROM (
  SELECT `{src}` AS u, `{dst}` AS v FROM {{edges}}
  UNION ALL SELECT `{dst}`, `{src}` FROM {{edges}}
) WHERE u <> v""",
        edges=edges,
    )
    # round i's first window runs on the partitioning round i-1 left
    order = ("u", "v")
    peeled = iterate(
        e0,
        lambda i: f"""SELECT u, v FROM (
  SELECT u, v, d1, COUNT(*) OVER (PARTITION BY {order[1 - i % 2]}) AS d2 FROM (
    SELECT u, v, COUNT(*) OVER (PARTITION BY {order[i % 2]}) AS d1 FROM {{prev}})
) WHERE d1 >= :k AND d2 >= :k""",
        rounds,
        cut_every=None,
        args={"k": k},
    )
    last = order[rounds % 2]
    return spark.sql(
        f"SELECT {last} AS node, COUNT(*) AS core_degree FROM {{prev}} GROUP BY {last}",
        prev=peeled,
    )
