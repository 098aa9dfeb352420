"""Connected components over near-duplicate pair graphs: the step that
turns candidate PAIRS (MinHash/SimHash/embedding LSH output) into dedup
DECISIONS — one canonical keeper per duplicate cluster.

The reference has no equivalent (its PK index absorbs exact dupes only);
this is the standard large-corpus dedup close-out: pairs form an
undirected graph, each component is one duplicate cluster, the lowest id
in a component is the keeper.

Scale design:
- Iterative min-label propagation: every round each node takes the min
  of its own label and its neighbors' labels. One shuffle join + one
  groupBy per round; converges in O(component diameter) rounds. Near-dup
  components are dense (LSH pairs are near-cliques), so diameters are
  tiny — the cap exists for adversarial chains, not expected data.
- Labels are ``localCheckpoint``-ed each round: without truncation the
  lineage doubles per iteration and planning time explodes (on a real
  cluster use ``checkpoint`` against reliable storage so executor loss
  cannot replay 20 joins).
- The per-round convergence check is a single driver-side ``count`` of
  changed labels — bounded scalar, not a collect of data.
- The edge list is the LSH candidate output, i.e. already near-linear in
  corpus size; nothing here materializes anything larger than it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _large_star(edges: DataFrame, dedup: bool = True) -> DataFrame:
    """One large-star round [Kiveris et al. 2014]: every node attaches
    its strictly-larger neighbors to the minimum of its closed
    neighborhood. Output rows are (child, parent) with child > parent.

    WINDOW form (optimization round 15): m = least(min(v) over
    (partition by u), u) attaches the neighborhood minimum to every
    edge row in ONE exchange — the old groupBy + self-join shape cost
    two exchange-feeding references to the round's input subtree (the
    un-materialized star pipeline), which Catalyst plans as duplicated
    subtrees: 22 planned Exchanges per fixpoint round vs 6 in this
    form, measured ~2x per-round wall at bench scale with
    SET-IDENTICAL output per round (adversarial A/B in SCALING.md
    r15). Window partitions are node neighborhoods — the same key (and
    the same skew profile) the old join keyed on; the unbounded-frame
    min buffers one neighborhood per task via a spill-capable buffer,
    the price of halving the round's exchange count.

    ``dedup=False`` skips the trailing distinct — correct whenever the
    consumer tolerates duplicate edge rows (``_small_star``'s window
    aggregates are duplicate-insensitive and it closes with its own
    distinct), and worth one exchange per fixpoint round: on the small
    contracted edge sets of late rounds the per-round SHUFFLE COUNT,
    not data volume, is the cost."""
    und = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    w = Window.partitionBy("u")
    m = F.least(F.min("v").over(w), F.col("u"))
    out = (
        und.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    return out.distinct() if dedup else out


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient every edge from its larger endpoint,
    then attach each node's smaller-or-equal neighbors AND itself to the
    minimum of that set. Output rows are (child, parent), child > parent.

    Same single-exchange window shape as :func:`_large_star`: the
    neighborhood minimum rides a window instead of a groupBy +
    self-join, and the per-node self edge (u, m) is fused into the
    member emit via row_number + explode, so the round's input is
    referenced ONCE (the old members/selfs split planned the whole
    upstream subtree twice). Duplicate input rows (from a
    ``dedup=False`` large star) are harmless: window min and the
    emitted values are duplicate-insensitive, rn = 1 still picks
    exactly one self edge per node, and the trailing distinct is the
    round's canonical set anyway — the old leading distinct bought
    nothing but an exchange."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    w = Window.partitionBy("u")
    wo = Window.partitionBy("u").orderBy("v")
    d = directed.withColumn("m", F.min("v").over(w)).withColumn(
        "rn", F.row_number().over(wo)
    )
    member = F.struct(F.col("v").alias("u"), F.col("m").alias("v"))
    own = F.struct(F.col("u").alias("u"), F.col("m").alias("v"))
    both = F.when(F.col("rn") == 1, F.array(member, own)).otherwise(
        F.array(member)
    )
    return (
        d.select(F.explode(both).alias("e"))
        .select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


# below this many edges the alternating-star rounds are finished on the
# driver with union-find (see _finish_local): 64k edges of two ids is a
# few MB — far under driver limits, and exactly the regime where every
# extra distributed round is fixed scheduling latency on near-empty
# partitions. At scale the star rounds contract the graph into this
# regime in O(log n) rounds, so the bound replaces only the tail.
LOCAL_FINISH_MAX_EDGES = 65536


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_rounds: int = 50,
    pairs_canonical: bool = False,
) -> DataFrame:
    """(id, cluster_id) for every id appearing in ``pairs``; cluster_id is
    the component's minimum id.

    Alternating large-star/small-star contraction [Kiveris, Lattanzi,
    Mirrokni, Rastogi, Vassilvitskii 2014, "Connected Components in
    MapReduce and Beyond"]: converges in O(log) rounds REGARDLESS of
    component diameter — the property that matters at 100 TB, where
    min-label propagation's O(diameter) rounds melt down on the long
    chains a near-dup threshold graph actually produces (A~B~C~...
    chains of moderately-similar documents). Each round is two
    (aggregate + join) passes over an edge set that only contracts; at
    the fixpoint every component is a star around its minimum id, so
    labels read off the final edge list with no extra pass.

    Every round's edge set is localCheckpoint-ed (lineage would double
    per round otherwise); the fixpoint test is an exceptAll count on
    canonically-oriented edges — exact, no hashing. Raises if
    ``max_rounds`` is hit (a correctness failure, not a soft timeout:
    unconverged stars would split one true cluster).

    ``pairs_canonical=True`` is the optimization-round-15 fast path for
    callers that GUARANTEE ``pairs`` is already a distinct, non-null
    pair set with ``id_a < id_b`` on every row (e.g. the star-edge
    generators and ``ensemble_dedup``'s pair-keyed aggregate): the
    initial dedup and canonical-orientation exchanges (plus their two
    eager checkpoints) are pure re-derivations of what the caller
    already holds, so they are skipped — one narrow column swap
    replaces two shuffles and two materialization jobs. Callers that
    cannot prove the contract keep the default."""
    if pairs_canonical:
        cur = (
            pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v"))
            .localCheckpoint(eager=True)
        )
        all_ids = (
            cur.select(F.col("u").alias("id"))
            .union(cur.select(F.col("v").alias("id")))
            .distinct()
            .localCheckpoint(eager=True)
        )
    else:
        edges = (
            pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        all_ids = (
            edges.select(F.col("u").alias("id"))
            .union(edges.select(F.col("v").alias("id")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # canonical orientation for the fixpoint comparison
        cur = (
            edges.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
    def _finish_local(cur_edges: DataFrame, n_edges: int) -> DataFrame:
        # Bounded driver finish (optimization r15): the per-round edge
        # stats already give the EXACT size of the checkpointed edge
        # set, and every alternating-star round costs a fixed ~0.5 s of
        # stage scheduling regardless of data (6 exchanges + stats job
        # + AQE replanning) — on an edge set this small the remaining
        # O(log n) rounds are pure latency. Union-find over <= 64k
        # collected edges computes the identical min-id labeling (the
        # bounded-collect family: k+1 / 65537 / MAX_DAYS pulls). At
        # scale the distributed rounds contract the graph first, so
        # this replaces only the tail; correctness rests on the same
        # invariant the fixpoint labeling already uses (a node absent
        # from the current edge set is a singleton).
        rows = cur_edges.limit(n_edges + 1).collect()
        # a real raise, not assert: this guards an unbounded driver
        # collect at scale and must survive python -O
        if len(rows) > n_edges:
            raise RuntimeError("edge set grew past its stats count")
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            u, v = r["u"], r["v"]
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
        comp_min: dict = {}
        for x in parent:
            r = find(x)
            m = comp_min.get(r)
            if m is None or x < m:
                comp_min[r] = x
        spark = cur_edges.sparkSession
        id_type = cur_edges.schema["u"].dataType.simpleString()
        labels = spark.createDataFrame(
            [(x, comp_min[find(x)]) for x in parent] or [],
            f"id {id_type}, label {id_type}",
        )
        return (
            all_ids.join(labels, "id", "left")
            .select(
                "id",
                F.coalesce(F.col("label"), F.col("id")).alias("cluster_id"),
            )
        )

    def _edge_stats(df: DataFrame):
        # (count, sum(hash(u,v))) in ONE scalar job over the just-
        # checkpointed edge set: equal stats are NECESSARY for set
        # equality (xxhash64 is deterministic and type-agnostic — node
        # ids may be strings, e.g. the linkage name graph; the sum runs
        # in decimal(38,0) because ANSI bigint sums raise on overflow
        # and hash values span the full int64 range), so rounds whose
        # stats moved skip
        # the exceptAll shuffle entirely; only a stats-stable round
        # pays the exact confirmation. (Optimization r15 — the old
        # count()-only gate ran exceptAll on every equal-count round,
        # and near-converged rounds keep the count stable for several
        # rounds while edges still churn.)
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("sh"),
        ).first()
        return (r["n"], r["sh"])

    s_cur = _edge_stats(cur)
    for _ in range(max_rounds):
        if s_cur[0] <= LOCAL_FINISH_MAX_EDGES:
            return _finish_local(cur, s_cur[0])
        # one alternating-star round per checkpoint barrier. (Batching
        # TWO rounds per barrier was tried in round 9 and REGRESSED ~60%
        # at bench scale: the coarser convergence check runs extra no-op
        # star rounds and the deeper per-job DAG schedules worse than
        # the barrier it saves — the barrier count is not the bottleneck,
        # total star-round count is.)
        nxt = _small_star(_large_star(cur, dedup=False)).localCheckpoint(
            eager=True
        )
        # both sides are DISTINCT sets, so equal stats + empty one-way
        # difference ⟺ equality; exceptAll remains the EXACT gate — the
        # stats only decide when it is worth running
        s_nxt = _edge_stats(nxt)
        changed = (
            1 if s_nxt != s_cur else nxt.exceptAll(cur).limit(1).count()
        )
        cur, s_cur = nxt, s_nxt
        if changed == 0:
            # stars: (child, root) rows; roots only appear as parents
            labels = cur.select(F.col("u").alias("id"), F.col("v").alias("label"))
            return (
                all_ids.join(labels, "id", "left")
                .select(
                    "id",
                    F.coalesce(F.col("label"), F.col("id")).alias("cluster_id"),
                )
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds"
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    pairs_canonical: bool = False,
) -> DataFrame:
    """Per-document dedup verdict: (doc_id, cluster_id, is_keeper).

    Documents in no pair are their own singleton cluster (kept). Within a
    cluster the keeper is the minimum doc_id — and because cluster_id IS
    the component minimum, the keeper test is a plain column comparison,
    no second aggregation pass.

    ``pairs_canonical`` passes through to
    :func:`connected_components` — set it only when the pair relation
    is provably distinct with ``id_a < id_b`` everywhere."""
    cc = connected_components(pairs, id_a, id_b, pairs_canonical=pairs_canonical)
    ids = docs.select(F.col(id_col))
    return (
        ids.join(cc, ids[id_col] == cc["id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
        )
        .withColumn(
            "is_keeper", (F.col(id_col) == F.col("cluster_id")).cast("int")
        )
    )


def keeper_by_quality(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    pairs_canonical: bool = False,
) -> DataFrame:
    """Quality-aware dedup close-out: (doc_id, cluster_id, keeper_id,
    is_keeper), keeping the HIGHEST-``quality_col`` document per
    near-duplicate cluster (min doc_id breaks ties) instead of the
    smallest id.

    This is the production nuance ``dedup_clusters`` skips: when a
    cluster mixes a clean copy and a truncated/boilerplated copy, id
    order keeps an arbitrary one — quality order keeps the right one.
    One window max_by over the cluster (cluster partitions are duplicate-
    group-sized, no skew), after the same label-propagation components.
    ``pairs_canonical`` passes through to :func:`connected_components`.
    """
    cc = connected_components(pairs, id_a, id_b, pairs_canonical=pairs_canonical)
    base = docs.select(F.col(id_col), F.col(quality_col))
    clustered = (
        base.join(cc, base[id_col] == cc["id"], "left")
        .select(
            base[id_col].alias(id_col),
            F.coalesce(F.col("cluster_id"), base[id_col]).alias("cluster_id"),
            F.col(quality_col),
        )
    )
    w = Window.partitionBy("cluster_id")
    # keeper = max quality, then min id: one min over an invertible
    # (neg quality, id) struct — no row_number shuffle round-trip
    keeper = F.min(
        F.struct((-F.col(quality_col)).alias("q"), F.col(id_col).alias("i"))
    ).over(w)["i"]
    return clustered.select(
        F.col(id_col),
        F.col("cluster_id"),
        keeper.alias("keeper_id"),
        (F.col(id_col) == keeper).cast("int").alias("is_keeper"),
    )


def pagerank_int(
    edges: DataFrame,
    iters: int = 2,
    damping_pct: int = 85,
    scale: int = 1_000_000,
) -> DataFrame:
    """Fixed-point integer PageRank over a directed edge list (src, dst).

    The Pregel shape in DataFrames: per iteration, join ranks onto edges
    by src (contribution = rank div degree, EXACT integer division) and
    re-aggregate by dst — two key-partitioned shuffles per iteration,
    nothing driver-side. All state is integer micro-units (rank starts
    at ``scale``, teleport is (100-damping_pct)% of scale, damped sums
    use ``(85 * s) div 100``), so results are order-independent and
    engine-exact: float division + floor would round at the ulp and
    disagree across engines near integer quotients, integer ``div``
    cannot.

    Assumes every node has out-degree >= 1 (true for symmetrized edge
    lists — pass both directions for an undirected graph); dangling-mass
    redistribution is deliberately out of scope. At 100 TB the edge join
    is the skew risk (hub nodes); salt the src key or let AQE skew-split
    it — the rank side is node-sized, not edge-sized.

    Returns (node, pr, degree).
    """
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    pr = deg.select(
        F.col("src").alias("node"), F.lit(scale).cast("bigint").alias("pr")
    )
    teleport = scale - scale * damping_pct // 100
    for _ in range(iters):
        contrib = (
            edges.join(deg, "src")
            .join(pr, F.col("src") == F.col("node"))
            .select(F.col("dst"), F.expr("pr div deg").alias("c"))
        )
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        pr = sums.select(
            F.col("dst").alias("node"),
            (
                F.lit(teleport)
                + F.expr(f"({damping_pct} * s) div 100")
            ).cast("bigint").alias("pr"),
        )
    return pr.join(deg, pr["node"] == deg["src"]).select(
        "node", "pr", F.col("deg").cast("bigint").alias("degree")
    )


def exact_star_edges(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_a, doc_b) edges linking every exact duplicate (whitespace-
    normalized md5 of the lowered text) to its group's MINIMUM id — star
    edges, so a d-sized duplicate group contributes d-1 edges instead of
    d*(d-1)/2 while producing identical connected components. One
    fingerprint-keyed window, no self-join."""
    norm = F.md5(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    # NULL text is not comparable content: a window would lump every
    # NULL-fingerprint doc into one "duplicate" group (and diverge from
    # SQL equi-join semantics, where NULL joins nothing)
    f = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), norm.alias("__fp")
    )
    w = Window.partitionBy("__fp")
    return (
        f.withColumn("__min", F.min(id_col).over(w))
        .filter(F.col(id_col) > F.col("__min"))
        .select(F.col("__min").alias("doc_a"), F.col(id_col).alias("doc_b"))
    )


def ensemble_dedup(
    docs: DataFrame,
    edge_sources: dict[int, DataFrame],
    id_col: str = "doc_id",
) -> DataFrame:
    """Multi-signal dedup verdict: union several duplicate-evidence edge
    sources — each tagged with a power-of-two provenance bit — into one
    graph, run connected components once, and report per document which
    SIGNALS implicated it. This is the production composition (exact
    hash + MinHash-fuzzy + embedding-semantic, a la Dolma/FineWeb): each
    signal alone misses a duplicate class; the union's transitive
    closure catches chains no single signal sees (A=B exactly, B~C
    semantically => A,B,C one cluster).

    ``edge_sources``: provenance bit -> DataFrame with (doc_a, doc_b).
    Returns (doc_id, cluster_id, is_keeper, signals) for EVERY document;
    ``signals`` is the bit-OR over the document's incident edges (0 for
    singletons).

    Scale shape: edge tagging/normalizing is row-local; the union
    aggregates once on the (a, b) pair key (bit_or partial-aggregates
    map-side); components run on the combined edge list — one graph
    pass total instead of one per signal."""
    tagged = None
    for bit, edges in sorted(edge_sources.items()):
        t = edges.select(
            F.least(F.col("doc_a"), F.col("doc_b")).alias("doc_a"),
            F.greatest(F.col("doc_a"), F.col("doc_b")).alias("doc_b"),
            F.lit(bit).cast("int").alias("sig"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    # the merged edge relation feeds TWO independent consumers — the
    # component fold (which immediately materializes its own copy) and
    # the incident-signal aggregate in the final plan. Checkpointing it
    # once here means the expensive signal subtrees (LSH pair join,
    # embedding bucket join) run ONCE, not once per consumer; the
    # relation itself is pair-sized (already deduped on the pair key).
    edges = (
        tagged.groupBy("doc_a", "doc_b")
        .agg(F.bit_or("sig").alias("signals"))
        .localCheckpoint(eager=True)
    )
    # the pair-keyed aggregate guarantees distinct rows, and every edge
    # source emits strict pairs before the least/greatest normalization,
    # so doc_a < doc_b holds — the components can skip their own
    # re-dedup/re-orientation exchanges (pairs_canonical contract)
    verdict = dedup_clusters(docs, edges, id_col, pairs_canonical=True)
    incident = (
        edges.select(F.col("doc_a").alias(id_col), "signals")
        .unionByName(edges.select(F.col("doc_b").alias(id_col), "signals"))
        .groupBy(id_col)
        .agg(F.bit_or("signals").alias("signals"))
    )
    return verdict.join(incident, id_col, "left").select(
        F.col(id_col),
        F.col("cluster_id"),
        F.col("is_keeper"),
        F.coalesce(F.col("signals"), F.lit(0)).cast("int").alias("signals"),
    )
