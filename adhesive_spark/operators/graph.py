"""Iterative graph operators: connected components for transitive
dedup closure.

``dedup_minhash`` (operators/dedup.py) is single-linkage one level deep;
the exact variant needs the transitive closure of the near-dup pair
graph. :func:`connected_components` computes it with alternating
large-star / small-star rounds (Kiveris et al., "Connected Components
in MapReduce and Beyond"): every round rewires each node toward its
neighborhood minimum, so components collapse in O(log² n) rounds
whatever their diameter. Near-dup chains (A~B~C~…) are deep paths, the
shape on which diameter-bound label propagation needs one round per
hop.

Scale notes: lineage is cut with ``localCheckpoint`` every round —
without it the plan doubles per iteration and the driver dies planning
round ~15 long before data size matters. Once the edge set is small
enough (at entry, or after rounds have contracted it), the rest of the
closure is one driver-side union-find pass.

The reference has no iterative operators (its only loop is the per-row
UDF kernel, java/.../Adhesive.java:68-70); this is north-star surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from adhesive_spark.sources.registry import checkpoint_corpus

#: Edge-count gate below which the component closure finishes on the
#: driver (union-find over the collected edge list) instead of running
#: more cluster-wide rounds.  1M edges is ~16 MB of long pairs over
#: Arrow — the same order of bytes a broadcast side materializes on the
#: driver anyway — and replaces O(log² n) full-shuffle rounds with one
#: linear pass.  At 100 TB the pair graph enters the distributed loop
#: and drops to the local finish only once the star rounds have
#: contracted it below the gate (each round shrinks the edge set toward
#: the star forest).  A cluster with a bigger driver passes its own
#: ``local_threshold``.
#: String-keyed graphs are additionally BYTE-gated (see :func:`_cc_gate`):
#: the count threshold assumes 16-byte long pairs, and 1M fat string
#: keys can be far more than that budget.
_CC_LOCAL_EDGES = 1_000_000


def _cc_gate(e: DataFrame, max_edges: int, *extra) -> tuple:
    """``(edge_count, fits_local, *extra_values)`` for a CACHED edge
    set, from ONE aggregate over it; ``extra`` aggregates ride along.

    The local-finish budget was always a BYTE budget in disguise: the
    ``max_edges`` comment assumes long pairs (16 bytes/edge, ~16 MB at
    the 1M default).  Numeric node ids really are 16 bytes/edge, so the
    count decides.  String ids can be arbitrarily wide (entity
    resolution collects name keys), so for them the same aggregate
    measures actual key bytes and the gate additionally requires
    ``key_bytes + 16·n ≤ max_edges·16`` (the 16/edge term covers Arrow
    offsets / Python object overhead) — a 1M-edge set of fat string
    keys correctly stays on the distributed loop."""
    from pyspark.sql import types as T

    a, b = e.columns[0], e.columns[1]
    kb = []
    if max_edges > 0 and isinstance(e.schema[0].dataType, T.StringType):
        kb = [F.coalesce(F.sum(F.octet_length(a) + F.octet_length(b)), F.lit(0))]
    row = e.agg(F.count(F.lit(1)), *kb, *extra).first()
    n = int(row[0])
    fits = max_edges > 0 and n <= max_edges
    if kb:
        fits = fits and int(row[1]) + 16 * n <= max_edges * 16
    return (n, fits, *(int(v) for v in row[1 + len(kb) :]))


def _solve_components_locally(e: DataFrame) -> DataFrame:
    """Union-find finish for a SMALL edge set (the caller gates on a
    measured count): collect the two edge columns via Arrow, label every
    node that appears with the MINIMUM node id of its component —
    exactly the star fixpoint semantics (UTF-8 byte order
    and Python code-point order agree for strings, so min is
    engine-identical) — and return a (node, component) DataFrame.
    Self-loops and duplicate/bidirectional edges are tolerated."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    edges = e.toArrow()
    a_vals = edges.column(0).to_pylist()
    b_vals = edges.column(1).to_pylist()
    parent: dict = {}

    def find(x):
        r = x
        while True:
            p = parent.get(r, r)
            if p == r:
                break
            r = p
        while True:  # path compression
            p = parent.get(x, x)
            if p == x:
                break
            parent[x] = r
            x = p
        return r

    for x, y in zip(a_vals, b_vals):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[ry] = rx

    seen = set(a_vals)
    seen.update(b_vals)
    comp_min: dict = {}
    for x in seen:
        r = find(x)
        m = comp_min.get(r)
        if m is None or x < m:
            comp_min[r] = x
    nodes_out = list(seen)
    node_t = e.schema[0].dataType
    schema = T.StructType(
        [
            T.StructField("node", node_t, False),
            T.StructField("component", node_t, False),
        ]
    )
    out = pa.Table.from_pydict(
        {
            "node": nodes_out,
            "component": [comp_min[find(x)] for x in nodes_out],
        },
        schema=to_arrow_schema(schema),
    )
    return e.sparkSession.createDataFrame(out, schema=schema)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_rounds: int = 12,
    local_threshold: int = _CC_LOCAL_EDGES,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; the
    component id is the minimum node id reachable from the node.

    Alternating LARGE-STAR / SMALL-STAR rounds:

    - large-star(u): every neighbor v > u rewires to min(Γ(u) ∪ {u});
    - small-star(u): u and its smaller neighbors rewire to their min.

    Each is one groupBy + one equi-join per round, and the rounds
    needed grow as O(log² n), not with component diameter: a 10⁹-node
    path needs ~30 rounds, where min-label propagation would need 10⁹.
    Fixpoint = the edge set is a star forest (child → component min);
    non-convergence within ``max_rounds`` raises loudly (never a
    silently-partial labeling). Self-loops are tolerated: they pin
    isolated nodes into the output (the q260 grid convention).

    ``local_threshold`` (default ``_CC_LOCAL_EDGES``, 1M edges): when
    the set about to be collected is at most this many edges, the
    closure finishes in one driver-side union-find pass instead of
    more cluster-wide rounds — identical labels, since star rounds
    preserve the component partition.  At entry that set is the
    canonical edge set with its self-loops, which names every node, so
    the union-find result is the answer as it stands.  After some
    rounds it is the contracted edge set, which has lost its isolated
    nodes, so the result is joined back to the node set.  0 disables
    the local finish.
    """
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # ONE canonical materialization (orient high→low, KEEP self-loops,
    # dedup): the entry-time local finish, the node set and the working
    # edge set all derive from it, so the — possibly expensive —
    # upstream pair source is evaluated exactly once.
    canon = (
        raw.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
        .transform(checkpoint_corpus)
    )
    # one cached scan gives the gate AND the self-loop-free edge count
    # the round loop's change test starts from
    _, fits, n_e = _cc_gate(
        canon, local_threshold, F.count(F.when(F.col("a") != F.col("b"), 1))
    )
    if fits:
        return _solve_components_locally(canon)

    nodes = (
        canon.select(F.col("a").alias("node"))
        .union(canon.select(F.col("b").alias("node")))
        .distinct()
    )

    def _attach(labels: DataFrame, *, broadcast: bool) -> DataFrame:
        lab = F.broadcast(labels) if broadcast else labels
        return nodes.join(lab, "node", "left").select(
            "node", F.coalesce("component", "node").alias("component")
        )

    def _sym(df: DataFrame) -> DataFrame:
        return df.union(
            df.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )

    e = canon.where(F.col("a") != F.col("b"))
    converged = False
    for _ in range(max_rounds):
        # LARGE-STAR: v > u rewires to m(u) = min(Γ(u) ∪ {u})
        sym = _sym(e)
        mins = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        large = (
            sym.where(F.col("b") > F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # SMALL-STAR: u and its smaller neighbors rewire to their min
        sym2 = _sym(large)
        small_nbrs = sym2.where(F.col("b") < F.col("a"))
        smins = small_nbrs.groupBy("a").agg(F.min("b").alias("m"))
        new_e = (
            small_nbrs.join(smins, "a")
            .select(
                F.col("b").alias("child"), F.col("m").alias("root"), F.col("a")
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("child").alias("a"), F.col("root").alias("b")
                        ),
                        F.struct(
                            F.col("a").alias("a"), F.col("root").alias("b")
                        ),
                    )
                ).alias("p")
            )
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .transform(checkpoint_corpus)
        )
        n_new, fits = _cc_gate(new_e, local_threshold)  # cached scan
        if fits:
            return _attach(
                _solve_components_locally(new_e), broadcast=True
            )
        if n_new != n_e:
            changed = 1
        else:
            # equal counts: sets are equal iff the symmetric difference
            # is empty — ONE tagged-union aggregate over the two cached
            # distinct sets
            changed = (
                new_e.select("a", "b", F.lit(1).alias("__s"))
                .union(e.select("a", "b", F.lit(-1).alias("__s")))
                .groupBy("a", "b")
                .agg(F.sum("__s").alias("__d"))
                .where(F.col("__d") != 0)
                .limit(1)
                .count()
            )
        e = new_e
        n_e = n_new
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within "
            f"max_rounds={max_rounds} alternating rounds — raise max_rounds"
        )
    # fixpoint edge set is a star forest: child -> component min
    labels = e.groupBy(F.col("a").alias("node")).agg(
        F.min("b").alias("component")
    )
    return _attach(labels, broadcast=False)


def dedup_transitive(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    *,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Exact fuzzy dedup: keep one doc (the min id) per connected
    component of the near-dup pair graph; docs in no pair survive."""
    comp = connected_components(pairs, src, dst)
    losers = comp.where(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def pagerank_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    n_iter: int = 2,
    scale: int = 10**9,
    damping_pct: int = 85,
) -> DataFrame:
    """(node, rank_scaled): PageRank in PURE INTEGER arithmetic — ranks
    are BIGINTs scaled by ``scale``, each contribution is
    ``rank DIV out_degree`` and the damping step is ``(sum * 85) DIV
    100``, so every intermediate is exact and the whole trajectory
    hashes identically in any engine (float PageRank is not
    reproducible: neighbor-sum order varies run to run).  The truncation
    bias of integer division is bounded by out_degree · scale⁻¹ per node
    per round — noise at scale=1e9, and the SAME noise everywhere.

    Every node must appear as a src at least once (symmetrize beforehand
    for undirected graphs — a dangling node would leak its rank).

    Per iteration: one equi-join of ranks onto edges (both sides hash on
    the node key) + one sum aggregate on dst — two keyed shuffles, with
    lineage cut per round.
    The teleport term and N come from a 1-row count relation
    cross-joined in (broadcast), not a driver collect.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    e = e.transform(checkpoint_corpus)
    deg = e.groupBy("s").agg(F.count("*").alias("deg"))
    ed = e.join(deg, "s").transform(checkpoint_corpus)
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select("d"))
        .distinct()
        .transform(checkpoint_corpus)
    )
    n_rel = nodes.agg(F.count("*").alias("n"))
    # init: 1/N, scaled; teleport base: (1-d)/N, scaled
    ranks = nodes.crossJoin(F.broadcast(n_rel)).select(
        "node", F.expr(f"CAST({scale} AS BIGINT) DIV n").alias("rank_scaled")
    )
    base = F.expr(
        f"CAST({scale * (100 - damping_pct)} AS BIGINT) DIV (100 * n)"
    )
    for _ in range(n_iter):
        contribs = ranks.join(
            ed, ranks["node"] == ed["s"]
        ).select(
            F.col("d").alias("node"),
            F.expr("rank_scaled DIV deg").alias("contrib"),
        )
        sums = contribs.groupBy("node").agg(
            F.sum("contrib").alias("in_sum")
        )
        ranks = (
            nodes.join(sums, "node", "left")
            .crossJoin(F.broadcast(n_rel))
            .select(
                "node",
                (
                    base
                    + F.expr(
                        f"(coalesce(in_sum, CAST(0 AS BIGINT)) "
                        f"* {damping_pct}) DIV 100"
                    )
                ).alias("rank_scaled"),
            )
            .transform(checkpoint_corpus)
        )
    return ranks


def triangle_count(
    edges: DataFrame,
    *,
    orient: str = "id",
) -> DataFrame:
    """Global triangle count over an undirected edge list (columns
    ``u``, ``v``; each undirected edge present once, direction
    irrelevant, no self-loops) — the wedge-join algorithm with a
    pluggable orientation:

    - ``orient="id"``: edges directed low-id → high-id.  Simple, and
      what q131's oracle mirrors — but a LOW-id hub fans out its whole
      neighborhood, so the wedge join is bounded only by Σ out-deg².
    - ``orient="degree"``: edges directed low-(degree, id) →
      high-(degree, id) — the classic m^1.5 bound (every node's
      out-degree ≤ √(2m) toward higher-ranked nodes), which is why
      production triangle counting at 100 TB ALWAYS degree-orients: a
      celebrity node fans out nothing because almost all its edges
      point INTO it.

    Every triangle has exactly one cyclic ordering under ANY total
    vertex order, so both orientations count each triangle once and the
    result is orientation-invariant (property-tested).  Cost: one
    degree aggregate (degree mode), the oriented-edge materialization,
    and the two-hop wedge equi-join — no pair enumeration outside the
    join keys.
    """
    if orient not in ("id", "degree"):
        raise ValueError(f"orient must be 'id' or 'degree', got {orient!r}")
    und = edges.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    if orient == "id":
        e = und.select(F.col("a").alias("u"), F.col("b").alias("v"))
    else:
        deg = (
            und.select(F.col("a").alias("node"))
            .unionAll(und.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("d"))
        )
        # rank = (degree, id): a strict total order, so exactly one
        # direction survives per edge
        ranked = (
            und.join(deg.withColumnRenamed("node", "a"), "a")
            .withColumnRenamed("d", "da")
            .join(deg.withColumnRenamed("node", "b"), "b")
            .withColumnRenamed("d", "db")
        )
        fwd = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
        )
        e = ranked.select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    # the oriented edge list feeds three join sides — materialize once
    e = e.transform(checkpoint_corpus)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e1.u") == F.col("e3.u"))
            & (F.col("e2.v") == F.col("e3.v")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
