"""Iterative graph operators: one Pregel-style superstep driver
(:func:`fixpoint`), the shared co-purchase edge build, and fixed-point
(integer-arithmetic) PageRank.

Superstep contract (Malewicz et al., "Pregel", SIGMOD 2010).  Every
iterative graph loop in the package -- min-label and large-star/
small-star connected components (``llm/dedup.py``), k-core peeling,
label propagation, BFS and Bellman-Ford (``queries/mining.py``) and
PageRank below -- is a ``step`` from one state DataFrame to the next,
run by :func:`fixpoint`.  A loop whose STATIC edge list is joined on
the same key every round (min-label CC, LPA, BFS, Bellman-Ford) lays
it out once, before the loop, with ``layout.ckpt_partitioned`` on that
key, so a round shuffles only the node-sized state side (PageRank's
src-partitioned copy measured slower and keeps plain checkpoints;
k-core and star CC rewrite the edges themselves).  The driver owns the
rest:

- Lineage cut: the state is ``localCheckpoint``-ed after every round
  except the last (with a signature, see below).  Round N then never replays rounds 1..N-1, and a
  state consumed twice by the next step (frontier filter + carry,
  degree rollup + semi-join) is read from stored blocks instead of
  re-executing its plan once per consumer (BFS measured 4.8 s with an
  every-round cut vs 5.4 s every other round at sf0.1).
- Convergence: with a ``signature`` the round's checkpoint is LAZY
  and the one job that evaluates the signature aggregate also
  materializes it -- one job per round, no comparison join.  The loop
  stops on the first signature equal to the previous round's.  The
  last round is cut too, since only its signature tells whether it
  was the fixpoint.
- Exactness: a signature may only repeat when the state did not
  change, so stopping early is value-identical to running every
  round (the oracles unroll the full round count).  That holds for a
  monotone state: k-core edges only shrink and BFS hop sets only
  grow, so ``count`` is exact; min-label labels and Bellman-Ford
  distances never increase while the node set never shrinks, so
  :func:`count_sum` (count, sum as DECIMAL(38,0) -- no overflow) is
  exact.  Large-star/small-star rewires edges non-monotonically and
  keeps its (count, xxhash-sum) fingerprint.  Label propagation and
  PageRank are not monotone and run their fixed rounds unsigned.
- Non-convergence: callers that need the fixpoint (connected
  components) raise :class:`FixpointNotConverged`; the fixed-round
  queries accept the budgeted state, exactly as their unrolled
  oracles do.

Fixed-point PageRank.  PageRank in floating point is NOT reproducible
across engines or even across reruns at scale: the per-node sum of
neighbor contributions is order-dependent in IEEE double, and
partial-aggregation order changes with partitioning.  This
implementation therefore runs the entire iteration in scaled BIGINT
arithmetic:

    R0       = SCALE div N
    BASE     = (R0 * (100 - d)) div 100
    R'(v)    = BASE + (d * sum_{u->v}(R(u) div outdeg(u))) div 100

with ``d`` the damping percentage (85 = the classic 0.85).  Every
operation is exact integer math, so Spark and any ANSI engine produce
bit-identical ranks -- which is how the DuckDB oracle can value-check an
iterative graph algorithm (same trick as the md5-derived sketches).
Scale shape per superstep: one join of ranks to edges on src, one
groupBy dst with map-side partial sums, one left join back to the node
set for dangling-in-degree nodes.  Iteration count is fixed -- at
100 TB you run a budgeted number of supersteps, not to convergence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from .layout import spread_input

SCALE = 10**9


class FixpointNotConverged(RuntimeError):
    """An iterative operator that needs its fixpoint ran out of rounds
    before its signature repeated."""


def fixpoint(state: DataFrame, step, rounds: int, signature=None):
    """Run ``state = step(state)`` for up to ``rounds`` supersteps ->
    ``(state, rounds_run, converged)``.

    Without ``signature`` exactly ``rounds`` rounds run and
    ``converged`` is False (nothing was tested).  With it, the loop
    stops after the first round whose ``signature(state)`` equals the
    previous round's; ``converged`` says whether that happened within
    ``rounds``.  See the module docstring for the cut and exactness
    contract."""
    prev = None
    for i in range(1, rounds + 1):
        state = step(state)
        if signature is None:
            if i < rounds:
                state = state.localCheckpoint(eager=True)
            continue
        state = state.localCheckpoint(eager=False)
        sig = signature(state)
        if sig == prev:
            return state, i, True
        prev = sig
    return state, rounds, False


def count_sum(col: str):
    """Exact signature of a monotone state (module docstring): its row
    count and the DECIMAL(38,0) sum of the integer column ``col``."""

    def signature(state: DataFrame):
        return tuple(
            state.agg(
                F.count(F.lit(1)), F.sum(F.col(col).cast("decimal(38,0)"))
            ).first()
        )

    return signature


def node_build(df: DataFrame) -> DataFrame:
    """Join-strategy marker for the node-sized build side of a
    per-round join (labels / frontier / keep sets): ``shuffle_hash``.
    The side derives from a corpus-scaled subtree, so it must never be
    FORCED to broadcast -- but a runtime-measured AQE broadcast (which
    ignores this hint when the side measures tiny) stays available,
    and sort-merge would re-sort the edge stream every round."""
    return df.hint("shuffle_hash")


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 8,
    damping_pct: int = 85,
) -> DataFrame:
    """Ranks for the directed graph in ``edges`` (columns src, dst).

    Edges must be pre-deduplicated; every node is expected to appear as
    a source at least once (an undirected co-occurrence graph satisfies
    this by construction).  Returns ``(node, rank)`` with rank in
    SCALE-scaled fixed point; an empty edge list has no nodes and
    yields an empty frame.
    """
    # Checkpoint the static relations ONCE: every superstep -- and
    # every checkpoint of the rank chain -- would otherwise re-derive
    # the edge construction subtree (explode + distinct over the raw
    # input) from scratch.
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()  # bounded driver scalar: one integer
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0).cast("bigint"))
    r0 = SCALE // n_nodes
    base = (r0 * (100 - damping_pct)) // 100
    contrib_edges = e.join(deg, "src").localCheckpoint(eager=True)

    def step(ranks: DataFrame) -> DataFrame:
        inbound = (
            ranks.join(contrib_edges, ranks.node == contrib_edges.src)
            .select(
                F.col("dst").alias("node"),
                F.expr("rank div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        return nodes.join(inbound, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
            ).cast("bigint").alias("rank"),
        )

    ranks = nodes.withColumn("rank", F.lit(r0).cast("bigint"))
    return fixpoint(ranks, step, iterations)[0]


def duck_pagerank_sql(
    edges_cte: str,
    iterations: int = 8,
    damping_pct: int = 85,
) -> str:
    """Unrolled DuckDB twin of :func:`pagerank_fixed_point`.

    ``edges_cte`` is a SQL fragment producing (src, dst).  Unrolling a
    fixed iteration count sidesteps engine-specific recursive-CTE
    aggregate restrictions; the text is generated, not hand-kept, so it
    cannot drift from the Spark loop.  Final ranks are CAST to BIGINT
    (DuckDB sums integers into HUGEINT -- the q12 lesson).
    """
    parts = [
        f"e AS ({edges_cte})",
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        "nodes AS (SELECT DISTINCT src AS node FROM e"
        " UNION SELECT DISTINCT dst FROM e)",
        f"c0 AS (SELECT {SCALE} // count(*) AS r0,"
        f" (({SCALE} // count(*)) * {100 - damping_pct}) // 100 AS base"
        " FROM nodes)",
        "r0 AS (SELECT node, (SELECT r0 FROM c0) AS rank FROM nodes)",
    ]
    for i in range(iterations):
        parts.append(
            f"r{i + 1} AS (SELECT n.node, CAST((SELECT base FROM c0)"
            f" + ({damping_pct} * coalesce(s.c, 0)) // 100 AS BIGINT) AS rank"
            " FROM nodes n LEFT JOIN ("
            f"SELECT e.dst AS node, sum(r.rank // deg.outdeg) AS c"
            f" FROM r{i} r JOIN e ON r.node = e.src"
            " JOIN deg ON deg.src = e.src GROUP BY e.dst) s"
            " ON n.node = s.node)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, CAST(rank AS BIGINT) AS rank FROM r{iterations}"
    )


def copurchase_edges(lineitem, min_support: int = 2, weight: bool = False):
    """Part co-purchase edge list (x < y, ``cnt`` = orders shared) with
    support >= ``min_support`` -- the one lineitem self-join on the
    order key behind every co-purchase graph query.  Support 2 (LPA,
    Adamic-Adar, Bellman-Ford, Hill alpha) keeps the repeat-signal
    graph; support 1 (k-core, BFS) is the plain distinct pair list.

    The input is spread first (``layout.spread_input``: a compact
    lineitem scan would otherwise run the whole pair emission in one
    task).  Checkpointed EAGERLY before returning: the edge list is
    always consumed through several different projections (und
    directions, degree rollups, anti-join legs), which defeats exchange
    reuse and re-executed the lineitem self-join once PER CONSUMER
    before the cut -- the round-4 rehearsal measured 24 GB of spill
    from exactly that in the first Adamic-Adar cut.  The unthresholded
    list is stored DISK_ONLY: it is corpus-scaled under densification
    (fixed part catalog, fact-scaled orders), and materializing it into
    heap-priced MEMORY_AND_DISK blocks OOM'd a 48 g heap at sf100; the
    support-thresholded list keeps the memory default.  With
    ``weight=True`` the edge carries ``w = 1000000 DIV support``
    (integer, strong ties cheap -- the Bellman-Ford cost) instead of
    ``cnt``.
    """
    li = spread_input(lineitem.select("l_orderkey", "l_partkey"), "l_orderkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb"))
    base = (
        a.join(b, "o")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy(F.col("pa").alias("x"), F.col("pb").alias("y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .filter(F.col("cnt") >= min_support)
    )
    if weight:
        base = base.select(
            "x", "y", F.expr("CAST(1000000 DIV cnt AS BIGINT)").alias("w")
        )
    level = StorageLevel.DISK_ONLY if min_support == 1 else None
    return base.localCheckpoint(eager=True, storageLevel=level)
