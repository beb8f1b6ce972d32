"""Iterative graph operators for corpus-scale dedup clustering.

Near-dup pair streams (MinHash-LSH, SimHash, n-gram Jaccard — see
operators/dedup.py) induce an undirected graph over documents; the
clusters a curation pipeline actually wants are that graph's connected
components ("all transitive near-dups of X"), not individual pairs.
``keep_longest_of_pairs`` (sampling.py) is the cheap greedy resolution;
this module adds the exact clustering.

Spark has no built-in iterative-graph operator, so connected components
runs as a driver-side loop of DataFrame rounds — the Pregel pattern
(GraphX / GraphFrames implement their algorithms the same way). Each
round is pure declarative DataFrame ops (join + groupBy.min), so every
round gets Catalyst/AQE optimization, and ``localCheckpoint`` truncates
the lineage so the plan does not grow with the iteration count.

Scale: a round shuffles O(E) label messages hash-partitioned by node
id. Label propagation alone needs diameter(G) rounds; the added
pointer-jumping step (comp <- comp[comp], the classic Shiloach-Vishkin
halving) makes convergence O(log d). Near-dup graphs are shallow
(clusters of copies), so in practice 2-4 rounds; `max_iter` bounds the
adversarial case.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """(id, comp) for every node of the undirected pair graph, where
    ``comp`` is the smallest node id in the node's connected component
    (the canonical, order-independent cluster label).

    Algorithm per round (min-label propagation + pointer jumping):
      1. every node sends its current label to each neighbour;
         new label = min(own, received)        -- join + groupBy.min
      2. comp <- comp[comp]                    -- self-join on label
      3. stop when no label changed            -- observed change count

    The edge set is symmetrized, deduplicated, and cached once; every
    round reuses it. All shuffles hash-partition on node id, so AQE
    coalesces/splits them uniformly; no window functions, no Python.
    The convergence check rides the round's own materialization via
    ``observe`` (collected as a metric of the localCheckpoint job), so
    a round costs exactly ONE job. The observed quantity is the SUM of
    all labels, not a per-node comparison: every step is monotone
    non-increasing per node (propagate takes a min over the own label;
    the jump lands on labels(comp) <= comp because every label table
    satisfies label(x) <= x from comp=id init downward), so the sum is
    strictly smaller iff any node changed — which removes the
    labels-previous equality join (one shuffle/broadcast build per
    round) the change-count form needed.
    """
    from pyspark.sql import Observation

    # the row count rides the same Observation (no extra job); it tells
    # an empty label table from an overflowed sum (_observed_sum)
    _n = F.count(F.lit(1)).alias("n")
    e = pairs.select(
        F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
    )
    sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()
    sym = sym.persist()
    try:
        obs0 = Observation()
        labels = (
            sym.select(F.col("s").alias("id"))
            .distinct()
            .withColumn("comp", F.col("id"))
            .observe(obs0, _label_sum(), _n)
        )
        labels = labels.localCheckpoint(eager=True)
        prev_sum = _observed_sum(obs0)
        for it in range(max_iter):
            # 1. propagate: min over own label and all neighbour labels
            msgs = sym.join(labels.withColumnRenamed("id", "s"), "s").select(
                F.col("d").alias("id"), "comp"
            )
            nxt = (
                labels.unionByName(msgs)
                .groupBy("id")
                .agg(F.min("comp").alias("comp"))
            )
            # 2. pointer jump through the PREVIOUS round's label table:
            # comp <- labels(comp). Every comp value is a node id of the
            # same component and labels() is monotone non-increasing, so the
            # jump stays correct while still halving chain length per round
            # (two-phase variant). Jumping through `labels` — an already-
            # checkpointed leaf — instead of `nxt` itself keeps the join's
            # sides independent (Catalyst's attribute dedup rejects the
            # aggregate self-join) and saves a mid-round materialization.
            ptr = labels.withColumnRenamed("comp", "comp2").withColumnRenamed(
                "id", "comp"
            )
            obs = Observation()
            nxt = (
                nxt.join(ptr, "comp")
                .select("id", F.col("comp2").alias("comp"))
                .observe(obs, _label_sum(), _n)
            )
            # 3. converged iff no label changed, i.e. the monotone label
            # sum held steady this round (exact integer arithmetic).
            nxt = nxt.localCheckpoint(eager=True)
            labels = nxt
            cur_sum = _observed_sum(obs)
            if cur_sum == prev_sum:
                break
            prev_sum = cur_sum
        else:
            # An unconverged label table is silently WRONG for the documented
            # "comp = min id of the component" contract — fail loudly. With
            # pointer jumping, max_iter rounds cover diameters up to ~2^max_iter,
            # so hitting this means an extreme graph, not a tuning issue.
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds; "
                f"raise max_iter"
            )
    finally:
        sym.unpersist()
    return labels


def _label_sum():
    """The convergence probe: the sum of all labels. decimal(38,0)
    BEFORE the sum: V node ids of up to 2^63 would overflow a long
    accumulator far below the claimed corpus scale."""
    return F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")


def _observed_sum(obs) -> int:
    """A round's label sum. Non-ANSI decimal overflow yields NULL; read
    as 0, two overflowed rounds would compare equal and report a false
    convergence, so a NULL sum over a non-empty table raises. An empty
    graph sums to NULL over zero rows: 0."""
    got = obs.get
    if got["s"] is None and got["n"] > 0:
        raise ArithmeticError(
            f"connected_components: label sum over {got['n']} nodes is NULL "
            f"(decimal overflow); convergence cannot be decided"
        )
    return got["s"] or 0


def cc_oracle_sql(pairs_sql: str) -> str:
    """DuckDB oracle for :func:`connected_components` over the pair
    stream produced by ``pairs_sql`` (columns id_a, id_b): transitive
    closure by recursive CTE, then min label per node. Exponential pair
    enumeration is fine at oracle scale (sf0.01); Spark runs the
    log-round algorithm."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(id, lbl) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM edges)
      UNION
      SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id
    ),
    cc AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id)
    """
