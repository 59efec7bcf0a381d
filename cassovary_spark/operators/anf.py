"""Approximate neighborhood function + harmonic centrality via
Flajolet-Martin bit-OR supersteps (the ANF/HyperANF/HyperBall family:
Palmer-Gibbons-Faloutsos "ANF" KDD'02, Boldi-Rosa-Vigna "HyperANF" WWW'11,
Boldi-Vigna "In-Core Computation of Geometric Centralities with HyperBall"
ICDMW'13).

NF(t) = sum over vertices v of |{u : dist(v,u) <= t}| — the curve behind
effective-diameter and average-distance estimates; harmonic centrality
H(v) = sum over u != v of 1/dist(v,u) falls out of the same sketches as
sum over t of (|ball_t(v)| - |ball_{t-1}(v)|) / t. Exact computation is
all-pairs BFS (O(V*E)); the sketch version keeps one tiny FM bitmask per
vertex per register and grows it with ONE bit_or gather per superstep —
the same co-partitioned edge join as a PageRank superstep, with 8*R bytes
of state per vertex, so a 10^12-edge run costs T supersteps of the
already-benchmarked gather machinery.

Determinism contract: register hashes use the engine-wide md5-long scheme
(first 13 hex chars of md5 as a 52-bit BIGINT — sources/transcripts.py),
so the DuckDB oracle replays the identical sketch bit-for-bit; there is no
RNG, and results are independent of partitioning.

Reference tie-in: the reference estimates reachability volumes by running
bounded BFS per node (graph/Traverser.scala:426) and ships exact
closeness centrality (algorithms/centrality/ClosenessCentrality.scala);
these operators are the all-sources-at-once scale path for the same
questions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cassovary_spark.graph import mutualize, vertices_of
from cassovary_spark.plans.layout import UPDATE_JOIN_HINT
from cassovary_spark.superstep import Superstep, choose_engine

# FM bias correction (Flajolet-Martin 1985): E[2^R] = phi * n
_FM_PHI = 0.77351
# cap the initial bit position so OR-chains and the +1 in the lowest-zero
# scan stay far from the sign bit of a 64-bit long on both engines
_MAX_POS = 50


def _init_sketch_cols(registers: int) -> list[Column]:
    """Initial sketch per register: one bit at the FM position of the
    register-salted vertex hash. lowest-set-bit index of h is
    bit_count((h & -h) - 1); capped at _MAX_POS. Built as SQL exprs
    because shiftleft()'s bit count must be a column-derived value."""
    cols = []
    for r in range(registers):
        h = (
            "CAST(conv(substring(md5(concat('anf" + str(r) + "|', "
            "CAST(id AS STRING))), 1, 13), 16, 10) AS BIGINT)"
        )
        pos = f"least(bit_count(({h} & -{h}) - 1), {_MAX_POS})"
        cols.append(F.expr(f"shiftleft(CAST(1 AS BIGINT), {pos})").alias(f"b{r}"))
    return cols


def _est_col(registers: int) -> Column:
    """Per-vertex ball-size estimate: 2^(mean over registers of the lowest
    UNSET bit index of the sketch) / phi."""
    idx_cols = [
        F.bit_count(
            (F.bitwise_not(F.col(f"b{r}")).bitwiseAND(F.col(f"b{r}") + F.lit(1)))
            - F.lit(1)
        ).cast("double")
        for r in range(registers)
    ]
    mean_idx = sum(idx_cols[1:], idx_cols[0]) / float(registers)
    return F.pow(F.lit(2.0), mean_idx) / F.lit(_FM_PHI)


def _gather_step(und, state, regs):
    """One bit-OR superstep: OR each vertex's sketch with its neighbors'."""
    gathered = (
        und.hint("merge")
        .join(state.select(F.col("id").alias("dst"), *[f"b{r}" for r in regs]), "dst")
        .groupBy(F.col("src").alias("id"))
        .agg(*[F.bit_or(f"b{r}").alias(f"g{r}") for r in regs])
    )
    merged = [
        (
            F.col(f"b{r}").bitwiseOR(F.coalesce(F.col(f"g{r}"), F.lit(0).cast("long")))
        ).alias(f"b{r}")
        for r in regs
    ]
    # state-update join: hash-build the fresh aggregate instead of sorting it
    # (plans.layout.UPDATE_JOIN_HINT rationale)
    return state.join(gathered.hint(UPDATE_JOIN_HINT), "id", "left"), merged


def _nf_curve(
    edges: DataFrame, iterations: int, registers: int, num_partitions: int | None
) -> dict[int, float]:
    """``{t: NF(t)}`` for t = 0..iterations. NF(0) is the FM estimate of the
    singleton balls (not the exact vertex count), so the curve is monotone
    by construction and replays in the SQL oracle. Each NF(t) rides its
    state write as an observed aggregate — one job per superstep, no
    separate estimate pass."""
    spark = edges.sparkSession
    regs = list(range(registers))
    nf_col = F.round(F.sum(_est_col(registers)), 4).alias("nf")
    m = choose_engine(edges, "distributed")[1]
    with Superstep(spark, m, num_partitions) as ss:
        und = ss.persist(mutualize(edges), "dst")
        state, got = ss.write(
            vertices_of(edges).select("id", *_init_sketch_cols(registers))
            .repartition(ss.p, "id"),
            nf_col,
        )
        nf = {0: float(got["nf"])}

        def step(state, _last):
            joined, merged = _gather_step(und, state, regs)
            state, got = ss.write(joined.select("id", *merged), nf_col)
            return state, {"nf": float(got["nf"])}

        _, history = ss.run(state, step, max_iterations=iterations)
    nf.update((row["iteration"], row["nf"]) for row in history)
    return nf


def neighborhood_function(
    edges: DataFrame,
    iterations: int = 3,
    registers: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """``(t, nf)`` for t = 1..iterations: the estimated number of (ordered)
    vertex pairs within distance t on the undirected closure, including
    the trivial pair (v, v)."""
    nf = _nf_curve(edges, iterations, registers, num_partitions)
    return edges.sparkSession.createDataFrame(
        [(t, nf[t]) for t in range(1, iterations + 1)], "t int, nf double"
    )


def effective_diameter(
    edges: DataFrame,
    q: float = 0.9,
    iterations: int = 3,
    registers: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """HyperANF's headline output: the q-effective diameter — the (linearly
    interpolated) number of hops within which q of all reachable pairs are
    reached, read off the NF curve (Boldi-Rosa-Vigna WWW'11 §2). Returns a
    1-row ``(eff_diameter double)`` frame."""
    nf = _nf_curve(edges, iterations, registers, num_partitions)
    target = q * nf[iterations]
    d = 0.0
    if nf[0] < target:
        for t in range(1, iterations + 1):
            if nf[t] >= target:
                d = (t - 1) + (target - nf[t - 1]) / (nf[t] - nf[t - 1])
                break
    return edges.sparkSession.createDataFrame(
        [(round(d, 6),)], "eff_diameter double"
    )


def harmonic_centrality_sketch(
    edges: DataFrame,
    iterations: int = 3,
    registers: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """HyperBall harmonic centrality, truncated at ``iterations`` hops:
    ``(id, harmonic)`` where harmonic = sum over t of
    (est_t(v) - est_{t-1}(v)) / t on the undirected closure — the sketch
    estimate of sum over u != v within `iterations` hops of 1/dist(v, u).

    Same supersteps and state as neighborhood_function plus two doubles
    per vertex (previous estimate + running harmonic sum); the exact
    small-graph counterpart is operators.centrality.closeness_centrality
    (reference ClosenessCentrality.scala)."""
    spark = edges.sparkSession
    regs = list(range(registers))
    m = choose_engine(edges, "distributed")[1]
    with Superstep(spark, m, num_partitions) as ss:
        und = ss.persist(mutualize(edges), "dst")
        state, _ = ss.write(
            vertices_of(edges).select("id", *_init_sketch_cols(registers))
            .withColumn("prev_est", _est_col(registers))
            .withColumn("harmonic", F.lit(0.0))
            .repartition(ss.p, "id")
        )

        def step(state, last):
            t = last.get("iteration", 0) + 1
            joined, merged = _gather_step(und, state, regs)
            state, _ = ss.write(
                joined.select("id", *merged, "prev_est", "harmonic")
                .withColumn("est", _est_col(registers))
                .select(
                    "id",
                    *[f"b{r}" for r in regs],
                    F.col("est").alias("prev_est"),
                    (
                        F.col("harmonic")
                        + (F.col("est") - F.col("prev_est")) / F.lit(float(t))
                    ).alias("harmonic"),
                )
            )
            return state, {}

        state, _ = ss.run(state, step, max_iterations=iterations)
        result = state.select("id", F.round("harmonic", 6).alias("harmonic"))
        return result.localCheckpoint(eager=True)
