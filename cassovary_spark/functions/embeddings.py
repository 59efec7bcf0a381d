"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline; the dot product is a JVM-side
  ``aggregate(zip_with(...))`` — no Python, no UDF.
- LSH-bucketed ANN: random-hyperplane signatures (deterministic seeded
  hyperplanes) bucket vectors; candidates only join within buckets — the
  scale path for 10^10-vector tables.
- embedding_near_dups: cosine >= threshold pairs via the same kernels.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm2(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_top_k(
    embeddings: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    dim: int | None = None,
    num_tables: int = 8,
    planes_per_table: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Cosine top-k neighbors: ``(q, v, score, rn)``.

    With an explicit ``queries`` frame the small query set is broadcast
    against one pass over the table — exact, and scale-safe as long as
    ``queries`` is broadcast-sized (the oracle-checked configuration).

    ``queries=None`` (self-top-k over the whole table) defaults to the
    LSH-bucketed candidate path (``lsh_bucketed_ann`` — requires ``dim``):
    only bucket-mates are scored, never all-pairs, so the default is safe on
    10^9-vector tables. ``exact=True`` opts into the all-pairs broadcast
    crossJoin — exact recall, O(n^2) scoring, small tables only (the
    baseline the LSH path's recall is measured against). Mirrors the
    embedding_near_dups exact/LSH split."""
    if queries is None and not exact:
        if dim is None:
            raise ValueError(
                "cosine_top_k(queries=None): pass dim= for the LSH-bucketed "
                "default or exact=True for the all-pairs baseline"
            )
        return lsh_bucketed_ann(
            embeddings,
            dim=dim,
            k=k,
            num_tables=num_tables,
            planes_per_table=planes_per_table,
            seed=seed,
            id_col=id_col,
            vec_col=vec_col,
            max_bucket_size=max_bucket_size,
        )
    # the Arrow kernel emits int64 ids; other id types keep the crossJoin plan
    if queries is not None and embeddings.schema[id_col].dataType.simpleString() in (
        "bigint", "int", "smallint"
    ):
        return _cosine_top_k_arrow(embeddings, queries, k, id_col, vec_col)

    base = embeddings.select(
        F.col(id_col).alias("v"), F.col(vec_col).alias("v_emb")
    ).withColumn("v_norm", _norm2(F.col("v_emb")))
    q = (queries if queries is not None else embeddings).select(
        F.col(id_col).alias("q"), F.col(vec_col).alias("q_emb")
    ).withColumn("q_norm", _norm2(F.col("q_emb")))

    scored = (
        F.broadcast(q).crossJoin(base)
        .filter(F.col("q") != F.col("v"))
        .select(
            "q",
            "v",
            (
                _dot(F.col("q_emb"), F.col("v_emb"))
                / (F.col("q_norm") * F.col("v_norm"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("q").orderBy(F.desc("score"), F.asc("v"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q", "v", "score", "rn")
    )


# explicit bound on the driver-collected query set (same policy as the IVF
# centroid collect, embeddings.py ivf path): queries are documented
# broadcast-sized; past this the caller should flip to the LSH/IVF ANN paths
_MAX_COLLECTED_QUERIES = 65_536


def _cosine_top_k_arrow(
    embeddings: DataFrame, queries: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Arrow-batched scoring kernel for the explicit-queries top-k: the
    query matrix rides the task closure (bounded collect — the same driver
    round-trip the broadcast crossJoin paid) and each vector batch is one
    numpy float64 matmul + per-query partial top-k; the exact global top-k
    is then a window over per-partition candidates only (top-k is closed
    under union of per-partition top-ks, so the result — including the
    (score desc, v asc) tie order — is the window the crossJoin plan
    computed, minus the interpreted per-element HOF dot products: measured
    7.2s -> sub-second at 20k x 50 x dim=64, sf1.0). Scores are float64 of
    float64-cast inputs in both plans; the corpus' minimum adjacent-rank
    score gap is 1.3e-6 (measured), nine orders above the ~1e-16 summation
    -order difference, so ranks and 6-dp-rounded scores are unaffected."""
    spark = embeddings.sparkSession
    import numpy as np

    qrows = queries.select(
        F.col(id_col).alias("q"), F.col(vec_col).alias("q_emb")
    ).collect()
    if len(qrows) > _MAX_COLLECTED_QUERIES:
        raise ValueError(
            f"cosine_top_k: {len(qrows)} queries exceed the bounded "
            f"driver collect ({_MAX_COLLECTED_QUERIES}); use the "
            "LSH/IVF ANN paths for table-sized query sets"
        )
    q_ids = np.array([r["q"] for r in qrows], dtype=np.int64)
    Q = np.array([r["q_emb"] for r in qrows], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))

    base = embeddings.select(F.col(id_col).alias("v"), F.col(vec_col).alias("e"))
    dp = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < dp:
        base = base.repartition(dp)

    def kernel(batches):
        import pyarrow as pa

        for batch in batches:
            v_ids = batch.column("v").to_numpy(zero_copy_only=False)
            e = batch.column("e")
            flat = e.combine_chunks() if isinstance(e, pa.ChunkedArray) else e
            offs = flat.offsets.to_numpy(zero_copy_only=False)
            vals = flat.values.to_numpy(zero_copy_only=False).astype(np.float64)
            # respect a possibly-sliced child buffer; uniform dims assumed
            # (reshape raises loudly on ragged embeddings)
            V = vals[offs[0] : offs[-1]].reshape(len(v_ids), -1)
            vn = np.sqrt((V * V).sum(axis=1))
            S = (Q @ V.T) / (qn[:, None] * vn[None, :])
            out_q, out_v, out_s = [], [], []
            kk = k
            for qi in range(len(q_ids)):
                s = S[qi]
                mask = v_ids != q_ids[qi]
                idx = np.flatnonzero(mask)
                if idx.size == 0:
                    continue
                order = idx[np.lexsort((v_ids[idx], -s[idx]))][:kk]
                out_q.append(np.full(len(order), q_ids[qi], dtype=np.int64))
                out_v.append(v_ids[order].astype(np.int64))
                out_s.append(s[order])
            if not out_q:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(np.concatenate(out_v), type=pa.int64()),
                    pa.array(np.concatenate(out_s), type=pa.float64()),
                ],
                ["q", "v", "score"],
            )

    cand = base.mapInArrow(kernel, "q long, v long, score double")
    w = Window.partitionBy("q").orderBy(F.desc("score"), F.asc("v"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q", "v", "score", "rn")
    )


def _hyperplanes(dim: int, num_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (splitmix64-ish hash to
    uniform [-1, 1]); pure Python constants baked into the plan."""
    planes = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    for p in range(num_planes):
        row = []
        for d in range(dim):
            state = (state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
            z = state
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
            z = z ^ (z >> 31)
            row.append((z / 2**63) - 1.0)
        planes.append(row)
    return planes


def lsh_signature(
    vec_col: Column, dim: int, num_planes: int = 16, seed: int = 42
) -> Column:
    """Random-hyperplane signature as a packed int (bit i = sign of the dot
    product with hyperplane i)."""
    planes = _hyperplanes(dim, num_planes, seed)
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = _dot(vec_col, F.array(*[F.lit(x) for x in plane]))
        sig = sig.bitwiseOR(F.when(d >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    return sig


def lsh_bucketed_ann(
    embeddings: DataFrame,
    dim: int,
    k: int = 10,
    num_tables: int = 8,
    planes_per_table: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors via multi-table hyperplane LSH
    (standard OR-construction: L independent b-bit signature tables;
    candidates share a bucket in ANY table), then exact cosine within
    candidates. Returns ``(q, v, score, rn)`` like cosine_top_k.

    Recall tuning: P(candidate) = 1-(1-(1-theta/pi)^b)^L — raise L for
    recall, raise b for precision/bucket size. Defaults suit near-dup /
    same-cluster search; exact brute force (cosine_top_k(exact=True)) is
    the baseline.

    ``max_bucket_size``: skip (table, bucket) groups larger than this before
    the self-join — the hot-bucket cap (same policy as the dedup LSH paths).
    A bucket of size s contributes s^2 candidate rows, so one degenerate
    bucket (all-identical vectors, too few planes for |V|) can dominate the
    join; vectors whose EVERY bucket is hot lose their rows in the output
    (cap trades recall for a bounded join, and only on hot buckets). Total
    candidate volume is bounded by cap * n * num_tables, so size the cap
    near the expected same-bucket group size (~10-100 for near-dup
    corpora), not orders above it — measured at 10^6 clustered vectors, a
    loose cap's candidate shuffle is the dominant cost (PLANS.md, ANN
    scale probe).

    Scale shape: buckets hold IDS ONLY — candidate (q, v) pairs are
    generated and deduped as 16-byte rows, and the (wide) embedding vectors
    join in only for final scoring. Carrying vectors through the bucket
    self-join multiplies the shuffle by the vector width (~200x at
    dim=768); measured as the difference between an OOM and 90s at 10^6
    x dim=16."""
    sigs = F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                lsh_signature(
                    F.col(vec_col), dim, planes_per_table, seed + 7919 * t
                ).alias("bucket"),
            )
            for t in range(num_tables)
        ]
    )
    bk = embeddings.select(
        F.col(id_col).alias("id"), F.explode(sigs).alias("tb")
    ).select(
        "id", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket")
    )
    if max_bucket_size is not None:
        # persist: the signature projection feeds both the size filter and
        # the self-join (non-identical consumers, so ReusedExchange cannot
        # dedupe); tracked in the shared keep-last-2 generation registry so
        # repeated ANN calls don't accumulate cached blocks
        bk = bk.persist()
        from cassovary_spark.functions.dedup import _new_generation

        _new_generation().append(bk)
        small = (
            bk.groupBy("table", "bucket")
            .agg(F.count("*").alias("sz"))
            .filter(F.col("sz") <= max_bucket_size)
            .select("table", "bucket")
        )
        # same-key join as the candidate self-join below — one shuffle
        # partitioning serves both
        bk = bk.join(small, ["table", "bucket"])
    cand = (
        bk.select(F.col("id").alias("q"), "table", "bucket")
        .join(bk.select(F.col("id").alias("v"), "table", "bucket"), ["table", "bucket"])
        .filter(F.col("q") != F.col("v"))
        .select("q", "v")
        .distinct()
    )
    x = embeddings.select(
        F.col(id_col).alias("q"), F.col(vec_col).alias("q_emb")
    ).withColumn("q_norm", _norm2(F.col("q_emb")))
    y = embeddings.select(
        F.col(id_col).alias("v"), F.col(vec_col).alias("v_emb")
    ).withColumn("v_norm", _norm2(F.col("v_emb")))
    scored = (
        cand.join(x, "q")
        .join(y, "v")
        .select(
            "q",
            "v",
            (
                _dot(F.col("q_emb"), F.col("v_emb"))
                / (F.col("q_norm") * F.col("v_norm"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("q").orderBy(F.desc("score"), F.asc("v"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q", "v", "score", "rn")
    )


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer centroids: ``(cid, centroid: array<double>)``.

    Initial centroids are a deterministic md5-ordered sample of the input
    vectors (the engine's replayable-RNG contract: ``ORDER BY
    md5(cast(id as string)), id LIMIT n``), with ``cid`` = the sampled
    row's id — stable across engines, so a SQL oracle can reproduce the
    ``iters=0`` configuration exactly. ``iters`` > 0 runs Lloyd rounds
    (assign by max-cosine, recompute centroids as per-list means); each
    round is one bounded aggregation over the table (posexplode →
    per-(cid, pos) avg → array rebuild), never all-pairs.

    Scale: n_centroids is small by IVF design (10^2-10^5 lists even at
    10^9 vectors), so the centroid frame always broadcasts."""
    e = embeddings.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).cast("array<double>").alias("centroid"),
    )
    cent = (
        e.orderBy(F.md5(F.col("cid").cast("string")), F.col("cid"))
        .limit(n_centroids)
    )
    for _ in range(iters):
        assign = ivf_assign(
            embeddings, cent, id_col=id_col, vec_col=vec_col
        )
        vecs = embeddings.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "pos", "val"
            ),
        )
        cent = (
            assign.join(vecs, "id")
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("centroid")
            )
        )
    return cent


def _collect_centroids(centroids: DataFrame) -> list:
    rows = centroids.select("cid", "centroid").collect()
    if len(rows) > 65536:
        raise ValueError(
            f"ivf: {len(rows)} centroids exceed the driver-literal bound; "
            "IVF list counts are 10^2-10^5 by design — reduce n_centroids"
        )
    return sorted((r["cid"], list(r["centroid"])) for r in rows)


def _nearest_centroids(
    vec: Column, cents: list, nprobe: int
) -> Column:
    """Array of the ``nprobe`` centroid ids nearest (max cosine) to ``vec``,
    best first, ties to smaller cid. Centroids are baked into the plan as
    literals (they are driver-small by IVF design), so this is a pure
    map-side Catalyst expression — no join, no shuffle, codegen'd.

    The per-centroid score is computed once into an array of structs and
    sorted; struct order (-score, cid) gives the deterministic tie-break."""
    scored = F.array(
        *[
            F.struct(
                (
                    -_dot(vec, F.array(*[F.lit(x) for x in c]))
                    / F.sqrt(F.lit(sum(x * x for x in c)))
                ).alias("negscore"),
                F.lit(cid).cast("long").alias("cid"),
            )
            for cid, c in cents
        ]
    )
    return F.slice(
        F.transform(F.array_sort(scored), lambda s: s["cid"]), 1, nprobe
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine: ``(id, cid)``.

    The centroid table is collected (bounded — see _collect_centroids) and
    baked into the plan as literals, so assignment is one shuffle-free map
    over the table: each row evaluates n_centroids JVM-side dot products
    and takes the argmax. No crossJoin, no groupBy — at 10^9 rows the
    cost is a single scan. Note vector norms cancel in the argmax, so only
    centroid norms are applied."""
    cents = _collect_centroids(centroids)
    return embeddings.select(
        F.col(id_col).alias("id"),
        F.element_at(
            _nearest_centroids(F.col(vec_col), cents, 1), 1
        ).alias("cid"),
    )


def ivf_ann(
    embeddings: DataFrame,
    queries: DataFrame | None = None,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 10,
    iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k cosine neighbors: ``(q, v, score, rn)``.

    The inverted-file ANN (the second scale path beside hyperplane LSH):
    vectors are partitioned into n_centroids lists by nearest centroid;
    a query probes only its ``nprobe`` nearest lists and scores exact
    cosine within them. Recall misses are neighbors whose list was not
    probed — raise nprobe (recall) or n_centroids (smaller lists, faster
    probes). sqrt(n)-ish sweet spot: n_centroids ~ sqrt(n), nprobe ~
    8-64.

    Scale shape mirrors lsh_bucketed_ann: the probe and assignment frames
    carry IDS ONLY through the candidate join (the list join key is
    ``cid``), and the wide vectors join in just for final scoring. The
    candidate join is an equi-join on cid — Catalyst shuffles both sides
    by cid once; a skewed list (degenerate centroid) is AQE-splittable.
    Assignment itself is shuffle-free (centroid literals, see
    ivf_assign)."""
    cent = centroids if centroids is not None else ivf_centroids(
        embeddings, n_centroids=n_centroids, iters=iters,
        id_col=id_col, vec_col=vec_col,
    )
    cents = _collect_centroids(cent)
    assign = embeddings.select(
        F.col(id_col).alias("v"),
        F.element_at(
            _nearest_centroids(F.col(vec_col), cents, 1), 1
        ).alias("cid"),
    )
    q_src = queries if queries is not None else embeddings
    probe = q_src.select(
        F.col(id_col).alias("q"),
        F.explode(
            _nearest_centroids(F.col(vec_col), cents, nprobe)
        ).alias("cid"),
    )
    cand = (
        probe.join(assign, "cid")
        .filter(F.col("q") != F.col("v"))
        .select("q", "v")
        .distinct()
    )
    x = q_src.select(
        F.col(id_col).alias("q"), F.col(vec_col).alias("q_emb")
    ).withColumn("q_norm", _norm2(F.col("q_emb")))
    y = embeddings.select(
        F.col(id_col).alias("v"), F.col(vec_col).alias("v_emb")
    ).withColumn("v_norm", _norm2(F.col("v_emb")))
    scored = (
        cand.join(x, "q")
        .join(y, "v")
        .select(
            "q",
            "v",
            (
                _dot(F.col("q_emb"), F.col("v_emb"))
                / (F.col("q_norm") * F.col("v_norm"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("q").orderBy(F.desc("score"), F.asc("v"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q", "v", "score", "rn")
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    exact: bool = False,
    num_tables: int = 8,
    planes_per_table: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold: ``(a, b, score)``, a < b.

    Default (``exact=False``, requires ``dim``): candidates come from the
    multi-table hyperplane LSH buckets (the same OR-construction as
    lsh_bucketed_ann) and only bucket-mates are scored — never all-pairs, so
    this is the 10^9-vector-safe default. High-cosine pairs collide with
    probability 1-(1-(1-theta/pi)^b)^L, ~1 for theta near 0 at the default
    L=8/b=8 (recall misses are pairs BELOW ~0.9 cosine; raise num_tables for
    more headroom).

    ``exact=True``: the all-pairs crossJoin — exact recall, O(n^2) scoring;
    the SQL-oracle-checked configuration and the small-table baseline.
    """
    x = embeddings.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("a_emb")
    ).withColumn("a_norm", _norm2(F.col("a_emb")))
    y = embeddings.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("b_emb")
    ).withColumn("b_norm", _norm2(F.col("b_emb")))
    if exact or dim is None:
        if not exact:
            raise ValueError(
                "embedding_near_dups: pass dim= for the LSH-bucketed default "
                "or exact=True for the all-pairs baseline"
            )
        pairs = x.crossJoin(y).filter(F.col("a") < F.col("b"))
    else:
        sigs = F.array(
            *[
                F.struct(
                    F.lit(t).alias("table"),
                    lsh_signature(
                        F.col(vec_col), dim, planes_per_table, seed + 7919 * t
                    ).alias("bucket"),
                )
                for t in range(num_tables)
            ]
        )
        bk = embeddings.select(
            F.col(id_col).alias("id"), F.explode(sigs).alias("tb")
        ).select(
            "id", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket")
        )
        cand = (
            bk.select(F.col("id").alias("a"), "table", "bucket")
            .join(bk.select(F.col("id").alias("b"), "table", "bucket"), ["table", "bucket"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )
        pairs = cand.join(x, "a").join(y, "b")
    return (
        pairs.select(
            "a",
            "b",
            (
                _dot(F.col("a_emb"), F.col("b_emb"))
                / (F.col("a_norm") * F.col("b_norm"))
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )
