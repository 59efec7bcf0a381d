"""Deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB corpora:
- exact dedup is a single hash-aggregate on a normalized fingerprint
- near-dup never compares all pairs: MinHash-LSH bands bucket candidates so
  the join is |bucket|^2 within buckets only; n-gram Jaccard joins on shared
  shingles (pairs with zero shared shingles are never materialized)
- hashes are md5-based, which both Spark and DuckDB implement identically —
  the dedup pipeline is therefore fully SQL-oracle-checkable.

Cache lifecycle: a few functions persist() an intermediate that feeds two
NON-identical consumers (ngram sizes+join, the capped-LSH size filter).
Those frames are tracked in a generation registry: each top-level dedup
call frees the caches of calls two generations back (keep-last-2 protects
the common compose pattern "LSH candidates -> ngram verify" while bounding
accumulation in a loop), and ``release_caches()`` frees everything now.
An unpersisted frame degrades to recompute, never to wrong results.
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# persisted-intermediate registry: list of generations, each a list of
# persisted DataFrames created by one top-level dedup call. Guarded by
# _cache_lock (ADVICE r3: concurrent driver threads could unpersist an
# in-flight call's frame; a composed pipeline opening 3+ generations could
# evict its own first persist before the final action ran).
_cache_generations: list[list[DataFrame]] = []
_cache_lock = threading.Lock()
# depth of open cache_scope() contexts in the CURRENT THREAD; while >0,
# helper calls on that thread join the scope's generation instead of opening
# new ones. Thread-local (ADVICE r4): a dedup call on another driver thread
# must not silently join an unrelated thread's open scope — the shared
# registry above stays global and lock-guarded, but scope membership is
# per-thread.
_scope_state = threading.local()
# all currently-open scope generations across threads (identity semantics —
# guarded by _cache_lock); lets release_caches keep every open scope's list
# object registered instead of orphaning another thread's scope
_open_scope_gens: list[list[DataFrame]] = []


def _scope_depth() -> int:
    return getattr(_scope_state, "depth", 0)


def _scope_gen_of_thread() -> list[DataFrame] | None:
    return getattr(_scope_state, "gen", None)


def _new_generation() -> list[DataFrame]:
    """Open a cache generation for one top-level call; frees generations
    more than 2 calls old (ADVICE r2: repeated dedup calls accumulated
    cached blocks for the session's lifetime). Inside an open
    ``cache_scope()``, returns the scope's single generation so a composed
    pipeline cannot evict its own earlier persists (ADVICE r3)."""
    to_free: list[DataFrame] = []
    with _cache_lock:
        scope_gen = _scope_gen_of_thread()
        if _scope_depth() > 0 and scope_gen is not None:
            return scope_gen
        gen: list[DataFrame] = []
        _cache_generations.append(gen)
        while len(_cache_generations) > 2:
            to_free.extend(_cache_generations.pop(0))
    for df in to_free:
        try:
            df.unpersist(False)
        except Exception:  # noqa: BLE001 — session may already be gone
            pass
    return gen


@contextlib.contextmanager
def cache_scope():
    """Hold one cache generation open across a composed pipeline.

    Every dedup/ANN helper that persists an intermediate inside this
    context appends to ONE shared generation, freed only when a later
    top-level call (or ``release_caches``) retires it — so "LSH candidates
    -> ngram verify -> simhash" keeps all its persists live for the whole
    pipeline. Re-entrant; thread-safe with respect to the registry. Scope
    membership is per-thread (ADVICE r4): a dedup call on another driver
    thread never joins this scope's generation."""
    with _cache_lock:
        if _scope_depth() == 0:
            _scope_state.gen = []
            _cache_generations.append(_scope_state.gen)
            _open_scope_gens.append(_scope_state.gen)
            while len(_cache_generations) > 2:
                for df in _cache_generations.pop(0):
                    try:
                        df.unpersist(False)
                    except Exception:  # noqa: BLE001
                        pass
        _scope_state.depth = _scope_depth() + 1
    try:
        yield
    finally:
        with _cache_lock:
            _scope_state.depth = _scope_depth() - 1
            if _scope_state.depth == 0:
                gen = _scope_state.gen
                for i, g in enumerate(_open_scope_gens):
                    if g is gen:
                        del _open_scope_gens[i]
                        break
                _scope_state.gen = None


def release_caches() -> int:
    """Unpersist every intermediate cached by dedup calls; returns count."""
    n = 0
    with _cache_lock:
        gens, _cache_generations[:] = list(_cache_generations), []
        for open_gen in _open_scope_gens:
            # every open cache_scope (any thread) keeps its now-emptied
            # generation object registered; its frames are still freed.
            # Identity matching (ADVICE r4): two empty generations compare
            # equal, so `in`/`remove` could drop the wrong list object.
            for i, g in enumerate(gens):
                if g is open_gen:
                    del gens[i]
                    break
            else:
                continue
            for df in open_gen:
                gens.append([df])
            open_gen.clear()
            _cache_generations.append(open_gen)
    for gen in gens:
        for df in gen:
            try:
                df.unpersist(False)
                n += 1
            except Exception:  # noqa: BLE001
                pass
    return n


def _norm(text_col: str) -> Column:
    return F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")


MINHASH_P = 4_294_967_311  # smallest prime > 2^32


def minhash_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic per-hash affine constants (A_i, B_i) for the universal
    family (A*x + B) mod p: A in [1, 2^30) keeps A*x < 2^62 (exact int64 in
    Spark AND DuckDB), B in [0, p). Fixed golden-ratio/FNV mixing — both the
    Spark plan and the generated SQL oracle derive from this one function."""
    return [
        (
            (i * 2_654_435_761 + 1_469_598_103) % (2**30 - 1) + 1,
            (i * 2_246_822_519 + 2_166_136_261) % MINHASH_P,
        )
        for i in range(num_hashes)
    ]


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per exact normalized-text group.
    Returns ``(doc_id, dup_count)`` for the kept docs."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), _norm(text_col).alias("_n"))
        .groupBy("_n")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("dup_count"))
        .select("doc_id", "dup_count")
    )


def _gram_array(t: Column, n: int) -> Column:
    """Character n-gram array of the string column ``t`` (position order,
    duplicates kept): element i is ``substr(t, i+1, n)``, trimmed to the
    ``greatest(length - (n-1), 1)`` positions of the substr formulation, so a
    doc shorter than n yields its whole text as the single gram.

    Built from ONE ``split(t, '')`` char array + (n-1) shifted ``zip_with``
    concats instead of ``transform(sequence, i -> substr(t, i, n))``:
    ``substr`` on a UTF8String seeks character boundaries from the START of
    the string (O(i) per call -> O(L^2) per doc), which profiling showed was
    ~16s of the 30s minhash stage at sf1.0 (50k docs, 15M chars); the char
    array pays the boundary scan once (measured 2x; equality-tested on the
    corpus + unicode/short-doc probes, including astral-plane chars)."""
    L = F.length(t)
    c = F.split(t, "")
    g = c
    for k in range(2, n + 1):
        g = F.zip_with(
            g,
            F.slice(c, k, F.greatest(L - (k - 1), F.lit(0))),
            lambda x, y: F.concat(x, F.coalesce(y, F.lit(""))),
        )
    return F.slice(g, 1, F.greatest(L - (n - 1), F.lit(1)))


def char_shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct character n-gram shingles per doc: ``(doc_id, shingle)``.

    JVM-side, no Python; the gram array comes from ``_gram_array`` (the
    O(L)-seek formulation). Docs shorter than n contribute their whole text
    as one shingle.

    The normalized text is materialized as its own projection BEFORE the
    array build: higher-order-function lambdas are interpreted per element
    with no subexpression elimination, so an inlined regexp_replace would
    re-run once per character (measured 12.7s -> sub-second at sf0.1).
    Catalyst's CollapseProject keeps the split because the alias is
    non-cheap and referenced twice."""
    base = docs.select(F.col(id_col).alias("doc_id"), _norm(text_col).alias("t"))
    grams = _gram_array(F.col("t"), n)
    return (
        base.select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))
        .filter(F.col("shingle") != "")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_freq: int | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by n-gram Jaccard >= threshold.

    Returns ``(a, b, jaccard)`` with a < b. Candidate pairs come from the
    shared-shingle join (same skeleton as the graph similarity operator,
    operators/similarity.py — common-neighbor counting where "neighbors" are
    shingles).

    Scale controls (pick one; both keep the reported Jaccard EXACT over the
    full shingle sets and only bound candidate GENERATION):

    - ``max_shingle_freq``: the HOT-SHINGLE CAP. A ubiquitous n-gram ("th "
      in English) appears in ~every doc, so keying the candidate join on it
      yields ~|corpus|^2 rows from that one key. Shingles whose document
      frequency exceeds the cap are excluded from candidate generation (a
      pair must share at least one RARE shingle to be scored) — the same
      escape hatch as minhash_lsh_candidates' max_bucket_size. Pairs whose
      overlap is exclusively boilerplate are template collisions, the job of
      exact_dedup, not Jaccard.
    - ``candidates``: an ``(a, b)`` DataFrame (e.g. from
      minhash_lsh_candidates) — verify-only mode; cost is
      O(|candidates| * shingles/doc), never all-pairs.

    None of each (default) = the exact all-shared-shingle-pairs form, the
    SQL-oracle-checked configuration; only viable when no shingle is hot.
    """
    gen = _new_generation()
    sh = char_shingles(docs, n, id_col, text_col).persist()
    gen.append(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))

    if candidates is None and max_shingle_freq is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_shingle_freq)
            .select("shingle")
        )
        capped = sh.join(rare, "shingle")
        candidates = (
            capped.select(F.col("doc_id").alias("a"), "shingle")
            .join(capped.select(F.col("doc_id").alias("b"), "shingle"), "shingle")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )

    if candidates is not None:
        # exact common-count restricted to the candidate pairs: candidates x
        # a-shingles keyed by a, then matched against b's shingles — bounded
        # by |candidates| * shingles/doc
        common = (
            candidates.select("a", "b")
            .join(sh.select(F.col("doc_id").alias("a"), "shingle"), "a")
            .join(sh.select(F.col("doc_id").alias("b"), "shingle"), ["b", "shingle"])
            .groupBy("a", "b")
            .agg(F.count("*").alias("common"))
        )
    else:
        a = sh.select(F.col("doc_id").alias("a"), "shingle")
        b = sh.select(F.col("doc_id").alias("b"), "shingle")
        common = (
            a.join(b, "shingle")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("common"))
        )
    out = (
        common.join(sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sa")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sb")), "b")
        .select(
            "a",
            "b",
            (F.col("common") / (F.col("sa") + F.col("sb") - F.col("common"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash signatures: ``(doc_id, sig: array<bigint>)``.

    Hash family: ONE md5 per shingle gives ``x = int(md5(g)[0:8], 16)``
    (32-bit); ``hash_i(g) = (A_i * x + B_i) mod p`` with per-i constants and
    p the smallest prime > 2^32 — signature element i is the MIN over the
    doc's shingles. One md5 per shingle instead of num_hashes md5s, and every
    product stays < 2^62 so the arithmetic is exact int64 in BOTH the kernel
    below and DuckDB (``('0x'||substr)::BIGINT``) — the oracle stays
    bit-for-bit portable. The per-i constants are
    essential: the tempting ``h_i = a + i*b`` two-hash trick makes the
    minima CORRELATED across i (the same low-a shingle wins every slot), so
    band collisions approach single-hash probability — measured 4.6M
    candidate pairs vs 1.0M for this family on the same 5k docs.

    Physical strategy (r6): the signature kernel is an Arrow-batched
    ``mapInArrow`` — per batch, Python builds each doc's DISTINCT shingle
    set (str slicing is code-point-based like ``substr``), hashes each
    shingle once with hashlib.md5, and computes all ``num_hashes`` minima as
    one numpy ``(H, N) -> minimum.reduceat`` pass. Exact int64 arithmetic
    (A < 2^30, x < 2^32 => A*x + B < 2^63), so values are bit-identical to
    the former pure-Catalyst formulation (``array_min(transform(...))`` over
    the per-doc shingle array; equality-tested at sf1.0: 50k docs, 0
    mismatches, plus unicode probes) and the DuckDB oracle is untouched.
    Measured 2.9s vs 30s at sf1.0/local[32]: the interpreted per-element
    HOF lambdas — and substr's O(position) UTF8String boundary seek — were
    ~85% of the Catalyst plan (guide §4.2: batch native kernels beat chains
    of JVM expressions).

    Docs whose normalized text is empty produce no shingles and are omitted
    (same contract as ``char_shingles``)."""
    base = docs.select(
        F.col(id_col).alias("doc_id"), _norm(text_col).alias("t")
    ).filter(F.length("t") > 0)

    spark = docs.sparkSession
    # the kernel is CPU-bound: widen narrow scans (a handful of parquet
    # files) to the core count. At real corpus scale the scan already has
    # >> defaultParallelism partitions and this never fires — no shuffle
    # of the text.
    dp = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < dp:
        base = base.repartition(dp)
    consts = minhash_constants(num_hashes)
    id_type = base.schema["doc_id"].dataType.simpleString()
    p_mod = MINHASH_P
    n_ = shingle_n

    def kernel(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        A = np.array([a for a, _ in consts], dtype=np.int64)[:, None]
        B = np.array([b for _, b in consts], dtype=np.int64)[:, None]
        md5 = hashlib.md5
        for batch in batches:
            ids = batch.column("doc_id")
            ts = batch.column("t").to_pylist()
            xs_all, offs, tot = [], [0], 0
            for t in ts:
                g = (
                    {t[i : i + n_] for i in range(len(t) - n_ + 1)}
                    if len(t) >= n_
                    else {t}
                )
                xs_all.append(
                    np.fromiter(
                        (
                            int.from_bytes(md5(s.encode()).digest()[:4], "big")
                            for s in g
                        ),
                        dtype=np.int64,
                        count=len(g),
                    )
                )
                tot += len(g)
                offs.append(tot)
            flat = (
                np.concatenate(xs_all) if xs_all else np.empty(0, np.int64)
            )
            h = (A * flat[None, :] + B) % p_mod
            starts = np.array(offs[:-1], dtype=np.int64)
            mins = (
                np.minimum.reduceat(h, starts, axis=1)
                if tot
                else np.empty((len(consts), 0), np.int64)
            )
            sig = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(len(ts) + 1) * num_hashes, type=pa.int32()
                ),
                pa.array(mins.T.reshape(-1), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays([ids, sig], ["doc_id", "sig"])

    return base.mapInArrow(kernel, f"doc_id {id_type}, sig array<bigint>")


def minhash_lsh_buckets(
    signatures: DataFrame, bands: int = 4
) -> DataFrame:
    """Band the signature into LSH buckets: ``(doc_id, band, bucket)``.
    Docs sharing any (band, bucket) are near-dup candidates. Rows per band
    are inferred from the signature length at runtime; callers must keep
    ``bands`` a divisor of the signature length (validated where num_hashes
    is known, minhash_lsh_candidates)."""
    return signatures.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.slice(
                                F.col("sig"),
                                b * (F.size("sig") / bands).cast("int") + 1,
                                (F.size("sig") / bands).cast("int"),
                            ).cast("array<string>"),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH: candidate near-dup pairs ``(a, b)`` (a < b)
    sharing at least one LSH bucket. Verify candidates with
    ngram_jaccard_pairs on the candidate set when exact scores are needed.

    ``max_bucket_size`` is the HOT-BUCKET CAP, mandatory at corpus scale:
    template/boilerplate-heavy corpora (agent transcripts are the canonical
    case — measured: a 3.4M-doc transcript corpus whose texts share a 24-char
    scaffold drives band-Jaccard to ~0.5 and the uncapped candidate join
    toward ~10^12 pairs) concentrate most docs into a few mega-buckets whose
    |bucket|^2 join can never finish. Buckets above the cap are dropped —
    their members are template-collisions, the job of exact_dedup or a
    shingle-IDF filter, not pairwise LSH. None = exact (no cap), the
    SQL-oracle-checked configuration."""
    if bands < 1 or num_hashes % bands != 0:
        # bands > num_hashes would make every band slice EMPTY -> one global
        # bucket -> O(n^2) candidates; a non-divisor silently drops trailing
        # hashes and weakens the collision probability
        raise ValueError(
            f"bands={bands} must be a positive divisor of num_hashes={num_hashes}"
        )
    sig = minhash_signatures(docs, num_hashes, shingle_n, id_col, text_col)
    # Uncapped: no persist needed for the self-join below — its two sides
    # are IDENTICAL subplans, so the physical plan gets a ReusedExchange
    # (measured equal). Capped: the size-aggregate consumes the buckets
    # through a DIFFERENT exchange than the join sides (partial-agg child),
    # which ReusedExchange does NOT cover — persist, or the dominant
    # shingle+md5 stage executes twice.
    bk = minhash_lsh_buckets(sig, bands)
    if max_bucket_size is not None:
        bk = bk.persist()
        _new_generation().append(bk)
        small = (
            bk.groupBy("band", "bucket")
            .agg(F.count("*").alias("sz"))
            .filter(F.col("sz") <= max_bucket_size)
            .select("band", "bucket")
        )
        bk = bk.join(small, ["band", "bucket"])
    a = bk.select(F.col("doc_id").alias("a"), "band", "bucket")
    b = bk.select(F.col("doc_id").alias("b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def simhash(
    docs: DataFrame,
    bits: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash over whitespace tokens: ``(doc_id, simhash: long)``.

    Per token, a 64-bit hash votes +1/-1 on each bit position weighted by
    term frequency; the sign vector packs into one long. JVM-side only:
    explode tokens -> hash -> per-bit aggregate via bitwise ops.

    The 64-bit token hash is md5-derived (two 32-bit hex chunks recombined
    as ``lo | hi << 32``), NOT xxhash64: md5 is the one hash both Spark and
    DuckDB implement identically, which makes the near-dup pair query fully
    value-oracle-checkable (same policy as minhash_signatures)."""
    toks = F.filter(F.split(_norm(text_col), " "), lambda t: t != "")
    tok = docs.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("t"))
    hx = F.md5("t")
    lo = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    hi = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    h = tok.select("doc_id", F.shiftleft(hi, 32).bitwiseOR(lo).alias("h"))
    bit_votes = [
        F.sum(
            F.when(
                F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = h.groupBy("doc_id").agg(*bit_votes)
    packed = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1 << i if i < 63 else -(1 << 63))).otherwise(0)
        packed = term if packed is None else packed.bitwiseOR(term)
    return agg.select("doc_id", packed.alias("simhash"))


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Candidates are generated by banding the 64-bit simhash into 4 x 16-bit
    chunks (pigeonhole: any pair within Hamming distance 3 shares at least
    one exact chunk), then verified with bit_count — never all-pairs.

    ``max_bucket_size`` is the HOT-BUCKET CAP (same rationale and mechanics
    as minhash_lsh_candidates): a template-heavy corpus collapses whole
    sub-corpora onto identical 16-bit chunks, and one such mega-bucket makes
    the |bucket|^2 candidate join unfinishable. Chunk buckets above the cap
    are dropped from candidate generation; their members are
    template-collisions for exact_dedup. None = exact (no cap), the
    SQL-oracle-checked configuration."""
    # no persist: both candidate-join sides are identical subplans, so the
    # physical plan reuses one exchange (same measurement as minhash)
    sh = simhash(docs, 64, id_col, text_col)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.val").alias("val"))
    if max_bucket_size is not None:
        # capped: the size-aggregate consumes chunks through a different
        # exchange than the join sides, so ReusedExchange no longer applies —
        # persist to avoid recomputing the simhash stage (same measurement as
        # minhash_lsh_candidates)
        chunks = chunks.persist()
        _new_generation().append(chunks)
        small = (
            chunks.groupBy("chunk", "val")
            .agg(F.count("*").alias("sz"))
            .filter(F.col("sz") <= max_bucket_size)
            .select("chunk", "val")
        )
        chunks = chunks.join(small, ["chunk", "val"])
    a = chunks.select(F.col("doc_id").alias("a"), F.col("simhash").alias("sa"), "chunk", "val")
    b = chunks.select(F.col("doc_id").alias("b"), F.col("simhash").alias("sb"), "chunk", "val")
    cand = (
        a.join(b, ["chunk", "val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sa", "sb")
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def dedup_clusters(
    pairs: DataFrame,
    ids: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pair graph -> duplicate CLUSTERS: ``(doc_id, rep)`` where
    ``rep`` is the minimum doc id in the document's connected component of
    the pair graph — the canonical-representative step every dedup pipeline
    needs after candidate generation (keep rows where doc_id == rep, drop
    the rest).

    ``pairs``: an ``(a, b)`` frame from any of the candidate generators
    (minhash_lsh_candidates, simhash_near_dups, ngram_jaccard_pairs,
    embedding_near_dups). ``ids``: optional full corpus id frame; docs in no
    pair become singleton clusters (rep = self). Transitivity is deliberate:
    if A~B and B~C, one representative covers all three even when (A, C)
    was never scored — standard MinHash-dedup semantics (union over the
    candidate graph).

    Scale: delegates to operators.components.connected_components — hash-min
    label propagation + pointer jumping over the pair edges; O(pairs) per
    superstep, O(log diameter) supersteps, and dedup-pair graphs have tiny
    diameter (near-cliques), so this is 2-3 supersteps in practice.
    """
    from cassovary_spark.operators.components import connected_components

    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    comp = connected_components(edges).select(
        F.col("id").alias(id_col), F.col("component").alias("rep")
    )
    if ids is not None:
        singles = ids.select(id_col).join(comp.select(id_col), id_col, "left_anti")
        comp = comp.union(singles.select(id_col, F.col(id_col).alias("rep")))
    return comp


def sample_by_hash(
    df: DataFrame,
    rate: float,
    key_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic hash sampling: keep a row iff
    md5(key|seed) maps below ``rate`` — reproducible across runs, partitions
    and engines (unlike DataFrame.sample, which is partition-seeded), and
    consistent BY KEY: the same key is kept in every table it appears in, so
    sampled tables still join (the property training-data subsetting needs).

    The md5-prefix uniform is the same construction as the walk RNG
    (operators/traversals._walk_uniform): 13 hex chars = 52 bits, exact in a
    double, replayable in DuckDB SQL for oracle checks.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col(key_col).cast("string"), F.lit(str(seed)))),
                1, 13,
            ),
            16, 10,
        ).cast("double")
        / F.lit(float(16**13))
    )
    return df.filter(u < F.lit(float(rate)))


def cap_per_key(
    df: DataFrame,
    key_col: str,
    max_rows: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Per-key quota sampling: keep at most ``max_rows`` rows per ``key_col``
    value (per-domain/source caps — the corpus-balancing stage that stops a
    crawl's mega-domains from dominating a training mix).

    Which rows survive is DETERMINISTIC and order-free: rows rank within
    their key by md5(id|seed) (ties broken by id), not by arrival order, so
    the same corpus produces the same sample on any partitioning/engine —
    the SQL oracle replays the ranking exactly.

    Physical plan (100 TB): one window over ``key_col`` — a single hash
    exchange on the key with rank computed in-partition and rows dropped
    before any downstream stage. Spark 4.x additionally plants a PARTIAL
    ``WindowGroupLimit`` before the exchange (rank-limit pushdown for
    ``row_number <= k`` filters), so each map partition ships at most
    ``max_rows`` rows per key: the reduce-side single-task bound for a
    mega-key is ``max_rows * num_map_partitions`` rows, NOT the key's full
    row count — verified via ``.explain`` in tests. On engines without the
    pushdown, pre-reduce with a sampled per-key rank threshold first."""
    rank_key = F.md5(
        F.concat_ws("|", F.col(id_col).cast("string"), F.lit(str(seed)))
    )
    w = Window.partitionBy(key_col).orderBy(rank_key.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__qrn", F.row_number().over(w))
        .filter(F.col("__qrn") <= max_rows)
        .drop("__qrn")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new-shard-vs-corpus-index (the daily 100 TB operation)
# ---------------------------------------------------------------------------


class DedupIndex:
    """Persisted dedup state of an already-scored corpus: an exact
    fingerprint table ``(fp_md5, rep_id)`` (one row per distinct normalized
    text, ``rep_id`` the min doc_id bearing it) and a MinHash-LSH bucket
    table ``(doc_id, band, bucket)`` — everything a later batch needs to
    dedup AGAINST this corpus without rescoring it.

    At scale both frames live as parquet/Iceberg tables (``save``/``load``);
    the daily job loads the index, probes the (small) new shard against it,
    and appends the kept shard's rows (``extend``) — the corpus itself is
    never re-shingled."""

    def __init__(
        self,
        fingerprints: DataFrame,
        buckets: DataFrame,
        num_hashes: int = 16,
        bands: int = 4,
        shingle_n: int = 3,
    ):
        self.fingerprints = fingerprints
        self.buckets = buckets
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_n = shingle_n

    def save(self, path: str) -> None:
        """Write both tables + config under ``path`` (parquet; swap for
        Iceberg `writeTo` when a catalog is configured).

        The config rides as a 1-row Spark JSON dataset (ADVICE r4): a
        driver-local ``open()`` would break save/load on the very
        filesystems (HDFS/S3) the daily 100 TB workflow targets — all three
        writes must go through the same Hadoop FileSystem as the tables."""
        self.fingerprints.write.mode("overwrite").parquet(f"{path}/fingerprints")
        self.buckets.write.mode("overwrite").parquet(f"{path}/buckets")
        spark = self.fingerprints.sparkSession
        conf_df = spark.createDataFrame(
            [(int(self.num_hashes), int(self.bands), int(self.shingle_n))],
            "num_hashes int, bands int, shingle_n int",
        )
        conf_df.coalesce(1).write.mode("overwrite").json(f"{path}/index_conf")

    @staticmethod
    def load(spark, path: str) -> "DedupIndex":
        row = spark.read.json(f"{path}/index_conf").first()
        return DedupIndex(
            spark.read.parquet(f"{path}/fingerprints"),
            spark.read.parquet(f"{path}/buckets"),
            num_hashes=int(row["num_hashes"]),
            bands=int(row["bands"]),
            shingle_n=int(row["shingle_n"]),
        )

    def extend(
        self, new_docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> "DedupIndex":
        """Index including ``new_docs`` (typically the kept rows of the last
        batch): only the new docs are shingled; fingerprints re-min so
        rep_id stays the global min doc per text."""
        add = build_dedup_index(
            new_docs, self.num_hashes, self.bands, self.shingle_n, id_col, text_col
        )
        fps = (
            self.fingerprints.unionByName(add.fingerprints)
            .groupBy("fp_md5")
            .agg(F.min("rep_id").alias("rep_id"))
        )
        return DedupIndex(
            fps,
            self.buckets.unionByName(add.buckets),
            self.num_hashes,
            self.bands,
            self.shingle_n,
        )


def build_dedup_index(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DedupIndex:
    """Score a corpus once into a :class:`DedupIndex` (exact fingerprints +
    LSH buckets). One pass over the text: a hash-aggregate for the
    fingerprints and the no-shuffle signature projection for the buckets."""
    fps = (
        docs.select(F.col(id_col).alias("doc_id"), F.md5(_norm(text_col)).alias("fp_md5"))
        .groupBy("fp_md5")
        .agg(F.min("doc_id").alias("rep_id"))
    )
    sig = minhash_signatures(docs, num_hashes, shingle_n, id_col, text_col)
    return DedupIndex(
        fps, minhash_lsh_buckets(sig, bands), num_hashes, bands, shingle_n
    )


def incremental_dedup(
    batch: DataFrame,
    index: DedupIndex,
    max_bucket_size: int | None = None,
    broadcast_batch: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup a new ``batch`` against an existing corpus ``index`` WITHOUT
    rescoring the corpus. One row per batch doc:

    - ``exact_dup_of``: corpus rep_id whose normalized text is identical
      (null when none) — an anti-joinable exact verdict.
    - ``near_dup_count``: distinct corpus docs sharing >=1 LSH bucket —
      candidates for ngram_jaccard verification, 0 = provably no collision.
    - ``keep``: convenience flag — no exact dup and no near candidate.

    Physical strategy (batch << corpus, the daily-shard case): with
    ``broadcast_batch`` (default) the batch's fingerprints and buckets are
    BROADCAST to the index scan, so the 100 TB index tables are read once,
    filtered in place, and never shuffled — the only shuffled rows are the
    (rare) collisions. Set ``broadcast_batch=False`` when the batch is
    itself huge; the joins then fall back to AQE-planned shuffles.

    ``max_bucket_size`` drops hot INDEX buckets (template scaffolds) before
    probing, same rationale as minhash_lsh_candidates."""
    bfp = batch.select(
        F.col(id_col).alias("b_id"), F.md5(_norm(text_col)).alias("fp_md5")
    )
    bsig = minhash_signatures(batch, index.num_hashes, index.shingle_n, id_col, text_col)
    bbk = minhash_lsh_buckets(bsig, index.bands).withColumnRenamed("doc_id", "b_id")

    ibk = index.buckets
    if max_bucket_size is not None:
        small = (
            ibk.groupBy("band", "bucket")
            .agg(F.count("*").alias("sz"))
            .filter(F.col("sz") <= max_bucket_size)
            .select("band", "bucket")
        )
        ibk = ibk.join(small, ["band", "bucket"])

    bfp_j = F.broadcast(bfp) if broadcast_batch else bfp
    bbk_j = F.broadcast(bbk) if broadcast_batch else bbk

    exact = index.fingerprints.join(bfp_j, "fp_md5").select(
        "b_id", F.col("rep_id").alias("exact_dup_of")
    )
    near = (
        ibk.join(bbk_j, ["band", "bucket"])
        .select("b_id", F.col("doc_id").alias("i_id"))
        .distinct()
        .groupBy("b_id")
        .agg(F.count("*").alias("near_dup_count"))
    )
    return (
        batch.select(F.col(id_col).alias("doc_id"))
        .join(exact.withColumnRenamed("b_id", "doc_id"), "doc_id", "left")
        .join(near.withColumnRenamed("b_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            "exact_dup_of",
            F.coalesce("near_dup_count", F.lit(0)).alias("near_dup_count"),
            (
                F.col("exact_dup_of").isNull() & F.coalesce(F.col("near_dup_count") == 0, F.lit(True))
            ).alias("keep"),
        )
    )


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    benchmark_text_col: str | None = None,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Train/test decontamination: per-doc count of DISTINCT normalized word
    n-grams shared with a benchmark corpus (the GPT-3-style n-gram overlap
    rule). One row per doc: ``(doc_id, contaminated_ngrams, contaminated)``.

    Normalization matches the dedup fingerprint (lowercase, collapse
    whitespace) so cosmetic edits don't hide overlap.

    Physical strategy (100 TB corpus vs a benchmark of at most millions of
    grams): the benchmark's distinct gram set is BROADCAST (default), so the
    corpus-side explode is filtered in place by the hash join — corpus grams
    never shuffle; only actual hits reach the per-doc count aggregation.
    Set ``broadcast_benchmark=False`` for giant benchmark suites (falls back
    to an AQE-planned shuffle join on the gram)."""
    from cassovary_spark.functions.text import word_ngrams

    def norm_toks(tc: str) -> Column:
        return F.filter(F.split(_norm(tc), " "), lambda t: t != "")

    # token arrays are PROJECTED before word_ngrams touches them: HOF
    # lambdas re-evaluate inlined child expressions per element, so an
    # inlined norm+split would re-run once per gram — O(len^2) per doc
    # (measured 5.6s -> 0.6s for the corpus-side explode at sf0.01; same
    # pitfall as char_shingles). The alias survives CollapseProject
    # because it is non-cheap and word_ngrams references it twice.
    bg = (
        benchmark.select(
            norm_toks(benchmark_text_col or text_col).alias("__btoks")
        )
        .select(F.explode_outer(word_ngrams(F.col("__btoks"), n)).alias("gram"))
        .filter(F.col("gram").isNotNull())
        .distinct()
    )
    if broadcast_benchmark:
        bg = F.broadcast(bg)
    dg = docs.select(
        F.col(id_col).alias("doc_id"), norm_toks(text_col).alias("__toks")
    ).select(
        "doc_id", F.explode(word_ngrams(F.col("__toks"), n)).alias("gram")
    )
    # join FIRST, distinct AFTER: the broadcast hash join filters corpus
    # grams in their scan partitions, so the only rows that ever shuffle
    # (for the distinct + count) are genuine benchmark hits — a corpus-side
    # distinct before the join would shuffle EVERY corpus gram
    hits = (
        dg.join(bg, "gram")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("contaminated_ngrams"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("contaminated_ngrams", F.lit(0)).alias(
                "contaminated_ngrams"
            ),
            (F.coalesce("contaminated_ngrams", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def contamination_spans(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    benchmark_text_col: str | None = None,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Span-level decontamination: WHERE each benchmark overlap sits, so a
    scrub stage can cut the contaminated window instead of dropping the
    whole document (the GPT-3-style surgical scrub).

    A hit at n-gram position ``i`` (0-based token offset — gram ``i`` starts
    at token ``i`` of the normalized whitespace tokenization) covers tokens
    ``[i, i + n)``. Overlapping and back-to-back hit windows merge into
    maximal spans. One row per contaminated span:
    ``(doc_id, span_start, span_len, gram_hits)`` — ``span_start`` the first
    contaminated token index, ``span_len`` in tokens, ``gram_hits`` the
    number of distinct hit grams merged into the span. Clean docs emit no
    rows.

    Physical strategy: identical to ``contamination_check`` (benchmark gram
    set broadcast; corpus grams filtered in their scan partitions; only
    genuine hits shuffle) plus one per-doc window for the interval merge —
    the window's input is the HIT list, sparse by construction, so the
    per-doc sort is over a handful of positions even for 100 TB corpora."""
    from cassovary_spark.functions.text import word_ngrams

    def norm_toks(tc: str) -> Column:
        return F.filter(F.split(_norm(tc), " "), lambda t: t != "")

    # projected token arrays for the same HOF-inlining reason as
    # contamination_check (O(len^2) otherwise)
    bg = (
        benchmark.select(
            norm_toks(benchmark_text_col or text_col).alias("__btoks")
        )
        .select(F.explode_outer(word_ngrams(F.col("__btoks"), n)).alias("gram"))
        .filter(F.col("gram").isNotNull())
        .distinct()
    )
    if broadcast_benchmark:
        bg = F.broadcast(bg)
    dg = docs.select(
        F.col(id_col).alias("doc_id"), norm_toks(text_col).alias("__toks")
    ).select(
        "doc_id",
        F.posexplode(word_ngrams(F.col("__toks"), n)).alias("pos", "gram"),
    )
    hits = dg.join(bg, "gram").select("doc_id", "pos").distinct()

    # gaps-and-islands over the sparse hit positions: a new span starts when
    # this window [pos, pos+n) neither overlaps nor touches the previous one.
    # Two window steps (lag -> running sum): nesting one window function
    # inside another is illegal in both Spark and the SQL oracle.
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = hits.withColumn(
        "__new_span",
        F.when(
            F.col("pos") > F.coalesce(F.lag("pos").over(w), F.lit(-(10**9))) + n,
            1,
        ).otherwise(0),
    )
    return (
        flagged.withColumn(
            "__island",
            F.sum("__new_span").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "__island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + n - F.min("pos")).cast("long").alias("span_len"),
            F.count("*").alias("gram_hits"),
        )
        .select("doc_id", "span_start", "span_len", "gram_hits")
    )


def scrub_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply ``contamination_spans`` output: cut the contaminated token
    windows out of each document. Returns ``(doc_id, text)`` with the
    tokens inside any span removed and the survivors re-joined with single
    spaces (inter-token whitespace is normalized — span offsets are indexes
    into the whitespace tokenization, which collapses runs anyway).

    Token indexes line up with the span offsets because both sides split on
    whitespace runs: lowercasing (done for gram MATCHING) never moves a
    token boundary, so position ``i`` of the original split is position
    ``i`` of the normalized split.

    Physical strategy: spans aggregate to one ``array<struct<s,e>>`` row
    per contaminated doc (a handful of entries by construction) and join
    back to the corpus; the cut itself is a JVM-side higher-order filter
    over the token array — no explode of clean documents, no Python. Docs
    without spans pass through with only the whitespace normalization."""
    span_arrs = spans.groupBy(F.col("doc_id")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("span_start").alias("s"),
                    (F.col("span_start") + F.col("span_len")).alias("e"),
                )
            )
        ).alias("__spans")
    )
    # the token array is materialized as its OWN projection before any
    # higher-order function touches it: HOF lambdas are interpreted per
    # element with no subexpression elimination, so an inlined
    # split+filter would re-run once per token (same measured pitfall as
    # char_shingles — 20s -> ~2s at sf0.01 for this operator)
    base = (
        docs.join(span_arrs, docs[id_col] == span_arrs["doc_id"], "left")
        .select(
            docs[id_col].alias("doc_id"),
            F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "").alias(
                "__toks"
            ),
            "__spans",
        )
    )
    indexed = F.transform(
        F.col("__toks"),
        lambda t, i: F.struct(t.alias("t"), i.cast("long").alias("i")),
    )
    kept = F.filter(
        indexed,
        lambda x: ~F.exists(
            F.col("__spans"), lambda sp: (x["i"] >= sp["s"]) & (x["i"] < sp["e"])
        ),
    )
    return base.select(
        "doc_id",
        F.when(
            F.col("__spans").isNull(), F.array_join(F.col("__toks"), " ")
        )
        .otherwise(F.array_join(F.transform(kept, lambda x: x["t"]), " "))
        .alias("text"),
    )
