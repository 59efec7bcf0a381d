"""Incremental edge derivation over streaming transcripts.

``stream_turn_edges`` is a CUSTOM STATEFUL OPERATOR: the batch derivation
(sources/transcripts.turn_edges) is a `lead()` window per conversation, which
plain Structured Streaming cannot express — so per-conversation state (the
last seen turn, kept in per-bucket arrays) lives in the state store via
``applyInPandasWithState`` and each arriving turn emits the edge that
connects it to its predecessor.
Arrow-batched pandas, no per-row Python (the UDF policy of this engine).

Delivery assumption (documented): turns of one conversation arrive in
turn_idx order ACROSS micro-batches (the Kafka partition-by-conv_id
guarantee); within a micro-batch any order is fine (sorted before use).
Like the batch ``lead()`` derivation, consecutive-by-ORDER turns are
connected even when turn_idx has gaps (a filtered or lost turn does not
break the chain).

Vertex ids use the computable encoding (conv ordinal * 2^16 + turn_idx,
sources/transcripts.turn_vertex_id). Synthetic ``convNNNNNN`` ids parse
directly; any other conv_id falls back to a deterministic 45-bit hash
ordinal (xxhash64) — collision probability ~n^2/2^46, documented, and the
job never crashes on foreign id formats.

At 10^12-turn scale this runs as a continuous job appending edge deltas to
the same (Iceberg) edge table the batch operators scan; `dynamic.DynamicGraph`
is the batch-side resolve of those deltas.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cassovary_spark.sources.transcripts import conv_ordinal, turn_vertex_id

EDGE_SCHEMA = "src long, dst long"
BUCKET_STATE_SCHEMA = (
    "convs array<string>, last_idxs array<long>, last_vids array<long>"
)


def _default_state_buckets() -> int:
    """Conversation-bucket count for the no-timeout layout. Size so each
    bucket holds O(100-1000) live conversations: the state row is three
    parallel arrays over the bucket's conversations, and the per-GROUP
    Python-function + state-(de)serialization fixed cost is paid per BUCKET
    per micro-batch instead of per conversation (measured 4.4x end-to-end at
    3.4M turns / 200k convs, OPTIMIZATION_r06.md). 1024 is the local-mode
    default; a production deployment tracking 10^9 live conversations sets
    CASSOVARY_STREAM_STATE_BUCKETS ~ n_convs/500 so state rows stay ~10s of
    KB and load-balance across executors. A value below 1 raises."""
    import os

    nb = int(os.environ.get("CASSOVARY_STREAM_STATE_BUCKETS", "1024"))
    if nb < 1:
        raise ValueError(f"CASSOVARY_STREAM_STATE_BUCKETS must be >= 1, got {nb}")
    return nb


def _starts(code):
    """True where a new conversation starts in the sorted codes ``code``."""
    out = np.ones(len(code), dtype=bool)
    out[1:] = code[1:] != code[:-1]
    return out


def _turn_edge_fn(conv_timeout_ms: int | None):
    """The stateful kernel. One state entry holds (conv_id, last_idx,
    last_vid) for every conversation of its group as three parallel arrays:
    a conversation BUCKET without a timeout, a single conversation with
    one. Each turn connects to its predecessor BY ORDER (batch ``lead()``
    semantics: gaps in turn_idx still chain); rows with idx <= the stored
    last_idx, and duplicate idx within a batch, are ignored. With
    ``conv_timeout_ms`` a group quiet for that long is evicted."""

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
           ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # quiescent conversation: evict its entry — the size bound on
            # the state store
            state.remove()
            yield pd.DataFrame({"src": pd.Series(dtype="int64"),
                                "dst": pd.Series(dtype="int64")})
            return
        rows = pd.concat(list(pdfs))
        # one code per conversation; rows sorted by (code, turn_idx), stable
        # so a duplicate keeps its first row
        code, convs = pd.factorize(rows["conv_id"].to_numpy())
        idx = rows["turn_idx"].to_numpy(np.int64)
        vid = rows["vid"].to_numpy(np.int64)
        order = np.lexsort((idx, code))
        code, idx, vid = code[order], idx[order], vid[order]

        if state.exists:
            s_convs, s_idx, s_vid = state.get
            s_convs = list(s_convs)
        else:
            s_convs, s_idx, s_vid = [], [], []
        # state slot of each batch conversation, -1 for none; slot -1 reads
        # the appended sentinel (no stored turn)
        slots = dict(zip(s_convs, range(len(s_convs))))
        conv_slot = np.array([slots.get(c, -1) for c in convs], dtype=np.int64)
        s_idx = np.append(np.asarray(s_idx, dtype=np.int64), -(1 << 62))
        s_vid = np.append(np.asarray(s_vid, dtype=np.int64), -1)
        slot = conv_slot[code]

        # duplicate (conv, idx) rows keep only the first; rows at or below
        # the conversation's stored last_idx are ignored (a batch may keep
        # no row at all)
        keep = (_starts(code) | (idx != np.roll(idx, 1))) & (idx > s_idx[slot])

        code_k, idx_k, vid_k = code[keep], idx[keep], vid[keep]
        first_k = _starts(code_k)
        # predecessor: previous kept row of the same conv, else the stored state
        prev_vid = np.where(first_k, s_vid[slot[keep]], np.roll(vid_k, 1))
        has_prev = ~first_k | (slot[keep] >= 0)
        edges = pd.DataFrame({"src": prev_vid[has_prev], "dst": vid_k[has_prev]})

        # new state: last kept row per conv overrides; untouched convs carry over
        last_k = np.roll(first_k, -1)
        upd_code, upd_idx, upd_vid = code_k[last_k], idx_k[last_k], vid_k[last_k]
        upd_slot = conv_slot[upd_code]
        seen = upd_slot >= 0
        s_idx, s_vid = s_idx[:-1], s_vid[:-1]
        s_idx[upd_slot[seen]] = upd_idx[seen]
        s_vid[upd_slot[seen]] = upd_vid[seen]
        state.update(
            (
                s_convs + [str(c) for c in convs[upd_code[~seen]]],
                np.concatenate([s_idx, upd_idx[~seen]]).tolist(),
                np.concatenate([s_vid, upd_vid[~seen]]).tolist(),
            )
        )
        if conv_timeout_ms is not None:
            state.setTimeoutDuration(conv_timeout_ms)
        yield edges

    return fn


def stream_turn_edges(
    transcripts: DataFrame,
    conv_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming ``(src, dst)`` turn-edge deltas from a streaming transcript
    DataFrame (the batch twin of ``sources.transcripts.turn_edges``).

    One edge per order-consecutive turn pair within a conversation,
    including pairs that SPAN micro-batches (that's the state) and pairs
    whose turn_idx has gaps (matching the batch ``lead()``).

    Without a timeout, state is grouped by a deterministic conversation
    BUCKET (``pmod(xxhash64(conv_id), nb)``, nb =
    $CASSOVARY_STREAM_STATE_BUCKETS, default 1024), so the per-group
    Python-call + state round-trip fixed cost amortizes over a whole bucket
    per micro-batch (measured 4.4x end-to-end at 3.4M turns / 200k convs);
    the operator is fully deterministic under test.

    ``conv_timeout_ms``: when set, state is grouped per conversation and a
    conversation's entry is evicted after that much processing-time
    inactivity — the bound on state-store size for continuous deployments.
    Eviction is a per-conversation contract (a bucket would only time out
    when ALL of its conversations are quiescent); the kernel is the same.
    A turn arriving AFTER its conversation's eviction starts a fresh chain
    (it loses its link to the pre-eviction predecessor — the standard
    state-TTL trade). A processing-time timeout makes Spark ask for a
    no-data batch after every batch, so an ``availableNow`` run ends only
    with ``spark.sql.streaming.noDataMicroBatches.enabled=false``."""
    # try_cast: regexp_extract yields '' on no-match, which ANSI cast rejects
    with_vid = transcripts.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        turn_vertex_id(conv_ordinal(F.col("conv_id")), F.col("turn_idx")).alias("vid"),
    )
    if conv_timeout_ms is None:
        grouped = with_vid.withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(_default_state_buckets()))
        ).groupBy("bucket")
        timeout = GroupStateTimeout.NoTimeout
    else:
        grouped = with_vid.groupBy("conv_id")
        timeout = GroupStateTimeout.ProcessingTimeTimeout
    return grouped.applyInPandasWithState(
        _turn_edge_fn(conv_timeout_ms),
        outputStructType=EDGE_SCHEMA,
        stateStructType=BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


def stream_degree_counts(edges: DataFrame) -> DataFrame:
    """Running out-degree per vertex over a streaming edge DataFrame —
    the incremental twin of ``graph.out_degrees`` (complete-mode aggregate,
    map-side partial combine like any batch hash aggregation)."""
    return edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").alias("out_degree")
    )
