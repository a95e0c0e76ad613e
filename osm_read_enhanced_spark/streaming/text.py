"""Streaming MinHash text dedup: flag each arriving document as a
near-duplicate of any EARLIER arrival (est ≥ τ) — the continuous
counterpart of the commit-point operator
``operators.dedup.incremental_dedup`` (which runs batch-vs-committed-
index) and the text sibling of ``streaming.images.image_neardup_stream``
(same machinery: SURVEY §2.10/§2.11 stateful surface).

Shape: a stateless mapInPandas stage computes MinHash signatures +
band hashes (the batch kernels from functions.text — streaming-safe,
per-row pure), explodes to (doc, band, bucket) rows with the band-row
builder of ``operators.dedup``, then ONE ``applyInPandasWithState``
keyed by (band, bucket) holds the signatures seen in that bucket and
emits one row per (doc, band) with the best earlier match (highest
est, ties → smallest id). A document is a duplicate iff ANY band row
matched — ``dedup.best_match(rows, "doc_id", "matched_id", "est",
higher_is_better=True)`` folds the rows into flags downstream, kept
out of the stateful op so the streaming query stays
single-stateful-stage.

Batch answers come from the pair join, not from this operator
(``applyInPandasWithState`` is streaming-only): over a single
micro-batch with no prior state and exact buckets, the flags equal
``best_match`` over the earlier side of ``dedup.minhash_lsh_pairs``
(the q69 catalog entry), and is_dup equals
``incremental_dedup(…, index=None)``'s dup_in_batch — all mean
"shares a band bucket with a SMALLER-id doc at est ≥ τ".

State is the per-bucket signature list (4·n_hashes bytes per doc per
band — int32, lossless for mod-2^31−1 MinHash values). ``max_state_per_bucket`` switches to bounded sliding-recency
semantics (keep the N most recent docs per bucket — flat state
forever), the knob that makes an unbounded stream sustainable; the
committed-index operator is the alternative when exact-vs-all-history
must survive restarts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BAND_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("matched_id", T.LongType(), True),
        T.StructField("est", T.DoubleType(), True),
    ]
)
# flattened signatures (stride n_hashes) — flat state row; sig values
# are min((a·x+b) mod 2^31−1) so int32 is lossless and HALVES both the
# state store and the 16×-replicated band-row shuffle
BAND_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType()), False),
        T.StructField("sigs", T.ArrayType(T.IntegerType()), False),
    ]
)


def doc_band_rows(
    docs: DataFrame,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    bucket_bits: int | None = None,
) -> DataFrame:
    """(doc_id, text) → one row per LSH band: (doc_id, sig, band,
    bucket) — identical signatures/banding to the batch operators.

    ``bucket_bits`` folds the 63-bit band hash into a 2^bits key space
    (``bucket mod 2^bits``) — the image op's saturating-key-space
    property for text: total group/state cardinality is then bounded by
    bands·2^bits regardless of distinct-text count. Folding can only
    ADD candidates (verified exactly by est ≥ τ afterwards), so flags
    with folding are a recall-⊇ superset of the exact-bucket flags."""
    from ..operators.dedup import _band_rows, _signature_df

    sigs = _signature_df(docs, "doc_id", "text", n_hashes, bands, shingle_k)
    # int32 is lossless for MinHash values (mod 2^31−1) and halves the
    # per-band replicated shuffle + the state rows
    rows = _band_rows(sigs.withColumn("sig", F.col("sig").cast("array<int>")), "doc_id")
    if bucket_bits is not None:
        rows = rows.withColumn("bucket", F.pmod("bucket", F.lit(1 << bucket_bits)))
    return rows


def _bucket_group_scan(
    pdf, seen_ids, seen_sigs_flat, n_hashes, threshold, max_state=None
):
    """Per-(band,bucket) scan: rows in doc_id order probe the earlier
    signatures (est = matching fraction), then join them. Mutates and
    returns the seen lists; returns this group's output frame.

    The signature matrix is materialized ONCE per group call into a
    preallocated (|state| + |batch|)-row buffer and new rows are
    appended in place (VERDICT r5 #1: the old shape re-built the
    matrix from the Python state list for EVERY arriving doc —
    O(n²·n_hashes) copying per hot bucket per batch).
    ``max_state`` keeps the original in-loop sliding-recency eviction
    (a window [lo, cnt) over the buffer), so a doc later in the batch
    still probes exactly the most recent ``max_state`` entries."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("doc_id")
    out_match, out_est = [], []
    n0 = len(seen_ids)
    cap = n0 + len(pdf)
    M = np.empty((cap, n_hashes), dtype=np.int32)
    if n0:
        M[:n0] = np.asarray(seen_sigs_flat, dtype=np.int32).reshape(n0, n_hashes)
    ids_buf = np.empty(cap, dtype=np.int64)
    ids_buf[:n0] = seen_ids
    lo, cnt = 0, n0
    for doc_id, sig in zip(pdf["doc_id"], pdf["sig"]):
        sig = np.asarray(sig, dtype=np.int32)
        matched, est_v = None, None
        if cnt > lo:
            est = (M[lo:cnt] == sig).mean(axis=1)
            ok = np.flatnonzero(est >= threshold)
            if len(ok):
                ids_win = ids_buf[lo:cnt]
                j = ok[np.lexsort((ids_win[ok], -est[ok]))[0]]
                matched = int(ids_win[j])
                est_v = float(np.floor(est[j] * 1e6 + 0.5) / 1e6)
        out_match.append(matched)
        out_est.append(est_v)
        M[cnt] = sig
        ids_buf[cnt] = int(doc_id)
        cnt += 1
        if max_state is not None and cnt - lo > max_state:
            lo = cnt - max_state
    seen_ids[:] = [int(x) for x in ids_buf[lo:cnt]]
    seen_sigs_flat[:] = [int(x) for x in M[lo:cnt].ravel()]
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].to_numpy(),
            "band": pdf["band"].to_numpy(),
            "matched_id": pd.array(out_match, dtype="Int64"),
            "est": out_est,
        }
    )


def text_neardup_stream(
    docs: DataFrame,
    threshold: float = 0.5,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    max_state_per_bucket: int | None = None,
    bucket_ttl_minutes: float | None = None,
    bucket_bits: int | None = None,
) -> DataFrame:
    """Streaming (doc_id, text) → per-band match rows (doc_id, band,
    matched_id, est) against all earlier arrivals. "Earlier" = previous
    micro-batches, plus doc_id order within a batch (deterministic —
    arrival order inside a batch is not stable).

    State bounding needs BOTH knobs on an unbounded text stream, and
    they bound different axes (measured in the round-5 soak):
    ``max_state_per_bucket`` caps docs per bucket, but unlike the image
    op (whose band keys live in a ~2^10 space) MinHash band buckets are
    63-bit — every new distinct text creates ``bands`` fresh buckets,
    so TOTAL state still grows with distinct-text cardinality.
    ``bucket_ttl_minutes`` evicts buckets idle for the given
    processing-time window, making total state O(hot working set) —
    dup-of-something-recent semantics. ``bucket_bits`` instead folds
    buckets into a 2^bits key space so group/state-key cardinality
    SATURATES at bands·2^bits (flags become a recall-⊇ superset —
    extra candidates are still est-verified). The committed-index
    operator (incremental_dedup) is the exact-vs-all-history
    alternative."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = None if bucket_ttl_minutes is None else int(bucket_ttl_minutes * 60_000)

    def check(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ids, sigs = state.get
            ids, sigs = list(ids), list(sigs)
        else:
            ids, sigs = [], []
        pdf = pd.concat([p[["doc_id", "sig", "band"]] for p in pdf_iter])
        out = _bucket_group_scan(
            pdf, ids, sigs, n_hashes, threshold, max_state_per_bucket
        )
        state.update((ids, sigs))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield out

    bands_df = doc_band_rows(docs, n_hashes, bands, shingle_k, bucket_bits)
    return bands_df.groupBy("band", "bucket").applyInPandasWithState(
        check,
        BAND_OUT_SCHEMA,
        BAND_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout
        if ttl_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout,
    )
