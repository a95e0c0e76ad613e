"""Streaming perceptual image dedup: flag each arriving image as a
near-duplicate of any EARLIER image within a pHash hamming radius —
the streaming leg of the image dedup family (batch leg:
``multimodal.image_neardup_pairs``).

Shape (SURVEY §2.10/§2.11 stateful surface, same machinery as
``events.sessionize_stateful``): images explode to their hamming bands
with the band builder of ``dedup.pairs_within_hamming`` (recall-complete
by pigeonhole), ``applyInPandasWithState`` keyed by (band, key) holds
the phashes seen in that band and emits one row per (image, band) with
the matched earlier image (or null). An image is a duplicate iff ANY
band row matched — ``dedup.best_match(rows, "image_id", "matched_id",
"hamming", higher_is_better=False)`` folds the rows into flags
downstream, kept out of the stateful op so the streaming query stays
single-stateful-stage.

Batch answers come from the pair join, not from this operator
(``applyInPandasWithState`` is streaming-only): over a single
micro-batch with no prior state, the flags equal ``best_match`` over
the earlier side of ``image_neardup_pairs`` (the q51 catalog entry).

State growth is the honest cost of exact dedup-against-all-history:
per-band state is the band's phash list (16 bytes/image/band).
``max_state_per_band`` switches to bounded sliding-recency semantics
(keep only the N most recent entries per band — O(bands × N) state
forever); an external KV store is the remaining alternative when
exact-vs-all-history must survive an unbounded stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

BAND_OUT_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("matched_id", T.StringType(), True),
        T.StructField("hamming", T.LongType(), True),
    ]
)
BAND_STATE_SCHEMA = T.StructType(
    [
        T.StructField("phashes", T.ArrayType(T.LongType()), False),
        T.StructField("ids", T.ArrayType(T.StringType()), False),
    ]
)


def _band_group_scan(pdf, seen_ph, seen_ids, max_hamming, max_state=None):
    """Core per-(band,key) scan: rows in image_id order probe the
    seen-so-far phash list, then join it. Mutates/returns the seen
    lists; returns the output frame for this group. ``max_state``
    bounds the per-band history to the most recent entries (recency
    eviction — the bounded-state mode)."""
    import numpy as np
    import pandas as pd

    from ..functions.text import hamming64

    pdf = pdf.sort_values("image_id")
    out_match, out_ham = [], []
    for img_id, ph in zip(pdf["image_id"], pdf["phash"]):
        if seen_ph:
            d = hamming64(np.asarray(seen_ph, dtype=np.int64), np.int64(ph))
            j = int(np.argmin(d))
            if int(d[j]) <= max_hamming:
                out_match.append(seen_ids[j])
                out_ham.append(int(d[j]))
            else:
                out_match.append(None)
                out_ham.append(None)
        else:
            out_match.append(None)
            out_ham.append(None)
        seen_ph.append(int(ph))
        seen_ids.append(str(img_id))
        if max_state is not None and len(seen_ph) > max_state:
            del seen_ph[: len(seen_ph) - max_state]
            del seen_ids[: len(seen_ids) - max_state]
    return pd.DataFrame(
        {
            "image_id": pdf["image_id"].to_numpy(),
            "band": pdf["band"].to_numpy(),
            "matched_id": out_match,
            "hamming": out_ham,
        }
    )


def image_neardup_stream(
    images: DataFrame, max_hamming: int = 6, max_state_per_band: int | None = None
) -> DataFrame:
    """Streaming (image_id, phash) → per-band match rows
    (image_id, band, matched_id, hamming) against all earlier arrivals.

    "Earlier" = previous micro-batches, plus image_id order within a
    batch (deterministic; arrival order is not stable inside a batch).

    ``max_state_per_band`` switches exact-vs-all-history semantics to
    bounded sliding-recency dedup: each band keeps only its most recent
    N entries, so state is O(bands × N) forever — the knob that makes
    an unbounded stream sustainable when "duplicate of something
    recent" is the semantics the pipeline actually needs.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.dedup import _hamming_band_rows

    def check(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.exists:
            seen_ph, seen_ids = state.get
            seen_ph, seen_ids = list(seen_ph), list(seen_ids)
        else:
            seen_ph, seen_ids = [], []
        pdf = pd.concat([p[["image_id", "phash", "band"]] for p in pdf_iter])
        out = _band_group_scan(pdf, seen_ph, seen_ids, max_hamming, max_state_per_band)
        state.update((seen_ph, seen_ids))
        yield out

    bands = _hamming_band_rows(images.select("image_id", "phash"), "phash", max_hamming)
    return bands.groupBy("band", "key").applyInPandasWithState(
        check,
        BAND_OUT_SCHEMA,
        BAND_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
