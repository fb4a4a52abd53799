"""Streaming near-duplicate detection against a static corpus.

The batch dedup family (operators/dedup.py) answers "which documents in
this table are near-dups of each other"; an ingestion pipeline needs the
online form — "is this ARRIVING document a near-dup of anything already
in the corpus".  Because the minhash band keys are a stateless per-row
kernel (minhash_band_buckets: one mapInPandas pass, no
explode/distinct/groupBy), the stream side needs NO state and NO
shuffle, and the corpus check is one stream-static equi-join on
(band, key): stateless and append-safe.  (Streaming shell counts,
stream_cells.stream_shell_counts, need no join at all: every
micro-batch sweeps a halo grid broadcast once per query.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import minhash_band_buckets


def stream_near_dup(
    stream: DataFrame,
    corpus_buckets: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 8,
    corpus_id_col: str = "corpus_doc_id",
) -> DataFrame:
    """Flag arriving documents that LSH-collide with a static corpus ->
    streaming (id_col, corpus_id_col, band int), one row per band
    collision (a pair hitting k bands emits k rows, mirroring the batch
    n_bands_hit accounting; aggregate downstream in update mode if a
    per-pair count is wanted — leaving raw collisions keeps the plan
    stateless and the sink append-safe).

    corpus_buckets is the STATIC side: minhash_band_buckets(corpus) with
    the SAME (n_hashes, bands, shingle_n) shape, normally precomputed
    once and persisted via sources/tableio (recompute-per-batch is what
    the static-side materialization avoids at scale).  Pass a raw
    corpus documents table and it is bucketed here as a convenience.

    Scale shape: the arriving micro-batch fans out to `bands` bucket
    rows per doc in one vectorized kernel pass per Arrow batch (NULL
    and sub-shingle docs emit none); the join shuffles only the batch
    (or broadcasts the corpus buckets when small).  The same kernel
    builds the batch operators' buckets, so a doc flagged here is
    exactly a doc that minhash_lsh_pairs would pair with the corpus.
    """
    if "band" in corpus_buckets.columns or "key" in corpus_buckets.columns:
        # pre-bucketed: require EXACTLY the bucket schema so a raw
        # table that merely contains a 'band'/'key' column is rejected
        # loudly instead of joined as garbage.  The caller owns shape
        # consistency — the bucket table must have been built with the
        # SAME (n_hashes, bands, shingle_n) as this call.
        want = {id_col, "band", "key"}
        if set(corpus_buckets.columns) != want:
            raise ValueError(
                f"corpus_buckets looks pre-bucketed but has columns "
                f"{sorted(corpus_buckets.columns)}; expected exactly "
                f"{sorted(want)} (minhash_band_buckets output)"
            )
    else:
        corpus_buckets = minhash_band_buckets(
            corpus_buckets, text_col, id_col, n_hashes, bands, shingle_n
        )
    c = corpus_buckets.withColumnRenamed(id_col, corpus_id_col)
    s = minhash_band_buckets(stream, text_col, id_col, n_hashes, bands, shingle_n)
    return s.join(c, ["band", "key"]).select(
        F.col(id_col), F.col(corpus_id_col), F.col("band")
    )
