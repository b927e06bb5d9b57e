"""Window planning and skew chunking.

The engine's windows are positional tumbling windows over token index
(SURVEY.md §2.g): tier 0 = ``W`` raw tokens per window; higher tiers reuse
the same ``W`` over 10x/100x-downsampled points.

Skew handling (north rule: "explicit skew splitting of long-tail token
arrays"): before the heavy UDF stage, a long document is split into chunks
of ``chunk_tokens`` (a multiple of ``W``, so windows never straddle a
chunk and global ``window_id`` is derived from the chunk offset). One
10^7-token doc therefore becomes ~100 independent rows spread across the
cluster instead of one hot Arrow batch. The split is done with built-in
array functions (``sequence`` + ``explode`` + ``slice``) — JVM-side, no
Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

DEFAULT_WINDOW = 100          # tokens per tier-0 window (decade math: 10 x 10)
DEFAULT_CHUNK_WINDOWS = 256   # tier-0 windows per skew chunk
TIER_FACTOR = 10              # downsample factor between consecutive tiers


def chunk_sequences(df: DataFrame, window: int = DEFAULT_WINDOW,
                    chunk_windows: int = DEFAULT_CHUNK_WINDOWS) -> DataFrame:
    """Split ``(doc_id, tokens, n_tok, source)`` rows into window-aligned
    chunks ``(doc_id, source, chunk_id, chunk_tokens, chunk_off)``.

    Docs shorter than one chunk pass through with chunk_id=0 (the common
    case: ``sequence(0,0)`` explodes to a single row, no data copied by
    ``slice`` beyond the array's true length).

    Dirty-row robustness (a 100-TB table always has some): a NULL tokens
    array degrades to an empty doc (zero windows) instead of crashing the
    Arrow kernel, and the chunk count derives from ``size(tokens)`` — the
    array itself — not the ``n_tok`` column, so a stale/corrupt n_tok can
    neither silently drop a tail chunk nor fabricate empty ones
    (``_assemble_windows`` already measures true lengths for the same
    reason).
    """
    chunk = window * chunk_windows
    toks = F.coalesce(F.col("tokens"), F.expr("array()"))
    n_chunks = F.greatest(F.lit(1), F.ceil(F.size(toks) / F.lit(chunk)))
    return (
        df.withColumn("_toks", toks)
        .withColumn("chunk_id",
                    F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))))
        .withColumn("chunk_off", (F.col("chunk_id").cast("long") * chunk))
        .withColumn("chunk_toks",
                    F.slice(F.col("_toks"), F.col("chunk_id") * chunk + 1, chunk))
        .select("doc_id", "source", "chunk_id", "chunk_off", "chunk_toks")
    )

