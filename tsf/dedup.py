"""Deduplication operators over the documents table.

Scale notes (the point of each design):

- exact: groupBy on a 64-bit content hash — one shuffle of (hash, id),
  never the text. At 100 TB this is the cheapest possible exact pass.
- minhash LSH: shingles -> K minhashes -> B bands; candidate pairs come
  from an equi-join on (band, band_hash) buckets, so the cross product is
  per-bucket, never global. Self-join dedups with id< id ordering.
- simhash: 64-bit sketch via sign of hash-weighted bit sums; near-dups =
  equal sketch (or banded prefix for Hamming tolerance).
- ngram jaccard: exact verification on bucketed candidate pairs
  (SQL-expressible -> DuckDB oracle).
- embedding near-dup: cosine >= threshold within LSH-ish buckets
  (random-hyperplane sign prefix).

All hashing uses Spark's built-in xxhash64 (JVM, codegen) — Python only
where numpy vector math is genuinely needed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window, functions as F

from tsf.caching import scoped_persist
from tsf.textstats import _WORDS
from tsf.xxh64_sql import P1, P2, P3, P4, P5


def _shingle_array_expr(k: int) -> str:
    """SQL expression building each doc's DISTINCT xxhash64 word-k-gram
    shingle array from a materialized word array ``ws`` — the single
    source of truth for the shingling convention (standard w-shingling:
    start positions 1..size-k+1, so a doc of exactly k words yields its
    one shingle; docs with < k words yield none — gated explicitly
    because Spark's sequence() would emit a DESCENDING range for them).

    The word array must be a COLUMN: a split() inside the transform
    lambda would be re-evaluated per shingle position (Catalyst does not
    CSE inside higher-order-function lambdas) — O(words^2)."""
    return (f"case when size(ws) >= {k} then "
            f"array_distinct(transform(sequence(0, size(ws) - {k}),"
            f" i -> xxhash64(concat_ws(' ', slice(ws, i + 1, {k})))))"
            f" else array() end")


def _local_size(files: list[str]) -> int | None:
    """Total size of file:// inputs; None when any path is non-local
    (object store / HDFS — assume large, the usual cluster case)."""
    total = 0
    for f in files:
        if not f.startswith("file:"):
            return None
        p = f[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total


def _shingle_bytes_est(docs: DataFrame, d: DataFrame) -> int:
    """Driver-side estimate of the hashed-shingle table's broadcast
    size. Prefer the INPUT FILE bytes of the docs scan (free — no job):
    the 8-byte-per-word-shingle arrays come out near the raw text size,
    so 4x file bytes upper-bounds them comfortably. Only when the input
    is not file-backed (in-memory test frames) fall back to the exact
    one-row aggregate over the persisted sketch ``d`` — the previous
    behavior, which cost a full Spark job at PLAN BUILD time for every
    AllPairs caller (measured 0.3-0.7 s per query)."""
    try:
        files = docs.inputFiles()
        size = _local_size(files) if files else None
        if size is not None:
            return 4 * size
    except Exception:
        pass
    st = d.agg(F.count("*").alias("n"),
               F.sum(F.size("ss")).alias("cells")).first()
    return int(st["cells"] or 0) * 8 + int(st["n"] or 0) * 64


def exact_dedup(docs: DataFrame) -> DataFrame:
    """One row per distinct text: keeper id + duplicate count."""
    return (docs
            .groupBy(F.xxhash64("text").alias("content_hash"))
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count("*").alias("n_copies"))
            .select("keep_doc_id", "n_copies"))


# -- numpy XXH64 (Spark XxHash64 long/int paths) for Arrow kernels ----
#
# Spark's xxhash64(shingle, lit(i)) folds seed 42 through hashLong for
# the BIGINT shingle, then hashInt for the IntegerType index literal.
# Re-implementing those two fixed-width paths over uint64 numpy arrays
# lets the minhash signature pass hash the shingle ONCE and derive all
# num_hashes family members from that state — bit-exact vs F.xxhash64
# (pytest-pinned in tests/test_pipeline_ops.py), wrap-around by uint64
# modular arithmetic (no HUGEINT masking needed, unlike the SQL replay
# in tsf/xxh64_sql.py whose primes these share).


def _np_xxh64_avalanche(h):
    import numpy as np
    h = (h ^ (h >> np.uint64(33))) * np.uint64(P2)
    h = (h ^ (h >> np.uint64(29))) * np.uint64(P3)
    return h ^ (h >> np.uint64(32))


def _np_xxh64_long(l, seed):
    """XXH64.hashLong(l, seed) — l, seed: uint64 arrays or scalars."""
    import numpy as np
    a = seed + np.uint64(P5 + 8)
    k = l * np.uint64(P2)
    k = ((k << np.uint64(31)) | (k >> np.uint64(33))) * np.uint64(P1)
    b = a ^ k
    b = (((b << np.uint64(27)) | (b >> np.uint64(37)))
         * np.uint64(P1) + np.uint64(P4))
    return _np_xxh64_avalanche(b)


def _np_xxh64_int(i, seed):
    """XXH64.hashInt(i, seed) — the 4-byte path Spark uses for
    IntegerType values (e.g. ``F.lit(i)``); ``i`` a python int,
    ``seed`` a uint64 array or scalar."""
    import numpy as np
    a = seed + np.uint64(P5 + 4)
    k = np.uint64(((i & 0xFFFFFFFF) * P1) % (1 << 64))
    b = a ^ k
    b = (((b << np.uint64(23)) | (b >> np.uint64(41)))
         * np.uint64(P2) + np.uint64(P3))
    return _np_xxh64_avalanche(b)


def _np_xxh64_int_into(i, seed, b, t):
    """:func:`_np_xxh64_int` with caller-provided work buffers ``b``
    and ``t`` (uint64, same shape as ``seed``) — the identical uint64
    operation sequence executed in place, so the minhash family loop
    (num_hashes passes over the same shingle state) stops allocating
    ~6 array temporaries per pass; on this DRAM-bandwidth-limited host
    the allocation traffic, not the ALU work, is the kernel's cost.
    Returns ``b``."""
    import numpy as np
    np.add(seed, np.uint64(P5 + 4), out=b)
    k = np.uint64(((i & 0xFFFFFFFF) * P1) % (1 << 64))
    np.bitwise_xor(b, k, out=b)
    np.right_shift(b, np.uint64(41), out=t)
    np.left_shift(b, np.uint64(23), out=b)
    np.bitwise_or(b, t, out=b)
    np.multiply(b, np.uint64(P2), out=b)
    np.add(b, np.uint64(P3), out=b)
    # avalanche: h = (h ^ h>>33) * P2; h = (h ^ h>>29) * P3; h ^ h>>32
    np.right_shift(b, np.uint64(33), out=t)
    np.bitwise_xor(b, t, out=b)
    np.multiply(b, np.uint64(P2), out=b)
    np.right_shift(b, np.uint64(29), out=t)
    np.bitwise_xor(b, t, out=b)
    np.multiply(b, np.uint64(P3), out=b)
    np.right_shift(b, np.uint64(32), out=t)
    np.bitwise_xor(b, t, out=b)
    return b


def _minhash_sig_kernel(d: DataFrame, num_hashes: int) -> DataFrame:
    """(doc_id, ss array<bigint>) -> (doc_id, sig array<bigint>): the
    minhash family h_i(s) = xxhash64(s, i) evaluated as ONE batched
    Arrow kernel pass. Per Arrow batch all shingle-hash arrays
    concatenate into one flat uint64 buffer, hashLong(s, 42) runs once
    over it, each family member is one vectorized hashInt pass over
    that shared state, and the per-doc minima are np.minimum.reduceat
    (signed int64 order — Spark's BIGINT min). ZERO Exchange; the
    previous explode + num_hashes min-aggregates groupBy re-hashed
    every shingle num_hashes times JVM-side. Docs with no shingles
    emit no row (the groupBy-over-zero-rows behavior)."""
    n_h = int(num_hashes)
    id_type = d.schema["doc_id"].dataType.simpleString()

    def fn(batches):
        import numpy as np
        import pandas as pd
        from tsf.kernels import ragged_batch
        for pdf in batches:
            if len(pdf) == 0:
                continue
            r = ragged_batch(pdf["ss"].to_numpy())
            if r is None:
                continue
            keep, lens, H, off = r
            dids = pdf["doc_id"].to_numpy()[keep]
            off = off[:-1]
            T = _np_xxh64_long(H.view(np.uint64), np.uint64(42))
            M = np.empty((len(lens), n_h), dtype=np.int64)
            b = np.empty_like(T)
            t = np.empty_like(T)
            for i in range(n_h):
                hi = _np_xxh64_int_into(i, T, b, t).view(np.int64)
                M[:, i] = np.minimum.reduceat(hi, off)
            yield pd.DataFrame({"doc_id": dids, "sig": list(M)})

    return d.mapInPandas(fn, f"doc_id {id_type}, sig array<bigint>")


def _hashed_shingles(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, ss): each doc's DISTINCT xxhash64 word-k-gram shingle
    array, row-locally, behind the :func:`tsf.spread.spread_rows`
    narrow-scan guard — the ONE chain shared by minhash_signatures /
    simhash / lsh_verified_pairs / ngram_jaccard_pairs /
    containment_pairs so the sketch and exact families cannot silently
    disagree on the shingle sets they hash."""
    from tsf.spread import spread_rows
    return (spread_rows(docs.select("doc_id", "text"))
            .select("doc_id", F.expr(_WORDS).alias("ws"))
            .select("doc_id", F.expr(_shingle_array_expr(k)).alias("ss")))


def minhash_signatures(docs: DataFrame, k: int = 3, num_hashes: int = 32) -> DataFrame:
    """(doc_id, sig array<long>) — minhash over shingle hashes.

    h_i(s) = xxhash64(s, i), evaluated by :func:`_minhash_sig_kernel`
    (one batched Arrow pass over the row-local hashed shingle arrays —
    bit-identical to the JVM per-hash expressions, pytest-pinned)."""
    return _minhash_sig_kernel(_hashed_shingles(docs, k), num_hashes)


def _banded(sig: DataFrame, bands: int, rows: int,
            doc_alias: str = "doc_id") -> DataFrame:
    """(doc, band, bh): each signature sliced into ``bands`` bands of
    ``rows`` minhashes, each band hashed to ONE 64-bit band key.

    This is the band-layout CONTRACT shared by the in-corpus pair
    generators (:func:`minhash_pairs`, :func:`lsh_verified_pairs`),
    the persisted-index writer
    (:func:`build_minhash_index`) and the index prober
    (:func:`dedup_against_index`): writer and prober must agree on it
    by construction — a drifted copy would make every probe silently
    miss all index candidates (empty dedup result, no error)."""
    band_cols = F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.element_at("sig", b * rows + r + 1)
                              for r in range(rows)]).alias("bh"))
        for b in range(bands)])).alias("bb")
    return (sig.select("doc_id", band_cols)
            .select(F.col("doc_id").alias(doc_alias),
                    F.col("bb.band").alias("band"),
                    F.col("bb.bh").alias("bh")))


def _band_candidates(banded: DataFrame) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b, once per pair sharing >= 1
    ``(band, bh)`` bucket of :func:`_banded` — the candidate join of
    both in-corpus banded-minhash pair paths (:func:`minhash_pairs`,
    :func:`lsh_verified_pairs`). The cross product is per bucket, never
    global."""
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, ["band", "bh"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"]))


def minhash_pairs(docs: DataFrame, k: int = 3, num_hashes: int = 32,
                  bands: int = 8, threshold: float = 0.5) -> DataFrame:
    """Candidate near-dup pairs via banded LSH + exact minhash-Jaccard filter."""
    rows = num_hashes // bands
    # the signature table feeds the banded join AND both verify sides —
    # persist so shingle+minhash aggregation runs once (scoped: released
    # by the caller's tsf.caching.persist_scope after the terminal action)
    sig = scoped_persist(minhash_signatures(docs, k, num_hashes))
    # bands only — the 256B signature array does NOT ride through the
    # exploded band join (it would double the shuffle payload x bands);
    # signatures re-join once per DISTINCT candidate pair below
    cand = _band_candidates(_banded(sig, bands, rows))
    pairs = (cand
             .join(sig.select(F.col("doc_id").alias("doc_a"),
                              F.col("sig").alias("sig_a")), "doc_a")
             .join(sig.select(F.col("doc_id").alias("doc_b"),
                              F.col("sig").alias("sig_b")), "doc_b")
             .select("doc_a", "doc_b",
                     (F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y),"
                             " v -> v))") / F.lit(num_hashes)).alias("est_jaccard")))
    return pairs.where(F.col("est_jaccard") >= threshold)


def simhash(docs: DataFrame, k: int = 3) -> DataFrame:
    """64-bit SimHash per doc from xxhash64 shingle hashes (bit-majority).

    Fully row-local: the hashed shingle array materializes per row (JVM
    xxhash64, no explode), and the 64-way bit-majority runs as ONE
    batched Arrow kernel pass — per Arrow batch all shingle-hash arrays
    concatenate into one flat int64 buffer and each bit's per-doc ones
    count is a (shift, mask, np.add.reduceat) vector pass; the sketch
    packs via uint64 shifts and reinterprets as signed int64. No
    doc-keyed aggregation Exchange — the previous explode +
    64-conditional-sum groupBy paid 64 CASE evaluations per shingle
    row JVM-side plus a shuffle (measured 8.2s -> ~2s on the x10
    corpus); the only possible Exchange is the
    :func:`tsf.spread.spread_rows` narrow-scan guard, a no-op on real
    many-file inputs. Majority rule unchanged: bit j set iff ones >
    zeros among the doc's DISTINCT shingles; docs with < k words emit
    no row (no shingles)."""

    def fn(batches):
        import numpy as np
        import pandas as pd
        from tsf.kernels import ragged_batch
        for pdf in batches:
            if len(pdf) == 0:
                continue
            r = ragged_batch(pdf["ss"].to_numpy())
            if r is None:
                continue
            keep, lens, H, off = r
            dids = pdf["doc_id"].to_numpy()[keep]
            off = off[:-1]
            acc = np.zeros(len(lens), dtype=np.uint64)
            # r6: progressive in-place shift + one reused mask buffer —
            # bit j of H is bit 0 of H >> j, so the per-bit (H >> j) & 1
            # (two fresh full-length temporaries per bit, 64x) becomes
            # one masked write + one in-place shift; identical ones
            # counts, ~2x less DRAM traffic on the kernel's hot loop.
            work = H.copy()
            mask = np.empty_like(H)
            for j in range(64):
                np.bitwise_and(work, 1, out=mask)
                ones = np.add.reduceat(mask, off)
                acc |= (2 * ones > lens).astype(np.uint64) << np.uint64(j)
                np.right_shift(work, 1, out=work)
            yield pd.DataFrame({"doc_id": dids,
                                "simhash": acc.view(np.int64)})

    id_type = docs.schema["doc_id"].dataType.simpleString()
    return _hashed_shingles(docs, k).mapInPandas(
        fn, f"doc_id {id_type}, simhash bigint")


def _check_simhash_bands(max_hamming: int, bands: int) -> None:
    """The banded candidate join is lossless only when every bit is in a
    band and a pair within ``max_hamming`` must agree on a whole band."""
    if 64 % bands:
        raise ValueError(f"bands={bands} must divide 64 (every bit banded)")
    if max_hamming >= bands:
        raise ValueError(f"max_hamming={max_hamming} must be < bands={bands}"
                         " (pigeonhole)")


def _check_k3(k: int) -> None:
    """The DuckDB replays spell out 3-token shingles."""
    if k != 3:
        raise ValueError(f"the DuckDB replay is written for k=3, got k={k}")


def simhash_near_dups(docs: DataFrame, k: int = 3,
                      max_hamming: int = 3, bands: int = 4) -> DataFrame:
    """Near-duplicate pairs with Hamming(simhash) <= max_hamming.

    Candidates come from a banded equi-join: the 64-bit sketch splits
    into ``bands`` equal bit-slices; any pair within ``max_hamming``
    (< bands) must agree on >= 1 whole band (pigeonhole — the filter is
    lossless for max_hamming <= bands - 1). The cross product is per
    (band, band-bits) bucket — never global — and the exact popcount
    filter runs only on candidates."""
    _check_simhash_bands(max_hamming, bands)
    width = 64 // bands
    mask = (1 << width) - 1
    # both self-join sides re-derive the sketch otherwise (scoped persist:
    # released by the caller's persist_scope after the terminal action)
    s = scoped_persist(simhash(docs, k))
    banded = s.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.expr(f"(simhash >> {b * width}) & {mask}").alias("bb"))
            for b in range(bands)])).alias("s")
    ).select("doc_id", "simhash", F.col("s.band").alias("band"),
             F.col("s.bb").alias("bb"))
    a, b = banded.alias("a"), banded.alias("b")
    # the Hamming threshold is computable per candidate row, so it runs
    # BEFORE dropDuplicates — the dedup shuffle then carries only pairs
    # that pass, not every banded candidate (identical output)
    return (a.join(b, ["band", "bb"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.expr("bit_count(a.simhash ^ b.simhash)")
                    .alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
            .dropDuplicates(["doc_a", "doc_b"]))


# -- duplicated token spans (memorization-risk signal) ----------------------
#
# Substring-level duplication (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better"): token spans repeated VERBATIM
# across the corpus are the memorization vector that document-level
# dedup misses. Per document, against all L-token spans in the corpus:
#
# - n_spans: span positions in the doc (n_tok - L + 1, 0 if shorter)
# - n_dup_spans: positions whose span occurs >= 2 times corpus-wide
#   (within-doc repeats count too — a span repeated inside one doc is
#   the same memorization risk)
# - dup_token_frac: fraction of the doc's tokens covered by >= 1
#   duplicated span (exact interval union via a lead() window)
#
# Span identity is the polynomial hash sum(t_j * 31^(L-1-j)) mod 2^31-1
# (the engine's fingerprint family) computed with an O(L)-per-position
# JVM HOF — no Python, no string building. Collisions merge distinct
# spans (~p^2/2^32 for p distinct spans — one-in-ten-thousand at 10^5
# spans); both engines hash identically so the oracle match is exact
# regardless, and a 64-bit xxhash64-over-serialized-slice variant is the
# documented drop-in where collision odds matter.
#
# Scale shape (100 TB): positions explode to (h, doc_id, pos) — linear,
# no text. Duplication counts come from a count() WINDOW over h (ONE
# shuffle, no self-join); coverage is a per-doc window (second shuffle,
# metadata-only); the final left join back to (doc_id, n_tok) keeps
# zero/short docs. Degenerate-span skew (e.g. all-zero runs landing one
# hash on one reducer) is bounded by the window's partial aggregation.

SPAN_L = 20


def _span_positions(seq: DataFrame, L: int) -> DataFrame:
    """(doc_id, pos, h): every 1-based L-token span position with its
    polynomial span hash — the span-identity CONTRACT shared by the
    stats operator (:func:`dup_span_stats`) and the removal operator
    (:func:`remove_dup_spans`); one definition so a hash-family change
    (e.g. the documented xxhash64-over-slice drop-in) cannot
    desynchronize what one flags from what the other cuts."""
    from tsf.textstats import FP_MOD
    span_hash = (f"aggregate(slice(tokens, i, {L}), 0L, "
                 f"(a, x) -> (a * 31 + x) % {FP_MOD})")
    return (seq.where(F.col("n_tok") >= L)
            .select("doc_id",
                    F.explode(F.expr(
                        f"transform(sequence(1, n_tok - {L} + 1), "
                        f"i -> struct(i AS pos, {span_hash} AS h))"))
                    .alias("s"))
            .select("doc_id", F.col("s.pos").alias("pos"),
                    F.col("s.h").alias("h")))


def _span_pos_cte(L: int) -> str:
    """DuckDB twin of :func:`_span_positions` (a `pos` CTE body over a
    `seq` CTE) — one definition for both oracle replays."""
    from tsf.textstats import FP_MOD
    span_hash = (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
                 f"list_transform(list_slice(tokens, i, i + {L} - 1), "
                 f"zx -> CAST(zx AS BIGINT))), "
                 f"(a, x) -> (a * 31 + x) % {FP_MOD})")
    return f"""(SELECT doc_id, t.pos AS pos, t.h AS h
            FROM (SELECT doc_id, list_transform(
                      range(1, n_tok - {L} + 2),
                      i -> {{'pos': i, 'h': {span_hash}}}) AS ss
                  FROM seq WHERE n_tok >= {L}) q,
            UNNEST(q.ss) AS u(t))"""


def dup_span_stats(seq: DataFrame, L: int = SPAN_L) -> DataFrame:
    """doc_id, n_spans, n_dup_spans, dup_token_frac — see module notes."""
    pos = _span_positions(seq, L)
    cnt = pos.withColumn(
        "cnt", F.count("*").over(Window.partitionBy("h")))
    dup = cnt.where(F.col("cnt") > 1)
    nxt = F.lead("pos").over(
        Window.partitionBy("doc_id").orderBy("pos"))
    cov = dup.withColumn(
        "covered",
        F.least(F.lit(L), F.coalesce(nxt - F.col("pos"), F.lit(L))))
    stats = cov.groupBy("doc_id").agg(
        F.count("*").alias("n_dup_spans"),
        F.sum("covered").alias("cov_tokens"))
    n_spans = F.greatest(F.col("n_tok") - F.lit(L - 1), F.lit(0))
    return (seq.select("doc_id", F.col("n_tok").cast("long").alias("n_tok"))
            .join(stats, "doc_id", "left")
            .select("doc_id",
                    n_spans.cast("long").alias("n_spans"),
                    F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
                    (F.floor(F.coalesce("cov_tokens", F.lit(0))
                             / F.col("n_tok") * F.lit(1e6) + F.lit(0.5))
                     / F.lit(1e6)).alias("dup_token_frac")))


def dup_span_stats_duckdb(seq_cte: str, L: int = SPAN_L) -> str:
    """DuckDB replay of :func:`dup_span_stats` — identical rolling hash,
    window count, interval union, rounding."""
    return f"""
    WITH seq AS ({seq_cte}),
    pos AS {_span_pos_cte(L)},
    cnt AS (SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY h) AS cnt
            FROM pos),
    dup AS (SELECT doc_id, pos FROM cnt WHERE cnt > 1),
    cov AS (SELECT doc_id, least({L}, coalesce(
                lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos,
                {L})) AS covered
            FROM dup),
    stats AS (SELECT doc_id, count(*) AS n_dup_spans,
                     sum(covered) AS cov_tokens
              FROM cov GROUP BY 1),
    base AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok FROM seq)
    SELECT base.doc_id,
           CAST(greatest(n_tok - {L - 1}, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           floor(coalesce(cov_tokens, 0) * 1.0 / n_tok * 1000000.0 + 0.5)
             / 1000000.0 AS dup_token_frac
    FROM base LEFT JOIN stats USING (doc_id)
    """


# -- DuckDB replay of the PRODUCTION xxhash64 sketches ----------------------
#
# tsf.xxh64_sql re-implements Spark's xxhash64 (string / long / int
# paths) bit-exactly in pure DuckDB SQL, so minhash_signatures, simhash,
# minhash_pairs, lsh_verified_pairs (and its groups / matrix
# compositions) and simhash_near_dups are value-checked as production
# runs them: the oracle replays shingling -> xxh64(gram) -> per-hash-index
# min (or bit majority) -> banded candidate join -> verify, end to end.

_SHINGLE_CTES = """
    w AS (SELECT doc_id,
                 list_filter(string_split(text, ' '),
                             x -> length(x) > 0) AS ws
          FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                    range(1, greatest(len(ws) - 2, 0) + 1),
                    i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))) AS s
           FROM w),
    g AS (SELECT DISTINCT s FROM sh)
"""

#: exact Jaccard of two docs' distinct shingle lists ``a.ss``, ``b.ss``
#: — the oracle twin of :func:`_verified_jaccard`'s arithmetic
_JACCARD_SQL = ("len(list_intersect(a.ss, b.ss)) * 1.0 / nullif(len(a.ss) "
                "+ len(b.ss) - len(list_intersect(a.ss, b.ss)), 0)")


def _minhash_sig_ctes(k: int, num_hashes: int) -> str:
    """CTE chain replaying :func:`minhash_signatures`: shingle hash =
    XXH64(utf8(gram), 42); signature h_i = hashInt(i, hashLong(shingle,
    42)) (Spark's ``xxhash64(shingle, lit(i))``,
    :func:`_minhash_sig_kernel`), hashed once per DISTINCT gram /
    shingle hash, exactly like the engine. Defines ``sh`` (doc_id, s),
    ``dm`` (doc_id, i, m: the signature's i-th minimum) and ``sg``
    (doc_id, sig)."""
    from tsf.xxh64_sql import (hash_bytes_layers, hash_int_layers,
                               hash_long_layers)
    _check_k3(k)
    gh = hash_bytes_layers("SELECT s FROM g", "s", "hs", "sb")
    ih = hash_long_layers("SELECT hs FROM dh", "hs", "42", "h0", "il")
    hi = hash_int_layers("SELECT hs2 AS hs, h0, i FROM ii", "i", "h0",
                         "hv", "ix")
    # gh / sg are referenced more than once downstream — without
    # MATERIALIZED DuckDB inlines and re-executes the whole upstream
    # hash chain per reference (measured 12.9s -> ~3s on sf0.01)
    return f"""{_SHINGLE_CTES},
    gh AS MATERIALIZED (SELECT s, hs FROM ({gh})),
    dh AS (SELECT DISTINCT hs FROM gh),
    ih AS (SELECT hs AS hs2, h0 FROM ({ih})),
    ii AS (SELECT hs2, h0, CAST(t.i AS BIGINT) AS i
           FROM ih CROSS JOIN range(0, {num_hashes}) t(i)),
    hi AS (SELECT hs, i, hv FROM ({hi})),
    dm AS (SELECT sh.doc_id, hi.i, min(hi.hv) AS m
           FROM sh JOIN gh USING (s) JOIN hi USING (hs)
           GROUP BY 1, 2),
    sg AS MATERIALIZED (
        SELECT doc_id, list(m ORDER BY i) AS sig FROM dm GROUP BY 1)"""


def minhash_signatures_duckdb(k: int = 3, num_hashes: int = 8) -> str:
    """DuckDB replay of :func:`minhash_signatures`, one row per
    signature entry: (doc_id, h_index, min_hash)."""
    return f"""
    WITH {_minhash_sig_ctes(k, num_hashes)}
    SELECT doc_id, CAST(i AS INTEGER) AS h_index, m AS min_hash FROM dm
    """


def _minhash_cand_ctes(k: int, num_hashes: int, bands: int,
                       cand_on: str) -> str:
    """CTE chain replaying the PRODUCTION banded-minhash path up to its
    candidate pairs: the signatures of :func:`_minhash_sig_ctes`, then
    band hash = hashLong folded over the band's ``rows`` signature longs
    from seed 42 (:func:`_banded`). Adds ``bb`` (doc_id, band, bh) and
    ``cand`` (doc_a, doc_b): the distinct pairs of ``bb`` rows ``a`` and
    ``c`` sharing a (band, bh) bucket and satisfying ``cand_on``."""
    from tsf.xxh64_sql import hash_long_layers
    rows = num_hashes // bands
    band_chain = ("SELECT doc_id, band, "
                  + ", ".join(f"l{j + 1}" for j in range(rows))
                  + " FROM br")
    prev = "42"
    for r in range(rows):
        band_chain = hash_long_layers(band_chain, f"l{r + 1}", prev,
                                      f"bs{r + 1}", f"b{r + 1}")
        prev = f"bs{r + 1}"
    # bb is MATERIALIZED for the same reason as gh / sg
    return f"""{_minhash_sig_ctes(k, num_hashes)},
    br AS (SELECT doc_id, CAST(t.b AS BIGINT) AS band,
                  {", ".join(f"sig[{rows} * CAST(t.b AS BIGINT) + {j + 1}]"
                             f" AS l{j + 1}" for j in range(rows))}
           FROM sg CROSS JOIN range(0, {bands}) t(b)),
    bb AS MATERIALIZED (
        SELECT doc_id, band, {prev} AS bh FROM ({band_chain})),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
             FROM bb a JOIN bb c
               ON a.band = c.band AND a.bh = c.bh AND {cand_on})"""


def _minhash_est_duckdb(k: int, num_hashes: int, bands: int,
                        threshold: float, cand_on: str, out: str) -> str:
    """The candidates of :func:`_minhash_cand_ctes` under ``cand_on``,
    each with its signature-agreement estimate ``est_jaccard`` (kept when
    >= ``threshold``), projected by ``out``."""
    matches = (f"len(list_filter(range(1, {num_hashes} + 1), "
               "zj -> sa.sig[zj] = sb.sig[zj]))")
    return f"""
    WITH {_minhash_cand_ctes(k, num_hashes, bands, cand_on)},
    est AS (SELECT doc_a, doc_b,
                   {matches} / CAST({num_hashes} AS DOUBLE) AS est_jaccard
            FROM cand
            JOIN sg sa ON sa.doc_id = cand.doc_a
            JOIN sg sb ON sb.doc_id = cand.doc_b)
    SELECT {out} FROM est
    WHERE est_jaccard >= {threshold}
    """


def minhash_pairs_duckdb(k: int = 3, num_hashes: int = 32, bands: int = 8,
                         threshold: float = 0.5) -> str:
    """DuckDB replay of :func:`minhash_pairs` with the PRODUCTION hash
    family (see :func:`_minhash_cand_ctes`)."""
    return _minhash_est_duckdb(k, num_hashes, bands, threshold,
                               "a.doc_id < c.doc_id",
                               "doc_a, doc_b, est_jaccard")


def _simhash_sketch_ctes(k: int) -> str:
    """CTE chain replaying :func:`simhash` with the PRODUCTION shingle
    hash (XXH64 of the gram's UTF-8 bytes, seed 42): per-bit majority
    sums, then the sketch. Defines ``sk`` (doc_id, simu), the sketch as
    an unsigned HUGEINT in [0, 2^64)."""
    from tsf.xxh64_sql import hash_bytes_layers
    _check_k3(k)
    gh = hash_bytes_layers("SELECT s FROM g", "s", "hs", "sb")
    u = ("(CAST(hs AS HUGEINT) & 18446744073709551615::HUGEINT)")
    bit_sums = ",\n".join(
        f"sum(CASE WHEN ({u} >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(64))
    assemble = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j}::HUGEINT"
        f" ELSE 0::HUGEINT END)" for j in range(64))
    return f"""{_SHINGLE_CTES},
    gh AS (SELECT s, hs FROM ({gh})),
    bits AS (SELECT sh.doc_id, {bit_sums}
             FROM sh JOIN gh USING (s) GROUP BY 1),
    sk AS (SELECT doc_id, ({assemble}) AS simu FROM bits)"""


def simhash_duckdb(k: int = 3) -> str:
    """DuckDB replay of :func:`simhash`: the sketch of
    :func:`_simhash_sketch_ctes` as Spark's signed BIGINT."""
    return f"""
    WITH {_simhash_sketch_ctes(k)}
    SELECT doc_id,
           CAST(CASE WHEN simu >= {1 << 63}::HUGEINT
                     THEN simu - {1 << 64}::HUGEINT ELSE simu END
                AS BIGINT) AS simhash
    FROM sk
    """


def simhash_near_dups_duckdb(k: int = 3, max_hamming: int = 3,
                             bands: int = 4) -> str:
    """DuckDB replay of :func:`simhash_near_dups`: the sketches of
    :func:`_simhash_sketch_ctes`, banded pigeonhole candidates, exact
    popcount verify."""
    _check_simhash_bands(max_hamming, bands)
    width = 64 // bands
    mask = (1 << width) - 1
    return f"""
    WITH {_simhash_sketch_ctes(k)},
    banded AS MATERIALIZED (
               SELECT doc_id, simu, CAST(t.b AS BIGINT) AS band,
                      CAST((simu >> (CAST(t.b AS BIGINT) * {width}))
                           & {mask}::HUGEINT AS BIGINT) AS bb
               FROM sk CROSS JOIN range(0, {bands}) t(b)),
    pairs AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
                     CAST(bit_count(xor(a.simu, c.simu)) AS INT) AS hamming
              FROM banded a JOIN banded c
                ON a.band = c.band AND a.bb = c.bb
               AND a.doc_id < c.doc_id)
    SELECT doc_a, doc_b, hamming FROM pairs
    WHERE hamming <= {max_hamming}
    """


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.3,
                        k: int = 3, positional: bool = True) -> DataFrame:
    """EXACT all-pairs n-gram (word k-gram shingle) Jaccard >= threshold
    via prefix filtering (AllPairs/PPJoin family) — identical output to a
    naive all-pairs join (the DuckDB oracle IS the naive join), but
    scale-safe:

    - candidates come from an equi-join on each doc's PREFIX shingles —
      its ``|ss| - ceil(t*|ss|) + 1`` globally-rarest shingles
      (rare-first order by document frequency). Any pair with J >= t must
      share a prefix shingle (pigeonhole on the required overlap), so the
      filter is LOSSLESS; ubiquitous shingles (the big join buckets)
      never enter prefixes.
    - a length filter (J >= t forces t*|a| <= |b| <= |a|/t) prunes the
      candidate equi-join further.
    - the quadratic array_intersect verify runs on candidates only.

    Replaces the round-1 (source, lang, length-band) word-set bucket join
    whose within-bucket cross product was quadratic in the biggest bucket
    (and whose word-set granularity saturated on small vocabularies)."""
    eps = 1e-9  # float-safe ceil: never overshoot (overshoot = lossy prefix)
    # hashed shingles end-to-end: 8-byte join/shuffle keys and arrays
    # instead of ~30-byte strings (set sizes are hash-collision-exact,
    # which the string-based DuckDB oracle confirms on every fixture);
    # shingling sits behind the narrow-scan guard like the sketch family
    d = _hashed_shingles(docs, k).withColumn("sz", F.size("ss"))
    # the shingling subtree feeds FIVE plan branches (df count, prefix,
    # both candidate sides, both verify sides) and Catalyst re-executes it
    # per branch — persist so tokenize+shingle runs once (~8B/shingle,
    # far smaller than the source text; released by the caller's
    # persist_scope after the terminal action)
    d = scoped_persist(d)
    w = d.select("doc_id", "sz", F.explode("ss").alias("sh"))
    # document frequency per shingle: grows with corpus vocabulary (word
    # 3-grams are near-unique at scale), so NO broadcast hint — AQE
    # broadcasts it while it fits and falls back to a shuffle join beyond
    dfreq = w.groupBy("sh").agg(F.count("*").alias("df"))
    from pyspark.sql import Window
    order = Window.partitionBy("doc_id").orderBy("df", "sh")
    pre = (w.join(dfreq, "sh")
           .withColumn("rn", F.row_number().over(order))
           .where(F.col("rn") <= F.col("sz")
                  - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(eps)) + 1)
           .select("doc_id", "sz", "sh", "rn"))
    a, b = pre.alias("a"), pre.alias("b")
    # PPJoin positional filter (lossless, standard AllPairs/PPJoin): both
    # docs' shingles are ranked in the SAME global (df, sh) order, so a
    # prefix match at ranks (rn_a, rn_b) bounds the achievable overlap at
    # 1 + min(sz_a - rn_a, sz_b - rn_b); J >= t needs overlap >=
    # ceil(t/(1+t) * (sz_a + sz_b)). Kills candidates whose only shared
    # prefix shingles sit deep in both prefixes — the dominant case on
    # low-vocabulary corpora where the bare prefix join saturates.
    min_overlap = F.ceil(F.lit(threshold / (1.0 + threshold))
                         * (F.col("a.sz") + F.col("b.sz")) - F.lit(eps))
    pos_bound = 1 + F.least(F.col("a.sz") - F.col("a.rn"),
                            F.col("b.sz") - F.col("b.rn"))
    if not positional:  # testing hook: losslessness proved by equality
        pos_bound, min_overlap = F.lit(1), F.lit(0)
    cand = (a.join(b, "sh")
            .where((F.col("a.doc_id") < F.col("b.doc_id"))
                   & (F.col("b.sz") >= F.lit(threshold) * F.col("a.sz") - F.lit(eps))
                   & (F.col("a.sz") >= F.lit(threshold) * F.col("b.sz") - F.lit(eps))
                   & (pos_bound >= min_overlap))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"]))
    return _verified_jaccard(docs, d, cand, threshold)


def _verified_jaccard(docs: DataFrame, d: DataFrame, cand: DataFrame,
                      threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard >= threshold): the EXACT shingle Jaccard
    of each candidate pair in ``cand`` over the per-doc DISTINCT hashed
    shingle arrays ``d`` (doc_id, ss) of :func:`_hashed_shingles` — the
    one verify of both exact-Jaccard pair paths
    (:func:`ngram_jaccard_pairs`, :func:`lsh_verified_pairs`)."""
    # verify-join strategy: d has one row per DOC, cand one per PAIR —
    # on dup-dense corpora cand is orders of magnitude larger, and a
    # shuffle-join chain re-shuffles the pair table with a ~|ss|*8B
    # array payload attached (measured 14+ GB at the x10 fixture).
    # Broadcast the doc side when its array payload fits comfortably
    # (Spark's static 10MB autoBroadcast threshold can't see this);
    # beyond that, fall back to the shuffle join (the 100x path).
    side = F.broadcast if _shingle_bytes_est(docs, d) < (256 << 20) \
        else (lambda x: x)
    verify = (cand
              .join(side(d.select(F.col("doc_id").alias("doc_a"),
                                  F.col("ss").alias("sa"))), "doc_a")
              .join(side(d.select(F.col("doc_id").alias("doc_b"),
                                  F.col("ss").alias("sb"))), "doc_b"))
    # hash-set intersect size on int64 arrays; union size by arithmetic
    # (|a| + |b| - |a∩b| — ss arrays are DISTINCT by construction), which
    # skips materializing an array_union array per candidate pair
    inter = F.expr("size(array_intersect(sa, sb))").cast("double")
    un = (F.size("sa") + F.size("sb")).cast("double") - inter
    return (verify.select("doc_a", "doc_b",
                          F.round(inter / un, 6).alias("jaccard"))
            .where(F.col("jaccard") >= threshold))


def lsh_verified_pairs(docs: DataFrame, k: int = 3, num_hashes: int = 16,
                       bands: int = 8, threshold: float = 0.3) -> DataFrame:
    """THE 100-TB near-dup pair path: banded minhash LSH candidates ->
    EXACT jaccard verify on candidates only. Returns (doc_a, doc_b,
    jaccard >= threshold) — same row shape as the exact AllPairs join
    (:func:`ngram_jaccard_pairs`) but with the quadratic candidate
    problem replaced by per-(band, key) buckets, so cost scales with
    bucket occupancy instead of pair count (the AllPairs prefix filter
    is provably zero-pruning on dup-dense low-vocab corpora —
    builder-measured — while LSH band buckets keep working there).

    Semantics: a pair appears iff it shares >= 1 of the ``bands`` band
    keys AND its exact shingle jaccard passes the threshold — i.e. the
    LSH recall loss is explicit and measurable (bench reports planted
    recall), while every SURVIVING pair's jaccard is exact.

    One chain: :func:`_hashed_shingles` -> :func:`_minhash_sig_kernel`
    -> :func:`_banded` band keys -> :func:`_band_candidates` ->
    :func:`_verified_jaccard`; :func:`lsh_dedup_groups_duckdb` replays
    it end to end (XXH64 in SQL via :mod:`tsf.xxh64_sql`).

    Sizing note (builder-measured on the dup-dense x10 fixture):
    single-minhash bands (rows=1) DEGENERATE on shared-vocabulary
    corpora — every doc containing the globally-smallest-hashed common
    shingle lands in one bucket, which produced 16x junk candidates
    (2.08M for 125k true pairs) and made the verify join SLOWER than
    exact AllPairs. Two-minhash bands (the 16/8 default) need a pair to
    collide on BOTH hashes: 147k candidates for the same 125k true
    pairs, recall 1.0 on the fixture, 2.7x faster than AllPairs."""
    if num_hashes % bands:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    # the shingle arrays feed the signature kernel AND both verify sides
    d = scoped_persist(_hashed_shingles(docs, k))
    sig = _minhash_sig_kernel(d, num_hashes)
    cand = _band_candidates(_banded(sig, bands, num_hashes // bands))
    return _verified_jaccard(docs, d, cand, threshold)


def lsh_dedup_groups(docs: DataFrame, k: int = 3, num_hashes: int = 16,
                     bands: int = 8, threshold: float = 0.3,
                     max_iter: int = 25,
                     checkpoint_dir: str | None = None) -> DataFrame:
    """LSH candidates -> exact verify -> connected components: the
    complete scale dedup decision path (one keeper per near-dup group)
    with no quadratic stage anywhere — candidates are banded, the exact
    jaccard runs on candidates only, and the component fixpoint is
    O(log diameter) equi-join rounds."""
    pairs = lsh_verified_pairs(docs, k, num_hashes, bands, threshold)
    return duplicate_groups(docs, pairs, max_iter=max_iter,
                            checkpoint_dir=checkpoint_dir)


def _lsh_pairs_ctes(k: int, num_hashes: int, bands: int,
                    threshold: float) -> str:
    """CTE chain replaying :func:`lsh_verified_pairs`, ending in ``p``
    (doc_a, doc_b): the production candidate chain of
    :func:`_minhash_cand_ctes`, then the exact Jaccard of the two docs'
    distinct STRING shingle sets (the engine intersects their xxhash64
    values — equal sizes barring a 64-bit collision)."""
    cand = _minhash_cand_ctes(k, num_hashes, bands, "a.doc_id < c.doc_id")
    return f"""{cand},
    d AS (SELECT doc_id, list(s) AS ss FROM sh GROUP BY 1),
    p AS (SELECT doc_a, doc_b FROM cand
          JOIN d a ON a.doc_id = cand.doc_a
          JOIN d b ON b.doc_id = cand.doc_b
          WHERE round({_JACCARD_SQL}, 6) >= {threshold})"""


def lsh_dedup_groups_duckdb(k: int = 3, num_hashes: int = 16,
                            bands: int = 8,
                            threshold: float = 0.3) -> str:
    """DuckDB replay of :func:`lsh_dedup_groups`: the verified pairs of
    :func:`_lsh_pairs_ctes`, then recursive-CTE reachability (min
    reachable id per doc, ids as VARCHAR like the engine's labels)."""
    return f"""
    WITH RECURSIVE {_lsh_pairs_ctes(k, num_hashes, bands, threshold)},
    e AS (SELECT CAST(doc_a AS VARCHAR) AS u, CAST(doc_b AS VARCHAR) AS v
          FROM p
          UNION ALL SELECT CAST(doc_b AS VARCHAR), CAST(doc_a AS VARCHAR)
          FROM p),
    reach(doc_id, r) AS (
        SELECT CAST(doc_id AS VARCHAR), CAST(doc_id AS VARCHAR)
        FROM documents
        UNION
        SELECT e.v, reach.r FROM e JOIN reach ON reach.doc_id = e.u
    )
    SELECT doc_id, min(r) AS group_id FROM reach GROUP BY doc_id
    """


def cross_source_dup_matrix(docs: DataFrame, k: int = 3,
                            num_hashes: int = 16, bands: int = 8,
                            threshold: float = 0.3) -> DataFrame:
    """Per-(source_a, source_b) near-duplication accounting — the
    corpus-governance matrix behind source-mix decisions: how much of
    source A duplicates source B (eval-set leakage between a curated
    slice and a crawl, redundancy between two crawls before weighting
    them, within-source self-duplication on the diagonal).

    One row per unordered source pair (source_a <= source_b, the
    diagonal included) with:

    - n_pairs  — verified near-dup pairs straddling the two sources
      (exact jaccard >= threshold on LSH band candidates, the
      :func:`lsh_verified_pairs` semantics — recall bounded by the band
      layout exactly as documented there);
    - n_docs   — distinct documents touched by those pairs (union of
      both sides).

    Scale shape: everything downstream of the verified pair list is
    bounded by it, never by the corpus — two doc-keyed equi-joins attach
    (doc_id -> source) projections (no text column), the canonical
    (least, greatest) source relabel is row-local, and the final
    aggregates are keyed on source pairs (~|sources|^2 rows). The
    distinct-doc count reuses the same source-pair Exchange via one
    unioned projection. No quadratic stage anywhere (candidates are
    banded; see the sizing note on :func:`lsh_verified_pairs`)."""
    pairs = lsh_verified_pairs(docs, k, num_hashes, bands, threshold)
    src = docs.select("doc_id", "source")
    m = (pairs
         .join(src.select(F.col("doc_id").alias("doc_a"),
                          F.col("source").alias("sa")), "doc_a")
         .join(src.select(F.col("doc_id").alias("doc_b"),
                          F.col("source").alias("sb")), "doc_b")
         .select(F.least("sa", "sb").alias("source_a"),
                 F.greatest("sa", "sb").alias("source_b"),
                 "doc_a", "doc_b"))
    # ONE consumer of the verified-pair pipeline: explode both pair
    # sides (each strict doc_a < doc_b pair contributes exactly two
    # rows, so the pair count is count/2 — exact) and take both
    # aggregates in a single source-pair-keyed pass. A pair-count +
    # distinct-doc-union formulation would read m three times and
    # either recompute the verify join per consumer or pay a cache
    # materialization that blocks AQE (builder-measured slower both
    # ways at sf0.01).
    u = m.select("source_a", "source_b",
                 F.explode(F.array("doc_a", "doc_b")).alias("d"))
    return (u.groupBy("source_a", "source_b")
            .agg((F.count("*") / 2).cast("long").alias("n_pairs"),
                 F.countDistinct("d").alias("n_docs")))


def cross_source_dup_matrix_duckdb(k: int = 3, num_hashes: int = 16,
                                   bands: int = 8,
                                   threshold: float = 0.3) -> str:
    """DuckDB replay of :func:`cross_source_dup_matrix`: the verified
    pairs of :func:`_lsh_pairs_ctes`, then the source relabel and the
    pair/doc aggregates."""
    return f"""
    WITH {_lsh_pairs_ctes(k, num_hashes, bands, threshold)},
    src AS (SELECT doc_id, source FROM documents),
    m AS (SELECT least(sa.source, sb.source) AS source_a,
                 greatest(sa.source, sb.source) AS source_b,
                 p.doc_a, p.doc_b
          FROM p JOIN src sa ON sa.doc_id = p.doc_a
                 JOIN src sb ON sb.doc_id = p.doc_b),
    np AS (SELECT source_a, source_b, count(*) AS n_pairs
           FROM m GROUP BY 1, 2),
    u AS (SELECT DISTINCT source_a, source_b, doc_a AS d FROM m
          UNION SELECT DISTINCT source_a, source_b, doc_b FROM m),
    nd AS (SELECT source_a, source_b, count(*) AS n_docs
           FROM u GROUP BY 1, 2)
    SELECT source_a, source_b, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_docs AS BIGINT) AS n_docs
    FROM np JOIN nd USING (source_a, source_b)
    """


def duplicate_groups(docs: DataFrame, pairs: DataFrame,
                     max_iter: int = 25,
                     checkpoint_dir: str | None = None) -> DataFrame:
    """Connected components over a near-duplicate pair graph: one row per
    document with ``group_id`` = the lexicographically smallest doc_id in
    its component (the canonical keeper; singletons are their own group).
    This is the step that turns pairwise near-dup evidence into
    actionable dedup decisions — keep one doc per group.

    Pairs with an endpoint outside ``docs`` are dropped before the
    fixpoint, so the output has exactly one row per doc of ``docs`` and
    no outside id can bridge two components or become a ``group_id``.

    Algorithm: iterative min-label propagation with POINTER JUMPING
    (label <- label of label) each round, so convergence is
    O(log diameter) joins rather than O(diameter) — near-dup components
    are usually near-cliques (1-2 rounds), but a chain of borderline
    pairs cannot degrade it. All steps are equi-joins/groupBys keyed by
    doc_id — no collect, no cross product; at 100 TB each round shuffles
    one (doc_id, label) pair per vertex plus one message per edge.
    Every label is itself a vertex id (min over a set containing the
    vertex), so the pointer-jump join is total. Convergence detection
    is FREE of extra joins: each vertex's previous label rides along on
    its self row through the relax aggregate (messages carry NULL), so
    the fixpoint test is one WHERE + count() over the round's
    checkpointed result. Each round's result is checkpointed so round
    N's plan never replays rounds 1..N-1.

    Durability: by default the per-round checkpoint is
    ``localCheckpoint`` — blocks live on EXECUTORS, so on a real cluster
    a lost executor makes the lineage unrecoverable mid-run. Pass
    ``checkpoint_dir`` (HDFS/object-store path on a cluster) to use
    RELIABLE checkpointing for long chains; local runs don't need it.
    Raises RuntimeError if the fixpoint is not reached in ``max_iter``
    rounds (pointer jumping needs ~log2(diameter): 25 covers any real
    graph, so exhaustion means the input is pathological — returning
    silently would hand back labels that are not components)."""
    # ids are STRINGS end-to-end (labels too): mixed types would let
    # Spark's union/join coercion silently flip min() from lexicographic
    # to numeric and diverge from the VARCHAR oracle
    spark = docs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)
    # persist + materialize the DIRECTED pair list once, BEFORE the
    # both-directions union forks on it: each union branch is a full
    # re-execution of the verify pipeline otherwise (only the shingle
    # frame below it is cached — measured ~2x the pair cost on the
    # AllPairs-fed queries). The pair list is bounded metadata (two id
    # strings per verified pair), so the cache is scale-safe.
    ids = docs.select(F.col("doc_id").cast("string").alias("doc_id"))
    e = pairs.select(F.col("doc_a").cast("string").alias("u"),
                     F.col("doc_b").cast("string").alias("v"))
    for end in ("u", "v"):
        e = e.join(ids.withColumnRenamed("doc_id", end), end, "left_semi")
    e = scoped_persist(e)
    e.count()
    edges = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))).persist()
    labels = ids.withColumn("label", F.col("doc_id"))
    converged = False
    for _ in range(max_iter):
        # relax: each vertex takes the min of its own and neighbors'
        # labels. The vertex's PREVIOUS label rides along on its self
        # row (msgs carry NULL), so convergence detection is a WHERE
        # over this round's result — no extra labels join per round.
        msgs = (edges.join(labels.withColumnRenamed("doc_id", "u"), "u")
                .select(F.col("v").alias("doc_id"), "label",
                        F.lit(None).cast("string").alias("prev")))
        # r6: the relax aggregate is persisted for the round — the
        # pointer-jump self-join reads it on BOTH sides, and exchange
        # reuse does not fire across the AQE/localCheckpoint boundary,
        # so without the cache every round executed the whole relax
        # subtree twice (interleaved x10 A/B: 15.5/10.2 s uncached vs
        # 7.7/7.6 s cached for the two-round LSH-group fixpoint).
        # One round's aggregate is (doc_id, label, prev) per vertex —
        # bounded metadata; released right after the convergence count.
        agg = (labels.withColumn("prev", F.col("label"))
               .unionByName(msgs)
               .groupBy("doc_id").agg(F.min("label").alias("label"),
                                      F.max("prev").alias("prev"))
               .persist())
        # pointer jump: label <- label's label (labels are vertex ids)
        jump = agg.select(F.col("doc_id").alias("label"),
                          F.col("label").alias("label2"))
        new = (agg.join(jump, "label")
               .select("doc_id", F.col("label2").alias("label"), "prev"))
        new = (new.checkpoint(eager=False) if checkpoint_dir is not None
               else new.localCheckpoint(eager=False))
        changed = new.where(F.col("label") != F.col("prev")).count()
        agg.unpersist()
        labels = new.select("doc_id", "label")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"duplicate_groups did not converge in {max_iter} rounds "
            f"(last round changed {changed} labels) — the label table "
            f"is NOT a component assignment; raise max_iter or inspect "
            f"the pair graph")
    return labels.select("doc_id", F.col("label").alias("group_id"))


def duplicate_groups_duckdb(threshold: float = 0.3, k: int = 3,
                            where_sql: str = "TRUE") -> str:
    """DuckDB oracle: recursive-CTE reachability closure over the NAIVE
    all-pairs jaccard edges (>= threshold), min reachable id per doc —
    an independent definition of the same components. ``where_sql``
    deterministically restricts the corpus (the naive O(n^2) closure is
    the sweep's most expensive oracle; the engine side applies the
    IDENTICAL predicate)."""
    _check_k3(k)
    w = "list_filter(string_split(text, ' '), x -> length(x) > 0)"
    return f"""
    WITH RECURSIVE d0 AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                                 {w} AS ws FROM documents
                          WHERE {where_sql}),
    d AS (SELECT doc_id, list_distinct(list_transform(
            range(1, greatest(len(ws) - {k} + 1, 0) + 1),
            i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS ss FROM d0),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM d a JOIN d b ON a.doc_id < b.doc_id
          WHERE round({_JACCARD_SQL}, 6) >= {threshold}),
    e AS (SELECT doc_a AS u, doc_b AS v FROM p
          UNION ALL SELECT doc_b, doc_a FROM p),
    reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM d0
        UNION
        SELECT e.v, reach.r FROM e JOIN reach ON reach.doc_id = e.u
    )
    SELECT doc_id, min(r) AS group_id FROM reach GROUP BY doc_id
    """


def keep_best(groups: DataFrame, docs: DataFrame,
              score_col: str = "n_chars") -> DataFrame:
    """Quality-aware canonical selection: instead of the min-id default,
    keep each near-dup group's HIGHEST-``score_col`` member (smallest
    doc_id on ties). Returns (group_id, keep_doc_id, best_score,
    n_docs) — the actionable "which copy survives" table a training
    pipeline feeds its filter stage.

    Scale shape: one equi-join (groups ⋈ docs on doc_id) then ONE hash
    aggregate — the argmax is ``min_by(doc_id, struct(-score, doc_id))``
    whose struct order is total (doc_id is unique), so the keeper is
    deterministic AND the aggregate partial-combines map-side: the only
    group-keyed Exchange carries one (group_id, struct) row per partial,
    never the group membership."""
    d = groups.join(
        docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.col(score_col).cast("double").alias("_s")),
        "doc_id")
    ordk = F.struct((-F.col("_s")).alias("ns"), F.col("doc_id").alias("i"))
    return (d.groupBy("group_id")
            .agg(F.min_by("doc_id", ordk).alias("keep_doc_id"),
                 F.max("_s").alias("best_score"),
                 F.count("*").alias("n_docs")))


def keep_best_duckdb(groups_sql: str, score_sql: str = "n_chars") -> str:
    """DuckDB replay of :func:`keep_best` over any (doc_id, group_id)
    oracle CTE: rank by (score DESC, doc_id ASC), keep rank 1."""
    return f"""
    WITH g AS ({groups_sql}),
    j AS (SELECT g.group_id, g.doc_id, CAST(d.s AS DOUBLE) AS s
          FROM g JOIN (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                              {score_sql} AS s FROM documents) d
          USING (doc_id)),
    r AS (SELECT group_id, doc_id, s,
                 row_number() OVER (PARTITION BY group_id
                                    ORDER BY s DESC, doc_id ASC) AS rk,
                 count(*) OVER (PARTITION BY group_id) AS n_docs
          FROM j)
    SELECT group_id, doc_id AS keep_doc_id, s AS best_score,
           CAST(n_docs AS BIGINT) AS n_docs
    FROM r WHERE rk = 1
    """


def ngram_jaccard_duckdb(threshold: float = 0.3, k: int = 3) -> str:
    """Naive ALL-PAIRS oracle — no prefix filter: equality with the engine
    proves the prefix filter is lossless on the fixture."""
    _check_k3(k)
    w = "list_filter(string_split(text, ' '), x -> length(x) > 0)"
    return f"""
    WITH d0 AS (SELECT doc_id, {w} AS ws FROM documents),
    d AS (SELECT doc_id, list_distinct(list_transform(
            range(1, greatest(len(ws) - {k} + 1, 0) + 1),
            i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS ss FROM d0)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round({_JACCARD_SQL}, 6) AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE round({_JACCARD_SQL}, 6) >= {threshold}
    """


# ------------------------------------------------ incremental minhash index
#
# Daily-increment dedup: a 100 TB corpus cannot be re-paired against
# itself every time a crawl lands. The signature index persists ONCE —
# banded minhash rows partitioned by (band, bucket) plus a signature
# side table — and each increment probes it:
#
#   new docs -> signatures -> banded rows -> equi-join the index on
#   (band, bkt, bh) -> est-jaccard verify against the matched old
#   signatures only.
#
# Scale shape: the increment is small, so Spark broadcasts its banded
# rows and DYNAMIC PARTITION PRUNING prunes the index scan to the
# (band, bkt) directories the increment actually touches (plan-asserted
# in tests); the signature side table is read only for matched doc_ids.
# `append_minhash_index` folds an accepted increment in as new parquet
# files under the same layout — no rewrite of existing partitions.

def _index_params_path(path: str) -> str:
    return f"{path}/_minhash_params.json"


def minhash_index_exists(spark, path: str) -> bool:
    """True iff a persisted index (its params file) exists at ``path`` —
    on whatever Hadoop filesystem the path names (local, HDFS, s3a)."""
    from tsf.io import hadoop_exists
    return hadoop_exists(spark, _index_params_path(path))


def _read_index_params(spark, path: str) -> dict:
    import json as _json
    from tsf.io import hadoop_read_text
    return _json.loads(hadoop_read_text(spark, _index_params_path(path)))


def build_minhash_index(docs: DataFrame, path: str, k: int = 3,
                        num_hashes: int = 32, bands: int = 8,
                        buckets: int = 32, mode: str = "overwrite",
                        batch: str = "base") -> dict:
    """Persist the banded signature index for `docs` at `path`.

    Layout: ``bands/band=*/bkt=*/batch=*`` + ``sigs/batch=*``. The
    ``batch`` partition makes increments REPLAY-IDEMPOTENT: an append
    with the same batch tag dynamically overwrites exactly its own
    leaf partitions (a crashed-and-retried increment lands once, never
    twice), while ``mode='overwrite'`` (the initial build) statically
    replaces the whole index. Params go through the Hadoop FS so remote
    index paths (hdfs://, s3a://) work from spark-submit deployments.
    """
    import json as _json
    rows = num_hashes // bands
    sig = scoped_persist(minhash_signatures(docs, k, num_hashes))
    banded = (_banded(sig, bands, rows)
              .withColumn("bkt",
                          F.pmod("bh", F.lit(buckets)).cast("int"))
              .withColumn("batch", F.lit(batch)))
    # one shuffle keyed on the layout -> one file per (band, bkt) dir
    # (without it every task writes a sliver into every directory)
    bw = (banded.repartition("band", "bkt").write
          .partitionBy("band", "bkt", "batch"))
    sw = (sig.withColumn("batch", F.lit(batch)).write
          .partitionBy("batch"))
    if mode == "append":
        # per-batch dynamic overwrite: replaces only THIS batch's
        # partitions, so a checkpoint-replayed increment is idempotent
        (bw.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .parquet(f"{path}/bands"))
        (sw.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .parquet(f"{path}/sigs"))
        return _read_index_params(docs.sparkSession, path)
    bw.mode(mode).parquet(f"{path}/bands")
    sw.mode(mode).parquet(f"{path}/sigs")
    params = {"k": k, "num_hashes": num_hashes, "bands": bands,
              "buckets": buckets}
    from tsf.io import hadoop_write_text
    hadoop_write_text(docs.sparkSession, _index_params_path(path),
                      _json.dumps(params))
    return params


def append_minhash_index(docs: DataFrame, path: str,
                         batch: str | None = None) -> None:
    """Fold an accepted increment into an existing index. ``batch`` is
    the increment's idempotence tag: re-appending under the SAME tag
    overwrites that batch's partitions instead of duplicating rows
    (pass the streaming batch_id / the export run's date); ``None``
    generates a unique tag (plain append semantics)."""
    import uuid
    p = _read_index_params(docs.sparkSession, path)
    batch = batch if batch is not None else f"u{uuid.uuid4().hex[:12]}"
    build_minhash_index(docs, path, mode="append", batch=batch, **p)


def dedup_against_index(spark, new_docs: DataFrame, path: str,
                        threshold: float = 0.5,
                        exclude: DataFrame | None = None) -> DataFrame:
    """(new_doc_id, dup_of, est_jaccard >= threshold) for an increment
    probed against the persisted index. Self-matches (same doc_id) are
    excluded so re-probing already-appended docs stays sane.

    ``exclude``: optional (doc_id) frame of index entries to IGNORE as
    ``dup_of`` — a replayed streaming batch passes its own doc_ids so
    index rows its crashed first attempt appended cannot eliminate the
    batch against itself (tsf.streaming.stream_dedup_against_index)."""
    from pyspark.sql.functions import broadcast
    p = _read_index_params(spark, path)
    k, num_hashes = p["k"], p["num_hashes"]
    bands, buckets = p["bands"], p["buckets"]
    rows = num_hashes // bands
    sig_new = scoped_persist(minhash_signatures(new_docs, k, num_hashes))
    banded_new = (_banded(sig_new, bands, rows, doc_alias="new_doc_id")
                  # int, matching the parsed partition-directory type:
                  # a CAST around the index's partition column in the
                  # join key disqualifies dynamic partition pruning
                  .withColumn("bkt",
                              F.pmod("bh", F.lit(buckets)).cast("int")))
    banded_new = scoped_persist(banded_new)
    # STATIC partition pruning: enumerate the increment's touched
    # (band, bkt) pairs — bounded by the LAYOUT (<= bands * buckets
    # tuples, metadata not data, so the driver collect stays O(layout)
    # at any corpus size) — and push them as literal partition filters;
    # the index scan then lists only those directories. (Spark's dynamic
    # partition pruning skips this join shape: its benefit heuristic
    # wants a selective Filter on the build side.)
    touched = banded_new.select("band", "bkt").distinct().collect()
    idx = spark.read.parquet(f"{path}/bands")
    cond = F.lit(False)
    for r in touched:
        cond = cond | ((F.col("band") == r["band"])
                       & (F.col("bkt") == r["bkt"]))
    cand = (idx.where(cond)
            .join(broadcast(banded_new), ["band", "bkt", "bh"])
            .where(F.col("doc_id") != F.col("new_doc_id"))
            .select(F.col("new_doc_id"), F.col("doc_id").alias("dup_of"))
            .dropDuplicates(["new_doc_id", "dup_of"]))
    if exclude is not None:
        cand = cand.join(
            broadcast(exclude.select(F.col("doc_id").alias("dup_of"))),
            "dup_of", "left_anti")
    sig_old = spark.read.parquet(f"{path}/sigs")
    est = (cand
           .join(sig_old.select(F.col("doc_id").alias("dup_of"),
                                F.col("sig").alias("sig_a")), "dup_of")
           .join(broadcast(sig_new.select(
               F.col("doc_id").alias("new_doc_id"),
               F.col("sig").alias("sig_b"))), "new_doc_id")
           .select("new_doc_id", "dup_of",
                   (F.expr("size(filter(zip_with(sig_a, sig_b, "
                           "(x, y) -> x = y), v -> v))")
                    / F.lit(num_hashes)).alias("est_jaccard")))
    return est.where(F.col("est_jaccard") >= threshold)


def dedup_incremental_duckdb(new_pred: str, k: int = 3,
                             num_hashes: int = 32, bands: int = 8,
                             threshold: float = 0.5) -> str:
    """DuckDB replay of build_minhash_index(NOT new_pred) +
    dedup_against_index(new_pred): the production hash family of
    :func:`minhash_pairs_duckdb`, but candidates pair an OLD-corpus doc
    ``a`` with a NEW-increment doc ``c`` instead of ordered pairs within
    one corpus."""
    def new(side):
        return new_pred.replace("doc_id", f"{side}.doc_id")
    return _minhash_est_duckdb(
        k, num_hashes, bands, threshold,
        f"NOT ({new('a')}) AND ({new('c')}) AND a.doc_id <> c.doc_id",
        "doc_b AS new_doc_id, doc_a AS dup_of, est_jaccard")


# ------------------------------------------------- duplicated-span REMOVAL
#
# The actionable form of dup_span_stats (Lee et al. 2021 "Deduplicating
# Training Data Makes Language Models Better", the ExactSubstr
# transformation): every position covered by a NON-CANONICAL occurrence
# of a corpus-repeated L-token span is dropped from the doc's token
# array; the canonical occurrence (smallest (doc_id, pos), total order)
# survives, so exactly one copy of every repeated substring remains in
# the corpus.
#
# Scale shape: same as dup_span_stats — one span-hash Exchange (the
# count + canonical pick are two window functions over the same hash
# partitioning), then duplicate-occurrence starts group per doc
# (doc-keyed Exchange) and the rewrite is a row-local HOF filter: for
# each position, drop it iff some duplicate start covers it
# (O(n_tok x n_dup_starts) per doc worst case, trivial when dup starts
# are sparse; the token arrays themselves never shuffle).

def remove_dup_spans(seq: DataFrame, L: int = SPAN_L) -> DataFrame:
    """doc_id, tokens_clean, n_tok_clean, n_removed (+ n_tok) — every
    non-canonical duplicated-span position removed."""
    pos = _span_positions(seq, L)
    wh = Window.partitionBy("h")
    ranked = (pos
              .withColumn("cnt", F.count("*").over(wh))
              .withColumn("rk", F.row_number().over(
                  wh.orderBy("doc_id", "pos"))))
    dup_starts = (ranked.where((F.col("cnt") > 1) & (F.col("rk") > 1))
                  .groupBy("doc_id")
                  .agg(F.sort_array(F.collect_list("pos"))
                       .alias("_starts")))
    out = (seq.join(dup_starts, "doc_id", "left")
           .withColumn("_starts", F.coalesce(
               "_starts", F.array().cast("array<int>"))))
    keep = (f"filter(transform(tokens, (x, i) -> "
            f"struct(x AS x, i + 1 AS p)), s -> NOT exists(_starts, "
            f"st -> s.p >= st AND s.p <= st + {L} - 1))")
    out = out.withColumn("tokens_clean",
                         F.expr(f"transform({keep}, s -> s.x)"))
    return (out.select(
        "doc_id", F.col("n_tok").cast("long").alias("n_tok"),
        "tokens_clean",
        F.size("tokens_clean").cast("long").alias("n_tok_clean"))
        .withColumn("n_removed", F.col("n_tok") - F.col("n_tok_clean")))


def remove_dup_spans_duckdb(seq_cte: str, L: int = SPAN_L) -> str:
    """DuckDB replay of :func:`remove_dup_spans`, reduced to a
    fingerprint of the cleaned array (the driver compares doc_id,
    n_tok, n_tok_clean, n_removed, clean_fp)."""
    from tsf.textstats import FP_MOD
    return f"""
    WITH seq AS ({seq_cte}),
    pos AS {_span_pos_cte(L)},
    ranked AS (SELECT doc_id, pos,
                      count(*) OVER (PARTITION BY h) AS cnt,
                      row_number() OVER (PARTITION BY h
                                         ORDER BY doc_id, pos) AS rk
               FROM pos),
    ds AS (SELECT doc_id, list(pos ORDER BY pos) AS starts
           FROM ranked WHERE cnt > 1 AND rk > 1 GROUP BY 1),
    j AS (SELECT seq.doc_id, seq.n_tok, seq.tokens,
                 coalesce(ds.starts, []) AS starts
          FROM seq LEFT JOIN ds USING (doc_id)),
    cl AS (SELECT doc_id, n_tok,
                  list_transform(
                    list_filter(range(1, n_tok + 1),
                      i -> len(list_filter(starts,
                             st -> i >= st AND i <= st + {L} - 1)) = 0),
                    i -> tokens[CAST(i AS BIGINT)]) AS tc
           FROM j)
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(len(tc) AS BIGINT) AS n_tok_clean,
           CAST(n_tok - len(tc) AS BIGINT) AS n_removed,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(tc, zx -> CAST(zx AS BIGINT))),
                (a, x) -> (a * 31 + x) % {FP_MOD}) AS BIGINT) AS clean_fp
    FROM cl
    """


# ------------------------------------------------------- line-level dedup

#: words per "line" — the corpus has no natural newlines, so lines are
#: deterministic fixed-width word groups (documented stand-in, same
#: spirit as tsf.pii's injected identifiers); real corpora pass their
#: natural line split through the same pipeline shape.
LINE_W = 4


def _lines_expr(lw: int) -> str:
    """Spark SQL expr: text -> array<string> of lw-word lines."""
    w = "filter(split(text, ' '), w -> length(w) > 0)"
    return (f"CASE WHEN size({w}) = 0 THEN array() "
            f"ELSE transform(sequence(1, CAST(ceil(size({w}) / {lw}.0) AS INT)), "
            f"i -> array_join(slice({w}, (i - 1) * {lw} + 1, {lw}), ' ')) END")


def line_dedup(docs: DataFrame, lw: int = LINE_W) -> DataFrame:
    """C4-style exact line-level deduplication (Raffel et al. 2020 §2.2:
    keep ONE occurrence of every duplicated line corpus-wide), rewriting
    each document to its surviving lines.

    Canonical occurrence = smallest (doc_id, line_no). Returns
    (doc_id, n_lines, n_kept, n_removed, text_clean).

    Scale shape (100 TB): raw text NEVER crosses an Exchange — the
    exploded side projects (doc_id, line_no, xxhash64(line)) before the
    one hash-keyed window Exchange; dropped positions regroup per doc
    (duplicate volume only) and BROADCAST back onto the unshuffled
    documents scan, where the rewrite is a row-local HOF filter. The
    broadcast is bounded by duplicate volume, not corpus size — on a
    dup-heavy corpus, swap the broadcast for a plain equi-join (same
    answers; the docs side then shuffles once by doc_id).

    Like :func:`remove_dup_spans`, duplicate detection is hash-keyed
    (production ``xxhash64``); the DuckDB oracle replays the hash
    bit-exactly via :mod:`tsf.xxh64_sql`, so even a collision would be
    value-checked identically.
    """
    from pyspark.sql.functions import broadcast
    lines = _lines_expr(lw)
    occ = (docs
           .select("doc_id", F.posexplode(F.expr(lines)).alias("ln", "line"))
           .select("doc_id", "ln", F.xxhash64("line").alias("h")))
    rk = F.row_number().over(Window.partitionBy("h").orderBy("doc_id", "ln"))
    dropped = (occ.withColumn("rk", rk).where(F.col("rk") > 1)
               .groupBy("doc_id")
               .agg(F.sort_array(F.collect_list("ln")).alias("_drop")))
    out = (docs.join(broadcast(dropped), "doc_id", "left")
           .withColumn("_drop", F.coalesce(
               "_drop", F.array().cast("array<int>"))))
    kept = (f"transform(filter(transform({lines}, (l, i) -> "
            f"struct(l AS l, i AS p)), s -> NOT array_contains(_drop, s.p)), "
            f"s -> s.l)")
    out = out.withColumn("_kept", F.expr(kept))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(f"size({lines})").cast("long").alias("n_lines"),
        F.size("_kept").cast("long").alias("n_kept"),
        (F.expr(f"size({lines})") - F.size("_kept")).cast("long")
        .alias("n_removed"),
        F.array_join("_kept", "\n").alias("text_clean"))


def line_dedup_duckdb(lw: int = LINE_W) -> str:
    """DuckDB replay of :func:`line_dedup` over the `documents` view,
    hashing each distinct line with the bit-exact xxhash64 SQL fold."""
    from tsf.xxh64_sql import hash_bytes_layers
    gh = hash_bytes_layers("SELECT s FROM g", "s", "hs", "lb")
    w = "list_filter(string_split(text, ' '), w -> length(w) > 0)"
    return f"""
    WITH d AS (SELECT doc_id, {w} AS w FROM documents),
    ls AS (SELECT doc_id,
                  CASE WHEN len(w) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE list_transform(
                      range(1, CAST(ceil(len(w) / {lw}.0) AS BIGINT) + 1),
                      i -> array_to_string(list_slice(
                          w, (i - 1) * {lw} + 1, (i - 1) * {lw} + {lw}),
                          ' '))
                  END AS lines
           FROM d),
    occ AS (SELECT doc_id, t.i - 1 AS ln, t.l AS line
            FROM (SELECT doc_id, list_transform(
                      range(1, len(lines) + 1),
                      i -> {{'i': i, 'l': lines[i]}}) AS ss FROM ls) q,
            UNNEST(q.ss) AS u(t)),
    g AS (SELECT DISTINCT line AS s FROM occ),
    gh AS MATERIALIZED (SELECT s, hs FROM ({gh})),
    r AS (SELECT occ.doc_id, occ.ln,
                 row_number() OVER (PARTITION BY gh.hs
                                    ORDER BY occ.doc_id, occ.ln) AS rk
          FROM occ JOIN gh ON occ.line = gh.s),
    dr AS (SELECT doc_id, list(ln ORDER BY ln) AS dp
           FROM r WHERE rk > 1 GROUP BY 1),
    j AS (SELECT ls.doc_id, ls.lines,
                 coalesce(dr.dp, CAST([] AS BIGINT[])) AS dp
          FROM ls LEFT JOIN dr USING (doc_id)),
    cl AS (SELECT doc_id, len(lines) AS n_lines,
                  list_transform(list_filter(range(1, len(lines) + 1),
                      i -> NOT list_contains(dp, i - 1)),
                      i -> lines[i]) AS kept
           FROM j)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_lines AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           CAST(n_lines - len(kept) AS BIGINT) AS n_removed,
           coalesce(array_to_string(kept, chr(10)), '') AS text_clean
    FROM cl
    """


# ------------------------------------------------ winnowing fingerprints

#: winnowing defaults: k-gram size and window width. Guarantee
#: (Schleimer et al. 2003): any shared run of >= win + k - 1 tokens
#: between two docs shares at least one selected fingerprint.
WINNOW_K = 4
WINNOW_W = 4


def winnow_fingerprints(seq: DataFrame, k: int = WINNOW_K,
                        win: int = WINNOW_W) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): per doc, the rightmost-minimal k-gram
    hash of every width-``win`` window, deduped. The robust
    fingerprinting standard behind plagiarism/near-dup detection: it
    selects ~2/(win+1) of positions yet GUARANTEES any shared substring
    of >= win+k-1 tokens is caught.

    Scale shape: ONE batched row-local Arrow kernel pass (Scan ->
    MapInPandas; ZERO Exchange, no join — plan-asserted in
    tests/test_winnow.py). Per Arrow batch the kernel concatenates all
    token arrays into one flat int64 buffer and computes every k-gram
    hash, every sliding-window min and every rightmost-argmin as O(k+w)
    whole-buffer numpy vector ops — no per-doc Python loop on the
    common path (only the rare docs with fewer than `win` hash
    positions take a tiny per-doc branch). Hashes reuse the engine's
    span-identity polynomial family mod FP_MOD with Java `%`
    truncated-remainder semantics (np.fmod), so the DuckDB oracle
    replays every selected (pos, h) bit-for-bit. (The previous
    nested-HOF SQL formulation re-evaluated the window subtree per
    lambda: 16.5s -> ~2s on the x10 corpus with this kernel.)

    Output: (doc_id, pos, h) — 1-based position of each selected
    k-gram, deduped per doc (adjacent windows reselect the same
    position; a position's hash is unique, so dedup on position)."""
    from tsf.textstats import FP_MOD
    K, W = int(k), int(win)

    def fp_fn(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        import pandas as pd
        from tsf.kernels import ragged_arange, ragged_batch
        for pdf in batches:
            if len(pdf) == 0:
                continue
            r = ragged_batch(pdf["tokens"].to_numpy(), min_len=K)
            if r is None:
                continue
            keep, lens, T, off = r
            dids = pdf["doc_id"].to_numpy()[keep]
            L = T.shape[0]
            # k-gram hash at every global token position (tail entries
            # that would read across a doc boundary are never indexed).
            # Token-magnitude bound (r5 ADVICE): the h*31 + token step
            # wraps silently on int64 overflow while the DuckDB
            # oracle's BIGINT fold raises, so the bit-for-bit-replay
            # guarantee holds only while |token| stays far below
            # 2^63 - 31*FP_MOD. The engine's tokenizer emits small
            # non-negative ints; check it (a raise, which python -O
            # keeps) so a future token family fails loudly here
            # instead of silently diverging.
            if T.size and (T.min() < 0 or int(T.max()) >= (1 << 40)):
                raise ValueError(
                    "winnow: token magnitude outside the oracle-replay "
                    "bound [0, 2^40)")
            Tp = np.concatenate((T, np.zeros(K - 1, dtype=np.int64)))
            h = np.zeros(L, dtype=np.int64)
            for j in range(K):
                h = np.fmod(h * 31 + Tp[j:j + L], FP_MOD)
            m = lens - K + 1          # hash positions per doc
            hstart = off[:-1]
            sel_parts = []
            big = m >= W              # full-width windows
            if big.any():
                nw = m[big] - W + 1   # windows per doc
                tot = int(nw.sum())
                _, di_w, seg_w = ragged_arange(nw)
                g = hstart[big][di_w] + seg_w
                wmin = h[g].copy()
                for j in range(1, W):
                    np.minimum(wmin, h[g + j], out=wmin)
                # rightmost offset in the window matching the min
                sel = np.full(tot, -1, dtype=np.int64)
                for j in range(W - 1, -1, -1):
                    mask = (sel < 0) & (h[g + j] == wmin)
                    sel[mask] = j
                sel_parts.append(g + sel)
            if (~big).any():          # shrunk effective window: 1 window
                for s, mm in zip(hstart[~big], m[~big]):
                    hs = h[s:s + mm]
                    mn = hs.min()
                    j = mm - 1 - int(np.argmax(hs[::-1] == mn))
                    sel_parts.append(np.array([s + j], dtype=np.int64))
            gsel = np.unique(np.concatenate(sel_parts))
            di = np.searchsorted(off, gsel, side="right") - 1
            yield pd.DataFrame({
                "doc_id": dids[di],
                "pos": (gsel - hstart[di] + 1).astype(np.int32),
                "h": h[gsel]})

    id_type = seq.schema["doc_id"].dataType.simpleString()
    return (seq.where(F.expr(f"size(tokens) >= {K}"))
            .select("doc_id", "tokens")
            .mapInPandas(fp_fn, f"doc_id {id_type}, pos int, h bigint"))


def winnow_candidates(seq: DataFrame, k: int = WINNOW_K,
                      win: int = WINNOW_W,
                      min_shared: int = 2) -> DataFrame:
    """Near-dup candidate pairs from shared winnowed fingerprints:
    (doc_a, doc_b, n_shared) for pairs sharing >= ``min_shared``
    distinct fingerprint hashes. The join is bucketed by fingerprint
    hash — cost follows per-hash occupancy (the banded-minhash shape),
    never all pairs."""
    fp = winnow_fingerprints(seq, k, win).select(
        "doc_id", "h").distinct()
    a, b = fp.alias("a"), fp.alias("b")
    return (a.join(b, (F.col("a.h") == F.col("b.h"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_shared"))
            .where(F.col("n_shared") >= int(min_shared)))


def winnow_fingerprints_duckdb(seq_cte: str, k: int = WINNOW_K,
                               win: int = WINNOW_W) -> str:
    """Replay of :func:`winnow_fingerprints` (identical hash family,
    identical rightmost-minimal selection; list_aggregate/list_slice
    scalar ops only — no list-accumulator fold, see the span_corrupt
    oracle note on the DuckDB 1.0 list_reduce bug)."""
    from tsf.textstats import FP_MOD
    K, W = int(k), int(win)
    gh = (f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
          f"list_transform(list_slice(tokens, i, i + {K} - 1), "
          f"zx -> CAST(zx AS BIGINT))), (a, x) -> (a * 31 + x) % {FP_MOD})")
    return f"""
    WITH seq AS ({seq_cte}),
    hst AS (SELECT doc_id,
                   list_transform(range(1, len(tokens) - {K} + 2),
                                  i -> {gh}) AS hs
            FROM seq WHERE len(tokens) >= {K}),
    wm AS (SELECT doc_id, hs, least({W}, len(hs)) AS we FROM hst),
    sel AS (SELECT doc_id,
                   list_transform(range(1, len(hs) - we + 2),
                     w -> {{'pos': w - 1 + list_max(list_filter(
                              range(1, we + 1),
                              j -> hs[w + j - 1] =
                                   list_aggregate(list_slice(hs, w, w + we - 1),
                                                  'min'))),
                           'h': list_aggregate(list_slice(hs, w, w + we - 1),
                                               'min')}}) AS fps
            FROM wm),
    -- adjacent windows reselect the same position: dedupe AFTER the
    -- unnest (list_distinct over STRUCT lists is unimplemented in
    -- DuckDB 1.0 — "Unimplemented type for histogram STRUCT")
    ex AS (SELECT DISTINCT doc_id, u.t.pos AS pos, u.t.h AS h
           FROM sel, UNNEST(sel.fps) AS u(t))
    SELECT doc_id, CAST(pos AS INT) AS pos, CAST(h AS BIGINT) AS h FROM ex
    """


def winnow_candidates_duckdb(seq_cte: str, k: int = WINNOW_K,
                             win: int = WINNOW_W,
                             min_shared: int = 2) -> str:
    """Replay of :func:`winnow_candidates` over the fingerprint replay."""
    fp = winnow_fingerprints_duckdb(seq_cte, k, win)
    return f"""
    WITH fp AS MATERIALIZED (
      SELECT DISTINCT doc_id, h FROM ({fp}))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= {int(min_shared)}
    """


# ------------------------------------------------------- shingle containment
#
# Asymmetric near-duplication (Broder 1997's "containment", the quantity
# resemblance/Jaccard is NOT): c(A in B) = |SS_A ∩ SS_B| / |SS_A|. A short
# document quoted verbatim inside a much longer one has containment ~1.0
# but Jaccard ~|A|/|B| -> 0, so every symmetric dedup family above
# (minhash, simhash, jaccard AllPairs) structurally misses it — and
# quoted/aggregated content is a major duplication mode on web corpora
# (mirrors-with-boilerplate, quote-reply chains, syndication).
#
# Exact and lossless at scale via the asymmetric AllPairs/PPJoin variant:
#
# - INNER (contained) side prefix: a pair with overlap >= ceil(t*|A|)
#   must share one of A's first |A| - ceil(t*|A|) + 1 globally-rarest
#   shingles (pigeonhole), so only those enter the candidate join.
# - OUTER (container) side indexes its FULL shingle list — the known,
#   inherent asymmetry of containment search (no length filter can prune
#   a big B: any B can contain any A). The df-rare-first global order
#   keeps INNER prefixes off the ubiquitous-shingle posting lists, which
#   bounds candidate fan-out by the rare lists' occupancy.
# - one-sided length filter: overlap <= |B| forces |B| >= ceil(t*|A|).
# - positional filter: both sides ranked in ONE global (df, sh) order,
#   so a match at ranks (rn_a, rn_b) caps overlap at
#   1 + min(|A| - rn_a, |B| - rn_b); the pair's first-in-order shared
#   shingle always passes when the true overlap qualifies (lossless,
#   same argument as ngram_jaccard_pairs, asymmetric bound).
#
# All comparisons are integer-exact: threshold is the rational NUM/DEN
# (default 4/5), so prefix/length/positional/verify predicates are
# BIGINT products and the emitted cont_ppm = inter*1e6 div |A| replays
# bit-for-bit in DuckDB (house micro-unit discipline; no float
# boundary anywhere).
#
# Scale shape (100 TB): shingles are 8-byte xxhash64 end-to-end; the
# candidate Exchange carries (sh, doc_id, sz, rn) — never text; verify
# broadcasts the per-doc shingle arrays under the same driver-estimated
# threshold as ngram_jaccard_pairs and falls back to a shuffle join
# beyond. No quadratic stage: cost is sum over prefix shingles of
# posting-list length, the PPJoin bound.

def containment_pairs(docs: DataFrame, num: int = 4, den: int = 5,
                      k: int = 3, positional: bool = True) -> DataFrame:
    """EXACT ordered pairs (doc_inner, doc_outer) with shingle containment
    c(inner in outer) = |SS_i ∩ SS_o| / |SS_i| >= num/den. Returns
    (doc_inner, doc_outer, inter_sz, sz_inner, cont_ppm); identical to
    the naive all-ordered-pairs join (the DuckDB oracle), prefix-filter
    pruned. See module notes above for the losslessness argument."""
    if not (0 < num <= den):
        raise ValueError(f"threshold {num}/{den} must be in (0, 1]")
    d = (_hashed_shingles(docs, k).withColumn("sz", F.size("ss"))
         .where(F.col("sz") > 0))
    d = scoped_persist(d)  # feeds prefix, outer, and both verify sides
    w = d.select("doc_id", "sz", F.explode("ss").alias("sh"))
    dfreq = w.groupBy("sh").agg(F.count("*").alias("df"))
    order = Window.partitionBy("doc_id").orderBy("df", "sh")
    ranked = (w.join(dfreq, "sh")
              .withColumn("rn", F.row_number().over(order))
              .select("doc_id", "sz", "sh", "rn"))
    # rn <= sz - ceil(t*sz) + 1  <=>  NUM*sz <= DEN*(sz - rn + 1)
    pre = ranked.where(F.lit(num) * F.col("sz")
                       <= F.lit(den) * (F.col("sz") - F.col("rn") + 1))
    a, o = pre.alias("a"), ranked.alias("o")
    # 1 + min(sz_a - rn_a, sz_o - rn_o) >= ceil(t*sz_a)
    pos_ok = (F.lit(den) * (1 + F.least(F.col("a.sz") - F.col("a.rn"),
                                        F.col("o.sz") - F.col("o.rn")))
              >= F.lit(num) * F.col("a.sz"))
    if not positional:  # testing hook: losslessness proved by equality
        pos_ok = F.lit(True)
    cand = (a.join(o, "sh")
            .where((F.col("a.doc_id") != F.col("o.doc_id"))
                   # overlap <= sz_o: sz_o >= ceil(t*sz_a)
                   & (F.lit(den) * F.col("o.sz")
                      >= F.lit(num) * F.col("a.sz"))
                   & pos_ok)
            .select(F.col("a.doc_id").alias("doc_inner"),
                    F.col("o.doc_id").alias("doc_outer"))
            .dropDuplicates(["doc_inner", "doc_outer"]))
    side = F.broadcast if _shingle_bytes_est(docs, d) < (256 << 20) \
        else (lambda x: x)
    verify = (cand
              .join(side(d.select(F.col("doc_id").alias("doc_inner"),
                                  F.col("ss").alias("si"),
                                  F.col("sz").alias("sz_inner"))),
                    "doc_inner")
              .join(side(d.select(F.col("doc_id").alias("doc_outer"),
                                  F.col("ss").alias("so"))), "doc_outer"))
    inter = F.expr("size(array_intersect(si, so))").cast("long")
    return (verify
            .select("doc_inner", "doc_outer",
                    inter.alias("inter_sz"),
                    F.col("sz_inner").cast("long").alias("sz_inner"))
            # exact BIGINT floor division (no float boundary): matches
            # DuckDB's // bit-for-bit
            .withColumn("cont_ppm",
                        F.expr("(inter_sz * 1000000L) div sz_inner"))
            .where(F.lit(den) * F.col("inter_sz")
                   >= F.lit(num) * F.col("sz_inner")))


def containment_duckdb(num: int = 4, den: int = 5, k: int = 3) -> str:
    """Naive all-ORDERED-pairs oracle — no prefix filter: equality with
    the engine proves the asymmetric prefix filter is lossless."""
    _check_k3(k)
    w = "list_filter(string_split(text, ' '), x -> length(x) > 0)"
    inter = "len(list_intersect(a.ss, b.ss))"
    return f"""
    WITH d0 AS (SELECT doc_id, {w} AS ws FROM documents),
    d AS (SELECT doc_id, list_distinct(list_transform(
            range(1, greatest(len(ws) - {k} + 1, 0) + 1),
            i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS ss FROM d0),
    dd AS (SELECT doc_id, ss, len(ss) AS sz FROM d WHERE len(ss) > 0)
    SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer,
           CAST({inter} AS BIGINT) AS inter_sz,
           CAST(a.sz AS BIGINT) AS sz_inner,
           CAST(({inter} * 1000000) // a.sz AS BIGINT) AS cont_ppm
    FROM dd a JOIN dd b ON a.doc_id != b.doc_id
    WHERE {den} * {inter} >= {num} * a.sz
    """
