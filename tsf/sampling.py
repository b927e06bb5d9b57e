"""Deterministic corpus mixing + sequence-packing layout operators.

Two ops every large-scale training-data pipeline runs between "corpus"
and "batches", both pure JVM plans (no UDF, no collect) with exact DuckDB
replays:

- :func:`mix_sample` — per-source deterministic hash sampling for data
  mixing ("web at 30%, code at 100%, books at 50%"). The keep decision is
  a pure function of doc_id (a 32-bit LCG fold over its characters,
  replayable in DuckDB and in ANSI-mode Spark), so the sample is
  reproducible across runs, engines, and cluster sizes — rerunning a
  10% mix yields the SAME documents, and raising a weight only ADDS docs
  (nested samples: the keep set at w1 < w2 is a subset of the w2 set).
  One scan, filter pushes to the parquet read, no shuffle.

- :func:`pack_examples` — GPT-style sequence packing layout: concatenate
  each (source, shard) stream's docs in doc_id order and split at fixed
  ``example_len`` boundaries; report per-example stats (tokens filled,
  docs spanned, first doc). The packing ORDER is deterministic, so the
  layout is reproducible and resumable. Scale shape: the cumulative
  offset is a window cumsum within (source, shard) — sharding (an LCG
  hash of doc_id) bounds each sort partition, so parallelism is
  n_sources x n_shards, not 1; the doc -> example fan-out is a bounded
  sequence() explode (a doc spans ceil(n_tok / L) + 1 examples at most).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_M32 = 4294967296  # 2^32

#: (seed, multiplier, increment) of the 32-bit LCG fold over a string's
#: character codes — expressible identically in DuckDB (HUGEINT modular
#: arithmetic) and in ANSI-mode Spark (products stay < 2^63), so every
#: keep decision replays exactly
_LCG = (7, 1103515245, 12345)


def _hash01_spark(col: str) -> str:
    """Deterministic [0, 1) hash of a string column (the LCG fold)."""
    s, m, a = _LCG
    return (f"(aggregate(sequence(1, length({col})), cast({s} as bigint), "
            f"(h, i) -> (h * {m} + ascii(substring({col}, i, 1)) + {a})"
            f" % {_M32}) / {float(_M32)})")


def _hash01_duckdb(col: str) -> str:
    s, m, a = _LCG
    return (f"(CAST(list_reduce(list_concat([CAST({s} AS HUGEINT)], "
            f"list_transform(range(1, length({col}) + 1), "
            f"i -> CAST(ascii(substring({col}, i, 1)) AS HUGEINT))), "
            f"(h, c) -> (h * {m} + c + {a}) % {_M32}) AS DOUBLE) / {float(_M32)})")


def mix_sample(docs: DataFrame, weights: dict[str, float],
               default: float = 0.0) -> DataFrame:
    """Keep each doc iff hash01(doc_id) < weight(source). Sources absent
    from ``weights`` use ``default``. Weight 1.0 keeps everything,
    0.0 nothing; nested: the kept set grows monotonically with weight."""
    w = F.lit(float(default))
    for src, frac in sorted(weights.items()):
        w = F.when(F.col("source") == src, F.lit(float(frac))).otherwise(w)
    d = docs.withColumn("_k", F.col("doc_id").cast("string"))
    return (d.where(F.expr(_hash01_spark("_k")) < w).drop("_k"))


def mix_sample_duckdb(weights: dict[str, float], default: float = 0.0,
                      select: str = "CAST(doc_id AS VARCHAR) AS doc_id, "
                                    "source") -> str:
    cases = " ".join(f"WHEN source = '{s}' THEN {float(f)}"
                     for s, f in sorted(weights.items()))
    return f"""
    SELECT {select} FROM documents
    WHERE {_hash01_duckdb("CAST(doc_id AS VARCHAR)")}
          < (CASE {cases} ELSE {float(default)} END)
    """


def mix_temperature(docs: DataFrame, alpha: float = 0.5,
                    weight_col: str | None = None) -> DataFrame:
    """Temperature-flattened source mixing (the multilingual-LM recipe:
    sample sources ∝ count^alpha, XLM-R uses alpha≈0.3..0.7): per-source
    keep rate ``(c_min / c_src) ** (1 - alpha)``, scaled so the SMALLEST
    source keeps everything and no source is upsampled. alpha=1 keeps
    the natural mix, alpha=0 equalizes expected per-source counts to
    c_min, alpha=0.5 is sqrt-flattening. The keep decision reuses
    :func:`mix_sample`'s hash01(doc_id), so temperature samples NEST:
    raising alpha only adds documents, and membership is reproducible
    across runs, engines and cluster sizes.

    Cross-engine exactness: sqrt and IEEE division are correctly rounded
    in both Spark and DuckDB, so at the default alpha=0.5 (and at 0 and
    1) every keep decision and rate_ppm replays bit-exactly; other
    alphas go through pow(), whose last ULP is libm-dependent — fine in
    production, not oracle-grade.

    ``weight_col`` switches the size measure from doc counts to a
    per-doc integer weight summed per source (e.g. ``n_chars`` /
    ``n_tok``): multilingual pipelines usually flatten the TOKEN budget,
    not the document count. Sums of integers are exact, so alpha in
    {0, 0.5, 1} stays bit-replayable.

    Scale shape: the per-source counts are ONE tiny aggregate (map-side
    partial combine, n_sources rows) broadcast back onto a second scan;
    the corpus itself never shuffles — keep is a row-local filter.
    Returns kept docs: (doc_id, source, rate_ppm) where rate_ppm =
    floor(rate * 1e6) (integer, exact on both engines)."""
    pw = 1.0 - float(alpha)
    size = (F.count("*") if weight_col is None
            else F.sum(F.col(weight_col).cast("long")))
    cnt = docs.groupBy("source").agg(size.alias("_c"))
    # global min over the n_sources-row frame via an empty window — a
    # SinglePartition exchange of tiny rows, NOT a second corpus scan
    # (cnt.agg(min).crossJoin(cnt) would re-run the count aggregate)
    cnt = cnt.withColumn("_cmin", F.min("_c").over(Window.partitionBy()))
    ratio = F.col("_cmin").cast("double") / F.col("_c").cast("double")
    if pw == 0.5:
        rate = F.sqrt(ratio)
    elif pw == 0.0:
        rate = F.lit(1.0)
    elif pw == 1.0:
        rate = ratio
    else:  # documented non-oracle-grade path
        rate = F.pow(ratio, F.lit(pw))
    rates = cnt.select("source", rate.alias("_rate"))
    d = (docs.select("doc_id", "source")
         .withColumn("_k", F.col("doc_id").cast("string"))
         .join(F.broadcast(rates), "source"))
    return (d.where(F.expr(_hash01_spark("_k")) < F.col("_rate"))
            .select("doc_id", "source",
                    F.floor(F.col("_rate") * 1000000)
                    .cast("bigint").alias("rate_ppm")))


def mix_temperature_duckdb(alpha: float = 0.5,
                           select: str = "d.doc_id, d.source",
                           where: str = "TRUE",
                           weight_col: str | None = None) -> str:
    """DuckDB replay of :func:`mix_temperature` (alpha must be one of
    the exact values 0, 0.5, 1): same counts, same IEEE sqrt/division,
    same LCG hash01 membership, same floor-ppm rate. ``where`` narrows
    the corpus identically on both engines (the sf fixtures are
    perfectly source-balanced, where every rate is 1.0 — a skewing
    predicate makes the rate math actually discriminate)."""
    pw = 1.0 - float(alpha)
    size = ("count(*)" if weight_col is None
            else f"sum(CAST({weight_col} AS BIGINT))")
    ratio = "((SELECT min(_c) FROM c) * 1.0) / (_c * 1.0)"
    rate = {0.5: f"sqrt({ratio})", 0.0: "1.0", 1.0: ratio}[pw]
    return f"""
    WITH base AS (SELECT * FROM documents WHERE {where}),
    c AS (SELECT source, {size} AS _c FROM base GROUP BY 1),
    r AS (SELECT source, {rate} AS _rate FROM c)
    SELECT {select},
           CAST(floor(_rate * 1000000) AS BIGINT) AS rate_ppm
    FROM base d JOIN r USING (source)
    WHERE {_hash01_duckdb("CAST(d.doc_id AS VARCHAR)")} < _rate
    """


def length_histogram(seq: DataFrame, example_len: int = 2048) -> DataFrame:
    """Sequence-length distribution + packing diagnostics per source:
    power-of-two length buckets (bucket_lo = largest 2^k <= n_tok; 0 for
    empty docs) with doc/token counts and ``pad_tok`` — the tokens a
    pad-to-multiple-of-``example_len`` layout would waste on this
    stratum (``ceil(n/L)*L - n``). Drives example-length choice and
    quantifies what :func:`pack_examples` saves over padding.

    Integer-exact on both engines (the bucket is a bit-length shift, no
    float log2 whose boundary rounding differs per libm). Scale shape:
    one scan, map-side partial aggregate, the only Exchange carries
    (source, bucket) rows."""
    L = int(example_len)
    b = ("CASE WHEN n_tok <= 0 THEN CAST(0 AS BIGINT) ELSE "
         "shiftleft(CAST(1 AS BIGINT), "
         "length(bin(CAST(n_tok AS BIGINT))) - 1) END")
    pad = (f"CASE WHEN n_tok <= 0 THEN CAST(0 AS BIGINT) ELSE "
           f"((CAST(n_tok AS BIGINT) + {L - 1}) div {L}) * {L} "
           f"- CAST(n_tok AS BIGINT) END")
    return (seq.select("source", F.expr(b).alias("bucket_lo"),
                       F.col("n_tok").cast("long").alias("_n"),
                       F.expr(pad).alias("_pad"))
            .groupBy("source", "bucket_lo")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("_n").alias("sum_tok"),
                 F.sum("_pad").alias("pad_tok")))


def length_histogram_duckdb(seq_cte: str, example_len: int = 2048) -> str:
    """DuckDB replay of :func:`length_histogram` (same bit-length
    bucketing and integer pad arithmetic)."""
    L = int(example_len)
    b = ("CASE WHEN n_tok <= 0 THEN CAST(0 AS BIGINT) ELSE "
         "CAST(CAST(1 AS BIGINT) << "
         "(length(bin(CAST(n_tok AS BIGINT))) - 1) AS BIGINT) END")
    pad = (f"CASE WHEN n_tok <= 0 THEN CAST(0 AS BIGINT) ELSE "
           f"((CAST(n_tok AS BIGINT) + {L - 1}) // {L}) * {L} "
           f"- CAST(n_tok AS BIGINT) END")
    return f"""
    WITH seq AS ({seq_cte})
    SELECT source, {b} AS bucket_lo, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tok,
           CAST(sum({pad}) AS BIGINT) AS pad_tok
    FROM seq GROUP BY 1, 2
    """


def stratified_sample(docs: DataFrame, n_per_group: int,
                      by: str = "source", seed: int = 0) -> DataFrame:
    """EXACT-quota stratified sampling (eval/val-set construction:
    "exactly N docs per source"): rank docs within each group by
    ``xxhash64(doc_id, seed)`` (doc_id tie-break) and keep rank <=
    ``n_per_group``. Deterministic — the same (corpus, seed) always
    yields the same sample on any engine or cluster size — and
    rank-nested: the quota-N sample is a prefix of the quota-2N sample.

    Scale shape: Spark plans the rank filter as WindowGroupLimit
    (plan-asserted) — each input partition keeps only its local top-N
    BEFORE the group shuffle, so the Exchange moves O(groups x N) rows,
    not the corpus; the full-group sort never materializes."""
    h = F.xxhash64(F.col("doc_id").cast("string"), F.lit(int(seed)))
    w = Window.partitionBy(by).orderBy(h.asc(), F.col("doc_id").asc())
    return (docs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= int(n_per_group)))


def stratified_sample_duckdb(n_per_group: int, by: str = "source",
                             seed: int = 0,
                             select: str = "doc_id, source") -> str:
    """DuckDB replay of :func:`stratified_sample` — same xxhash64
    (string bytes + hashInt seed fold via tsf/xxh64_sql.py), same
    ordering and quota."""
    from tsf.xxh64_sql import hash_bytes_layers, hash_int_layers
    q = hash_bytes_layers(
        "SELECT *, CAST(doc_id AS VARCHAR) AS _k FROM documents",
        "_k", "hb", "sb")
    q = hash_int_layers(q, str(int(seed)), "hb", "h", "si")
    return f"""
    WITH ranked AS (
      SELECT *, row_number() OVER (PARTITION BY {by}
                                   ORDER BY h ASC, doc_id ASC) AS rank
      FROM ({q}))
    SELECT {select}, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {int(n_per_group)}
    """


def pack_examples(seq: DataFrame, example_len: int = 2048,
                  n_shards: int = 1) -> DataFrame:
    """Per-example packing stats for the deterministic greedy-concat
    layout: (source, shard, example_id, n_tok, n_docs, first_doc).

    Docs concatenate in doc_id order within (source, shard); example e
    covers token offsets [e*L, (e+1)*L). n_tok < L only on each stream's
    final example. Empty docs never contribute an example row (they span
    zero tokens)."""
    L = int(example_len)
    d = seq.select(F.col("doc_id").cast("string").alias("doc_id"),
                   "source", F.col("n_tok").cast("long").alias("n"))
    if n_shards > 1:
        d = d.withColumn("shard", (F.expr(_hash01_spark("doc_id"))
                                   * n_shards).cast("int"))
    else:
        d = d.withColumn("shard", F.lit(0))
    w = Window.partitionBy("source", "shard").orderBy("doc_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = (d.where(F.col("n") > 0)
         .withColumn("end_off", F.sum("n").over(w))
         .withColumn("start_off", F.col("end_off") - F.col("n")))
    # every example this doc overlaps: floor(start/L) .. floor((end-1)/L)
    d = d.withColumn("example_id", F.explode(F.expr(
        f"sequence(start_off div {L}, (end_off - 1) div {L})")))
    lo = F.greatest(F.col("start_off"), F.col("example_id") * L)
    hi = F.least(F.col("end_off"), (F.col("example_id") + 1) * L)
    return (d.withColumn("tok_in_ex", hi - lo)
            .groupBy("source", "shard", "example_id")
            .agg(F.sum("tok_in_ex").alias("n_tok"),
                 F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("first_doc")))


def epoch_shuffle(seq: DataFrame, epoch: int = 0,
                  n_shards: int = 8) -> DataFrame:
    """Reproducible global training-export shuffle: every epoch assigns
    each doc a shard and a within-shard position from the PRODUCTION
    hash — ``h = xxhash64(doc_id, epoch)``, ``shard = pmod(h,
    n_shards)``, ``pos = row_number() over (shard ORDER BY h,
    doc_id)``. Same epoch -> the identical layout on any cluster size;
    ``epoch+1`` is a fresh permutation with no state carried. Scale
    shape: ONE shuffle keyed on shard + a per-shard sort (n_shards
    bounds sort parallelism — size it to the export file count); only
    metadata columns ride the shuffle, the token payload joins back at
    write time. Value-checked order-sensitively: the DuckDB oracle
    replays xxhash64 via tsf/xxh64_sql.py, so every (shard, pos)
    assignment is compared, not just membership."""
    d = seq.select(F.col("doc_id").cast("string").alias("doc_id"),
                   "source", F.col("n_tok").cast("int").alias("n_tok"))
    h = F.xxhash64(F.col("doc_id"), F.lit(int(epoch)))
    d = (d.withColumn("_h", h)
         .withColumn("shard", F.pmod("_h", F.lit(n_shards)).cast("int")))
    w = Window.partitionBy("shard").orderBy(F.col("_h"), F.col("doc_id"))
    return (d.withColumn("pos", F.row_number().over(w).cast("long"))
            .drop("_h"))


def epoch_shuffle_duckdb(seq_cte: str, epoch: int = 0,
                         n_shards: int = 8) -> str:
    """DuckDB replay of :func:`epoch_shuffle` — same xxhash64 (string
    bytes then the hashInt epoch fold), pmod, and tie-broken ordering."""
    from tsf.xxh64_sql import hash_bytes_layers, hash_int_layers
    q = hash_bytes_layers(
        f"SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, n_tok "
        f"FROM ({seq_cte})", "doc_id", "hb", "eb")
    q = hash_int_layers(q, str(int(epoch)), "hb", "h", "ei")
    return f"""
    WITH hh AS (SELECT doc_id, source, n_tok, h FROM ({q}))
    SELECT doc_id, source, CAST(n_tok AS INT) AS n_tok,
           CAST(((h % {n_shards}) + {n_shards}) % {n_shards} AS INT)
             AS shard,
           CAST(row_number() OVER (
               PARTITION BY ((h % {n_shards}) + {n_shards}) % {n_shards}
               ORDER BY h, doc_id) AS BIGINT) AS pos
    FROM hh
    """


def pack_examples_duckdb(seq_cte: str, example_len: int = 2048,
                         n_shards: int = 1) -> str:
    """DuckDB replay of :func:`pack_examples` over the tokenized
    sequences CTE (identical ordering, cumsum, and overlap arithmetic)."""
    L = int(example_len)
    # floor() explicitly: DuckDB's double->INT cast ROUNDS where Spark's
    # cast truncates
    shard = (f"CAST(floor({_hash01_duckdb('doc_id')} * {n_shards}) AS INT)"
             if n_shards > 1 else "0")
    return f"""
    WITH seq AS ({seq_cte}),
    d0 AS (SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n,
                  {shard} AS shard
           FROM seq WHERE n_tok > 0),
    d AS (SELECT *, CAST(sum(n) OVER (PARTITION BY source, shard
                                      ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS end_off
          FROM d0),
    e AS (SELECT doc_id, source, shard, end_off, end_off - n AS start_off,
                 unnest(generate_series((end_off - n) // {L},
                                        (end_off - 1) // {L})) AS example_id
          FROM d)
    SELECT source, CAST(shard AS INT) AS shard,
           CAST(example_id AS BIGINT) AS example_id,
           CAST(sum(least(end_off, (example_id + 1) * {L})
                    - greatest(start_off, example_id * {L})) AS BIGINT)
               AS n_tok,
           count(*) AS n_docs, min(doc_id) AS first_doc
    FROM e GROUP BY 1, 2, 3
    """


# ------------------------------------------------------- dataset splits
#
# Deterministic train/val/test assignment: split membership is a pure
# function of (doc_id, seed) — `bucket = pmod(xxhash64(xxhash64(doc_id),
# seed), n_buckets)` against cumulative integer thresholds — so the
# split survives re-runs, engine changes, repartitioning and corpus
# growth (a doc's assignment never depends on other docs). Row-local:
# ONE scan, zero shuffle; at 100 TB the split is free with the read.
# The seed rides as the second xxhash64 input (Spark folds multi-arg
# xxhash64 left-to-right, seeding each arg's hash with the accumulator),
# same composition the epoch shuffle uses, so tsf/xxh64_sql.py replays
# every assignment bit-exactly in DuckDB.

def split_thresholds(fractions: dict[str, float],
                     n_buckets: int = 10000) -> list[tuple[str, int]]:
    """(name, exclusive upper bucket) pairs, cumulative-rounded so the
    thresholds are integers and the last split absorbs rounding dust."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    out, cum = [], 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        out.append((name, int(round(cum * n_buckets))))
    out.append((names[-1], n_buckets))
    return out


def dataset_split(docs: DataFrame,
                  fractions: dict[str, float] | None = None,
                  seed: int = 0, n_buckets: int = 10000) -> DataFrame:
    """Append a ``split`` column (deterministic hash assignment)."""
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    b = F.pmod(F.xxhash64(F.col("doc_id").cast("string"),
                          F.lit(int(seed))),
               F.lit(n_buckets))
    expr = None
    for name, hi in split_thresholds(fractions, n_buckets):
        cond = b < hi
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return docs.withColumn("split", expr)


def dataset_split_duckdb(seq_cte: str,
                         fractions: dict[str, float] | None = None,
                         seed: int = 0, n_buckets: int = 10000) -> str:
    """DuckDB replay of :func:`dataset_split` over the sequences CTE
    (columns doc_id, source, n_tok): same xxhash64 composition via
    tsf/xxh64_sql.py, same cumulative thresholds."""
    from tsf.xxh64_sql import hash_bytes_layers, hash_int_layers
    fractions = fractions or {"train": 0.9, "val": 0.05, "test": 0.05}
    q = hash_bytes_layers(
        f"SELECT CAST(doc_id AS VARCHAR) AS doc_id, source, n_tok "
        f"FROM ({seq_cte})", "doc_id", "hb", "sb")
    q = hash_int_layers(q, str(int(seed)), "hb", "h", "si")
    cases = " ".join(
        f"WHEN b < {hi} THEN '{name}'"
        for name, hi in split_thresholds(fractions, n_buckets))
    return f"""
    WITH hh AS (SELECT doc_id, source, n_tok,
                       ((h % {n_buckets}) + {n_buckets}) % {n_buckets} AS b
                FROM ({q}))
    SELECT doc_id, source, CAST(n_tok AS INT) AS n_tok,
           CASE {cases} END AS split
    FROM hh
    """


def chunk_examples(seq: DataFrame, length: int = 512,
                   stride: int = 256) -> DataFrame:
    """Sliding-window training-example layout: overlapping chunks of
    ``length`` tokens every ``stride`` positions per doc (the GPT-style
    alternative to contiguous packing when context overlap is wanted).
    Chunks start at 0, stride, 2*stride, ... while any tokens remain;
    the final chunk is the truncated tail (n_tok_chunk < length allowed
    only there). Row-local: a bounded sequence() explode per doc — ZERO
    shuffle; at 100 TB the chunking is free with the scan.

    Returns (doc_id, source, chunk_id, start, n_tok_chunk, is_tail)."""
    n_chunks = F.when(
        F.col("n_tok") <= length, F.lit(1)
    ).otherwise(
        F.ceil((F.col("n_tok") - length) / F.lit(stride)).cast("int") + 1)
    d = seq.select("doc_id", "source", "n_tok",
                   F.explode(F.sequence(F.lit(0), n_chunks - 1))
                   .alias("chunk_id"))
    start = F.col("chunk_id").cast("long") * stride
    ntc = F.least(F.lit(length), F.col("n_tok") - start)
    return (d.select("doc_id", "source",
                     F.col("chunk_id").cast("int").alias("chunk_id"),
                     start.alias("start"),
                     ntc.cast("int").alias("n_tok_chunk"),
                     (ntc < length).alias("is_tail"))
            .where(F.col("n_tok_chunk") > 0))


def chunk_examples_duckdb(seq_cte: str, length: int = 512,
                          stride: int = 256) -> str:
    """DuckDB replay of :func:`chunk_examples`."""
    return f"""
    WITH seq AS ({seq_cte}),
    d AS (SELECT doc_id, source, n_tok,
                 CASE WHEN n_tok <= {length} THEN 1
                      ELSE CAST(ceil((n_tok - {length}) * 1.0
                                     / {stride}) AS INT) + 1 END AS nc
          FROM seq),
    e AS (SELECT doc_id, source, n_tok,
                 unnest(range(0, nc)) AS chunk_id FROM d)
    SELECT doc_id, source, CAST(chunk_id AS INT) AS chunk_id,
           CAST(chunk_id * {stride} AS BIGINT) AS start,
           CAST(least({length}, n_tok - chunk_id * {stride}) AS INT)
             AS n_tok_chunk,
           least({length}, n_tok - chunk_id * {stride}) < {length}
             AS is_tail
    FROM e
    WHERE least({length}, n_tok - chunk_id * {stride}) > 0
    """


# ------------------------------------------------------- NFD bin packing
#
# Next-fit-decreasing histogram packing: the NO-SPLIT example layout.
# pack_examples (greedy concat) has zero padding but splits documents
# across example boundaries; chunk_examples duplicates context.  NFD
# keeps every document intact inside ONE example (truncating only docs
# longer than the example), at the cost of per-example padding — the
# classic bin-packing trade-off (padding waste is reported per doc via
# the example assignment; NFD's worst case is 2x optimal, and on
# length-diverse corpora it recovers most of the histogram-packing gain
# of Kosec et al. 2021 without their LP solve).
#
# Why it is exactly replayable: docs are packed in (len DESC, doc_id)
# order, and within a run of equal lengths the layout is REGULAR —
# m0 = r // len docs top up the current example, then k = L // len docs
# fill each fresh example.  So the whole sequential fold collapses to a
# per-BIN state recurrence over at most ``example_len`` distinct
# lengths: bounded metadata, folded on the driver (Spark) and as a
# recursive CTE (DuckDB).  Every doc's (example_id, slot) is then pure
# integer arithmetic from its within-bin rank.
#
# Scale shape: the histogram aggregate partial-combines to <= L rows;
# the bin-state table broadcasts; the only real Exchange carries
# (doc_id, len) METADATA rows for the within-bin rank — token arrays
# never shuffle, and the scan prunes to (doc_id, n_tok).  Skew note: a
# single dominant length lands its rank window on one task; the rows
# are ~16 bytes so this holds to ~10^9 docs per bin, beyond which the
# production path is a range-partitioned two-pass rank (partition-local
# row_number + broadcast per-partition offsets).

def nfd_bin_states(hist: list[tuple[int, int]],
                   example_len: int) -> list[dict]:
    """Fold the per-length histogram [(len, cnt), ...] into per-bin
    packing state, processing bins by len DESC.  Returns one row per
    bin: {len, cnt, e_base, s_base, m0, k} where docs ranked t < m0 top
    up example e_base at slot s_base + t and doc t >= m0 lands in
    example e_base + 1 + (t - m0) // k at slot (t - m0) % k."""
    L = int(example_len)
    e, r, s = 0, L, 0          # current example id / remaining / filled
    out = []
    for ln, c in sorted(hist, key=lambda x: -x[0]):
        if not (0 < ln <= L and c > 0):
            raise ValueError(f"histogram bin (len={ln}, cnt={c}) outside "
                             f"0 < len <= {L}, cnt > 0")
        m0, k = r // ln, L // ln
        out.append({"len": ln, "cnt": c, "e_base": e, "s_base": s,
                    "m0": m0, "k": k})
        if c <= m0:
            r, s = r - c * ln, s + c
        else:
            rem = c - m0
            n_new = -(-rem // k)
            last = rem - (n_new - 1) * k
            e, r, s = e + n_new, L - last * ln, last
    return out


def pack_nfd(seq: DataFrame, example_len: int = 2048) -> DataFrame:
    """Per-doc NFD packing assignment: (doc_id, len_used, truncated,
    example_id, slot).  Docs with n_tok == 0 are excluded (they fill no
    tokens); docs longer than ``example_len`` are truncated to it."""
    L = int(example_len)
    d = seq.where(F.col("n_tok") > 0).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.least(F.col("n_tok"), F.lit(L)).cast("int").alias("len_used"),
        (F.col("n_tok") > L).alias("truncated"))
    hist = [(row["len_used"], row["cnt"]) for row in
            d.groupBy("len_used").agg(F.count("*").alias("cnt"))
            .collect()]                      # bounded: <= example_len rows
    states = nfd_bin_states(hist, L)
    spark = seq.sparkSession
    tab = F.broadcast(spark.createDataFrame(
        [(st["len"], st["e_base"], st["s_base"], st["m0"], st["k"])
         for st in states],
        "len_used int, e_base long, s_base long, m0 long, k long"))
    t = F.row_number().over(
        Window.partitionBy("len_used").orderBy("doc_id")) - 1
    d = d.withColumn("t", t.cast("long")).join(tab, "len_used")
    # integer division: t-m0 and k are non-negative longs, so `div`
    # (truncation) == floor == DuckDB's `//`
    ex = F.when(F.col("t") < F.col("m0"), F.col("e_base")).otherwise(
        F.col("e_base") + 1 + F.expr("(t - m0) div k"))
    slot = F.when(F.col("t") < F.col("m0"),
                  F.col("s_base") + F.col("t")).otherwise(
        F.expr("(t - m0) % k"))
    return d.select("doc_id", "len_used", "truncated",
                    ex.cast("long").alias("example_id"),
                    slot.cast("long").alias("slot"))


def pack_nfd_duckdb(seq_cte: str, example_len: int = 2048) -> str:
    """DuckDB replay of :func:`pack_nfd`: the same bin-state recurrence
    as a recursive CTE over bins ordered len DESC."""
    L = int(example_len)
    return f"""
    WITH RECURSIVE seq AS ({seq_cte}),
    d AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 CAST(least(n_tok, {L}) AS INT) AS len_used,
                 n_tok > {L} AS truncated
          FROM seq WHERE n_tok > 0),
    bins AS (SELECT len_used AS len, CAST(count(*) AS BIGINT) AS c,
                    row_number() OVER (ORDER BY len_used DESC) AS i
             FROM d GROUP BY 1),
    st AS (
      SELECT CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS e,
             CAST({L} AS BIGINT) AS r, CAST(0 AS BIGINT) AS s,
             CAST(NULL AS INT) AS len, CAST(NULL AS BIGINT) AS e_base,
             CAST(NULL AS BIGINT) AS s_base, CAST(NULL AS BIGINT) AS m0,
             CAST(NULL AS BIGINT) AS k
      UNION ALL
      SELECT b.i,
             CASE WHEN b.c <= st.r // b.len THEN st.e
                  ELSE st.e + ((b.c - st.r // b.len) + ({L} // b.len) - 1)
                         // ({L} // b.len) END,
             CASE WHEN b.c <= st.r // b.len THEN st.r - b.c * b.len
                  ELSE {L} - ((b.c - st.r // b.len)
                        - (((b.c - st.r // b.len) + ({L} // b.len) - 1)
                           // ({L} // b.len) - 1) * ({L} // b.len))
                       * b.len END,
             CASE WHEN b.c <= st.r // b.len THEN st.s + b.c
                  ELSE (b.c - st.r // b.len)
                        - (((b.c - st.r // b.len) + ({L} // b.len) - 1)
                           // ({L} // b.len) - 1) * ({L} // b.len) END,
             b.len, st.e, st.s, st.r // b.len, {L} // b.len
      FROM st JOIN bins b ON b.i = st.i + 1),
    tab AS (SELECT len, e_base, s_base, m0, k FROM st WHERE i > 0),
    rk AS (SELECT doc_id, len_used, truncated,
                  CAST(row_number() OVER (PARTITION BY len_used
                                          ORDER BY doc_id) - 1 AS BIGINT)
                    AS t
           FROM d)
    SELECT rk.doc_id, rk.len_used, rk.truncated,
           CAST(CASE WHEN rk.t < tab.m0 THEN tab.e_base
                ELSE tab.e_base + 1 + (rk.t - tab.m0) // tab.k END
                AS BIGINT) AS example_id,
           CAST(CASE WHEN rk.t < tab.m0 THEN tab.s_base + rk.t
                ELSE (rk.t - tab.m0) % tab.k END AS BIGINT) AS slot
    FROM rk JOIN tab ON rk.len_used = tab.len
    """


# ------------------------------------------- T5 span-corruption examples

#: sentinel ids sit above the corpus vocabulary (VOCAB = 50257, io.py)
SENTINEL_BASE = 60000


def span_corrupt(seq: DataFrame, span_len: int = 3,
                 start_ppm: int = 50_000,
                 sentinel_base: int = SENTINEL_BASE) -> DataFrame:
    """T5-style span-corruption example builder (Raffel et al. 2020
    §3.1.4): replace non-overlapping token spans with sentinel ids and
    emit the (inputs, targets) denoising pair per document.

    Deterministic variant of T5's random corruption: position p starts
    a candidate span iff pmod(xxhash64(doc_id, p), 1e6) < ``start_ppm``
    (expected corrupt rate = start_ppm * span_len / 1e6, the 15%/mean-3
    recipe at the defaults), candidates resolve to non-overlapping
    spans by a greedy left-to-right fold (keep p iff p >= last_kept +
    span_len), spans are fixed-length. Span j is replaced by sentinel
    ``sentinel_base + j`` in inputs; targets are sentinel_j followed by
    the span's tokens, concatenated over spans — exactly the T5 layout.

    Everything is row-local JVM array arithmetic: candidate mask, the
    greedy fold (O(k^2) only in the candidate COUNT, ~ppm of positions),
    and the rebuild via flatten(transform(...)) slices — ZERO Exchange,
    no UDF, tokens never shuffle (plan-asserted in tests/test_spans.py).
    The DuckDB oracle replays the xxhash64 chain, the fold and every
    rebuilt array bit-for-bit.

    Output: (doc_id, source, n_spans, inputs, targets)."""
    L, thr, base = int(span_len), int(start_ppm), int(sentinel_base)
    cand = (f"CASE WHEN size(tokens) >= {L} THEN "
            f"filter(sequence(0, size(tokens) - {L}), "
            f"p -> pmod(xxhash64(doc_id, CAST(p AS INT)), 1000000) < {thr}) "
            f"ELSE CAST(array() AS array<int>) END")
    kept = (f"aggregate({cand}, CAST(array() AS array<int>), "
            f"(acc, p) -> IF(size(acc) = 0 OR p >= element_at(acc, -1) + {L}, "
            f"concat(acc, array(p)), acc))")
    d = (seq.select("doc_id", "tokens", "source")
            .withColumn("ks", F.expr(kept))
            .withColumn("k", F.size("ks")))
    # piece j (1-based): gap before span j, then sentinel_j
    pieces = (f"transform(sequence(1, k), j -> concat("
              f"slice(tokens, IF(j = 1, 0, element_at(ks, j - 1) + {L}) + 1, "
              f"element_at(ks, j) - IF(j = 1, 0, element_at(ks, j - 1) + {L})), "
              f"array(CAST({base} + j - 1 AS INT))))")
    last_end = f"element_at(ks, -1) + {L}"
    inputs = (f"IF(k = 0, tokens, concat(flatten({pieces}), "
              f"slice(tokens, {last_end} + 1, size(tokens) - ({last_end}))))")
    targets = (f"IF(k = 0, CAST(array() AS array<int>), "
               f"flatten(transform(sequence(1, k), j -> concat("
               f"array(CAST({base} + j - 1 AS INT)), "
               f"slice(tokens, element_at(ks, j) + 1, {L})))))")
    return d.select("doc_id", "source",
                    F.col("k").cast("int").alias("n_spans"),
                    F.expr(inputs).alias("inputs"),
                    F.expr(targets).alias("targets"))


def span_corrupt_duckdb(seq_cte: str, span_len: int = 3,
                        start_ppm: int = 50_000,
                        sentinel_base: int = SENTINEL_BASE,
                        fp_mod: int = 2147483647) -> str:
    """Replay of :func:`span_corrupt` reduced to the per-doc evidence
    the driver compares: (doc_id, source, n_spans, n_inp, n_tgt,
    inp_fp, tgt_fp) with the engine's polynomial fingerprints of the
    rebuilt arrays (the bpe_apply precedent)."""
    from tsf.xxh64_sql import hash_bytes_layers, hash_int_layers
    L, thr, base = int(span_len), int(start_ppm), int(sentinel_base)
    hb = hash_bytes_layers(
        "SELECT doc_id, tokens, source FROM seq", "doc_id", "hb", "sb")
    hp = hash_int_layers(
        f"SELECT doc_id, hb, p FROM (SELECT doc_id, hb, "
        f"unnest(range(0, greatest(len(tokens) - {L} + 1, 0))) AS p "
        f"FROM hbt)", "p", "hb", "h", "sp")
    fp = (f"CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
          f"list_transform({{col}}, zx -> CAST(zx AS BIGINT))), "
          f"(a, x) -> (a * 31 + x) % {int(fp_mod)}) AS BIGINT)")
    return f"""
    WITH RECURSIVE seq AS ({seq_cte}),
    hbt AS MATERIALIZED ({hb}),
    ph AS MATERIALIZED ({hp}),
    candpos AS MATERIALIZED (
      SELECT doc_id, p FROM ph
      WHERE ((h % 1000000) + 1000000) % 1000000 < {thr}),
    -- greedy left-to-right non-overlap selection: iteration i holds each
    -- doc's i-th kept start (the min candidate >= last kept + L). A
    -- list-accumulator fold would be the direct form, but DuckDB 1.0
    -- mis-evaluates list_reduce with a LIST accumulator over
    -- list_transform output, so the sequential chain runs as a
    -- recursive CTE instead (the dedup_groups oracle precedent).
    kept AS (
      SELECT doc_id, min(p) AS p FROM candpos GROUP BY 1
      UNION ALL
      SELECT c.doc_id, min(c.p) AS p
      FROM kept k JOIN candpos c
        ON c.doc_id = k.doc_id AND c.p >= k.p + {L}
      GROUP BY 1),
    keptt AS (
      SELECT h.doc_id, h.tokens, h.source,
             coalesce(x.ks, []) AS ks
      FROM hbt h LEFT JOIN (
        SELECT doc_id, list(CAST(p AS INT) ORDER BY p) AS ks
        FROM kept GROUP BY 1) x USING (doc_id)),
    built AS (
      SELECT doc_id, source, len(ks) AS k,
        CASE WHEN len(ks) = 0 THEN tokens ELSE
          flatten(list_transform(range(1, len(ks) + 1), j ->
            list_concat(tokens[CASE WHEN j = 1 THEN 0 ELSE ks[j - 1] + {L} END + 1
                               : ks[j]],
                        [CAST({base} + j - 1 AS INT)])))
          || tokens[ks[-1] + {L} + 1 : ] END AS inputs,
        CASE WHEN len(ks) = 0 THEN CAST([] AS INT[]) ELSE
          flatten(list_transform(range(1, len(ks) + 1), j ->
            list_prepend(CAST({base} + j - 1 AS INT),
                         tokens[ks[j] + 1 : ks[j] + {L}]))) END AS targets
      FROM keptt)
    SELECT doc_id, source, CAST(k AS INT) AS n_spans,
           CAST(len(inputs) AS INT) AS n_inp,
           CAST(len(targets) AS INT) AS n_tgt,
           {fp.format(col="inputs")} AS inp_fp,
           {fp.format(col="targets")} AS tgt_fp
    FROM built
    """


# --------------------------------------------------------------------- FIM

#: PSM sentinels <PRE>, <SUF>, <MID> — above the span-corruption block
FIM_BASE = 61000


def fim_examples(seq: DataFrame, rate_ppm: int = 500_000,
                 fim_base: int = FIM_BASE) -> DataFrame:
    """Fill-in-the-middle example builder (Bavarian et al. 2022): with
    deterministic probability ``rate_ppm``/1e6 per document, split the
    token array at two hash-drawn points into prefix|middle|suffix and
    emit the PSM layout  <PRE> prefix <SUF> suffix <MID> middle  (the
    paper's document-level transform; the model learns to infill after
    <MID>). Unselected docs pass through unchanged (lo = hi = -1).

    Deterministic variant of the paper's uniform draws: the gate is
    pmod(xxhash64(doc_id), 1e6) < rate_ppm; the two cut points are
    pmod(xxhash64(doc_id, 1), n+1) and pmod(xxhash64(doc_id, 2), n+1)
    (order-normalized), so the same doc transforms identically at any
    cluster size or partitioning, and a different doc set never shifts
    another doc's draw.

    Everything is row-local JVM array arithmetic (gate, draws, three
    slices, one concat): ZERO Exchange, no UDF, tokens never shuffle
    (plan-asserted in tests/test_fim.py). The DuckDB oracle replays the
    xxhash64 chain and every rebuilt array bit-for-bit.

    Output: (doc_id, source, fim, lo, hi, out)."""
    thr, base = int(rate_ppm), int(fim_base)
    pre, suf, mid = base, base + 1, base + 2
    u = (lambda i: f"CAST(pmod(xxhash64(doc_id, {i}), "
                   f"size(tokens) + 1) AS INT)")
    return (seq
            .select("doc_id", "source", "tokens",
                    F.expr(f"CAST(pmod(xxhash64(doc_id), 1000000) < {thr} "
                           f"AS INT)").alias("fim"),
                    F.expr(u(1)).alias("_u1"), F.expr(u(2)).alias("_u2"))
            .select("doc_id", "source", "tokens", "fim",
                    F.expr("IF(fim = 1, least(_u1, _u2), -1)").alias("lo"),
                    F.expr("IF(fim = 1, greatest(_u1, _u2), -1)").alias("hi"))
            .select("doc_id", "source", "fim", "lo", "hi",
                    F.expr(
                        f"IF(fim = 0, tokens, concat("
                        f"array(CAST({pre} AS INT)), slice(tokens, 1, lo), "
                        f"array(CAST({suf} AS INT)), "
                        f"slice(tokens, hi + 1, size(tokens) - hi), "
                        f"array(CAST({mid} AS INT)), "
                        f"slice(tokens, lo + 1, hi - lo)))").alias("out")))


def fim_examples_duckdb(seq_cte: str, rate_ppm: int = 500_000,
                        fim_base: int = FIM_BASE,
                        fp_mod: int = 2147483647) -> str:
    """Replay of :func:`fim_examples` reduced to the per-doc evidence
    the driver compares: (doc_id, source, fim, lo, hi, n_out, out_fp)
    with the engine's polynomial fingerprint of the rebuilt array (the
    span_corrupt precedent)."""
    from tsf.xxh64_sql import hash_bytes_layers, hash_int_layers
    thr, base = int(rate_ppm), int(fim_base)
    pre, suf, mid = base, base + 1, base + 2
    q = hash_bytes_layers(
        "SELECT doc_id, tokens, source FROM seq", "doc_id", "hb", "fb")
    q = hash_int_layers(q, "1", "hb", "h1", "f1")
    q = hash_int_layers(q, "2", "hb", "h2", "f2")
    pm = "((({h} % {m}) + {m}) % {m})"
    fp = (f"CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
          f"list_transform(out, zx -> CAST(zx AS BIGINT))), "
          f"(a, x) -> (a * 31 + x) % {int(fp_mod)}) AS BIGINT)")
    return f"""
    WITH seq AS ({seq_cte}),
    drawn AS (
      SELECT doc_id, source, tokens,
             CAST({pm.format(h='hb', m=1000000)} < {thr} AS INT) AS fim,
             CAST({pm.format(h='h1', m='(len(tokens) + 1)')} AS INT) AS u1,
             CAST({pm.format(h='h2', m='(len(tokens) + 1)')} AS INT) AS u2
      FROM ({q})),
    cut AS (
      SELECT doc_id, source, tokens, fim,
             CASE WHEN fim = 1 THEN least(u1, u2) ELSE -1 END AS lo,
             CASE WHEN fim = 1 THEN greatest(u1, u2) ELSE -1 END AS hi
      FROM drawn),
    built AS (
      SELECT doc_id, source, fim, lo, hi,
             CASE WHEN fim = 0 THEN tokens ELSE
               [CAST({pre} AS INT)] || tokens[1 : lo]
               || [CAST({suf} AS INT)] || tokens[hi + 1 : ]
               || [CAST({mid} AS INT)] || tokens[lo + 1 : hi] END AS out
      FROM cut)
    SELECT doc_id, source, fim, lo, hi,
           CAST(len(out) AS INT) AS n_out, {fp} AS out_fp
    FROM built
    """


# ---------------------------------------------------------------- SFT masks

SFT_MASK = -100  # the de-facto ignore_index for masked-out label positions


def sft_examples(seq: DataFrame) -> DataFrame:
    """Supervised-finetuning example assembly: per document, a
    deterministic hash-drawn prompt/response boundary and the loss-mask
    label array — ``labels[i] = -100`` (the conventional ignore_index)
    for prompt positions, the token otherwise, so the loss trains only
    on the response. Complements ``span_corrupt`` (T5 denoising) and
    ``fim_examples`` (infilling) on the objective-transform shelf.

    The corpus carries no natural prompt/response structure, so the
    boundary is a documented deterministic stand-in (the fim_examples /
    pii_scrub precedent): h = 1 + pmod(xxhash64(doc_id, 3), n_tok - 1)
    for n_tok >= 2 (at least one prompt and one response token);
    single-token docs get h = 0 (fully trained). A real chat corpus
    drops its boundary column into the same seam. Same doc transforms
    identically at any cluster size or partitioning, and a different doc
    set never shifts another doc's draw (the dataset_split property).

    Fully row-local JVM array arithmetic: ZERO Exchange, no UDF, tokens
    never shuffle (plan-asserted). Output: (doc_id, source, n_tok,
    n_prompt, n_train, labels); input_ids is the untouched upstream
    ``tokens`` column."""
    h = ("IF(size(tokens) >= 2, 1 + CAST(pmod(xxhash64(doc_id, 3), "
         "size(tokens) - 1) AS INT), 0)")
    return (seq
            .select("doc_id", "source", "tokens",
                    F.expr(h).alias("n_prompt"))
            .select("doc_id", "source",
                    F.expr("CAST(size(tokens) AS INT)").alias("n_tok"),
                    "n_prompt",
                    (F.expr("CAST(size(tokens) AS INT)")
                     - F.col("n_prompt")).alias("n_train"),
                    F.expr(f"transform(tokens, (x, i) -> "
                           f"IF(i < n_prompt, {SFT_MASK}, x))")
                    .alias("labels")))


def sft_examples_duckdb(seq_cte: str, fp_mod: int = 2147483647) -> str:
    """Replay of :func:`sft_examples` reduced to the per-doc evidence the
    driver compares: (doc_id, source, n_tok, n_prompt, n_train,
    labels_fp) — the xxh64 boundary draw chain plus the polynomial
    fingerprint of the masked label array (negative mask values flow
    through the shared base-31 fold identically in both engines: `%`
    takes the dividend's sign in Spark and DuckDB alike)."""
    from tsf.xxh64_sql import hash_bytes_layers, hash_int_layers
    q = hash_bytes_layers(
        "SELECT doc_id, tokens, source FROM seq", "doc_id", "hb", "sfb")
    q = hash_int_layers(q, "3", "hb", "h3", "sf3")
    pm = "(((h3 % (len(tokens) - 1)) + (len(tokens) - 1)) % (len(tokens) - 1))"
    fp = (f"CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
          f"list_transform(labels, zx -> CAST(zx AS BIGINT))), "
          f"(a, x) -> (a * 31 + x) % {int(fp_mod)}) AS BIGINT)")
    return f"""
    WITH seq AS ({seq_cte}),
    drawn AS (
      SELECT doc_id, source, tokens,
             CASE WHEN len(tokens) >= 2
                  THEN 1 + CAST({pm} AS INT) ELSE 0 END AS n_prompt
      FROM ({q})),
    built AS (
      SELECT doc_id, source, CAST(len(tokens) AS INT) AS n_tok, n_prompt,
             CAST(len(tokens) - n_prompt AS INT) AS n_train,
             list_transform(range(1, len(tokens) + 1),
                            i -> CASE WHEN i <= n_prompt THEN {SFT_MASK}
                                      ELSE tokens[i] END) AS labels
      FROM drawn)
    SELECT doc_id, source, n_tok, n_prompt, n_train, {fp} AS labels_fp
    FROM built
    """


# ------------------------------------------------------- global rank (curriculum)
#
# Exact corpus-wide ordering by a score column (curriculum learning
# schedules; exact top-frac selection by quality). The naive plan —
# ``row_number() OVER (ORDER BY score)`` — funnels the corpus through
# ONE partition (Spark warns and then sorts 100 TB on a single task).
# The scalable idiom is two-phase:
#
#   1. ``repartitionByRange(score, doc_id)`` — a RangePartitioning
#      Exchange; each partition holds a contiguous slice of the total
#      order (bounds from Spark's reservoir sample — they affect only
#      WHERE the cuts fall, never the final ranks).
#   2. per-partition counts (#partitions rows — bounded driver-side
#      metadata, the centroid-collect precedent) prefix-summed into
#      offsets that ride back as ONE array<long> literal; rank =
#      within-partition row_number + offset[pid].
#
# The rank of a doc is a pure function of the corpus's (score, doc_id)
# total order — deterministic under any partitioning, cluster size, or
# sampled bounds (pytest), and the DuckDB oracle replays it as a plain
# window. The within-partition sort satisfies the window's required
# ordering, so the ONLY corpus Exchange is the range repartition
# (plan-asserted: RangePartitioning present, no SinglePartition sort).

def curriculum_rank(docs: DataFrame, score_col: str,
                    ascending: bool = True,
                    num_partitions: int | None = None) -> DataFrame:
    """(doc_id, <score_col>, rank): exact global 1-based rank by
    (score, doc_id). ``ascending=False`` ranks best-first for
    descending curriculum schedules."""
    from tsf.caching import scoped_persist
    d = docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.col(score_col).alias("_s"))
    keys = ([F.col("_s").asc(), F.col("doc_id").asc()] if ascending
            else [F.col("_s").desc(), F.col("doc_id").asc()])
    n = int(num_partitions
            or d.sparkSession.sparkContext.defaultParallelism)
    rp = d.repartitionByRange(n, *keys).withColumn(
        "_pid", F.spark_partition_id())
    # two passes (counts, ranks) must observe the SAME partition ids
    rp = scoped_persist(rp)
    cnt = {r["_pid"]: r["c"] for r in
           rp.groupBy("_pid").agg(F.count("*").alias("c")).collect()}
    offs, acc = [], 0
    for pid in range(max(cnt) + 1 if cnt else 0):
        offs.append(acc)
        acc += cnt.get(pid, 0)
    om = F.array(*[F.lit(int(o)) for o in offs])
    w = Window.partitionBy("_pid").orderBy(*keys)
    return (rp.withColumn("_rn", F.row_number().over(w))
            .select("doc_id", F.col("_s").alias(score_col),
                    (F.element_at(om, F.col("_pid") + 1)
                     + F.col("_rn")).cast("long").alias("rank")))


def curriculum_rank_duckdb(score_sql: str, ascending: bool = True) -> str:
    """DuckDB replay of :func:`curriculum_rank`: a plain global window
    over the same total order. ``score_sql`` must yield
    (doc_id VARCHAR, score) with the engine's score column name."""
    direction = "ASC" if ascending else "DESC"
    return f"""
    SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score {direction}, doc_id ASC)
                AS BIGINT) AS rank
    FROM ({score_sql})
    """
