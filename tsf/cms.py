"""Count-min-sketch vocabulary heavy hitters — bounded-memory token
frequency at any corpus size (Cormode & Muthukrishnan 2005).

`vocab_topk` (exact) shuffles one row per DISTINCT token; at 100 TB a
raw web vocabulary (typos, hashes, numerals) can outgrow executor
memory for the aggregate's hash table and makes the Exchange
vocab-sized. The sketch path bounds BOTH to depth x width counters no
matter the corpus:

- :func:`cms_sketch` — ONE pass: explode tokens, derive (d, pos) int
  pairs row-locally (pos = pmod(xxhash64(d, token), width) — the seeded
  xxhash64 chain `tsf/xxh64_sql.py` replays bit-exactly), partial
  (map-side) hash aggregation, so the single Exchange carries at most
  tasks x (depth x width) counter rows and the reduced sketch is
  <= depth x width rows of bounded metadata. No token/text column
  crosses the Exchange (plan-asserted in tests/test_cms.py).
- :func:`cms_estimate` — point queries: the DENSE sketch rides into the
  plan as one array<long> literal (depth x width entries — the
  `bloom_decontam` bitmap precedent), each candidate's estimate is the
  min over depth row-local element_at lookups; ZERO probe-side
  Exchange.
- :func:`cms_topk` — heavy hitters: candidates come from a
  deterministic `sample_ppm` hash01(doc_id) slice (a true heavy hitter
  appears in any modest sample; the slice is reproducible and nested —
  the `mix_sample` family), estimates from the sketch, top-k by the
  total order (est DESC, token) via TakeOrderedAndProject.

Guarantees (pinned by tests): estimate >= true count always (each
counter only ever over-counts via collisions); with the standard
sizing, over-count <= e * N / width with prob 1 - exp(-depth) per
query. All arithmetic is integer-exact, so the DuckDB oracle replays
every counter, every estimate — including collision over-counts — and
the top-k cut bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

WIDTH = 2048
DEPTH = 4


def cms_sketch(seq: DataFrame, width: int = WIDTH,
               depth: int = DEPTH) -> DataFrame:
    """The sketch in tall form: (d, pos, cnt), absent cells = 0.

    Scale shape: tokens explode once, (d, pos) pairs are row-local int
    derivations, partial aggregation combines map-side; the one hash
    Exchange is keyed on (d, pos) and bounded by depth x width keys per
    map task."""
    tok = seq.select(F.explode("tokens").alias("token"))
    cells = tok.select(F.explode(F.array(*[
        F.struct(
            F.lit(d).cast("int").alias("d"),
            F.pmod(F.xxhash64(F.lit(d), F.col("token")), F.lit(width))
             .cast("int").alias("pos"))
        for d in range(depth)])).alias("c"))
    return (cells.groupBy(F.col("c.d").alias("d"), F.col("c.pos").alias("pos"))
                 .agg(F.count("*").alias("cnt")))


def _dense_sketch(sketch_rows, width: int, depth: int) -> list[int]:
    """Collected tall rows -> one dense row-major list (d * width + pos)."""
    arr = [0] * (width * depth)
    for r in sketch_rows:
        arr[int(r["d"]) * width + int(r["pos"])] = int(r["cnt"])
    return arr


def cms_estimate(cands: DataFrame, dense: list[int], width: int = WIDTH,
                 depth: int = DEPTH, token_col: str = "token") -> DataFrame:
    """Append ``est`` = min over depth counters for each candidate row.

    The dense sketch is an array<long> literal (bounded metadata riding
    in the plan — no join, no broadcast table); the probe is row-local
    with ZERO Exchange."""
    if depth < 1:
        raise ValueError(f"cms_estimate: depth must be >= 1, got {depth}")
    lit = f"array({','.join(f'{v}L' for v in dense)})"
    looks = [
        f"element_at({lit}, CAST({d} * {width} + "
        f"pmod(xxhash64({d}, {token_col}), {width}) + 1 AS INT))"
        for d in range(depth)]
    # least() needs >= 2 args in Spark SQL; depth=1 is the lone lookup
    est = looks[0] if depth == 1 else f"least({', '.join(looks)})"
    return cands.withColumn("est", F.expr(est))


def cms_topk(seq: DataFrame, k: int = 25, width: int = WIDTH,
             depth: int = DEPTH, sample_ppm: int = 250_000) -> DataFrame:
    """Heavy hitters via the sketch: (token, est), top-k by
    (est DESC, token).

    The exact full-vocabulary count never materializes anywhere:
    candidates are the distinct tokens of the deterministic sample
    slice (sample-vocabulary-sized, not corpus-vocabulary-sized), and
    their counts come from the bounded sketch."""
    from tsf.sampling import _hash01_spark
    sk = cms_sketch(seq, width, depth).collect()
    dense = _dense_sketch(sk, width, depth)
    cand = (seq.withColumn("_k", F.col("doc_id").cast("string"))
               .where(F.expr(_hash01_spark("_k")) < sample_ppm / 1e6)
               .select(F.explode("tokens").alias("token"))
               .distinct())
    est = cms_estimate(cand, dense, width, depth)
    return est.orderBy(F.desc("est"), "token").limit(int(k))


# ------------------------------------------------------------- DuckDB replays

def _cell_sql(src: str, width: int, depth: int) -> str:
    """(d, pos) cells for every token occurrence of ``src`` (a SELECT
    with a ``token`` column), replaying Spark's seeded chain
    xxhash64(lit(d), token) = hashInt(token, hashInt(d, 42))."""
    from tsf.xxh64_sql import hash_int_layers
    parts = []
    for d in range(depth):
        q = f"SELECT token FROM ({src})"
        q = hash_int_layers(q, str(d), "42", "hd", f"cd{d}")
        q = hash_int_layers(q, "token", "hd", "h", f"ct{d}")
        parts.append(
            f"SELECT {d} AS d, CAST(((h % {width}) + {width}) % {width} "
            f"AS INT) AS pos FROM ({q})")
    return " UNION ALL ".join(parts)


def cms_topk_duckdb(seq_cte: str, k: int = 25, width: int = WIDTH,
                    depth: int = DEPTH, sample_ppm: int = 250_000) -> str:
    """Replay of :func:`cms_topk`: same sketch, same hash01 sample
    slice, same min-over-depth estimates, same (est DESC, token) cut."""
    from tsf.sampling import _hash01_duckdb
    from tsf.xxh64_sql import hash_int_layers
    occ = f"WITH seq AS ({seq_cte}) SELECT unnest(tokens) AS token FROM seq"
    cand = (f"WITH seq AS ({seq_cte}) "
            f"SELECT DISTINCT unnest(tokens) AS token FROM seq "
            f"WHERE {_hash01_duckdb('CAST(doc_id AS VARCHAR)')} "
            f"< {sample_ppm / 1e6}")
    ests = []
    for d in range(depth):
        q = f"SELECT token FROM cand"
        q = hash_int_layers(q, str(d), "42", "hd", f"ed{d}")
        q = hash_int_layers(q, "token", "hd", "h", f"et{d}")
        ests.append(
            f"SELECT token, {d} AS d, CAST(((h % {width}) + {width}) % {width} "
            f"AS INT) AS pos FROM ({q})")
    probes = " UNION ALL ".join(ests)
    return f"""
    WITH cand AS ({cand}),
    sk AS (SELECT d, pos, count(*) AS cnt
           FROM ({_cell_sql(occ, width, depth)}) GROUP BY 1, 2),
    pr AS ({probes})
    SELECT p.token, min(coalesce(s.cnt, 0)) AS est
    FROM pr p LEFT JOIN sk s ON s.d = p.d AND s.pos = p.pos
    GROUP BY p.token
    ORDER BY est DESC, token
    LIMIT {int(k)}
    """
