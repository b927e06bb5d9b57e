"""BPE tokenizer training over pre-tokenized sequences.

The graft's payload is token arrays; the canonical tokenizer-side
operation a training-data pipeline runs over them is byte-pair-encoding
merge learning (Sennrich et al. 2016; GPT-2 trains its tokenizer this
way): repeatedly count adjacent-pair frequencies corpus-wide, merge the
most frequent pair into a fresh vocabulary id, rewrite the corpus, and
repeat. The engine exposes the three pieces separately so each has the
right distributed shape:

- :func:`pair_counts` — one counting round. The exploded side projects
  ONLY the two int token ids (8 bytes/pair, never text), partial
  aggregation combines map-side, and the single Exchange carries
  (lt, rt, partial cnt) — bounded by distinct adjacent pairs, not by
  corpus size. ``top_k`` lowers to TakeOrderedAndProject (no global
  sort).
- :func:`train_bpe` — the sequential merge loop (inherently iterative:
  round r's counts depend on round r-1's rewrite). Each round is one
  bounded-driver-collect argmax (exactly 1 row — the `centroids`
  precedent) plus a row-local rewrite; rounds materialize via
  ``scoped_persist`` so round r never re-executes rounds 1..r-1's
  folds. At 100 TB, train on a deterministic ``sample_ppm`` slice (the
  ``mix_sample`` hash01 family — reproducible, nested) that fits the
  cluster's cache, then apply the learned table to the full corpus in
  ONE pass with :func:`apply_merges`.
- :func:`apply_merges` — the production full-corpus pass: the merge
  table (k rows) rides into a single vectorized Arrow UDF
  (``mapInPandas``) as literals; ZERO Exchange, the token payload never
  shuffles (plan-asserted in tests/test_bpe.py). ``impl="sql"`` is the
  pure-JVM fold chain the DuckDB oracle mirrors; the two paths are
  pytest-pinned equal.

Greedy semantics (both engines, pinned by tests): within one round,
occurrences of the chosen pair merge left-to-right without overlap
("aaa" + (a,a) -> "(aa)a"), matching the reference BPE formulation. A
freshly minted id is strictly greater than every id visible in that
round, so a new token can never left- or right-match its own round's
pair; ids minted in EARLIER rounds are ordinary symbols (hierarchical
merges like ((a,a),(a,a)) learn naturally).

All arithmetic is integer-exact, so the DuckDB oracle replays counts,
argmax tie-breaks (cnt DESC, lt, rt) and every rewritten array
bit-for-bit — no float tolerance anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsf.caching import scoped_persist

#: Fresh merge ids are minted ABOVE this base (the corpus vocabulary is
#: VOCAB = 50257 < 65536, io.py) so every minted id exceeds every
#: pre-existing token id.
VOCAB_BASE = 65536

#: Adjacent-pair structs per row — row-local (no Exchange below the
#: counting aggregate), emits ONLY the two int ids.
PAIRS_EXPR = (
    "CASE WHEN size(tokens) < 2 THEN CAST(array() AS array<struct<lt:int,rt:int>>) "
    "ELSE zip_with(slice(tokens, 1, size(tokens) - 1), "
    "slice(tokens, 2, size(tokens) - 1), "
    "(a, b) -> struct(a AS lt, b AS rt)) END")


def pair_counts(seq: DataFrame, top_k: int | None = None) -> DataFrame:
    """Corpus-wide adjacent token-pair frequencies: (lt, rt, cnt).

    Scale shape: explode projects (lt, rt) int pairs only; partial
    (map-side) aggregation feeds ONE hash Exchange bounded by distinct
    pairs; ``top_k`` ranks by (cnt DESC, lt, rt) — a total order, so
    the cut is deterministic — via TakeOrderedAndProject."""
    d = (seq.select(F.explode(F.expr(PAIRS_EXPR)).alias("p"))
            .groupBy(F.col("p.lt").alias("lt"), F.col("p.rt").alias("rt"))
            .agg(F.count("*").alias("cnt")))
    if top_k is not None:
        d = d.orderBy(F.desc("cnt"), "lt", "rt").limit(int(top_k))
    return d


def merge_fold_expr(col: str, lt: int, rt: int, new_id: int) -> str:
    """Spark SQL expr rewriting ``col`` with ONE merge, greedy
    left-to-right. Nested IF (not AND) so the element_at(acc, -1) probe
    never runs on an empty accumulator under ANSI mode."""
    if not (lt < new_id and rt < new_id):
        raise ValueError("new_id must exceed both members of the pair")
    return (
        f"aggregate({col}, CAST(array() AS array<int>), "
        f"(acc, x) -> IF(size(acc) = 0, array(x), "
        f"IF(element_at(acc, -1) = {int(lt)} AND x = {int(rt)}, "
        f"concat(slice(acc, 1, size(acc) - 1), array(CAST({int(new_id)} AS INT))), "
        f"concat(acc, array(x)))))")


MERGES_SCHEMA = T.StructType([
    T.StructField("rnd", T.IntegerType(), False),
    T.StructField("lt", T.IntegerType(), False),
    T.StructField("rt", T.IntegerType(), False),
    T.StructField("new_id", T.IntegerType(), False),
    T.StructField("cnt", T.LongType(), False),
])


#: Above this doc length the SQL fold's O(n^2) accumulator copying loses
#: to the Arrow kernel's per-round Python-worker spin-up.
_SQL_FOLD_MAX_LEN = 4096


def train_bpe(seq: DataFrame, n_merges: int, base: int = VOCAB_BASE,
              sample_ppm: int | None = None, rewrite: str = "auto",
              ) -> tuple[list[dict], DataFrame]:
    """Learn ``n_merges`` BPE merges; returns (merge table rows, the
    rewritten sequences frame after the final round).

    The loop is the algorithm's inherent sequential dependency; each
    round costs one counting aggregate over the (persisted) previous
    round plus a 1-row driver collect. ``sample_ppm`` trains on the
    deterministic hash01(doc_id) slice — the 100-TB path: the sample is
    reproducible, nested across ppm values, and bounds the persisted
    working set; the learned table then applies to the full corpus in
    one :func:`apply_merges` pass.

    ``rewrite`` picks the per-round rewrite: "sql" (JVM fold — fastest
    on short docs, but O(n^2) per doc), "arrow" (numpy kernel — O(n),
    the long-doc path), or "auto" (one bounded max-length probe; SQL
    below :data:`_SQL_FOLD_MAX_LEN`). Both paths are pytest-pinned
    equal."""
    from tsf.spread import spread_rows
    # narrow-scan guard (guide §2.5): every round's counting aggregate
    # and rewrite is row-local over the training slice — on a
    # single-row-group input the whole loop would run one-task-wide.
    # One tiny (doc_id, tokens, source) Exchange up front parallelizes
    # all rounds; no-op on many-file inputs.
    cur = spread_rows(seq.select("doc_id", "tokens", "source"))
    if sample_ppm is not None:
        from tsf.sampling import _hash01_spark
        cur = (cur.withColumn("_k", F.col("doc_id").cast("string"))
                  .where(F.expr(_hash01_spark("_k")) < sample_ppm / 1e6)
                  .drop("_k"))
    if rewrite == "auto":
        mx = cur.agg(F.max(F.size("tokens"))).collect()[0][0] or 0
        rewrite = "sql" if mx <= _SQL_FOLD_MAX_LEN else "arrow"
    if rewrite not in ("sql", "arrow"):
        raise ValueError(f"unknown rewrite {rewrite!r}")
    merges: list[dict] = []
    # `prev` = the persisted predecessor of `cur` (None for the round-0
    # input, which is not persisted)
    prev: DataFrame | None = None
    for rnd in range(1, int(n_merges) + 1):
        # this argmax is the action that MATERIALIZES cur's persisted
        # rewrite (no separate count() job per round — the cache fills
        # on first use); only after that is prev's cache safe to
        # release (cur's cache now holds everything prev fed)
        best = (pair_counts(cur)
                .orderBy(F.desc("cnt"), "lt", "rt").limit(1).collect())
        if prev is not None:
            prev.unpersist()
            prev = None
        if not best or best[0]["cnt"] < 2:
            break  # nothing left worth merging
        lt, rt, cnt = int(best[0]["lt"]), int(best[0]["rt"]), int(best[0]["cnt"])
        new_id = int(base) + rnd
        merge = {"rnd": rnd, "lt": lt, "rt": rt,
                 "new_id": new_id, "cnt": cnt}
        merges.append(merge)
        nxt = cur
        if rewrite == "sql":
            # JVM fold: no Python workers, but the fold copies its
            # accumulator per element — O(n^2) per doc. A 200k-token
            # longtail doc turns one round into ~4e10 array copies, so
            # this path is gated to short-doc corpora.
            nxt = cur.withColumn(
                "tokens", F.expr(merge_fold_expr("tokens", lt, rt, new_id)))
        else:
            nxt = apply_merges(cur, [merge], impl="arrow") \
                .select("doc_id", "tokens", "source")
        prev = cur if rnd > 1 else None  # round-0 input is unpersisted
        cur = scoped_persist(nxt)
    return merges, cur


def merges_df(spark: SparkSession, merges: list[dict]) -> DataFrame:
    """The learned merge table as a DataFrame (rnd, lt, rt, new_id, cnt)."""
    return spark.createDataFrame(
        [(m["rnd"], m["lt"], m["rt"], m["new_id"], m["cnt"])
         for m in merges], MERGES_SCHEMA)


# ----------------------------------------------------------- apply (full corpus)

def _apply_one_np(t: np.ndarray, lt: int, rt: int, m: int) -> np.ndarray:
    """One merge over one doc, vectorized: find match starts, resolve
    overlap greedily left-to-right (overlap only exists when lt == rt:
    keep even offsets within each run of consecutive matches), then
    stamp the merged id and drop the consumed right positions."""
    if t.size < 2:
        return t
    match = (t[:-1] == lt) & (t[1:] == rt)
    idx = np.flatnonzero(match)
    if idx.size == 0:
        return t
    if lt == rt:
        run_start = np.empty(idx.size, dtype=bool)
        run_start[0] = True
        run_start[1:] = np.diff(idx) > 1
        first = idx[run_start][np.cumsum(run_start) - 1]
        idx = idx[((idx - first) % 2) == 0]
    out = t.copy()
    out[idx] = m
    keep = np.ones(t.size, dtype=bool)
    keep[idx + 1] = False
    return out[keep]


def apply_merges_np(t: np.ndarray, merges: list[dict]) -> np.ndarray:
    """All merges in learned order over one doc (the readable kernel the
    Arrow path maps over batches)."""
    t = np.asarray(t, dtype=np.int32)
    for m in merges:
        t = _apply_one_np(t, m["lt"], m["rt"], m["new_id"])
    return t


def apply_merges(seq: DataFrame, merges: list[dict],
                 impl: str = "arrow") -> DataFrame:
    """Rewrite the corpus with a learned merge table — the production
    single-pass stage. Returns (doc_id, tokens, n_tok, source) with the
    post-BPE arrays.

    ``impl="arrow"``: ONE vectorized mapInPandas pass, merge table as
    Python literals — row-local, ZERO Exchange, token payload never
    shuffles (plan-asserted). ``impl="sql"``: the k-fold JVM expression
    chain (what the DuckDB oracle mirrors); same answers, pinned by
    tests. The SQL fold copies the accumulator per element (O(n^2) per
    doc per merge), so Arrow is the default for long documents."""
    if impl == "sql":
        expr = "tokens"
        for m in merges:
            expr = merge_fold_expr(expr, m["lt"], m["rt"], m["new_id"])
        return (seq.select("doc_id", F.expr(expr).alias("tokens"), "source")
                   .select("doc_id", "tokens",
                           F.size("tokens").cast("int").alias("n_tok"),
                           "source"))
    if impl != "arrow":
        raise ValueError(f"unknown impl {impl!r}")

    out_schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
    ])
    ms = [dict(m) for m in merges]  # plain literals into the closure

    def fn(it):
        for pdf in it:
            toks = [apply_merges_np(np.asarray(v, dtype=np.int32), ms)
                    for v in pdf["tokens"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype(str),
                "tokens": toks,
                "n_tok": np.array([t.size for t in toks], dtype=np.int32),
                "source": pdf["source"].astype(str),
            })

    return (seq.select("doc_id", "tokens", "source")
               .mapInPandas(fn, out_schema))


# ------------------------------------------------------------- DuckDB replays

def pair_counts_duckdb(seq_cte: str, top_k: int | None = None) -> str:
    """DuckDB replay of :func:`pair_counts` (integer-exact)."""
    lim = f"LIMIT {int(top_k)}" if top_k is not None else ""
    return f"""
    WITH seq AS ({seq_cte})
    SELECT u.t.lt AS lt, u.t.rt AS rt, count(*) AS cnt
    FROM (SELECT list_transform(range(1, len(tokens)),
                 i -> {{'lt': tokens[i], 'rt': tokens[i + 1]}}) AS ps
          FROM seq WHERE len(tokens) >= 2) q, UNNEST(q.ps) AS u(t)
    GROUP BY 1, 2
    ORDER BY cnt DESC, lt, rt {lim}
    """


def _round_cte(src: str, dst: str, rnd: int, new_id: int) -> str:
    """One BPE round as layered CTEs: pair counts over ``src``, argmax
    (cnt DESC, lt, rt) into b{rnd}, then the greedy rewrite into ``dst``
    via gaps-and-islands (runs of consecutive match positions exist only
    when lt = rt; even offsets within a run are the surviving starts —
    exactly the left-to-right non-overlapping semantics of the Spark
    fold). ``dst`` is MATERIALIZED: each round references its
    predecessor 2-3 times, so inlined CTEs re-execute the whole chain
    ~3^rounds times (measured 60s -> 0.4s at sf0.01 for 5 rounds)."""
    return f"""
    p{rnd} AS (
      SELECT u.t.lt AS lt, u.t.rt AS rt, count(*) AS cnt
      FROM (SELECT list_transform(range(1, len(tokens)),
                   i -> {{'lt': tokens[i], 'rt': tokens[i + 1]}}) AS ps
            FROM {src} WHERE len(tokens) >= 2) q, UNNEST(q.ps) AS u(t)
      GROUP BY 1, 2),
    b{rnd} AS (SELECT lt, rt, cnt FROM p{rnd} WHERE cnt >= 2
               ORDER BY cnt DESC, lt, rt LIMIT 1),
    pos{rnd} AS (
      SELECT doc_id, u.t.g AS g, u.t.tk AS tk, n
      FROM (SELECT doc_id, len(tokens) AS n,
                   list_transform(range(1, len(tokens) + 1),
                   i -> {{'g': i, 'tk': tokens[i]}}) AS ps
            FROM {src}) q, UNNEST(q.ps) AS u(t)),
    mm{rnd} AS (
      SELECT p.*, coalesce(p.g < p.n AND p.tk = b.lt
             AND lead(p.tk) OVER (PARTITION BY p.doc_id ORDER BY p.g) = b.rt,
             FALSE) AS pm
      FROM pos{rnd} p CROSS JOIN b{rnd} b),
    isl{rnd} AS (
      SELECT *, CASE WHEN pm THEN g - row_number() OVER
                 (PARTITION BY doc_id, pm ORDER BY g) END AS grp
      FROM mm{rnd}),
    st{rnd} AS (
      SELECT *, coalesce(pm AND (g - min(g) OVER
                 (PARTITION BY doc_id, grp)) % 2 = 0, FALSE) AS strt
      FROM isl{rnd}),
    rw{rnd} AS (
      SELECT doc_id, g,
             CASE WHEN strt THEN {int(new_id)}
                  WHEN coalesce(lag(strt) OVER
                       (PARTITION BY doc_id ORDER BY g), FALSE) THEN NULL
                  ELSE tk END AS v
      FROM st{rnd}),
    {dst} AS MATERIALIZED (
      SELECT s.doc_id, CASE WHEN EXISTS (SELECT 1 FROM b{rnd})
                            THEN coalesce(x.toks, []) ELSE s.tokens END AS tokens,
             s.source
      FROM {src} s LEFT JOIN (
        SELECT doc_id, list(CAST(v AS INT) ORDER BY g)
               FILTER (WHERE v IS NOT NULL) AS toks
        FROM rw{rnd} GROUP BY 1) x USING (doc_id))"""


def _rounds_with(seq_cte: str, n_merges: int, base: int) -> str:
    rounds = ",\n".join(
        _round_cte(f"t{r}", f"t{r + 1}", r + 1, base + 1 + r)
        for r in range(int(n_merges)))
    return (f"WITH seq AS ({seq_cte}),\n"
            f"t0 AS (SELECT doc_id, tokens, source FROM seq),\n{rounds}")


def train_bpe_duckdb(seq_cte: str, n_merges: int,
                     base: int = VOCAB_BASE) -> str:
    """DuckDB replay of :func:`train_bpe`'s merge table: the rounds are
    unrolled as CTE layers (the same sequential dependency the Spark
    loop has); each b{r} is empty when its round found no pair with
    cnt >= 2, and the rewrite passes tokens through untouched then —
    matching the Spark loop's early break."""
    sel = "\nUNION ALL\n".join(
        f"SELECT {r + 1} AS rnd, lt, rt, CAST({base + 1 + r} AS INT) AS new_id, cnt "
        f"FROM b{r + 1}" for r in range(int(n_merges)))
    return f"{_rounds_with(seq_cte, n_merges, base)}\n{sel}\nORDER BY rnd"


def apply_merges_duckdb(seq_cte: str, n_merges: int, fp_mod: int,
                        base: int = VOCAB_BASE) -> str:
    """DuckDB replay of train + apply reduced to per-doc evidence the
    driver compares: (doc_id, n_tok_bpe, bpe_fp) where bpe_fp is the
    engine's polynomial fingerprint of the rewritten array."""
    n = int(n_merges)
    return f"""{_rounds_with(seq_cte, n, base)}
    SELECT doc_id, CAST(len(tokens) AS INT) AS n_tok_bpe,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(tokens, zx -> CAST(zx AS BIGINT))),
                (a, x) -> (a * 31 + x) % {int(fp_mod)}) AS BIGINT) AS bpe_fp
    FROM t{n}
    """
