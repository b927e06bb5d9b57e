"""Similarity search over an embedding column (array<float>).

- :func:`cosine_scores` / :func:`cosine_topk` — brute-force cosine against
  a query vector, entirely JVM-side (width-guarded flat dot products +
  a precomputed query norm): the correctness baseline. At scale this is
  one scan, no shuffle (topk = small driver-side take after a partial
  per-partition top-k that Catalyst's TakeOrderedAndProject already
  performs).
- :func:`lsh_buckets` / :func:`lsh_topk` — random-hyperplane LSH: sign-bit
  prefix bucket per vector; candidates share the query's bucket (with
  multi-probe over 1-bit flips), so the 100 TB path scans only matching
  buckets (partition pruning when the table is written bucketed by
  `bucket`).
- :func:`ivf_cells` / :func:`ivf_topk` — IVF ANN: a deterministic
  coarse-quantizer centroid set, cell assignment as one shuffle-free JVM
  projection, queries probe the nprobe closest cells.
- :func:`build_ivf_index` / :func:`build_lsh_index` +
  ``*_topk_indexed`` — both ANN families persisted as cell/bucket
  PARTITIONED layouts so probing skips files (PartitionFilters), not
  rows.
- :func:`pairwise_pearson` — Pearson/Covariance matrices across vectors
  within a group (reference PairwiseFeatures semantics,
  /root/reference/src/PairwiseFeatures.jl:39-41): self-join within group.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from tsf.caching import scoped_persist

EMB_DOUBLE = "transform(embedding, x -> cast(x as double))"


def _dot(a: str, b: str) -> str:
    """The dot-product fold: a left sum from ``cast(0 as double)`` with
    the products in index order. zip_with pads the shorter array with
    NULL, so an off-width pair folds to NULL. Elements multiply as
    doubles (Catalyst drops the casts for array<double>). The lambda
    names are safe to nest inside a single-letter transform() lambda."""
    return (f"aggregate(zip_with({a}, {b}, (zx, zy) -> "
            f"cast(zx as double) * cast(zy as double)), "
            f"cast(0 as double), (zacc, zv) -> zacc + zv)")


def _vec_lit(v) -> str:
    """The values ``v`` as a literal array<double>."""
    return "array(" + ",".join(f"cast({float(x)} as double)" for x in v) + ")"


def _dot_flat(a: str, b, dim: int) -> str:
    """:func:`_dot` of array column ``a`` and ``b`` — an array column or
    a literal vector — as one flat sum over ``dim`` terms.

    Catalyst interprets higher-order functions (transform/zip_with/
    aggregate) per row, outside WholeStageCodegen; the flat sum is the
    SAME arithmetic — left-associated from cast(0 as double), double
    products in index order — so every bit of the result is unchanged,
    compiled to straight-line code. A CASE guard sends rows whose width
    is not ``dim`` to the fold when ``b`` is a column (two equal-width
    off-width rows have a non-NULL dot), and to NULL when ``b`` is a
    literal, which is what the fold gives them. Under ANSI the guarded
    branch never indexes out of bounds.

    Only the cosines use it. The bucket planes, IVF cell scores and
    random projections keep the fold: planes x dim terms in one
    projection crosses the code size where Janino compile + JIT warmup
    (measured 8-46 s on first execution) dwarfs the steady-state win."""
    if isinstance(b, str):
        bs = [f"cast({b}[{i}] as double)" for i in range(dim)]
        sized = [a] if b == a else [a, b]
        fold = f" ELSE {_dot(a, b)}"
    else:
        bs = [f"cast({float(v)} as double)" for v in b]
        sized, fold = [a], ""
    guard = " AND ".join(f"size({c}) = {dim}" for c in sized)
    terms = "".join(f" + cast({a}[{i}] as double) * {y}"
                    for i, y in enumerate(bs))
    return f"(CASE WHEN {guard} THEN (cast(0 as double){terms}){fold} END)"


def _cosine(a: str, b, dim: int):
    """cos(a, b) rounded to 6 dp from flat dots (``b`` as in
    :func:`_dot_flat`); a literal ``b``'s norm is a driver-side literal.

    nullif: a zero-norm row (dirty all-zero embedding) or zero query
    yields NULL cosine instead of aborting the scan with ANSI
    DIVIDE_BY_ZERO; downstream >= filters drop NULLs. The division
    stays outside the CASE guards: inside one, cosine_threshold's
    whole-stage code outgrew 64 KB and ran interpreted."""
    if isinstance(b, str):
        bn = F.sqrt(F.expr(_dot_flat(b, b, dim)))
    else:
        bn = F.lit(float(np.sqrt(np.dot(b, b))))
    den = F.sqrt(F.expr(_dot_flat(a, a, dim))) * bn
    return F.round(F.expr(_dot_flat(a, b, dim)) / F.nullif(den, F.lit(0.0)), 6)


def cosine_scores(emb: DataFrame, query: list[float]) -> DataFrame:
    """(vec_id, label, cos) against a constant query vector — JVM-only."""
    return emb.select("vec_id", "label",
                      _cosine("embedding", query, len(query)).alias("cos"))


def cosine_topk(emb: DataFrame, query: list[float], k: int = 10) -> DataFrame:
    return (cosine_scores(emb, query)
            .orderBy(F.desc("cos"), F.asc("vec_id")).limit(k))


def cosine_threshold(emb: DataFrame, query: list[float], threshold: float) -> DataFrame:
    """Threshold variant — stable under float ties, used for the SQL oracle."""
    return cosine_scores(emb, query).where(F.col("cos") >= threshold)


def random_hyperplanes(dim: int, nbits: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((nbits, dim))


def _bucket_col(vec_expr: str, planes: np.ndarray):
    """Sign-bit bucket id column for a vector SQL expression (JVM dots,
    the fold: see :func:`_dot_flat`)."""
    bucket = F.lit(0).cast("long")
    for i in range(planes.shape[0]):
        bit = (F.expr(_dot(vec_expr, _vec_lit(planes[i]))) > 0).cast("long")
        bucket = bucket + bit * F.lit(2 ** i)
    return bucket


def lsh_buckets(emb: DataFrame, planes: np.ndarray,
                col: str = "bucket") -> DataFrame:
    """Sign-bit bucket id per vector via JVM dot products (no Python)."""
    return emb.withColumn(col, _bucket_col(EMB_DOUBLE, planes))


def _dot_py(a, b) -> float:
    """Sequential left-fold dot product — the SAME operation order as the
    SQL fold (:func:`_dot`) both engines replay, so a
    driver-side margin/score is bit-identical to its in-SQL twin. numpy
    (BLAS / pairwise summation) can differ in the last ULP, which on a
    near-tie flips a probe bit or rank and silently desynchronizes the
    Spark candidate set from the oracle's."""
    s = 0.0
    for x, y in zip(a, b):
        s += float(x) * float(y)
    return s


def _query_probes(query: list[float], planes: np.ndarray,
                  multiprobe: int) -> list[int]:
    """Base bucket + single-bit flips of the ``multiprobe`` lowest-|margin|
    hyperplanes (classic margin-ranked multiprobe: the bits most likely to
    be on the wrong side of a near neighbor are the ones probed)."""
    q = [float(v) for v in query]
    margins = np.asarray([_dot_py(row, q) for row in planes.tolist()])
    nbits = planes.shape[0]
    qb = int(sum((int(margins[i] > 0)) << i for i in range(nbits)))
    flips = np.argsort(np.abs(margins), kind="stable")[:max(0, multiprobe)]
    return [qb] + [qb ^ (1 << int(i)) for i in flips]


def _probe_cosines(cents, query) -> np.ndarray:
    """Query-to-centroid cosines via the same sequential folds (see
    :func:`_dot_py`); a zero-norm centroid scores -inf (never probed)
    instead of dividing by zero."""
    import math
    q = [float(v) for v in query]
    qn = math.sqrt(_dot_py(q, q))
    out = []
    for c in cents:
        c = [float(v) for v in c]
        den = math.sqrt(_dot_py(c, c)) * qn
        out.append(_dot_py(c, q) / den if den > 0 else float("-inf"))
    return np.asarray(out)


def lsh_topk(emb: DataFrame, query: list[float], k: int = 10,
             nbits: int = 8, tables: int = 2, multiprobe: int = 4,
             seed: int = 7) -> DataFrame:
    """ANN top-k: exact cosine over the UNION of probed LSH buckets across
    ``tables`` independent hash tables (band-OR amplification), each
    probing its base bucket + ``multiprobe`` margin-ranked 1-bit flips.

    Scan fraction ~= tables * (multiprobe+1) / 2^nbits of the buckets
    (~8% on the synthetic corpus at the defaults); on clustered data the
    same parameters hit recall@10 >= 0.9 for cos >= 0.95 neighbors
    (asserted in pytest with planted near neighbors — the sign-LSH
    contract is angle-based, so recall on uniformly RANDOM vectors, whose
    nearest neighbors sit at cos ~ 0.3, is necessarily low; use
    cosine_topk for exhaustive search in that regime).

    At 100 TB: write the table bucketed by the table-0 bucket column so
    probing prunes partitions instead of filtering a full scan."""
    cand = lsh_candidates(emb, query, nbits, tables, multiprobe, seed)
    return (cosine_scores(cand, query)
            .orderBy(F.desc("cos"), F.asc("vec_id")).limit(k))


def lsh_candidates(emb: DataFrame, query: list[float], nbits: int = 8,
                   tables: int = 2, multiprobe: int = 4,
                   seed: int = 7) -> DataFrame:
    """The probed candidate subset (union over tables) — exposed so recall
    and scan-fraction are measurable."""
    d = emb
    conds = []
    for t in range(tables):
        planes = random_hyperplanes(len(query), nbits, seed + t)
        col = f"bucket_{t}"
        d = lsh_buckets(d, planes, col)
        probes = _query_probes(query, planes, multiprobe)
        conds.append(F.col(col).isin(probes))
    keep = conds[0]
    for c in conds[1:]:
        keep = keep | c
    return d.where(keep)


def lsh_topk_duckdb(dim: int, k: int = 10, nbits: int = 8, tables: int = 2,
                    multiprobe: int = 4, seed: int = 7) -> str:
    """Self-contained DuckDB replay of :func:`lsh_topk` (query = vec 0):
    identical plane literals, bucket bits, margin-ranked probe membership,
    and cosine ordering — the driver value-checks the WHOLE ANN path.

    Probe membership is derived in SQL (not pasted as literals): candidate
    x is probed in table t iff xor(bucket_t(x), bucket_t(q)) is 0 or a
    single bit whose |margin| rank (ties by index) is < multiprobe."""
    def arr(v):
        return "[" + ",".join(f"CAST({float(x)} AS DOUBLE)" for x in v) + "]"

    table_cte, table_cond = [], []
    for t in range(tables):
        planes = random_hyperplanes(dim, nbits, seed + t)
        dots_q = [f"list_dot_product(qv, {arr(planes[j])})" for j in range(nbits)]
        dots_x = [f"list_dot_product(v, {arr(planes[j])})" for j in range(nbits)]
        qb = " + ".join(f"(CASE WHEN {dq} > 0 THEN {1 << j} ELSE 0 END)"
                        for j, dq in enumerate(dots_q))
        margins = ", ".join(f"abs({dq}) AS m{j}" for j, dq in enumerate(dots_q))
        # rank of bit j among margins (strictly smaller, ties by index)
        ranks = ", ".join(
            "(" + " + ".join(
                f"(CASE WHEN m{i} < m{j} OR (m{i} = m{j} AND {i} < {j}) "
                f"THEN 1 ELSE 0 END)"
                for i in range(nbits) if i != j) + f") AS r{j}"
            for j in range(nbits))
        table_cte.append(
            f"q{t} AS (SELECT {qb} AS qb, {margins} FROM q),\n"
            f"qr{t} AS (SELECT qb, {ranks} FROM q{t})")
        xb = " + ".join(f"(CASE WHEN {dx} > 0 THEN {1 << j} ELSE 0 END)"
                        for j, dx in enumerate(dots_x))
        flips = " OR ".join(
            f"(xor({xb}, qr{t}.qb) = {1 << j} AND qr{t}.r{j} < {multiprobe})"
            for j in range(nbits))
        table_cond.append(f"(xor({xb}, qr{t}.qb) = 0 OR {flips})")
    ctes = ",\n".join(table_cte)
    froms = " ".join(f"CROSS JOIN qr{t}" for t in range(tables))
    cond = " OR ".join(table_cond)
    return f"""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    {ctes},
    d AS (SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings)
    SELECT vec_id, label,
           round(list_dot_product(v, qv)
                 / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
    FROM d CROSS JOIN q {froms}
    WHERE {cond}
    ORDER BY cos DESC, vec_id ASC LIMIT {k}
    """


def _embedding_dim(emb: DataFrame) -> int | None:
    """Vector width of ``emb``'s fixed-dim ``embedding`` column from a
    one-row probe (limit-1 pushdown, not a full-table aggregate); None
    on an empty or all-NULL table. NULL rows are excluded so a NULL
    landing first cannot misreport an empty table."""
    row = (emb.where(F.col("embedding").isNotNull())
           .select(F.size("embedding")).first())
    return None if row is None else int(row[0])


def embedding_near_dups(emb: DataFrame, threshold: float = 0.9,
                        nbits: int = 8, tables: int = 2,
                        seed: int = 7) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: exact cosine >= threshold
    among pairs sharing an LSH bucket in ANY of ``tables`` hash tables.

    The bucket equi-join keeps the cross product per (table, bucket) —
    never global — and the exact cosine filter runs on candidates only.
    Sign-LSH candidates are approximate-recall by nature (recall rises
    with `tables`, falls with `nbits`); the DuckDB oracle replays the
    SAME bucket membership, so the driver value-checks the full pipeline
    rather than pretending the sketch is lossless."""
    dim = _embedding_dim(emb)
    if dim is None:  # empty input: no rows, well-typed empty result
        return emb.sparkSession.createDataFrame(
            [], "vec_a long, vec_b long, cos double")
    d = emb.select("vec_id", F.expr(EMB_DOUBLE).alias("v"))
    for t in range(tables):
        planes = random_hyperplanes(dim, nbits, seed + t)
        d = d.withColumn(f"b{t}", _bucket_col("v", planes))
    banded = d.select("vec_id", "v", F.explode(F.array(*[
        F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("bk"))
        for t in range(tables)])).alias("s")) \
        .select("vec_id", "v", F.col("s.t").alias("t"), F.col("s.bk").alias("bk"))
    a, b = banded.alias("a"), banded.alias("b")
    # cosine is computed per candidate row, so the threshold runs BEFORE
    # dropDuplicates — the dedup shuffle carries only passing pairs, not
    # every bucket-sharing candidate (identical output)
    return (a.join(b, ["t", "bk"])
            .where(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    _cosine("a.v", "b.v", dim).alias("cos"))
            .where(F.col("cos") >= threshold)
            .dropDuplicates(["vec_a", "vec_b"]))


def embedding_near_dups_duckdb(dim: int, threshold: float = 0.9,
                               nbits: int = 8, tables: int = 2,
                               seed: int = 7) -> str:
    """DuckDB replay of :func:`embedding_near_dups` (same planes, same
    bucket membership, same cosine arithmetic)."""
    def arr(v):
        return "[" + ",".join(f"CAST({float(x)} AS DOUBLE)" for x in v) + "]"

    bks = []
    for t in range(tables):
        planes = random_hyperplanes(dim, nbits, seed + t)
        bks.append(" + ".join(
            f"(CASE WHEN list_dot_product(v, {arr(planes[j])}) > 0 "
            f"THEN {1 << j} ELSE 0 END)" for j in range(nbits)))
    bcols = ", ".join(f"({b}) AS b{t}" for t, b in enumerate(bks))
    share = " OR ".join(f"a.b{t} = b.b{t}" for t in range(tables))
    return f"""
    WITH d AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    bk AS (SELECT vec_id, v, {bcols} FROM d)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
    FROM bk a JOIN bk b ON a.vec_id < b.vec_id AND ({share})
    WHERE round(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(b.v, b.v))), 6) >= {threshold}
    """


def pairwise_pearson(emb: DataFrame, max_vec_id: int | None = None) -> DataFrame:
    """Pearson correlation + sample covariance for every vector pair within
    a label group (reference pairwise product semantics, N x N upper
    triangle). JVM expressions only; round(6) for oracle comparison."""
    d = emb.select("vec_id", "label", F.expr(EMB_DOUBLE).alias("v"))
    if max_vec_id is not None:
        d = d.where(F.col("vec_id") < max_vec_id)
    a, b = d.alias("a"), d.alias("b")
    n = F.expr("size(a.v)").cast("double")
    sx, sy = F.expr(_dot("a.v", "array_repeat(cast(1 as double), size(a.v))")), \
        F.expr(_dot("b.v", "array_repeat(cast(1 as double), size(b.v))"))
    sxy = F.expr(_dot("a.v", "b.v"))
    sxx = F.expr(_dot("a.v", "a.v"))
    syy = F.expr(_dot("b.v", "b.v"))
    # nullif guards (ANSI divide-by-zero): dim-1 vectors (n-1 = 0) and
    # constant vectors (zero variance) yield NULL, not a job abort
    cov = (sxy - sx * sy / n) / F.nullif(n - 1, F.lit(0.0))
    corr = (sxy - sx * sy / n) / F.nullif(
        F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)), F.lit(0.0))
    return (a.join(b, (F.col("a.label") == F.col("b.label"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.label").alias("label"),
                    F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    F.round(cov, 6).alias("cov"),
                    F.round(corr, 6).alias("pearson")))


def series_pairwise_pearson(rollup: DataFrame, window: int,
                            min_overlap: int = 3) -> DataFrame:
    """Reference-native pairwise operator (PairwiseFeatures.jl:39-41):
    Pearson + sample covariance between SERIES — the tier-0 window-mean
    series of two docs in the same source, aligned on window_id, over
    FULL windows only. Pure relational plan: self-equi-join on
    (source, window_id) then an aggregate over exact int64 window sums —
    the shuffle key makes every pair's overlap a co-located group (no
    N^2 blowup beyond same-source pairs), and integer sufficient
    statistics make the result bit-reproducible across engines and
    partitionings (float co-moment aggregation is order-dependent in its
    last ULPs, which flips 6-dp rounding)."""
    s = (rollup.where(F.col("cnt") == window)
         .select("doc_id", "source", "window_id",
                 F.col("sum_tok").cast("bigint").alias("s")))
    # both join sides re-run the upstream tier-0 mapInPandas otherwise
    # (scoped: released by the caller's persist_scope after the action)
    s = scoped_persist(s)
    a, b = s.alias("a"), s.alias("b")
    n = F.col("n_overlap").cast("double")
    sa, sb = F.col("sum_a").cast("double"), F.col("sum_b").cast("double")
    sab = F.col("sum_ab").cast("double")
    saa, sbb = F.col("sum_aa").cast("double"), F.col("sum_bb").cast("double")
    cov = (sab - sa * sb / n) / (n - 1) / F.lit(float(window * window))
    # nullif: a constant window-mean series has zero variance — NULL
    # pearson instead of an ANSI DIVIDE_BY_ZERO job abort
    pearson = ((n * sab - sa * sb)
               / F.nullif(F.sqrt((n * saa - sa * sa)
                                 * (n * sbb - sb * sb)), F.lit(0.0)))
    return (a.join(b, (F.col("a.source") == F.col("b.source"))
                   & (F.col("a.window_id") == F.col("b.window_id"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.source").alias("source"),
                     F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_overlap"),
                 F.sum("a.s").alias("sum_a"), F.sum("b.s").alias("sum_b"),
                 # products of int64 window sums can exceed int64 (window *
                 # token_max ~ 3e9 already wraps); decimal(19,0) operands
                 # make the product decimal(38,0) — exact for ANY two
                 # bigints, no silent wraparound (DuckDB oracle mirrors
                 # with HUGEINT). Cast to double only at the final formula.
                 F.sum(F.col("a.s").cast("decimal(19,0)")
                       * F.col("b.s").cast("decimal(19,0)")).alias("sum_ab"),
                 F.sum(F.col("a.s").cast("decimal(19,0)")
                       * F.col("a.s").cast("decimal(19,0)")).alias("sum_aa"),
                 F.sum(F.col("b.s").cast("decimal(19,0)")
                       * F.col("b.s").cast("decimal(19,0)")).alias("sum_bb"))
            .where(F.col("n_overlap") >= min_overlap)
            .select("source", "doc_a", "doc_b", "n_overlap",
                    F.round(pearson, 6).alias("pearson"),
                    F.round(cov, 6).alias("cov")))


# --------------------------------------------------------------------------
# IVF ANN — inverted-file index (the second classic ANN scale path next to
# LSH): a small coarse-quantizer centroid set partitions vectors into
# cells; a query probes only its nprobe closest cells, so the scan is
# cells-probed/cells-total of the table (and partition-PRUNED when the
# table is written bucketed by `cell`).
# --------------------------------------------------------------------------

def ivf_centroids(emb: DataFrame, n_centroids: int) -> list[list[float]]:
    """Deterministic coarse quantizer: the vectors with vec_id <
    n_centroids, ordered by vec_id (cell c = centroid c). Replayable in
    SQL by construction; a k-means-trained centroid table is a drop-in
    upgrade (every downstream step only sees the centroid list)."""
    rows = (emb.where(F.col("vec_id") < n_centroids)
            .select("vec_id", "embedding").collect())
    return [[float(x) for x in r["embedding"]]
            for r in sorted(rows, key=lambda r: r["vec_id"])]


def _cell_expr(cents: list[list[float]]) -> str:
    """0-based cell id: argmax-cosine over a LITERAL centroid array in ONE
    JVM projection — no shuffle, no cross join, no Python. Ties take the
    FIRST (lowest-cell) maximum: array_position returns the first match."""
    cl = "array(" + ",".join(_vec_lit(c) for c in cents) + ")"
    # the row norm |v| is a positive factor common to every centroid's
    # score, so dividing by it cannot change the argmax — dropping it
    # removes n_centroids redundant v.v dot products per row. Centroid
    # norms stay IN-ENGINE (all-literal expressions Catalyst constant-
    # folds with the same IEEE op order as the fold) so the DuckDB
    # oracle's identical in-SQL arithmetic is bit-equal; a numpy-side
    # normalization would differ in the last ULP (different summation
    # order) and could flip argmax on near-ties.
    # nullif: a zero-norm centroid scores NULL (array_max skips it)
    # instead of aborting the assignment scan under ANSI. The fold, not
    # the flat dot: see _dot_flat.
    scores = (f"transform({cl}, zc -> {_dot(EMB_DOUBLE, 'zc')}"
              f" / nullif(sqrt({_dot('zc', 'zc')}), cast(0 as double)))")
    return f"array_position({scores}, array_max({scores})) - 1"


def ivf_cells(emb: DataFrame, cents: list[list[float]]) -> DataFrame:
    """(vec_id, label, embedding, cell) — assignment in one projection."""
    return emb.withColumn("cell", F.expr(_cell_expr(cents)).cast("int"))


def ivf_candidates(emb: DataFrame, query: list[float],
                   n_centroids: int = 16, nprobe: int = 4,
                   cents: list[list[float]] | None = None) -> DataFrame:
    """The probed IVF candidate subset (the query's ``nprobe`` closest
    cells) — exposed so recall and scan-fraction are measurable."""
    if cents is None:
        cents = ivf_centroids(emb, n_centroids)
    qs = _probe_cosines(cents, query)
    probes = [int(i) for i in np.argsort(-qs, kind="stable")[:nprobe]]
    return ivf_cells(emb, cents).where(F.col("cell").isin(probes))


def ivf_topk(emb: DataFrame, query: list[float], k: int = 10,
             n_centroids: int = 16, nprobe: int = 4,
             cents: list[list[float]] | None = None) -> DataFrame:
    """ANN top-k via IVF: exact cosine over the union of the query's
    ``nprobe`` closest cells. Scan fraction ~= nprobe / n_centroids;
    recall rises with nprobe (nprobe = n_centroids degrades gracefully to
    exact search). At 100 TB: write the table bucketed/partitioned by
    `cell` so probing prunes files instead of filtering a full scan."""
    cand = ivf_candidates(emb, query, n_centroids, nprobe, cents)
    return (cosine_scores(cand, query)
            .orderBy(F.desc("cos"), F.asc("vec_id")).limit(k))


def ivf_topk_duckdb(k: int = 10, n_centroids: int = 16,
                    nprobe: int = 4) -> str:
    """Self-contained DuckDB replay of :func:`ivf_topk` (query = vec 0):
    same centroid rule (vec_id < n_centroids), same first-maximum argmax
    cell assignment, same probe ranking, same cosine ordering."""
    vd = "list_transform({e}.embedding, zx -> CAST(zx AS DOUBLE))"
    return f"""
    WITH q AS (SELECT {vd.format(e='embeddings')} AS qv
               FROM embeddings WHERE vec_id = 0),
    cents AS (SELECT vec_id AS cell,
                     {vd.format(e='embeddings')} AS cv
              FROM embeddings WHERE vec_id < {n_centroids}),
    cl AS (SELECT list(cv ORDER BY cell) AS cvs FROM cents),
    probes AS (SELECT cell FROM cents, q
               ORDER BY list_dot_product(cv, q.qv)
                        / (sqrt(list_dot_product(cv, cv))
                           * sqrt(list_dot_product(q.qv, q.qv))) DESC,
                        cell ASC
               LIMIT {nprobe}),
    scored AS (SELECT e.vec_id, e.label, {vd.format(e='e')} AS v,
                      list_transform(cl.cvs, zc ->
                          list_dot_product({vd.format(e='e')}, zc)
                          / sqrt(list_dot_product(zc, zc))) AS scores
               FROM embeddings e, cl),
    assigned AS (SELECT vec_id, label, v,
                        list_position(scores, list_max(scores)) - 1 AS cell
                 FROM scored)
    SELECT a.vec_id, a.label,
           round(list_dot_product(a.v, q.qv)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
    FROM assigned a, q
    WHERE a.cell IN (SELECT cell FROM probes)
    ORDER BY cos DESC, a.vec_id ASC
    LIMIT {k}
    """


def build_ivf_index(emb: DataFrame, path: str, n_centroids: int = 16,
                    cents: list[list[float]] | None = None) -> None:
    """Materialize the IVF index: the table rewritten PARTITIONED BY cell
    (one directory per coarse-quantizer cell) plus the centroid list as
    JSON alongside. Queries against the index read only their probed
    cells' files — real partition pruning, not a post-scan filter."""
    import json as _json

    if cents is None:
        cents = ivf_centroids(emb, n_centroids)
    (ivf_cells(emb, cents).write.mode("overwrite")
     .partitionBy("cell").parquet(path))
    # Hadoop FS, not driver-local pathlib: index paths may be remote
    from tsf.io import hadoop_write_text
    hadoop_write_text(emb.sparkSession, f"{path}/_ivf_centroids.json",
                      _json.dumps(cents))


def ivf_topk_indexed(spark, path: str, query: list[float], k: int = 10,
                     nprobe: int = 4) -> DataFrame:
    """ANN top-k against a built IVF index: rank the stored centroids
    against the query driver-side, then scan ONLY the nprobe probed cell
    partitions (partition pruning does the file skipping)."""
    import json as _json

    from tsf.io import hadoop_read_text
    cents = _json.loads(hadoop_read_text(spark,
                                         f"{path}/_ivf_centroids.json"))
    qs = _probe_cosines(cents, query)
    probes = [int(i) for i in np.argsort(-qs, kind="stable")[:nprobe]]
    cand = spark.read.parquet(path).where(F.col("cell").isin(probes))
    return (cosine_scores(cand, query)
            .orderBy(F.desc("cos"), F.asc("vec_id")).limit(k))


def build_lsh_index(emb: DataFrame, path: str, nbits: int = 8,
                    tables: int = 2, seed: int = 7) -> None:
    """Materialize the LSH index: all tables' bucket columns precomputed,
    layout PARTITIONED BY the table-0 bucket (the dimension a query
    prunes on); dims/params stored as JSON alongside."""
    import json as _json

    from tsf.io import hadoop_write_text
    dim = _embedding_dim(emb)
    if dim is None:
        raise ValueError(
            "cannot build an LSH index from an empty / all-NULL "
            "embedding table (vector dimension is unknowable)")
    d = emb
    for t in range(tables):
        d = lsh_buckets(d, random_hyperplanes(dim, nbits, seed + t),
                        f"bucket_{t}")
    d.write.mode("overwrite").partitionBy("bucket_0").parquet(path)
    # Hadoop FS, not driver-local pathlib: index paths may be remote
    hadoop_write_text(emb.sparkSession, f"{path}/_lsh_params.json",
                      _json.dumps({"nbits": nbits, "tables": tables,
                                   "seed": seed, "dim": dim}))


def lsh_topk_indexed(spark, path: str, query: list[float], k: int = 10,
                     multiprobe: int = 4) -> DataFrame:
    """ANN top-k against a built LSH index, structured so partition
    pruning actually fires: a naive OR across tables' probe conditions
    would force reading every partition, so the scan is a UNION of (a)
    the table-0 probes as a pure partition filter (file skipping) and
    (b) the other tables' probes as a column filter EXCLUDING table-0
    candidates (no duplicates, no dedup shuffle). Candidate set is
    identical to lsh_topk: c0 OR rest == c0 UNION (rest AND NOT c0)."""
    import json as _json

    from tsf.io import hadoop_read_text
    p = _json.loads(hadoop_read_text(spark, f"{path}/_lsh_params.json"))
    d = spark.read.parquet(path)
    conds = []
    for t in range(p["tables"]):
        planes = random_hyperplanes(p["dim"], p["nbits"], p["seed"] + t)
        probes = _query_probes(query, planes, multiprobe)
        conds.append(F.col(f"bucket_{t}").isin(probes))
    cand = d.where(conds[0])
    if len(conds) > 1:
        rest = conds[1]
        for c in conds[2:]:
            rest = rest | c
        cand = cand.unionByName(d.where(rest & ~conds[0]))
    return (cosine_scores(cand, query)
            .orderBy(F.desc("cos"), F.asc("vec_id")).limit(k))


def ivf_train_centroids(emb: DataFrame, k: int = 16, max_iter: int = 10,
                        seed: int = 7) -> list[list[float]]:
    """Spherical-ish k-means coarse quantizer via Spark MLlib: rows are
    L2-normalized before Euclidean k-means (the standard cosine
    approximation), so the learned centers partition by angle — the
    quantity IVF assignment ranks on. Drop-in for every ivf_* function's
    ``cents`` argument; the deterministic vec_id-prefix rule remains the
    oracle-replayable default."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # zero-norm rows carry no angle: drop them rather than divide by
    # zero (ANSI abort) / feed NaN features to the trainer.
    # r6: hoist the row norm out of the transform lambda — the old
    # in-lambda sqrt(dot) re-evaluated the full dot product per ELEMENT
    # (dim x dim mult-adds per row); same arithmetic, computed once.
    d = (emb.where(F.col("embedding").isNotNull())
         .select(F.expr(EMB_DOUBLE).alias("v"))
         .withColumn("nrm", F.sqrt(F.expr(_dot("v", "v"))))
         .where(F.col("nrm") > 0)
         .select(array_to_vector(
             F.expr("transform(v, zx -> zx / nrm)")).alias("features")))
    model = KMeans(k=k, maxIter=max_iter, seed=seed).fit(d)
    return [[float(x) for x in c] for c in model.clusterCenters()]


# --------------------------------------------------------------------------
# SemDeDup — semantic near-duplicate pruning over embeddings (Abbas et
# al. 2023, arXiv:2303.09540): cluster the corpus with a coarse
# quantizer, then compare pairs WITHIN each cluster only — the classic
# "not all pairs" reduction (cost sum-of-squared-cell-sizes, never
# N^2), reusing the IVF assignment machinery. Keep rule: the lowest
# vec_id in each duplicate neighborhood survives (the paper keeps the
# vector farthest from the centroid; lowest-id is the deterministic,
# engine-independent variant — the cell products and threshold are
# identical).
# --------------------------------------------------------------------------

def semdedup(emb: DataFrame, n_cells: int = 16, threshold: float = 0.95,
             cents: list[list[float]] | None = None) -> DataFrame:
    """(vec_id, cell, n_earlier_dups, dup_of, keep): within-cell cosine
    near-duplicate marking. ``keep`` is False iff some LOWER vec_id in
    the same cell has cosine >= threshold (that earliest one is
    ``dup_of``). Scale shape: one shuffle-free assignment projection,
    one cell-keyed self-join (per-cell products only — plan-asserted not
    cartesian), one per-vec aggregate.

    The caller owns cache lifetime (wrap in tsf.caching.persist_scope);
    ``cents`` defaults to the deterministic vec_id-prefix quantizer and
    accepts :func:`ivf_train_centroids` output as a drop-in."""
    if cents is None:
        cents = ivf_centroids(emb, n_cells)
    cells = scoped_persist(
        ivf_cells(emb, cents)
        .select("vec_id", F.expr(EMB_DOUBLE).alias("v"), "cell"))
    a, b = cells.alias("a"), cells.alias("b")
    dim = len(cents[0]) if cents else 0
    dups = (a.join(b, "cell")
            .where(F.col("b.vec_id") < F.col("a.vec_id"))
            .where(_cosine("a.v", "b.v", dim) >= threshold)
            .groupBy(F.col("a.vec_id").alias("vec_id"))
            .agg(F.count("*").alias("n_dups"),
                 F.min(F.col("b.vec_id")).alias("dup_of")))
    return (cells.join(dups, "vec_id", "left")
            .select("vec_id", F.col("cell").cast("int").alias("cell"),
                    F.coalesce("n_dups", F.lit(0)).cast("int")
                    .alias("n_earlier_dups"),
                    "dup_of",
                    F.col("dup_of").isNull().alias("keep")))


def semdedup_duckdb(n_cells: int = 16, threshold: float = 0.95) -> str:
    """Self-contained DuckDB replay of :func:`semdedup` with the default
    deterministic quantizer (same first-maximum argmax assignment as
    :func:`ivf_topk_duckdb`, same rounded-cosine threshold)."""
    vd = "list_transform({e}.embedding, zx -> CAST(zx AS DOUBLE))"
    return f"""
    WITH cents AS (SELECT vec_id AS cell, {vd.format(e='embeddings')} AS cv
                   FROM embeddings WHERE vec_id < {n_cells}),
    cl AS (SELECT list(cv ORDER BY cell) AS cvs FROM cents),
    scored AS (SELECT e.vec_id, {vd.format(e='e')} AS v,
                      list_transform(cl.cvs, zc ->
                          list_dot_product({vd.format(e='e')}, zc)
                          / sqrt(list_dot_product(zc, zc))) AS scores
               FROM embeddings e, cl),
    assigned AS (SELECT vec_id, v,
                        list_position(scores, list_max(scores)) - 1 AS cell
                 FROM scored),
    dups AS (SELECT a.vec_id, count(*) AS n_dups, min(b.vec_id) AS dup_of
             FROM assigned a JOIN assigned b
               ON a.cell = b.cell AND b.vec_id < a.vec_id
              AND round(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 6)
                  >= {threshold}
             GROUP BY 1)
    SELECT a.vec_id, CAST(a.cell AS INT) AS cell,
           CAST(coalesce(d.n_dups, 0) AS INT) AS n_earlier_dups,
           d.dup_of AS dup_of, d.dup_of IS NULL AS keep
    FROM assigned a LEFT JOIN dups d USING (vec_id)
    """


# --------------------------------------------------------------------------
# Random sign projection (Achlioptas 2003 / Johnson–Lindenstrauss):
# project dim-d embeddings onto out_dim +-1 directions, scaled by
# 1/sqrt(out_dim) so expected pairwise distances are preserved. The
# 100 TB use is cheap dimensionality reduction AHEAD of ANN / clustering
# / near-dup passes (out_dim/dim of the vector bytes through every
# downstream shuffle); the projection itself is one row-local projection
# — ZERO Exchange, the matrix rides as literals (broadcast-sized:
# out_dim x dim doubles).
# --------------------------------------------------------------------------

def proj_signs(dim: int, out_dim: int, seed: int = 7) -> np.ndarray:
    """Deterministic +-1 sign matrix (out_dim x dim)."""
    rng = np.random.default_rng(seed)
    return np.where(rng.random((out_dim, dim)) < 0.5, -1.0, 1.0)


def rand_proj(emb: DataFrame, out_dim: int = 16,
              seed: int = 7) -> DataFrame:
    """(vec_id, j, val): component ``j`` of the sign-projected embedding,
    rounded to 6 dp (exploded long-form so the driver's value hash
    covers every component)."""
    dim = _embedding_dim(emb) or 0
    signs = proj_signs(dim, out_dim, seed)
    scale = repr(float(np.sqrt(out_dim)))
    # the fold, not the flat dot: see _dot_flat
    comps = [F.expr(f"{_dot(EMB_DOUBLE, _vec_lit(signs[j]))} / {scale}")
             for j in range(out_dim)]
    return (emb.select("vec_id", F.array(*comps).alias("p"))
            .select("vec_id", F.posexplode("p").alias("j", "val"))
            .select("vec_id", F.col("j").cast("int").alias("j"),
                    F.round("val", 6).alias("val")))


def rand_proj_duckdb(dim: int, out_dim: int = 16, seed: int = 7) -> str:
    """DuckDB replay with the SAME literal sign rows (identical fold
    order: list_dot_product == the Spark zip_with/aggregate fold)."""
    signs = proj_signs(dim, out_dim, seed)
    scale = repr(float(np.sqrt(out_dim)))

    def arr(v):
        return "[" + ",".join(f"CAST({float(x)} AS DOUBLE)" for x in v) + "]"

    pr = "[" + ",".join(
        f"list_dot_product(v, {arr(signs[j])}) / {scale}"
        for j in range(out_dim)) + "]"
    return f"""
    WITH d AS (SELECT vec_id,
                      list_transform(embedding, zx -> CAST(zx AS DOUBLE)) AS v
               FROM embeddings),
    p AS (SELECT vec_id, {pr} AS pr FROM d)
    SELECT vec_id,
           CAST(generate_subscripts(pr, 1) - 1 AS INT) AS j,
           round(unnest(pr), 6) AS val
    FROM p
    """


# --------------------------------------------------- hard-negative mining

def hard_negatives(emb: DataFrame, n_queries: int = 8,
                   k: int = 5) -> DataFrame:
    """Contrastive hard-negative mining: for each of the first
    ``n_queries`` vectors (by vec_id — deterministic), the ``k`` most
    cosine-similar vectors with a DIFFERENT label (the near-miss
    negatives contrastive training wants; same-label rows are
    positives, not negatives). Returns (q_id, q_label, vec_id, label,
    cos, rnk), cosine rounded to 6 (the cross-engine contract every
    similarity query here uses), ties broken by vec_id.

    Scale shape (100 TB): the query set is tiny and BROADCASTS (one
    BroadcastNestedLoopJoin with the label-mismatch condition — the
    corpus side never shuffles raw embeddings); the per-query top-k is
    a row_number window whose rank filter Spark rewrites to
    WindowGroupLimit, so each partition keeps only its local top-k
    BEFORE the q_id Exchange — the shuffle moves O(n_queries × k ×
    partitions) rows, not the corpus (plan-asserted)."""
    from pyspark.sql import Window

    # flat dots need the vector width; empty or all-NULL input: no
    # rows, well-typed empty result (as embedding_near_dups)
    dim = _embedding_dim(emb)
    if dim is None:
        return emb.sparkSession.createDataFrame(
            [], "q_id long, q_label string, vec_id long, label string, "
                "cos double, rnk int")
    q = (emb.orderBy("vec_id").limit(int(n_queries))
         .select(F.col("vec_id").alias("q_id"),
                 F.col("label").alias("q_label"),
                 F.expr(EMB_DOUBLE).alias("q_emb")))
    d = emb.select("vec_id", "label", F.expr(EMB_DOUBLE).alias("v"))
    j = d.join(F.broadcast(q), F.expr("label != q_label"))
    scored = j.select("q_id", "q_label", "vec_id", "label",
                      _cosine("v", "q_emb", dim).alias("cos"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
                  .where(F.col("rnk") <= int(k)))


def hard_negatives_duckdb(n_queries: int = 8, k: int = 5) -> str:
    """DuckDB replay of :func:`hard_negatives` (same round-6 cosine,
    same (cos DESC, vec_id) order, same label-mismatch condition)."""
    return f"""
    WITH d AS (SELECT vec_id, label,
                      list_transform(embedding, zx -> CAST(zx AS DOUBLE)) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS q_id, label AS q_label, v AS q_emb
          FROM d ORDER BY vec_id LIMIT {int(n_queries)}),
    s AS (SELECT q_id, q_label, d.vec_id, d.label,
                 round(list_dot_product(v, q_emb)
                       / nullif(sqrt(list_dot_product(v, v))
                                * sqrt(list_dot_product(q_emb, q_emb)),
                                0.0), 6) AS cos
          FROM d, q WHERE d.label != q.q_label)
    SELECT q_id, q_label, vec_id, label, cos,
           CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY cos DESC NULLS LAST, vec_id) AS BIGINT) AS rnk
    FROM s
    QUALIFY rnk <= {int(k)}
    """
