"""DSIR-style data selection: importance resampling on hashed n-grams.

Implements the selection scheme of Xie et al. 2023, "Data Selection for
Language Models via Importance Resampling" (DSIR): fit bag-of-hashed-
n-gram unigram models over a TARGET slice (the high-quality reference
distribution) and over the RAW corpus, weight every raw document by its
importance ratio

    log w(doc) = sum_grams log( p_target(bucket(gram)) /
                                p_raw(bucket(gram)) )

with add-1 smoothing over ``buckets`` hash buckets, then resample
without replacement via Gumbel top-k (key = log w + Gumbel(0,1), the
standard Gumbel-max reduction of softmax sampling).

Cross-engine exactness (the repo's value-hash contract):

- Features are word unigrams + bigrams hashed with the PRODUCTION
  ``xxhash64`` (string path, seed 42); the oracle replays the hash
  bit-exactly via :mod:`tsf.xxh64_sql`, and ``bucket = pmod(hash, B)``
  is integer arithmetic both sides.
- The per-bucket log-ratio is rounded to INTEGER MICRO-NATS
  (``floor(ln(ratio) * 1e6 + 0.5)``) the moment it is computed, so the
  per-doc score is a pure BIGINT sum — order-free and exactly
  replayable. ``ln`` is the single float step; its argument is built
  from integer counts with an IDENTICAL expression shape in both
  engines (shared format strings below), so both engines evaluate ln on
  bit-identical doubles and a 6-dp flip would need the true value
  within one ulp of a 0.5e-6 boundary (ratio == 1 hits the boundary
  exactly — ln gives exactly 0.0 in both engines, so the common
  "bucket seen equally often" case is exact, not lucky).
- Gumbel noise is a pure function of doc_id: u = (pmod(xxhash64(doc_id
  || ':gum'), 2^20) + 0.5) / 2^20 is an exact dyadic rational, and the
  perturbation is micro-rounded the same way, so the resample is
  reproducible across runs, engines, and cluster sizes.

Scale shape (100 TB): pass 1 explodes grams and partial-aggregates to
<= ``buckets`` rows per task before the one bucket-keyed Exchange
(B rows total); totals derive from the bucket table itself (no second
corpus scan); the micro-nat table BROADCASTS. Pass 2 explodes grams,
joins the broadcast table, and partial-aggregates per doc — the only
corpus-sized Exchange carries (doc_id, two BIGINTs). Raw text never
crosses an Exchange, and the top-k resample is TakeOrderedAndProject,
never a global sort (both plan-asserted in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast

from tsf.textstats import _WORDS, _grams_expr

#: unigrams + bigrams over whitespace words (the DSIR feature family)
_GRAMS = f"concat({_WORDS}, {_grams_expr(2)})"

#: per-bucket log-ratio in integer micro-nats — ONE format string used
#: verbatim by both engines so ln() sees bit-identical doubles
_LR_MICRO = (
    "CAST(floor(ln(((CAST(t_b AS DOUBLE) + 1.0)"
    " * (CAST(r_total AS DOUBLE) + {B}.0))"
    " / ((CAST(r_b AS DOUBLE) + 1.0)"
    " * (CAST(t_total AS DOUBLE) + {B}.0)))"
    " * 1000000.0 + 0.5) AS BIGINT)")

#: _LR_MICRO at c_a = c_b = 0 — the per-bucket micro-nat contribution of
#: a bucket empty in both slices (corpus_drift folds count × this in).
_LR0_MICRO = (
    "CAST(floor(ln((CAST(r_total AS DOUBLE) + {B}.0)"
    " / (CAST(t_total AS DOUBLE) + {B}.0))"
    " * 1000000.0 + 0.5) AS BIGINT)")

#: Gumbel(0,1) perturbation in micro-nats from a signed 64-bit hash {h}
_GUMBEL_MICRO = (
    "CAST(floor(-ln(-ln(((({h}) % 1048576 + 1048576) % 1048576 + 0.5)"
    " / 1048576.0)) * 1000000.0 + 0.5) AS BIGINT)")


def dsir_weights(docs: DataFrame, target_where: str,
                 buckets: int = 256) -> DataFrame:
    """Per-document DSIR importance weight: (doc_id, n_grams,
    logw_micro) with logw_micro the integer micro-nat log importance
    ratio (target/raw) summed over the doc's hashed unigram+bigram
    occurrences. Documents with no words keep (0, 0).

    The corpus gram explode runs ONCE: occurrences aggregate immediately
    to the compact per-(doc, bucket) count table ``occ_d`` (<= ``buckets``
    rows per doc — text never crosses an Exchange), which is persisted
    (scoped) and feeds the bucket stats, the totals AND the per-doc
    score. The previous shape re-ran the explode+hash subtree once per
    consumer branch (Catalyst does not CSE across branches — three full
    corpus passes, plan-measured). All downstream sums are exact BIGINT
    folds of the counts, so values are bit-identical to the
    per-occurrence form the oracle replays."""
    from tsf.caching import scoped_persist
    from tsf.spread import spread_rows
    B = int(buckets)
    # narrow-scan guard (guide §2.5): the gram explode + per-gram hash
    # is the heavy row-local stage — on a single-row-group input it
    # would run as one task; no-op on real many-file tables
    occ = spread_rows(docs).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(f"CAST(({target_where}) AS INT)").alias("is_t"),
        F.explode(F.expr(_GRAMS)).alias("g"),
    ).withColumn("b", F.pmod(F.xxhash64("g"), F.lit(B)))
    occ_d = scoped_persist(
        occ.groupBy("doc_id", "is_t", "b").agg(F.count("*").alias("c")))
    stats = occ_d.groupBy("b").agg(
        F.sum("c").alias("r_b"),
        F.sum(F.col("is_t").cast("bigint") * F.col("c")).alias("t_b"))
    tot = stats.agg(F.sum("r_b").alias("r_total"),
                    F.sum("t_b").alias("t_total"))
    lr = (stats.crossJoin(broadcast(tot))
          .select("b", F.expr(_LR_MICRO.format(B=B)).alias("lr_micro")))
    sc = (occ_d.join(broadcast(lr), "b")
          .groupBy("doc_id")
          .agg(F.sum("c").alias("n_grams"),
               F.sum(F.col("c") * F.col("lr_micro")).alias("logw_micro")))
    base = docs.select(F.col("doc_id").cast("string").alias("doc_id"))
    return (base.join(sc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_grams", F.lit(0)).cast("bigint")
                    .alias("n_grams"),
                    F.coalesce("logw_micro", F.lit(0)).cast("bigint")
                    .alias("logw_micro")))


def dsir_sample(docs: DataFrame, target_where: str, k: int = 100,
                buckets: int = 256) -> DataFrame:
    """Gumbel top-k importance resample (without replacement): the k
    docs with the largest logw_micro + Gumbel(0,1) micro-nat keys.
    Deterministic: the noise is a pure function of doc_id."""
    w = dsir_weights(docs, target_where, buckets=buckets)
    g = _GUMBEL_MICRO.format(h="xxhash64(concat(doc_id, ':gum'))")
    keyed = w.withColumn(
        "key_micro", (F.col("logw_micro") + F.expr(g)).cast("bigint"))
    return (keyed.orderBy(F.desc("key_micro"), F.asc("doc_id"))
            .limit(int(k))
            .select("doc_id", "logw_micro", "key_micro"))


# ------------------------------------------------------- DuckDB replays

#: unigram+bigram occurrence list from a word list ``ws`` (DuckDB)
_GRAMS_DUCK = ("ws || list_transform(range(1, greatest(len(ws) - 1, 0)"
               " + 1), i -> concat_ws(' ', ws[i], ws[i+1]))")


def _occ_ctes(target_where: str, B: int) -> str:
    """CTEs: per-occurrence (doc_id, is_t, bucket) with the production
    xxhash64 computed once per DISTINCT gram."""
    from tsf.xxh64_sql import hash_bytes_layers
    gh = hash_bytes_layers("SELECT s FROM g", "s", "hs", "db")
    return f"""
    w AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 CAST(({target_where}) AS INT) AS is_t,
                 list_filter(string_split(text, ' '),
                             x -> length(x) > 0) AS ws
          FROM documents),
    occ AS (SELECT doc_id, is_t, unnest({_GRAMS_DUCK}) AS g FROM w),
    g AS (SELECT DISTINCT g AS s FROM occ),
    gh AS MATERIALIZED (SELECT s, hs FROM ({gh})),
    ob AS (SELECT occ.doc_id, occ.is_t,
                  ((gh.hs % {B}) + {B}) % {B} AS b
           FROM occ JOIN gh ON occ.g = gh.s),
    stats AS (SELECT b, CAST(count(*) AS BIGINT) AS r_b,
                     CAST(sum(is_t) AS BIGINT) AS t_b
              FROM ob GROUP BY 1),
    tot AS (SELECT sum(r_b) AS r_total, sum(t_b) AS t_total FROM stats),
    lr AS (SELECT b, {_LR_MICRO.format(B=B)} AS lr_micro
           FROM stats CROSS JOIN tot),
    sc AS (SELECT ob.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                  CAST(sum(lr_micro) AS BIGINT) AS logw_micro
           FROM ob JOIN lr USING (b) GROUP BY 1),
    wts AS (SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
                   coalesce(sc.n_grams, 0) AS n_grams,
                   coalesce(sc.logw_micro, 0) AS logw_micro
            FROM documents d
            LEFT JOIN sc ON CAST(d.doc_id AS VARCHAR) = sc.doc_id)
    """


def dsir_weights_duckdb(target_where: str, buckets: int = 256) -> str:
    return (f"WITH {_occ_ctes(target_where, int(buckets))}"
            f" SELECT doc_id, n_grams, logw_micro FROM wts")


def dsir_sample_duckdb(target_where: str, k: int = 100,
                       buckets: int = 256) -> str:
    from tsf.xxh64_sql import hash_bytes_layers
    gh = hash_bytes_layers(
        "SELECT doc_id, logw_micro, concat(doc_id, ':gum') AS gs"
        " FROM wts", "gs", "ghs", "gm")
    g = _GUMBEL_MICRO.format(h="ghs")
    return f"""
    WITH {_occ_ctes(target_where, int(buckets))},
    keyed AS (SELECT doc_id, logw_micro,
                     CAST(logw_micro + {g} AS BIGINT) AS key_micro
              FROM ({gh}))
    SELECT doc_id, logw_micro, key_micro FROM keyed
    ORDER BY key_micro DESC, doc_id ASC LIMIT {int(k)}
    """


# ----------------------------------------------- corpus drift monitor

def corpus_drift(docs: DataFrame, where_a: str, where_b: str,
                 buckets: int = 1024, k: int = 50) -> DataFrame:
    """Distribution drift between two corpus slices — the
    crawl-over-crawl monitoring signal: smoothed KL(A||B) over hashed
    word unigram buckets, with the top-k drifting buckets as evidence.

    Per bucket b: contrib = (c_a+1) * ln((c_a+1)(n_b+B) /
    ((c_b+1)(n_a+B))); KL(A||B) = sum(contrib) / (n_a+B), where the sum
    runs over ALL B buckets: the B - n_occupied buckets empty in both
    slices each contribute 1 * ln((n_b+B)/(n_a+B)) — nonzero whenever
    the slice sizes differ — folded in as one closed-form term (count ×
    per-empty-bucket micro-nats), not by materializing empty rows. The
    ln is the DSIR ``_LR_MICRO`` expression VERBATIM (micro-nat-rounded
    per bucket), so contributions and the scaled total are order-free
    BIGINT sums the oracle replays bit-for-bit; the caller divides
    ``kl_total_micro_scaled`` by ``(n_a + buckets) * 1e6`` for nats —
    n_a and n_b ride along as output columns so no second corpus pass
    is needed to normalize.

    Scale shape: docs outside both slices are filtered BEFORE the
    explode (pushed to the scan); per-bucket counts partial-aggregate
    map-side into ONE Exchange of <= buckets rows per task; totals and
    the grand total derive from the bucket table (no second corpus
    scan) and broadcast; top-k is TakeOrderedAndProject.

    Output: (b, c_a, c_b, contrib_micro, kl_total_micro_scaled, n_a,
    n_b) — the k buckets with the largest drift contribution (ties by
    b)."""
    B = int(buckets)
    occ = (docs.where(F.expr(f"({where_a}) OR ({where_b})"))
           .select(F.expr(f"CAST(({where_a}) AS INT)").alias("is_a"),
                   F.expr(f"CAST(({where_b}) AS INT)").alias("is_b"),
                   F.explode(F.expr(_WORDS)).alias("g"))
           .withColumn("b", F.pmod(F.xxhash64("g"), F.lit(B))))
    stats = occ.groupBy("b").agg(
        F.sum("is_a").alias("t_b"), F.sum("is_b").alias("r_b"))
    tot = stats.agg(F.sum("t_b").alias("t_total"),
                    F.sum("r_b").alias("r_total"),
                    F.count(F.lit(1)).alias("n_occ"))
    contrib = (stats.crossJoin(broadcast(tot))
               .select("b", F.col("t_b").alias("c_a"),
                       F.col("r_b").alias("c_b"),
                       ((F.col("t_b") + F.lit(1))
                        * F.expr(_LR_MICRO.format(B=B)))
                       .cast("bigint").alias("contrib_micro")))
    summary = (contrib.agg(F.sum("contrib_micro").alias("occ_micro"))
               .crossJoin(broadcast(tot))
               .select((F.col("occ_micro")
                        + (F.lit(B) - F.col("n_occ"))
                        * F.expr(_LR0_MICRO.format(B=B)))
                       .cast("bigint").alias("kl_total_micro_scaled"),
                       F.col("t_total").cast("bigint").alias("n_a"),
                       F.col("r_total").cast("bigint").alias("n_b")))
    return (contrib.crossJoin(broadcast(summary))
            .orderBy(F.desc("contrib_micro"), F.asc("b"))
            .limit(int(k)))


def corpus_drift_duckdb(where_a: str, where_b: str, buckets: int = 1024,
                        k: int = 50) -> str:
    from tsf.xxh64_sql import hash_bytes_layers
    B = int(buckets)
    gh = hash_bytes_layers("SELECT s FROM g", "s", "hs", "cd")
    return f"""
    WITH w AS (SELECT CAST(({where_a}) AS INT) AS is_a,
                      CAST(({where_b}) AS INT) AS is_b,
                      list_filter(string_split(text, ' '),
                                  x -> length(x) > 0) AS ws
               FROM documents WHERE ({where_a}) OR ({where_b})),
    occ AS (SELECT is_a, is_b, unnest(ws) AS g FROM w),
    g AS (SELECT DISTINCT g AS s FROM occ),
    gh AS MATERIALIZED (SELECT s, hs FROM ({gh})),
    ob AS (SELECT occ.is_a, occ.is_b, ((gh.hs % {B}) + {B}) % {B} AS b
           FROM occ JOIN gh ON occ.g = gh.s),
    stats AS (SELECT b, CAST(sum(is_a) AS BIGINT) AS t_b,
                     CAST(sum(is_b) AS BIGINT) AS r_b
              FROM ob GROUP BY 1),
    tot AS (SELECT sum(t_b) AS t_total, sum(r_b) AS r_total,
                   count(*) AS n_occ FROM stats),
    contrib AS (SELECT b, t_b AS c_a, r_b AS c_b,
                       CAST((t_b + 1) * ({_LR_MICRO.format(B=B)})
                            AS BIGINT) AS contrib_micro
                FROM stats CROSS JOIN tot),
    total AS (SELECT CAST(occ_micro + ({B} - n_occ)
                          * ({_LR0_MICRO.format(B=B)}) AS BIGINT)
                     AS kl_total_micro_scaled,
                     CAST(t_total AS BIGINT) AS n_a,
                     CAST(r_total AS BIGINT) AS n_b
              FROM (SELECT CAST(sum(contrib_micro) AS BIGINT)
                           AS occ_micro FROM contrib)
              CROSS JOIN tot)
    SELECT b, c_a, c_b, contrib_micro, kl_total_micro_scaled, n_a, n_b
    FROM contrib CROSS JOIN total
    ORDER BY contrib_micro DESC, b ASC LIMIT {int(k)}
    """
