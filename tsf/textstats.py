"""Text-analysis operators for the training-data pipeline (documents table).

All four are pure Spark SQL expressions (JVM-side, codegen'd — no Python),
and each has a DuckDB-equivalent SQL so the driver's oracle can replay it:

- token counting: whitespace words + the deterministic tokenizer (tsf.io).
- quality scoring: length / punctuation / stopword / uniqueness ratios.
- language ID: stopword-hit heuristic over small per-language stoplists.
- document fingerprinting: polynomial rolling hash of the token stream
  (fold with ``a*31 + x mod 2^31-1`` — expressible as ``aggregate`` in
  Spark and ``list_reduce`` in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "for", "on", "with"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "ein"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "pour", "dans"],
}

_WORDS = "filter(split(text, ' '), w -> length(w) > 0)"
FP_MOD = 2147483647  # 2^31 - 1


def fp_expr(col: str) -> str:
    """Polynomial rolling-hash fold over a long/int array column — the
    ONE Spark-side spelling of the fingerprint family (base 31 mod
    2^31-1). Every query comparing token arrays by fingerprint must use
    this helper so the family can never drift between call sites (the
    DuckDB replays mirror it via list_reduce with the same constants)."""
    return f"aggregate({col}, 0L, (a, x) -> (a * 31 + x) % {FP_MOD})"


def _sw_arr(lang: str) -> str:
    return "array(" + ",".join(f"'{w}'" for w in STOPWORDS[lang]) + ")"


def _sw_list(lang: str) -> str:
    return "[" + ",".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"


def _r6(col):
    """Tie-proof 6-dp rounding: floor(x*1e6 + 0.5)/1e6 — bit-identical in
    Spark and DuckDB given identical input doubles (decimal round() differs
    between the engines on exact dyadic ties like interpolated midpoints)."""
    return F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def with_text_stats(docs: DataFrame) -> DataFrame:
    """doc_id + n_words, avg_word_len, stopword_ratio, uniq_ratio,
    quality (composite in [0,1] from the rounded intermediates)."""
    words = F.expr(_WORDS)
    n_words = F.size(words)
    sw = F.expr(
        f"size(filter({_WORDS}, w -> array_contains({_sw_arr('en')}, lower(w))))")
    uniq = F.expr(f"size(array_distinct({_WORDS}))")
    avg_len = F.expr(
        f"aggregate({_WORDS}, 0L, (a, w) -> a + length(w))") / n_words
    out = (docs
           .withColumn("n_words", n_words.cast("int"))
           .withColumn("avg_word_len", _r6(avg_len))
           .withColumn("stopword_ratio", _r6(sw / n_words))
           .withColumn("uniq_ratio", _r6(uniq / n_words)))
    quality = (
        F.least(F.col("n_words") / F.lit(64.0), F.lit(1.0)) * 0.4
        + F.col("stopword_ratio") * 2.0 * 0.3
        + F.col("uniq_ratio") * 0.3)
    return out.withColumn("quality", _r6(F.least(quality, F.lit(1.0))))


def text_stats_duckdb() -> str:
    w = "list_filter(string_split(text, ' '), w -> length(w) > 0)"
    r6 = "floor(({x}) * 1000000.0 + 0.5) / 1000000.0"
    sw = f"len(list_filter({w}, w -> list_contains({_sw_list('en')}, lower(w))))"
    base = f"""
      SELECT doc_id,
             CAST(len({w}) AS INT) AS n_words,
             {r6.format(x=f"list_sum(list_transform({w}, w -> length(w))) * 1.0 / len({w})")} AS avg_word_len,
             {r6.format(x=f"{sw} * 1.0 / len({w})")} AS stopword_ratio,
             {r6.format(x=f"len(list_distinct({w})) * 1.0 / len({w})")} AS uniq_ratio
      FROM documents
    """
    return f"""
    SELECT doc_id, n_words, avg_word_len, stopword_ratio, uniq_ratio,
           {r6.format(x="least(least(n_words / 64.0, 1.0) * 0.4 "
                        "+ stopword_ratio * 2.0 * 0.3 + uniq_ratio * 0.3, 1.0)")} AS quality
    FROM ({base})
    """


def with_langid(docs: DataFrame) -> DataFrame:
    """Stopword-hit language ID; deterministic tie-break en > de > fr."""
    cols = []
    for lang in ("en", "de", "fr"):
        cols.append(F.expr(
            f"size(filter({_WORDS}, w -> array_contains({_sw_arr(lang)}, lower(w))))"
        ).alias(f"_hits_{lang}"))
    d = docs.select("doc_id", "lang", *cols)
    best = (F.when((F.col("_hits_en") >= F.col("_hits_de"))
                   & (F.col("_hits_en") >= F.col("_hits_fr")), "en")
            .when(F.col("_hits_de") >= F.col("_hits_fr"), "de")
            .otherwise("fr"))
    return d.withColumn("pred_lang", best).drop("_hits_en", "_hits_de", "_hits_fr")


def langid_duckdb() -> str:
    w = "list_filter(string_split(text, ' '), w -> length(w) > 0)"
    hits = {lang: (f"len(list_filter({w}, w -> list_contains({_sw_list(lang)}, "
                   "lower(w))))") for lang in ("en", "de", "fr")}
    return f"""
    SELECT doc_id, lang,
           CASE WHEN {hits['en']} >= {hits['de']} AND {hits['en']} >= {hits['fr']} THEN 'en'
                WHEN {hits['de']} >= {hits['fr']} THEN 'de'
                ELSE 'fr' END AS pred_lang
    FROM documents
    """


def with_fingerprint(seq: DataFrame) -> DataFrame:
    """Polynomial rolling hash over the token array (mod 2^31-1)."""
    return seq.withColumn("fingerprint", F.expr(fp_expr("tokens")))


def fingerprint_duckdb(seq_cte: str) -> str:
    return f"""
    WITH seq AS ({seq_cte})
    SELECT doc_id,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(tokens, x -> CAST(x AS BIGINT))),
                (a, x) -> (a * 31 + x) % {FP_MOD}) AS BIGINT) AS fingerprint
    FROM seq
    """


def token_diversity(seq: DataFrame) -> DataFrame:
    """Per-document token-diversity signals over the pre-tokenized
    arrays (degenerate/looping generations and boilerplate have few
    distinct tokens and a dominant mode): doc_id, n_tok, n_distinct,
    top_token (mode, smallest-token tie-break), top_cnt, top_frac_ppm
    (integer-exact ``top_cnt * 1e6 div n_tok``).

    Scale shape: sort each token array, then ONE run-length fold per row
    (equal tokens are adjacent after the sort) — Scan → Project, zero
    Exchange, no explode; the token payload never shuffles. Empty docs
    keep a row (n_distinct 0, NULL mode)."""
    run = "IF(a.prev <=> x, a.run + 1L, 1L)"
    fold = (
        "aggregate(array_sort(tokens), "
        "named_struct('prev', CAST(NULL AS INT), 'run', 0L, "
        "'best', 0L, 'arg', CAST(NULL AS INT)), "
        f"(a, x) -> named_struct('prev', x, 'run', {run}, "
        f"'best', IF({run} > a.best, {run}, a.best), "
        f"'arg', IF({run} > a.best, x, a.arg)), "
        "a -> named_struct('best', a.best, 'arg', a.arg))")
    d = seq.select("doc_id",
                   F.col("n_tok").cast("int").alias("n_tok"),
                   F.expr("size(array_distinct(tokens))").cast("int")
                   .alias("n_distinct"),
                   F.expr(fold).alias("_m"))
    return d.select(
        "doc_id", "n_tok", "n_distinct",
        F.col("_m.arg").alias("top_token"),
        F.col("_m.best").cast("int").alias("top_cnt"),
        F.expr("_m.best * 1000000L div greatest(n_tok, 1)")
        .cast("bigint").alias("top_frac_ppm"))


def token_diversity_duckdb(seq_cte: str) -> str:
    """DuckDB replay: unnest → per-(doc, token) counts → mode via
    (cnt DESC, token ASC) rank; LEFT JOIN keeps empty docs."""
    return f"""
    WITH seq AS ({seq_cte}),
    tok AS (
      SELECT doc_id, t.tk AS tk, count(*) AS cnt
      FROM seq, UNNEST(tokens) AS t(tk) GROUP BY 1, 2),
    mode AS (
      SELECT doc_id, tk, cnt,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY cnt DESC, tk ASC) AS rk
      FROM tok)
    SELECT s.doc_id, CAST(s.n_tok AS INT) AS n_tok,
           CAST(len(list_distinct(s.tokens)) AS INT) AS n_distinct,
           CAST(m.tk AS INT) AS top_token,
           CAST(coalesce(m.cnt, 0) AS INT) AS top_cnt,
           CAST(coalesce(m.cnt, 0) * 1000000 // greatest(s.n_tok, 1)
                AS BIGINT) AS top_frac_ppm
    FROM seq s LEFT JOIN (SELECT * FROM mode WHERE rk = 1) m
      USING (doc_id)
    """


#: GPT-2-ish pre-tokenizer regex, simplified to the dialect subset Spark's
#: regexp_extract_all and DuckDB's regexp_extract_all share: letter runs,
#: digit runs, single non-alnum-non-space marks.
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def with_token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace word count + BPE-ish regex token count + chars/token."""
    n_words = F.expr(f"size({_WORDS})")
    n_bpe = F.expr(f"size(regexp_extract_all(text, '{BPE_RE}', 0))")
    return docs.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        n_bpe.cast("int").alias("n_bpe_tokens"),
        _r6(F.length("text") / F.greatest(n_bpe, F.lit(1))).alias("chars_per_token"))


def token_counts_duckdb() -> str:
    w = "list_filter(string_split(text, ' '), w -> length(w) > 0)"
    return f"""
    SELECT doc_id,
           CAST(len({w}) AS INT) AS n_words,
           CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS INT) AS n_bpe_tokens,
           floor(length(text) * 1.0 / greatest(len(regexp_extract_all(text, '{BPE_RE}')), 1)
                 * 1000000.0 + 0.5) / 1000000.0 AS chars_per_token
    FROM documents
    """


# ------------------------------------------------------- repetition signals
#
# Gopher-style repetition filters (Rae et al. 2021, "Scaling Language
# Models", table A1): excessively repetitious documents are low-quality
# training data. Three signals per document, all over the whitespace word
# stream (the fixture corpus has no newlines, so the line-based rules
# don't apply):
#
# - top2gram_char_frac: the largest fraction of word characters covered by
#   any single REPEATED 2-gram (occurrences x gram chars / total word
#   chars; grams occurring once aren't repetition — without the cnt >= 2
#   guard every short document fails the threshold on its largest single
#   2-gram). A max aggregate needs no argmax tie-break.
# - dup5gram_char_frac: fraction of word characters covered by 5-grams
#   occurring more than once (sum of cnt x gram chars over cnt >= 2).
#   Overlapping occurrences count each time — documented spec, exactly
#   replayed by the oracle.
# - max_word_frac: most frequent word's share of all words.
#
# Scale shape: ZERO shuffle. All three signals are per-document, so they
# are computed row-locally: sort the word / 2-gram / 5-gram array
# (array_sort, JVM-side) and fold a run-length accumulator over it with
# the `aggregate` HOF — equal grams are adjacent after the sort, so one
# linear pass per row yields the max-run / dup-run-char-sum statistics.
# The physical plan is Scan -> Project (whole-stage codegen), no
# Exchange, no Generate, no join — the ideal 100 TB shape (the previous
# explode + two-groupBy form moved every distinct gram string through a
# corpus-sized shuffle; plan-asserted in tests/test_plans.py).
# Documents whose text splits to zero words are KEPT (n_words=0, all
# fractions 0, gopher_pass=true) — the row-local form never drops rows,
# unlike the old explode which silently excluded them.

GOPHER_TOP2_MAX = 0.20   # Gopher: top 2-gram char fraction < 0.2
GOPHER_DUP5_MAX = 0.15   # Gopher: duplicate 5-gram char fraction < 0.15
GOPHER_WORD_MAX = 0.20   # most-common-word share (word-level analogue)


def _grams_expr(n: int, src: str = _WORDS) -> str:
    # 1-based slice; guarded so short docs yield an empty array (Spark's
    # sequence(a, b) runs DESCENDING when b < a — never let that happen)
    return (f"CASE WHEN size({src}) >= {n} THEN "
            f"transform(sequence(1, size({src}) - {n - 1}), "
            f"i -> concat_ws(' ', slice({src}, i, {n}))) "
            f"ELSE array() END")


def _runfold(sorted_arr: str, update: str, finish: str) -> str:
    """Run-length fold over a SORTED string array: the accumulator is
    (prev gram, current run length, stat); ``update`` / ``finish`` are
    SQL templates over {run} (the run length AFTER this element), {x}
    (the element) and ``a.stat``. One linear pass, fully row-local."""
    run = "IF(a.prev <=> x, a.run + 1L, 1L)"
    return (f"aggregate({sorted_arr}, "
            "named_struct('prev', CAST(NULL AS STRING), "
            "'run', 0L, 'stat', 0L), "
            f"(a, x) -> named_struct('prev', x, 'run', {run}, "
            f"'stat', {update.format(run=run, x='x')}), "
            f"a -> {finish})")


def with_repetition_signals(docs: DataFrame) -> DataFrame:
    """doc_id, n_words, top2gram_char_frac, dup5gram_char_frac,
    max_word_frac, gopher_pass — see module notes for the exact spec."""
    # split once into a column; inlining _WORDS into every gram builder
    # produced an expression tree big enough that codegen compile
    # dominated the cold run (17.8s -> the split-once form is the fix)
    wdf = docs.select("doc_id", F.expr(_WORDS).alias("w"))
    # zero-shuffle row-local plan: sort each gram array, then one
    # run-length fold per signal (equal grams are adjacent after sorting)
    max_word = _runfold(
        "array_sort(w)",
        "greatest(a.stat, {run})", "a.stat")
    # max over repeated 2-grams of cnt * chars(gram): every extension of
    # a run to length k >= 2 offers k * (len - 1 separator) covered chars
    top2_chars = _runfold(
        f"array_sort({_grams_expr(2, 'w')})",
        "IF(a.prev <=> {x} AND a.run + 1L >= 2L, "
        "greatest(a.stat, (a.run + 1L) * (length({x}) - 1L)), a.stat)",
        "a.stat")
    # sum over 5-grams with cnt >= 2 of cnt * chars(gram), accumulated
    # incrementally: the 2nd occurrence adds 2x chars, each further one 1x
    dup5_chars = _runfold(
        f"array_sort({_grams_expr(5, 'w')})",
        "a.stat + CASE WHEN a.prev <=> {x} AND a.run + 1L = 2L "
        "THEN 2L * (length({x}) - 4L) "
        "WHEN a.prev <=> {x} THEN length({x}) - 4L ELSE 0L END",
        "a.stat")
    sig = wdf.select(
        "doc_id",
        F.expr("size(w)").cast("long").alias("nw"),
        F.expr("length(concat_ws('', w))").cast("long").alias("total_chars"),
        F.expr(max_word).alias("_max_word"),
        F.expr(top2_chars).alias("_top2_chars"),
        F.expr(dup5_chars).alias("_dup5_chars"))
    top2 = _r6(F.col("_top2_chars") / F.greatest(F.col("total_chars"), F.lit(1)))
    dup5 = _r6(F.col("_dup5_chars") / F.greatest(F.col("total_chars"), F.lit(1)))
    mwf = _r6(F.col("_max_word") / F.greatest(F.col("nw"), F.lit(1)))
    out = (sig.withColumn("top2gram_char_frac", top2)
           .withColumn("dup5gram_char_frac", dup5)
           .withColumn("max_word_frac", mwf))
    gpass = ((F.col("top2gram_char_frac") <= GOPHER_TOP2_MAX)
             & (F.col("dup5gram_char_frac") <= GOPHER_DUP5_MAX)
             & (F.col("max_word_frac") <= GOPHER_WORD_MAX))
    return out.select(
        "doc_id", F.col("nw").cast("int").alias("n_words"),
        "top2gram_char_frac", "dup5gram_char_frac", "max_word_frac",
        gpass.alias("gopher_pass"))


def repetition_signals_duckdb() -> str:
    w = "list_filter(string_split(text, ' '), w -> length(w) > 0)"

    def grams(n: int) -> str:
        return (f"list_transform(range(1, greatest(len(w) - {n - 1}, 0) + 1), "
                f"i -> array_to_string(list_slice(w, i, i + {n - 1}), ' '))")

    r6 = "floor(({x}) * 1000000.0 + 0.5) / 1000000.0"
    return f"""
    WITH base AS (
      SELECT doc_id, {w} AS w FROM documents),
    d AS (
      SELECT doc_id, w, len(w) AS nw,
             length(array_to_string(w, '')) AS total_chars
      FROM base),
    rows_ AS (
      SELECT doc_id, t.n AS n, t.gram AS gram
      FROM d, UNNEST(
          list_transform(w, x -> {{'n': 1, 'gram': x}})
          || list_transform({grams(2)}, g -> {{'n': 2, 'gram': g}})
          || list_transform({grams(5)}, g -> {{'n': 5, 'gram': g}})) AS u(t)),
    per_gram AS (
      SELECT doc_id, n, gram, count(*) AS cnt
      FROM rows_ GROUP BY 1, 2, 3),
    agg AS (
      SELECT doc_id,
             max(CASE WHEN n = 2 AND cnt > 1 THEN cnt * (length(gram) - 1) END) AS t2,
             coalesce(sum(CASE WHEN n = 5 AND cnt > 1
                          THEN cnt * (length(gram) - 4) ELSE 0 END), 0) AS d5,
             max(CASE WHEN n = 1 THEN cnt END) AS mw
      FROM per_gram GROUP BY 1)
    -- LEFT JOIN from d keeps zero-word docs (n_words=0, all fracs 0,
    -- gopher_pass=true), matching the row-local Spark plan which never
    -- drops rows (the old explode-based one silently excluded them)
    SELECT d.doc_id, CAST(d.nw AS INT) AS n_words,
           {r6.format(x="coalesce(t2, 0) * 1.0 / greatest(d.total_chars, 1)")} AS top2gram_char_frac,
           {r6.format(x="coalesce(d5, 0) * 1.0 / greatest(d.total_chars, 1)")} AS dup5gram_char_frac,
           {r6.format(x="coalesce(mw, 0) * 1.0 / greatest(d.nw, 1)")} AS max_word_frac,
           ({r6.format(x="coalesce(t2, 0) * 1.0 / greatest(d.total_chars, 1)")}) <= {GOPHER_TOP2_MAX}
           AND ({r6.format(x="coalesce(d5, 0) * 1.0 / greatest(d.total_chars, 1)")}) <= {GOPHER_DUP5_MAX}
           AND ({r6.format(x="coalesce(mw, 0) * 1.0 / greatest(d.nw, 1)")}) <= {GOPHER_WORD_MAX}
           AS gopher_pass
    FROM d LEFT JOIN agg USING (doc_id)
    """


# ------------------------------------------------------ corpus word frequency
#
# CCNet-style commonness scoring: documents whose words are mostly rare
# (or mostly out-of-vocabulary) are low-quality / non-linguistic training
# data; CCNet ranks by LM perplexity, which at corpus scale reduces to a
# two-pass unigram pipeline. Signals per document, against a top-K corpus
# vocabulary:
#
# - n_words, n_oov (words outside the top-K vocab)
# - sum_freq: sum of corpus occurrence counts of the doc's in-vocab words
# - mean_freq_ppm: average relative corpus frequency of the doc's words,
#   in parts-per-million — round6(sum_freq * 1e6 / (n_words * N_total))
#
# The driver-facing signals are INTEGER-EXACT sufficient statistics plus
# one ratio of integers: a log-probability variant (avg unigram logprob /
# perplexity) is the textbook form, but ln() is not guaranteed to be
# bit-identical between the JVM and DuckDB's libm, and a last-ULP
# difference can flip 6-dp rounding — the integer form is replayed
# exactly. (Users wanting perplexity can apply log to sum_freq/N
# client-side; the ranking the filter needs is order-isomorphic.)
#
# Scale shape: two corpus scans, no raw-text shuffle. Pass 1: explode ->
# (word, count) aggregate (map-side combine, vocab-sized shuffle) ->
# top-K via TakeOrderedAndProject (never a global vocabulary sort) ->
# broadcast. Pass 2: explode -> broadcast hash join against the K-row
# vocab -> per-doc aggregate (the only corpus shuffle: (doc_id, 3 ints)
# after partial aggregation). Deterministic top-K boundary: ties break
# by (count DESC, word ASC) in both engines.

FREQ_VOCAB_K = 1000


def word_freq_stats(docs: DataFrame, vocab_k: int = FREQ_VOCAB_K) -> DataFrame:
    """doc_id, n_words, n_oov, sum_freq, mean_freq_ppm — see module
    notes. Zero-word documents are kept (all signals 0)."""
    from pyspark.sql.functions import broadcast

    words = docs.select(
        "doc_id", F.explode_outer(F.expr(_WORDS)).alias("w"))
    counts = words.where(F.col("w").isNotNull()) \
        .groupBy("w").agg(F.count("*").alias("c"))
    top = counts.orderBy(F.desc("c"), F.asc("w")).limit(vocab_k)
    total = counts.agg(F.sum("c").alias("n_total"))
    per_doc = (words.join(broadcast(top), "w", "left")
               .groupBy("doc_id")
               .agg(F.count("w").alias("n_words"),
                    F.sum((F.col("w").isNotNull()
                           & F.col("c").isNull()).cast("long"))
                    .alias("n_oov"),
                    F.sum(F.coalesce("c", F.lit(0))).alias("sum_freq")))
    out = per_doc.crossJoin(broadcast(total))
    ppm = _r6(F.col("sum_freq") * F.lit(1e6)
              / (F.greatest(F.col("n_words"), F.lit(1)) * F.col("n_total")))
    return out.select("doc_id",
                      F.col("n_words").cast("int").alias("n_words"),
                      F.col("n_oov").cast("int").alias("n_oov"),
                      "sum_freq", ppm.alias("mean_freq_ppm"))


def word_freq_stats_duckdb(vocab_k: int = FREQ_VOCAB_K) -> str:
    w = "list_filter(string_split(text, ' '), w -> length(w) > 0)"
    r6 = "floor(({x}) * 1000000.0 + 0.5) / 1000000.0"
    return f"""
    WITH d AS (SELECT doc_id, {w} AS ws FROM documents),
    words AS (SELECT doc_id, t.w AS w FROM d, UNNEST(d.ws) AS t(w)
              UNION ALL
              SELECT doc_id, NULL AS w FROM d WHERE len(ws) = 0),
    counts AS MATERIALIZED (
        SELECT w, count(*) AS c FROM words WHERE w IS NOT NULL GROUP BY 1),
    top AS (SELECT w, c FROM counts ORDER BY c DESC, w ASC
            LIMIT {vocab_k}),
    total AS (SELECT sum(c) AS n_total FROM counts),
    per_doc AS (
        SELECT doc_id,
               count(words.w) AS n_words,
               coalesce(sum(CASE WHEN words.w IS NOT NULL
                            AND top.c IS NULL THEN 1 ELSE 0 END), 0)
                 AS n_oov,
               coalesce(sum(coalesce(top.c, 0)), 0) AS sum_freq
        FROM words LEFT JOIN top USING (w) GROUP BY 1)
    SELECT doc_id, CAST(n_words AS INT) AS n_words,
           CAST(n_oov AS INT) AS n_oov,
           CAST(sum_freq AS BIGINT) AS sum_freq,
           {r6.format(x="sum_freq * 1000000.0 / "
                        "(greatest(n_words, 1) * n_total)")}
             AS mean_freq_ppm
    FROM per_doc, total
    """


# ----------------------------------------------------------- decontamination
#
# Benchmark decontamination (GPT-3 appendix C / PaLM style): flag training
# documents that share any word n-gram with a held-out evaluation set.
# At 100 TB the benchmark side is tiny (a few thousand eval docs) and the
# corpus side is a projection + explode: broadcast the distinct benchmark
# grams, hash-join corpus grams against them (no shuffle of the corpus
# beyond the final per-doc count), count distinct overlapping grams per
# contaminated doc.

DECONTAM_N = 8  # 13 in GPT-3; 8 here so the ~50-word fixture docs overlap


def decontam_overlap(docs: DataFrame, bench: DataFrame,
                     n: int = DECONTAM_N) -> DataFrame:
    """Documents sharing >= 1 word ``n``-gram with the ``bench`` set
    (benchmark docs themselves excluded): doc_id, n_overlap (distinct
    shared grams), first_gram (lexicographic min, for audit)."""
    from pyspark.sql.functions import broadcast

    def grams(df: DataFrame) -> DataFrame:
        # per-doc dedup is row-local (array_distinct before explode) so the
        # corpus side never shuffles raw gram text — the only corpus
        # Exchange in the whole plan is the final groupBy(doc_id) on the
        # (already joined, benchmark-hit-only) rows
        wdf = df.select("doc_id", F.expr(_WORDS).alias("w"))
        return wdf.select(
            "doc_id",
            F.explode(F.array_distinct(F.expr(_grams_expr(n, "w"))))
            .alias("gram"))

    # bg must be globally distinct (a gram shared by two bench docs would
    # double-count corpus hits); bench_ids needs NO distinct — left_anti
    # ignores right-side duplicates, so that tiny shuffle is dropped too
    bg = broadcast(grams(bench).select("gram").distinct())
    bench_ids = broadcast(bench.select("doc_id"))
    # narrow-scan guard on the CORPUS side only (guide §2.5): the n-gram
    # build + explode is the heavy row-local stage; no-op on real
    # many-file inputs (the bench side is tiny by contract)
    from tsf.spread import spread_rows
    hits = (grams(spread_rows(docs))
            .join(bench_ids, "doc_id", "left_anti")
            .join(bg, "gram"))
    return (hits.groupBy("doc_id")
            .agg(F.count("*").alias("n_overlap"),
                 F.min("gram").alias("first_gram")))


def decontam_duckdb(bench_pred: str, n: int = DECONTAM_N) -> str:
    """DuckDB replay; ``bench_pred`` is the SQL predicate selecting the
    benchmark docs out of ``documents`` (e.g. "doc_id % 37 = 0")."""
    w = "list_filter(string_split(text, ' '), w -> length(w) > 0)"
    g = (f"list_distinct(list_transform("
         f"range(1, greatest(len({w}) - {n - 1}, 0) + 1), "
         f"i -> array_to_string(list_slice({w}, i, i + {n - 1}), ' ')))")
    return f"""
    WITH bench_grams AS (
      SELECT DISTINCT t.gram AS gram
      FROM documents, UNNEST({g}) AS t(gram)
      WHERE {bench_pred}),
    corpus AS (
      SELECT doc_id, t.gram AS gram
      FROM documents, UNNEST({g}) AS t(gram)
      WHERE NOT ({bench_pred}))
    SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_overlap,
           min(c.gram) AS first_gram
    FROM corpus c JOIN bench_grams b USING (gram)
    GROUP BY c.doc_id
    """


# ------------------------------------------------------- corpus quantiles
#
# Exact per-group quantiles of a numeric column (type-1 / lower-value
# definition: the value at rank ceil(q * n), ties broken by doc_id so
# the pick is total-ordered and engine-independent). Used to choose
# filter thresholds from the corpus itself ("drop the shortest 5%").
#
# Scale shape: ONE hash Exchange on the group key + a per-group sort.
# Exact quantiles fundamentally need the per-group order; when a single
# group is 100 TB the built-in approx_percentile (positional t-digest)
# is the scale path — this operator is the exact, oracle-replayable
# form for threshold derivation and for validating the sketch.

def source_quantiles(df: DataFrame, col: str = "n_tok",
                     qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
                     key: str = "source") -> DataFrame:
    """(key, q, value): exact quantiles of ``col`` per group."""
    from pyspark.sql import Window
    w = Window.partitionBy(key).orderBy(F.col(col), F.col("doc_id"))
    d = (df.select(key, "doc_id", col)
         .withColumn("_rn", F.row_number().over(w))
         .withColumn("_n", F.count("*").over(Window.partitionBy(key))))
    # one window pass for ALL quantiles: explode the q list per row and
    # keep the rank hits (a union of per-q picks would replay the window
    # — and its Exchange+Sort — once per quantile)
    qarr = F.array(*[F.lit(float(q)) for q in qs])
    return (d.select(key, col, "_rn", "_n",
                     F.explode(qarr).alias("q"))
            .where(F.col("_rn") == F.ceil(F.col("q") * F.col("_n")))
            .select(key, "q", F.col(col).cast("double").alias("value")))


def source_quantiles_duckdb(table: str = "documents", col: str = "n_chars",
                            qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
                            key: str = "source") -> str:
    sel = " UNION ALL ".join(
        f"SELECT {key}, {q} AS q, CAST({col} AS DOUBLE) AS value "
        f"FROM d WHERE _rn = CAST(ceil({q} * _n) AS BIGINT)"
        for q in qs)
    return f"""
    WITH d AS (
      SELECT {key}, doc_id, {col},
             row_number() OVER (PARTITION BY {key}
                                ORDER BY {col}, doc_id) AS _rn,
             count(*) OVER (PARTITION BY {key}) AS _n
      FROM {table})
    {sel}
    """


# --------------------------------------------- hashed-linear quality model
#
# Model-based quality scoring (the fasttext-classifier stage of CCNet /
# LLaMA-style pipelines): a linear model over hashed bag-of-words
# features — each word hashes into one of ``n_buckets`` feature buckets
# and contributes that bucket's weight; the document score is the weight
# sum. Inference is ONE row-local expression (hash + weight lookup +
# fold inside a single projection): zero Exchange, no model join — the
# scale shape a 100 TB scoring pass needs.
#
# The weight table here is a deterministic stand-in (bucket -> weight via
# a second xxhash64, integer weights in [-1000, 1000]) so the DuckDB
# oracle replays inference bit-for-bit through tsf/xxh64_sql.py; a
# TRAINED model drops in through the same seam — replace the weight
# expression with a lookup into a broadcast weight array (the bucket
# hashing and the fold are unchanged).

CLS_BUCKETS = 1 << 20  # hashed feature space (2^20 buckets)
CLS_WSPAN = 2001       # integer weights in [-1000, 1000]
CLS_SEED = 11          # word -> bucket hash seed


def _cls_weight_expr(word: str, seed: int, n_buckets: int) -> str:
    """Integer weight of ``word``: bucket = xxhash64(word, seed) mod D,
    weight = xxhash64(bucket) mod 2001 - 1000 (both Spark xxhash64)."""
    bucket = f"pmod(xxhash64({word}, {seed}), cast({n_buckets} as bigint))"
    return (f"pmod(xxhash64({bucket}), cast({CLS_WSPAN} as bigint))"
            f" - cast({CLS_WSPAN // 2} as bigint)")


def quality_classifier(docs: DataFrame, seed: int = CLS_SEED,
                       n_buckets: int = CLS_BUCKETS,
                       weights: list[int] | None = None,
                       bias: int = 0) -> DataFrame:
    """(doc_id, n_words, score_sum, cls_pass): hashed-linear classifier
    score per document, entirely row-local (zero Exchange). Empty docs
    score ``bias`` and pass iff bias >= 0 (no word evidence).

    ``weights=None`` uses the deterministic xxhash64-derived stand-in
    weight table (SQL-replayable, the driver-query path). A TRAINED
    model drops in through the same bucket seam: pass the integer
    weight array from :func:`train_quality_weights` — it rides the
    expression as a foldable array literal (bounded metadata, like the
    Bloom bitmap), so inference stays one scan, zero Exchange, no model
    join, at any corpus size."""
    if weights is not None:
        n_buckets = len(weights)
        bucket = (f"pmod(xxhash64(zw, {int(seed)}), "
                  f"cast({n_buckets} as bigint))")
        w = f"cast(element_at(_wts, cast({bucket} as int) + 1) as bigint)"
        score_e = (f"cast({int(bias)} as bigint) + "
                   f"aggregate(transform({_WORDS}, zw -> {w}), "
                   f"cast(0 as bigint), (za, zx) -> za + zx)")
        d = docs.withColumn("_wts", F.lit([int(x) for x in weights]))
    else:
        w = _cls_weight_expr("zw", seed, n_buckets)
        score_e = (f"aggregate(transform({_WORDS}, zw -> {w}), "
                   f"cast(0 as bigint), (za, zx) -> za + zx)")
        d = docs
    return d.select(
        "doc_id",
        F.expr(f"size({_WORDS})").cast("int").alias("n_words"),
        F.expr(score_e).alias("score_sum"),
        (F.expr(score_e) >= 0).alias("cls_pass"))


def train_quality_weights(docs: DataFrame, label_col: str = "label",
                          seed: int = CLS_SEED, n_buckets: int = 4096,
                          scale: int = 1000, max_iter: int = 100,
                          reg_param: float = 0.0) -> tuple[list[int], int]:
    """Train the hashed-linear quality model (fasttext-style): logistic
    regression (MLlib LBFGS) over hashed bag-of-words counts, quantized
    to the integer weight range :func:`quality_classifier` consumes.
    Returns ``(weights, bias)``; ``cls_pass`` then approximates
    P(label=1) >= 0.5 (sign preserved up to integer quantization).

    Scale contract: the LABELED SAMPLE is bounded — quality classifiers
    train on 10^4..10^6 labeled docs, never the corpus — so the sparse
    feature assembly collects the sample's (doc, bucket, count) triples
    driver-side (bounded metadata, like the k-means centroid table).
    The corpus-scale half is INFERENCE, which stays row-local through
    the weight-array literal."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors

    spark = docs.sparkSession
    bucket = (f"pmod(xxhash64(zw, {int(seed)}), "
              f"cast({n_buckets} as bigint))")
    trips = (docs.select(F.col("doc_id"),
                         F.col(label_col).cast("double").alias("_y"),
                         F.explode(F.expr(
                             f"transform({_WORDS}, zw -> {bucket})"))
                         .alias("_b"))
             .groupBy("doc_id", "_y", "_b").count().collect())
    by_doc: dict = {}
    for r in trips:
        by_doc.setdefault((r["doc_id"], r["_y"]), []).append(
            (int(r["_b"]), float(r["count"])))
    rows = [(Vectors.sparse(n_buckets, sorted(pairs)), y)
            for (_, y), pairs in sorted(by_doc.items())]
    train = spark.createDataFrame(rows, ["features", "label"])
    lr = LogisticRegression(maxIter=int(max_iter), regParam=reg_param,
                            standardization=False)
    m = lr.fit(train)
    coefs = list(m.coefficients.toArray())
    mx = max(max(abs(c) for c in coefs), abs(float(m.intercept)), 1e-12)
    weights = [int(round(c / mx * scale)) for c in coefs]
    return weights, int(round(float(m.intercept) / mx * scale))


def quality_classifier_duckdb(seed: int = CLS_SEED,
                              n_buckets: int = CLS_BUCKETS) -> str:
    """DuckDB replay via the xxh64 SQL layers: unnest words to rows (the
    layered hash needs columns, not lambdas), hash word -> bucket ->
    weight, re-aggregate per doc; LEFT JOIN keeps zero-word docs."""
    from tsf.xxh64_sql import (hash_bytes_layers, hash_int_layers,
                               hash_long_layers)
    wl = "list_filter(string_split(text, ' '), w -> length(w) > 0)"
    base = (f"SELECT doc_id, t.w AS w "
            f"FROM documents, UNNEST({wl}) AS t(w)")
    q = hash_bytes_layers(base, "w", "hb", "qb")
    q = hash_int_layers(q, str(int(seed)), "hb", "h1", "qi")
    bucket = f"(((h1 % {n_buckets}) + {n_buckets}) % {n_buckets})"
    q = hash_long_layers(q, bucket, "42", "h2", "ql")
    weight = (f"(((h2 % {CLS_WSPAN}) + {CLS_WSPAN}) % {CLS_WSPAN}"
              f" - {CLS_WSPAN // 2})")
    return f"""
    WITH per_doc AS (
      SELECT doc_id, count(*) AS n_words, sum({weight}) AS score
      FROM ({q}) GROUP BY 1)
    SELECT d.doc_id, CAST(coalesce(p.n_words, 0) AS INT) AS n_words,
           CAST(coalesce(p.score, 0) AS BIGINT) AS score_sum,
           coalesce(p.score, 0) >= 0 AS cls_pass
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """


# ------------------------------------------------- Bloom-filter decontam
#
# Benchmark decontamination when the eval gram set is too large to
# broadcast as raw strings (decontam_overlap's plan): fold the benchmark
# grams into an m-bit Bloom bitmap (k seeded xxhash64 positions per
# gram, bit_or per 64-bit word) and probe it row-locally. The probe side
# has ZERO Exchange — the bitmap rides into the expression as a literal
# array<long> (m/64 words: fixed size regardless of benchmark
# cardinality, e.g. 2^33 bits = 1 GiB covers ~10^9 grams at ~1% fpp,
# broadcastable where 10^9 gram strings are not). Hits are a superset of
# true overlaps (Bloom false positives, never negatives) — the exact
# broadcast join remains the audit tool; this is the scale path.

#: bits / hash count, sized for the sf fixtures (~3.2k benchmark grams
#: -> ~7% fill, per-gram fpp ~4e-4, per-doc ~2% at ~45 grams/doc); at
#: production benchmark sizes scale m with the gram count (1 GiB = 2^33
#: bits covers ~10^9 grams at k=3 with ~1% per-gram fpp)
BLOOM_M = 131072
BLOOM_SEEDS = (101, 202, 303)


def _bloom_pos(gram: str, seed: int, m: int) -> str:
    return f"pmod(xxhash64({gram}, {seed}), cast({m} as bigint))"


def bloom_bitmap(bench: DataFrame, n: int = DECONTAM_N, m: int = BLOOM_M,
                 seeds: tuple[int, ...] = BLOOM_SEEDS) -> list[int]:
    """Build the benchmark Bloom bitmap: ``m // 64`` longs. The gram
    rows need no distinct (bit_or is idempotent); the aggregate is
    eval-set-sized and collects at most m/64 rows — bounded metadata,
    like a centroid table, not data."""
    wdf = bench.select(F.expr(_WORDS).alias("w"))
    g = wdf.select(F.explode(F.expr(_grams_expr(n, "w"))).alias("gram"))
    pos = g.select(F.explode(F.array(*[
        F.expr(_bloom_pos("gram", s, m)) for s in seeds])).alias("p"))
    words = (pos.groupBy(F.expr("cast(p div 64 as int)").alias("wi"))
             .agg(F.expr("bit_or(shiftleft(cast(1 as bigint), "
                         "cast(p % 64 as int)))").alias("bits"))
             .collect())
    out = [0] * (m // 64)
    for r in words:
        out[r["wi"]] = int(r["bits"])
    return out


def bloom_decontam(docs: DataFrame, bitmap: list[int],
                   n: int = DECONTAM_N, m: int = BLOOM_M,
                   seeds: tuple[int, ...] = BLOOM_SEEDS) -> DataFrame:
    """(doc_id, n_grams, n_maybe, bloom_clean): per-doc count of distinct
    word n-grams whose every seeded position is set in ``bitmap``.
    Row-local probe — the only operators in the plan are Scan and
    Project (plan-asserted in tests)."""
    bits_lit = "array(" + ",".join(
        f"cast({w} as bigint)" for w in bitmap) + ")"
    d = (docs.withColumn("w", F.expr(_WORDS))
         .withColumn("g", F.expr(
             f"array_distinct({_grams_expr(n, 'w')})"))
         .withColumn("_bm", F.expr(bits_lit)))
    probes = "array(" + ",".join(
        _bloom_pos("zg", s, m) for s in seeds) + ")"
    bit = ("((shiftright(element_at(_bm, cast(zp[{i}] div 64 as int) + 1), "
           "cast(zp[{i}] % 64 as int)) & 1) = 1)")
    hit = " and ".join(bit.format(i=i) for i in range(len(seeds)))
    n_maybe = (f"size(filter(transform(g, zg -> {probes}), "
               f"zp -> {hit}))")
    return d.select("doc_id",
                    F.expr("size(g)").cast("int").alias("n_grams"),
                    F.expr(n_maybe).cast("int").alias("n_maybe"),
                    (F.expr(n_maybe) == 0).alias("bloom_clean"))


def bloom_decontam_duckdb(bench_pred: str, n: int = DECONTAM_N,
                          m: int = BLOOM_M,
                          seeds: tuple[int, ...] = BLOOM_SEEDS,
                          probe_pred: str = "TRUE") -> str:
    """DuckDB replay: the set of set-bit positions (from every benchmark
    gram under every seed) IS the bitmap; a gram is a maybe-hit iff all
    its seeded positions are in the set. ``probe_pred`` restricts the
    probed corpus slice (the replayed byte-level xxh64 costs ~1 ms per
    gram in DuckDB — the driver query probes a deterministic third of
    the corpus to stay inside the sweep budget)."""
    from tsf.xxh64_sql import hash_bytes_layers, hash_int_layers
    wl = "list_filter(string_split(text, ' '), w -> length(w) > 0)"
    gl = (f"list_transform(range(1, greatest(len({wl}) - {n - 1}, 0) + 1), "
          f"i -> array_to_string(list_slice({wl}, i, i + {n - 1}), ' '))")

    def hashed(base: str) -> str:
        q = hash_bytes_layers(base, "gram", "hb", "hg")
        for k, s in enumerate(seeds):
            q = hash_int_layers(q, str(int(s)), "hb", f"h{k}", f"hs{k}")
        pcols = ", ".join(
            f"(((h{k} % {m}) + {m}) % {m}) AS p{k}"
            for k in range(len(seeds)))
        return f"SELECT *, {pcols} FROM ({q})"

    bench = hashed(f"SELECT t.gram AS gram FROM documents, "
                   f"UNNEST({gl}) AS t(gram) WHERE {bench_pred}")
    corpus = hashed(f"SELECT doc_id, t.gram AS gram FROM documents, "
                    f"UNNEST(list_distinct({gl})) AS t(gram) "
                    f"WHERE NOT ({bench_pred}) AND ({probe_pred})")
    pos_union = " UNION ".join(
        f"SELECT p{k} AS p FROM b" for k in range(len(seeds)))
    hit = " AND ".join(
        f"c.p{k} IN (SELECT p FROM bench_pos)"
        for k in range(len(seeds)))
    return f"""
    WITH b AS MATERIALIZED ({bench}),
    bench_pos AS MATERIALIZED ({pos_union}),
    per_doc AS (
      SELECT c.doc_id, count(*) AS n_grams,
             sum(CASE WHEN {hit} THEN 1 ELSE 0 END) AS n_maybe
      FROM ({corpus}) c GROUP BY 1)
    SELECT d.doc_id, CAST(coalesce(p.n_grams, 0) AS INT) AS n_grams,
           CAST(coalesce(p.n_maybe, 0) AS INT) AS n_maybe,
           coalesce(p.n_maybe, 0) = 0 AS bloom_clean
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    WHERE NOT ({bench_pred}) AND ({probe_pred})
    """


# ------------------------------------------------------- BM25 retrieval

#: default query terms for the driver query (corpus vocabulary words)
BM25_TERMS = ("spark", "window", "merge")

#: Okapi BM25 idf in integer MICRO-NATS — ONE format string used
#: verbatim by both engines (the DSIR precedent: ln() runs on
#: bit-identical doubles built from integer counts, then rounds to 6dp
#: fixed point, so the per-term idf is an exact BIGINT both sides).
_IDF_MICRO = ("CAST(floor(ln((CAST({N} AS DOUBLE) - CAST({df} AS DOUBLE)"
              " + 0.5) / (CAST({df} AS DOUBLE) + 0.5) + 1.0)"
              " * 1000000.0 + 0.5) AS BIGINT)")


def _bm25_score_expr(terms) -> str:
    """Per-doc BM25 score with k1=6/5, b=3/4 as a ratio of exact
    BIGINTs per term: clearing denominators turns
    tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) with avgdl=wsum/n into
    44*wsum*tf / (20*wsum*tf + 6*wsum + 18*dl*n), so the only float
    steps are the idf ln (micro-rounded) and one IEEE-exact division +
    fixed-order sum per term — bit-identical across engines."""
    contribs = []
    for i in range(len(terms)):
        idf = _IDF_MICRO.format(N="n", df=f"df{i}")
        num = f"(44 * wsum * tf{i})"
        den = f"(20 * wsum * tf{i} + 6 * wsum + 18 * dl * n)"
        contribs.append(f"(CAST({idf} * {num} AS DOUBLE)"
                        f" / CAST({den} AS DOUBLE))")
    return " + ".join(contribs)


def bm25_topk(docs: DataFrame, terms=BM25_TERMS, k: int = 20) -> DataFrame:
    """Okapi BM25 ranked retrieval: top-k documents for a fixed term
    set. Returns (doc_id, dl, tf0.., score_bm25), score in micro-nat
    idf units.

    Scale shape (100 TB): per-doc term frequencies are row-local HOF
    folds over the words array (no explode, no inverted-index shuffle
    for a bounded query term list); corpus stats (N, sum dl, per-term
    df) are ONE map-side-combined aggregate collapsing to a single row
    that broadcasts back (BroadcastNestedLoopJoin over 1 row); the
    top-k is TakeOrderedAndProject, never a global sort."""
    per = (docs.select("doc_id", F.expr(_WORDS).alias("ws"))
           .select(F.col("doc_id").cast("long").alias("doc_id"),
                   F.size("ws").cast("long").alias("dl"),
                   *[F.expr(f"size(filter(ws, x -> x = '{t}'))")
                     .cast("long").alias(f"tf{i}")
                     for i, t in enumerate(terms)]))
    st = per.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dl").cast("long").alias("wsum"),
        *[F.sum((F.col(f"tf{i}") > 0).cast("long")).cast("long")
          .alias(f"df{i}") for i in range(len(terms))])
    scored = per.crossJoin(F.broadcast(st))
    out = scored.select(
        "doc_id", "dl", *[f"tf{i}" for i in range(len(terms))],
        F.expr(_bm25_score_expr(terms)).alias("score_bm25"))
    return out.orderBy(F.desc("score_bm25"), "doc_id").limit(k)


def bm25_topk_duckdb(terms=BM25_TERMS, k: int = 20) -> str:
    """DuckDB replay of :func:`bm25_topk` over the `documents` view."""
    w = "list_filter(string_split(text, ' '), w -> length(w) > 0)"
    tfs = ",\n                ".join(
        f"CAST(len(list_filter(ws, x -> x = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(terms))
    dfs = ",\n               ".join(
        f"CAST(sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df{i}" for i in range(len(terms)))
    tf_cols = ", ".join(f"tf{i}" for i in range(len(terms)))
    return f"""
    WITH base AS (SELECT doc_id, {w} AS ws FROM documents),
    per AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                CAST(len(ws) AS BIGINT) AS dl,
                {tfs}
            FROM base),
    st AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dl) AS BIGINT) AS wsum,
               {dfs}
           FROM per)
    SELECT doc_id, dl, {tf_cols},
           {_bm25_score_expr(terms)} AS score_bm25
    FROM per, st
    ORDER BY score_bm25 DESC, doc_id
    LIMIT {k}
    """


# --------------------------------------------------- C4 blocklist filter

#: default blocklist for the driver query — drawn from the corpus
#: vocabulary so the filter discriminates on the synthetic fixture (a
#: real deployment passes its own word list)
BADWORDS = ("slow", "crash")


def badwords_filter(docs: DataFrame, words=BADWORDS,
                    max_ppm: int = 60_000) -> DataFrame:
    """C4-style blocklist filter (Raffel et al. 2020 §2.2 use a "bad
    words" list). C4 drops a doc on ANY hit; on short-vocabulary
    corpora that is degenerate, so the keep rule here is rate-based —
    keep iff bad words are at most ``max_ppm`` of the doc's words — as
    an integer cross-multiply (n_bad * 1e6 <= max_ppm * n_words; no
    float boundary). ``max_ppm=0`` recovers the strict C4 any-hit drop.

    Scale shape: the word list rides as an array literal; counting is
    one row-local ``filter``/``size`` pass over the whitespace words —
    ZERO Exchange, no join (plan-asserted in tests/test_drift_badwords.py).
    Output: (doc_id, n_words, n_bad, keep)."""
    lst = "array(" + ",".join(f"'{w}'" for w in words) + ")"
    thr = int(max_ppm)
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.expr(f"CAST(size({_WORDS}) AS BIGINT)").alias("n_words"),
        F.expr(f"CAST(size(filter({_WORDS}, "
               f"w -> array_contains({lst}, w))) AS BIGINT)").alias("n_bad"),
    ).withColumn(
        "keep", F.expr(f"n_bad * 1000000 <= {thr} * n_words"))


def badwords_filter_duckdb(words=BADWORDS, max_ppm: int = 60_000) -> str:
    lst = "[" + ",".join(f"'{w}'" for w in words) + "]"
    thr = int(max_ppm)
    return f"""
    SELECT CAST(doc_id AS VARCHAR) AS doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(len(list_filter(ws, w -> list_contains({lst}, w)))
                AS BIGINT) AS n_bad,
           CAST(len(list_filter(ws, w -> list_contains({lst}, w)))
                * 1000000 <= {thr} * len(ws) AS BOOLEAN) AS keep
    FROM (SELECT doc_id, list_filter(string_split(text, ' '),
                 x -> length(x) > 0) AS ws FROM documents)
    """


# ---------------------------------------------------- bottom-k quantile sketch
#
# Bounded-state quantile ESTIMATION (the scale answer source_quantiles'
# docstring promises): exact per-group quantiles need a full per-group
# sort — at 100 TB one hot source outgrows any sort partition. The
# bottom-k (KMV) sketch keeps each group's k rows with the SMALLEST
# xxhash64(doc_id, seed) — a uniform, deterministic, MERGEABLE sample
# (bottom-k of a union is the bottom-k of merged bottom-ks, so the
# map-side WindowGroupLimit prefilter is semantically the sketch merge) —
# and reads type-1 quantiles off the sample. Rank error is the binomial
# sampling bound ~sqrt(q*(1-q)/k) (k=256 -> ~3 percentile points at the
# median), pytest-pinned on a planted distribution.
#
# Unlike approx_percentile (greenwald-khanna, merge-order-dependent
# state) the sketch is bit-deterministic under ANY partitioning or
# cluster size, and every output value replays bit-for-bit in DuckDB via
# the xxh64 chain — a float-free, engine-exact approximate operator
# (the hll/cms discipline applied to quantiles).
#
# Scale shape: the rank filter plans as WindowGroupLimit (each input
# partition keeps only its local bottom-k BEFORE the group shuffle), so
# the window Exchange moves O(groups x k) rows; the quantile pick is a
# row-local sort_array over <= k collected (value, doc_id) structs; the
# group-size side count is one partial-combined aggregate carrying
# (group, count). Both asserted in tests/test_plans.py.

def sketch_quantiles(docs: DataFrame, value_col: str = "n_chars",
                     by: str = "source", k: int = 256,
                     q_ppm: tuple[int, ...] = (250000, 500000, 900000),
                     seed: int = 0) -> DataFrame:
    """(by, n_group, n_sample, q_ppm, value): type-1 quantiles of
    ``value_col`` per group, read off a deterministic bottom-k hash
    sample. quantile rank = ceil(q * n_sample) with doc_id tie-break —
    integer-exact end to end."""
    if not all(0 < q <= 1_000_000 for q in q_ppm):
        raise ValueError(f"q_ppm out of (0, 1e6]: {q_ppm}")
    from tsf.sampling import stratified_sample
    samp = stratified_sample(docs.select("doc_id", by, value_col),
                             n_per_group=k, by=by, seed=seed)
    agg = (samp.groupBy(by).agg(
        F.count("*").alias("n_sample"),
        F.sort_array(F.collect_list(F.struct(
            F.col(value_col).cast("long").alias("v"),
            F.col("doc_id").cast("string").alias("d")))).alias("vs")))
    sizes = docs.groupBy(by).agg(F.count("*").alias("n_group"))
    qarr = F.array(*[F.lit(int(q)) for q in q_ppm])
    return (agg.join(F.broadcast(sizes), by)
            .select(by, "n_group", "n_sample",
                    F.explode(qarr).alias("q_ppm"), "vs")
            # rank = ceil(q_ppm * n / 1e6) as pure BIGINT arithmetic
            .withColumn("_r", F.expr(
                "(q_ppm * n_sample + 999999L) div 1000000L"))
            .select(by, "n_group", "n_sample", "q_ppm",
                    F.expr("element_at(vs, cast(_r as int)).v")
                    .alias("value")))


def sketch_quantiles_duckdb(value_col: str = "n_chars",
                            by: str = "source", k: int = 256,
                            q_ppm: tuple[int, ...] = (250000, 500000,
                                                      900000),
                            seed: int = 0) -> str:
    """DuckDB replay of :func:`sketch_quantiles` — same xxh64 bottom-k
    membership, same type-1 rank arithmetic, bit-exact values."""
    from tsf.xxh64_sql import hash_bytes_layers, hash_int_layers
    q = hash_bytes_layers(
        "SELECT doc_id, " + by + ", " + value_col +
        ", CAST(doc_id AS VARCHAR) AS _k FROM documents",
        "_k", "hb", "sb")
    q = hash_int_layers(q, str(int(seed)), "hb", "h", "si")
    qlist = ", ".join(str(int(x)) for x in q_ppm)
    return f"""
    WITH ranked AS (
      SELECT doc_id, {by}, {value_col},
             row_number() OVER (PARTITION BY {by}
                                ORDER BY h ASC, doc_id ASC) AS rank
      FROM ({q})),
    samp AS (SELECT * FROM ranked WHERE rank <= {int(k)}),
    ordered AS (
      SELECT {by}, {value_col} AS v,
             row_number() OVER (PARTITION BY {by}
                                ORDER BY {value_col} ASC,
                                         doc_id ASC) AS vr,
             count(*) OVER (PARTITION BY {by}) AS n_sample
      FROM samp),
    ng AS (SELECT {by}, count(*) AS n_group FROM documents GROUP BY 1),
    qs AS (SELECT unnest([{qlist}]) AS q_ppm)
    SELECT o.{by}, ng.n_group, CAST(o.n_sample AS BIGINT) AS n_sample,
           CAST(q.q_ppm AS INT) AS q_ppm, CAST(o.v AS BIGINT) AS value
    FROM ordered o JOIN ng USING ({by}) CROSS JOIN qs q
    WHERE o.vr = (q.q_ppm * o.n_sample + 999999) // 1000000
    """


# ------------------------------------------------------- tokenizer fertility
#
# Per-(source, lang) tokenizer-efficiency aggregates: fertility
# (tokens/word) and compression (chars/token) are THE diagnostics behind
# multilingual mixing and tokenizer choice — a language whose fertility
# is 2x pays 2x the sequence budget for the same text, which silently
# re-weights any token-budgeted mix (the mix_temperature weight_col
# precedent). Ratios are integer micro-units over EXACT group sums
# (one IEEE-exact BIGINT division each), so the oracle replays them
# bit-for-bit. Scale shape: row-local counting (the token_counts
# expressions), one partial-combined aggregate whose Exchange carries
# (source, lang) keyed sums — no text past the scan, no join.

def fertility_stats(docs: DataFrame) -> DataFrame:
    """(source, lang, n_docs, sum_chars, sum_words, sum_tokens,
    tokens_per_word_micro, chars_per_token_micro)."""
    n_words = F.expr(f"size({_WORDS})").cast("long")
    n_bpe = F.expr(
        f"size(regexp_extract_all(text, '{BPE_RE}', 0))").cast("long")
    return (docs
            .select("source", "lang",
                    F.length("text").cast("long").alias("c"),
                    n_words.alias("w"), n_bpe.alias("t"))
            .groupBy("source", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("c").alias("sum_chars"),
                 F.sum("w").alias("sum_words"),
                 F.sum("t").alias("sum_tokens"))
            .withColumn("tokens_per_word_micro", F.expr(
                "(sum_tokens * 1000000L) div greatest(sum_words, 1L)"))
            .withColumn("chars_per_token_micro", F.expr(
                "(sum_chars * 1000000L) div greatest(sum_tokens, 1L)")))


def fertility_stats_duckdb() -> str:
    """DuckDB replay of :func:`fertility_stats` — identical counting
    expressions and BIGINT floor divisions."""
    w = "len(list_filter(string_split(text, ' '), x -> length(x) > 0))"
    t = f"len(regexp_extract_all(text, '{BPE_RE}'))"
    return f"""
    WITH d AS (SELECT source, lang, length(text) AS c,
                      {w} AS w, {t} AS t
               FROM documents),
    g AS (SELECT source, lang, count(*) AS n_docs,
                 sum(c) AS sum_chars, sum(w) AS sum_words,
                 sum(t) AS sum_tokens
          FROM d GROUP BY 1, 2)
    SELECT source, lang, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(sum_chars AS BIGINT) AS sum_chars,
           CAST(sum_words AS BIGINT) AS sum_words,
           CAST(sum_tokens AS BIGINT) AS sum_tokens,
           CAST((sum_tokens * 1000000) // greatest(sum_words, 1)
                AS BIGINT) AS tokens_per_word_micro,
           CAST((sum_chars * 1000000) // greatest(sum_tokens, 1)
                AS BIGINT) AS chars_per_token_micro
    FROM g
    """
