"""Sources: fixture synthesis, documents->sequences tokenization, writers.

Tokenization must be expressible identically in Spark SQL and DuckDB SQL
(the driver's correctness gate runs both): ``tok(w) = length(w) * 97 +
ascii(w)`` over whitespace-split non-empty words. Deterministic, no UDF,
JVM-side in Spark.

Fixture synthesis follows FIXTURES.md §1's case families (seeded
numpy.default_rng — same shapes the reference's tests exercise:
uniform/gaussian/sine/ar1/constant/short/empty/longtail/multisource).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from tsf.textstats import _WORDS

_TOK = "w -> cast(length(w) * 97 + ascii(w) as int)"
TOKENIZE_SPARK = f"transform({_WORDS}, {_TOK})"
#: the two tokenize stages split out so n_tok-only consumers can skip
#: the per-token hash (see sequences_from_documents): _WORDS, then this
_HASH_WORDS_SPARK = f"transform(_ws, {_TOK})"
TOKENIZE_DUCKDB = ("list_transform(list_filter(string_split(text, ' '), "
                   "w -> length(w) > 0), w -> CAST(length(w) * 97 + ascii(w) AS INT))")


def sequences_from_documents(spark: SparkSession, sf_dir: str,
                             spread: bool = False) -> DataFrame:
    """documents.parquet -> the engine-native sequences shape
    (doc_id string, tokens array<int>, n_tok int, source string).

    ``spread`` puts the narrow-scan guard (:func:`tsf.spread.spread_rows`,
    guide §2.5) in front of tokenize, for heavy row-local consumers: a
    single-row-group documents file otherwise serializes tokenize and
    every row-local stage above it onto one task. The default keeps the
    zero-Exchange plan (tokens/text never shuffle)."""
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text", "source"))
    if spread:
        from tsf.spread import spread_rows
        docs = spread_rows(docs)
    # n_tok is the size of the FILTERED word list, before the per-token
    # hash transform (size(transform(x)) == size(x) by construction), so
    # queries that only consume n_tok — packing/shuffle/split layouts —
    # prune the transform away entirely instead of hashing every token
    # to count them (guide §2.3 "don't compute things you throw away").
    return (docs
            .withColumn("_ws", F.expr(_WORDS))
            .select(F.col("doc_id").cast("string").alias("doc_id"),
                    F.expr(_HASH_WORDS_SPARK).alias("tokens"),
                    F.size("_ws").cast("int").alias("n_tok"),
                    "source"))


def sequences_duckdb_cte() -> str:
    """DuckDB CTE producing the identical sequences view over `documents`."""
    return (f"SELECT CAST(doc_id AS VARCHAR) AS doc_id, {TOKENIZE_DUCKDB} AS tokens, "
            f"CAST(len({TOKENIZE_DUCKDB}) AS INT) AS n_tok, source FROM documents")


# ------------------------------------------------------------ fixture synthesis

VOCAB = 50257


def synth_sequences_pdf(n_docs: int = 200, seed: int = 42,
                        longtail_max: int = 200_000) -> pd.DataFrame:
    """Deterministic fixture table covering FIXTURES.md §1 case families."""
    rng = np.random.default_rng(seed)
    rows = []

    def add(name, toks, source):
        toks = np.asarray(toks, dtype=np.int32)
        rows.append((name, toks, np.int32(toks.size), source))

    sources = ["web", "code", "books"]
    per = max(1, n_docs // (len(sources) * 5))
    for si, src in enumerate(sources):
        for i in range(per):
            add(f"{src}-unif-{i:05d}",
                rng.integers(0, VOCAB, 1000), src)
            g = np.clip(rng.normal(VOCAB / 2, VOCAB / 8, 1000), 0, VOCAB - 1)
            add(f"{src}-gaus-{i:05d}", np.round(g), src)
            t = np.arange(1000) * (0.01 + 0.001 * i) + si
            add(f"{src}-sine-{i:05d}",
                np.round(np.sin(t) * 2000 + VOCAB / 2), src)
            ar = np.empty(1000)
            ar[0] = 0.0
            eps = rng.normal(0, 300, 1000)
            for tt in range(1, 1000):  # AR(1), phi=.8 (fixture gen only)
                ar[tt] = 0.8 * ar[tt - 1] + eps[tt]
            add(f"{src}-ar1-{i:05d}", np.clip(np.round(ar + VOCAB / 2), 0, VOCAB - 1), src)
            add(f"{src}-const-{i:05d}", np.full(500, 7 + i), src)
    # edges: short / empty / longtail
    for n in (1, 5, 39, 40, 41, 99, 100, 101):
        add(f"web-short-{n:05d}", rng.integers(0, VOCAB, n), "web")
    add("web-empty-00000", np.empty(0, dtype=np.int32), "web")
    for i, n in enumerate([longtail_max, longtail_max // 4]):
        add(f"code-long-{i:05d}", rng.integers(0, VOCAB, n), "code")
    return pd.DataFrame(rows, columns=["doc_id", "tokens", "n_tok", "source"])


def synth_sequences(spark: SparkSession, n_docs: int = 200, seed: int = 42,
                    longtail_max: int = 200_000, partitions: int = 8) -> DataFrame:
    pdf = synth_sequences_pdf(n_docs, seed, longtail_max)
    pdf["tokens"] = pdf["tokens"].map(lambda a: a.tolist())
    sdf = spark.createDataFrame(
        pdf, "doc_id string, tokens array<int>, n_tok int, source string")
    return sdf.repartition(partitions, "doc_id")


# ------------------------------------------------- portable metadata IO
#
# Driver-side pathlib only works for paths on the driver's local disk; a
# cluster deployment points index/output at hdfs:///s3a:// URIs where
# the parquet data lands through Hadoop FS but a local `Path(...).
# write_text` raises FileNotFoundError. These helpers route tiny
# metadata files (index params, export stats) through the SAME Hadoop
# FileSystem the data uses, so "spark-submit --master yarn ... --output
# s3a://bucket/export" works end-to-end. Scheme-less paths resolve
# against fs.defaultFS (local[*] -> local disk; a real cluster -> HDFS),
# which is exactly where the sibling parquet directories go.


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def hadoop_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write ``text`` as one file at ``path`` on whatever Hadoop
    filesystem the path's scheme (or fs.defaultFS) names."""
    fs, p = _hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def hadoop_read_text(spark: SparkSession, path: str) -> str:
    fs, p = _hadoop_fs(spark, path)
    jvm = spark.sparkContext._jvm
    stream = fs.open(p)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()


def hadoop_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _hadoop_fs(spark, path)
    return bool(fs.exists(p))


def write_rollup(df: DataFrame, path: str, mode: str = "overwrite",
                 partition_cols: tuple[str, ...] = ("source",),
                 table: str | None = None,
                 doc_buckets: int = 64) -> None:
    """Rollup sink (the engine's single writer seam).

    - ``table=None`` (sandbox default): parquet directory partitioned by
      ``partition_cols`` for partition pruning on (source, ...).
    - ``table='catalog.db.name'``: Iceberg DataFrameWriterV2 path with the
      north rule's partition spec — ``(source, bucket(doc_buckets,
      doc_id))`` so rollup/ledger joins on doc_id are co-located and each
      write is an atomic Iceberg SNAPSHOT (time-travel = the retention
      story's audit trail). Requires the session to be built with an
      Iceberg catalog (`spark.sql.catalog.<name>` + runtime jars on a real
      deployment; this sandbox has no jars, so the path is exercised only
      as far as plan construction in tests — re-verified round 3: no
      iceberg/delta jar among pyspark's 287 bundled jars, no ~/.ivy2 or
      ~/.m2 offline cache, and no network to fetch one, so snapshot
      commits / MERGE / time-travel stay untestable here by construction).
    """
    if table is not None:
        writer = df.writeTo(table).partitionedBy(
            *[F.col(c) for c in partition_cols],
            F.bucket(doc_buckets, F.col("doc_id")))
        if mode == "overwrite":
            writer.createOrReplace()
        elif mode == "append":
            writer.append()
        else:
            # parquet's error/ignore semantics have no V2 writer
            # equivalent here — refuse loudly rather than silently
            # appending under a mode that promised not to write
            raise ValueError(
                f"write_rollup(table=...) supports mode 'overwrite' or "
                f"'append', got {mode!r}")
        return
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
