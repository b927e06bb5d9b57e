"""Scan-width guard: repartition narrow scans before row-local heavy work.

The optimization guide's input-skew remedy (§2.5: "one huge unsplittable
file ... repartition immediately after the read"): parquet scan
parallelism is bounded by row-group count, so a table written as one
small file (the sandbox fixtures; any badly-compacted upstream) runs
every downstream row-local stage — tokenize, shingle, gram explode,
Arrow kernels — on ONE task regardless of cluster size.

One rule, applied only in front of the heavy stages (dedup shingling,
decontamination and DSIR gram explodes, BPE training rounds, media
decode, the pairwise/kernel/motif sequence scans): a file-backed frame
read from fewer files than the session's default parallelism is
repartitioned to that parallelism; anything else passes through
unchanged, so no Exchange appears on real many-file tables or on
in-memory frames.

There is no byte floor. The round-6 table (OPTIMIZATION_r06.md, wave A)
records wins only for the unconditional heavy-stage guards, all on
sub-MB fixtures (minhash_check 2.54→0.42 s, measured on the LCG
string-shingle twin that query ran before it checked the production
signatures; kernel_features 1.39→0.74 s at sf0.1); a floor would
switch exactly those off, and the floor-gated read-site guards never
fired on any measured fixture.
There is no RDD partition-count probe either: ``df.rdd`` builds the
physical plan eagerly at plan time, and it only mattered when a guard
landed on a frame an earlier guard had already spread — no call path
nests guards any more.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_rows(df: DataFrame, by: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism keyed by
    ``by`` when it is read from fewer input files than that; ``df``
    itself otherwise (wide scans, in-memory frames). The Exchange moves
    only the columns projected so far — callers select the narrow
    (id, payload) projection first."""
    par = df.sparkSession.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    if n_files == 0 or n_files >= par:
        return df
    return df.repartition(par, *by)
