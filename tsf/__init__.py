"""tsf — a PySpark-native time-series rollup + downsample + retention engine.

Re-expresses the capabilities of brendanjohnharris/TimeseriesFeatures.jl
(reference at /root/reference, studied for semantics only) as an idiomatic
Spark engine over tables of pre-tokenized sequences
``(doc_id string, tokens array<int>, n_tok int, source string)``:

- ``tsf.registry``   Feature / SuperFeature / FeatureSet with set algebra
                     (reference: src/Features.jl:39-64, src/FeatureSets.jl,
                     src/SuperFeatures.jl:87-117).
- ``tsf.kernels``    vectorized numpy feature kernels (ACF, PACF, RAD,
                     histogram mode, z-score supers, first-ACF-crossing).
- ``tsf.rollup``     tier-0 tumbling-window rollup (mapInPandas) and the
                     10x/100x downsample tier cascade derived from
                     lower-tier compressed blocks (segment-tree layout).
- ``tsf.gorilla``    Gorilla-style XOR float codec + delta-of-delta int
                     codec, vectorized numpy bit-packing, exact round-trip.
- ``tsf.gapfill``    window-grid densify + LOCF + linear interpolation.
- ``tsf.ledger``     per-tier rollup ledger (partition_id, watermark,
                     checksum, metrics) and exact resume-from-checkpoint.
- ``tsf.streaming``  Structured Streaming arrival path: incremental
                     tier-0 (availableNow / foreachBatch + ledger),
                     watermarked event-time windows.
- ``tsf.dedup`` / ``tsf.similarity`` / ``tsf.textstats``  training-data
                     pipeline operators (exact + MinHash/SimHash dedup,
                     ANN cosine search, series-pairwise Pearson,
                     language-ID / quality scoring / token counting).
- ``tsf.multimodal`` binary media columns: typed metadata, stub decode,
                     batch feature extraction, frame-sampling plumbing.
- ``tsf.icelite``    Iceberg-style snapshot table format over parquet
                     (atomic commits, time travel, snapshot expiry,
                     hidden identity/bucket partitioning, manifest
                     min/max file pruning, one-commit retention expiry)
                     — the sandbox stand-in for the jar-less Iceberg
                     seam in ``tsf.io.write_rollup(table=...)``.
"""

import os
import sys

from tsf.registry import Feature, FeatureSet  # noqa: F401

__version__ = "0.1.0"


def _reuse_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed.

    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``pyspark/worker_util.py``, ``setup_spark_files``).
    Before Python 3.13 each zipimporter answers by re-reading its
    archive's whole central directory, and a worker holds about 16 of
    them over ``pyspark.zip``, the py4j zip and the 15 MB, 5,359-entry
    ``spark-core`` jar: measured 0.23 s of CPU per task on a 4-core
    host. Python 3.13 made the call lazy, so the gate leaves it alone.
    This module is imported by every worker that unpickles a ``tsf``
    UDF, so every later task on that reused worker skips the cost."""
    import zipimport

    stat_at_read = {}  # archive -> (st_mtime_ns, st_size) at its last read
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if (key is None or files is None
                or stat_at_read.get(self.archive) != key):
            reread(self)
            stat_at_read[self.archive] = key
        else:
            self._files = files

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 13):
    _reuse_unchanged_zip_directories()
