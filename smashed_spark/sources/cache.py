"""Fingerprint-addressed pipeline-segment cache.

Reference semantics (src/smashed/mappers/cache.py:70-330):
``StartCachingMapper`` / ``EndCachingMapper`` bracket a pipeline
segment; the cache path is ``cache_dir / dataset_fingerprint /
pipeline_fingerprint`` (cache.py:148-154).  On hit, execution jumps
past the bracket; on miss, the segment runs and the result is saved on
the way through (cache.py:216-229, 308-319).

Spark rebuild: the checkpoint format is parquet (columnar, splittable,
predicate-pushdown-friendly — the right sink at 100 TB, unlike the
reference's pickle at cache.py:190-195).  The dataset fingerprint
(``core/fingerprint.py``) is derived from the *source description*
rather than hashing every row: two separate reads of unchanged files
share a key (a re-run hits), while a rewritten or different file
misses; in-memory data and Python code before the bracket never share
one.  Building the key costs two JVM calls per file relation, reading
the listing its read already made (no file-system call per file).
"""

from __future__ import annotations

import os
from typing import List, Optional

from pyspark.sql import DataFrame

from ..core.fingerprint import dataset_fingerprint, segment_fingerprint
from ..core.mapper import SparkMapper

DEFAULT_CACHE_DIR = os.path.join(
    os.environ.get("SMASHED_SPARK_CACHE", "/tmp/smashed_spark_cache")
)


class StartCachingMapper(SparkMapper):
    """Marker opening a cached segment (reference cache.py:235-330)."""

    def __init__(self, cache_dir: Optional[str] = None) -> None:
        super().__init__()
        self.cache_dir = cache_dir or DEFAULT_CACHE_DIR

    def apply(self, df: DataFrame) -> DataFrame:  # handled by the runner
        return df


class EndCachingMapper(SparkMapper):
    """Marker closing a cached segment (reference cache.py:169-232)."""

    def apply(self, df: DataFrame) -> DataFrame:  # handled by the runner
        return df


def _cache_hit(spark, path: str) -> bool:
    """Check for a completed checkpoint via the Hadoop FileSystem API so
    cache dirs may live on any supported filesystem (s3a://, hdfs://,
    file:) — a local os.path check would silently miss remote caches."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(os.path.join(path, "_SUCCESS"))
    fs = p.getFileSystem(conf)
    return bool(fs.exists(p))


def run_with_cache(mappers: List[SparkMapper], df: DataFrame) -> DataFrame:
    """Fold ``df`` through ``mappers`` honoring caching brackets.

    Mirrors the reference's jump-past-the-bracket control flow
    (cache.py:308-319) with parquet checkpoints.
    """
    i = 0
    n = len(mappers)
    while i < n:
        m = mappers[i]
        if isinstance(m, StartCachingMapper):
            # find matching EndCachingMapper (reference cache.py:251-267)
            j = i + 1
            depth = 0
            while j < n:
                if isinstance(mappers[j], StartCachingMapper):
                    depth += 1
                elif isinstance(mappers[j], EndCachingMapper):
                    if depth == 0:
                        break
                    depth -= 1
                j += 1
            if j >= n:
                raise RuntimeError(
                    "StartCachingMapper without a matching EndCachingMapper"
                )
            segment = mappers[i + 1 : j]
            ds_fp = dataset_fingerprint(df)
            seg_fp = segment_fingerprint(segment)
            path = os.path.join(m.cache_dir, ds_fp, seg_fp)
            spark = df.sparkSession
            if _cache_hit(spark, path):
                df = spark.read.parquet(path)
            else:
                for seg_m in segment:
                    df = seg_m.map(df)
                df.write.mode("overwrite").parquet(path)
                df = spark.read.parquet(path)
            i = j + 1
        elif isinstance(m, EndCachingMapper):
            raise RuntimeError(
                "EndCachingMapper without a preceding StartCachingMapper"
            )
        else:
            df = m.map(df)
            i += 1
    return df
