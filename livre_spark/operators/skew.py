"""B5/B6: size-bucketed repartitioning + salting for the extraction stage.

Why not AQE: adaptive execution only re-plans *shuffle* skew; a 500 MB PDF
in a 10 KB-median corpus stalls its Python worker regardless of how rows
were shuffled.  The fix is explicit: split the heavy tail onto its own
partitions so each long-running document shares a partition with few
others, while the small-document bulk is salted uniformly.

Design rule: **never shuffle the whole corpus to rebalance it.**  The
small-document bulk is already byte-balanced by the scan itself
(``spark.sql.files.maxPartitionBytes`` caps split sizes), so it flows
shuffle-free into the extraction stage.  Only the heavy tail - a tiny
fraction of rows and bytes - is shuffled onto its own salted partitions.

At 1000-executor / 100 TB scale this plan holds because:

- the split predicate (``length(html) >= threshold``) is evaluated
  JVM-side during the scan - no extra pass;
- the only shuffle moves the large-doc tail (~1% of bytes), not the
  corpus; measured locally, a full-corpus shuffle cost more wall-clock
  than the extraction it was meant to balance;
- partition counts scale with ``spark.sql.shuffle.partitions``, the knob
  operators already size to the cluster;
- the salt is a deterministic function of the url (``xxhash64``), so task
  retries and checkpoint resume produce identical placements.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_LARGE_THRESHOLD = 1 << 20  # 1 MiB: past this a doc dominates a task


def size_bucketed_repartition(pages: DataFrame,
                              url_col: str = "url",
                              html_col: str = "html",
                              threshold: int = DEFAULT_LARGE_THRESHOLD,
                              n_partitions: int | None = None,
                              large_fraction: float = 0.25,
                              size_col: str | None = None) -> DataFrame:
    """Split heavy-tail docs onto dedicated partitions, salt the rest.

    Returns a DataFrame with the same columns, repartitioned so that no
    partition mixes many large documents with the small-doc bulk.

    ``size_col``: name of a stored byte-length column, if the table has
    one.  At 100 TB this matters: ``length(html) >= threshold`` cannot be
    pushed into the parquet/Iceberg scan (the reader must materialize the
    binary to measure it), so the two branch scans each read every html
    byte.  A plain int column turns both branch predicates into
    stats-pruned pushed filters - the large-branch scan then touches only
    row groups that can contain large docs.  Production tables should
    persist ``n_bytes`` at ingest.
    """
    spark = pages.sparkSession
    if n_partitions is None:
        n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    # Only the large branch gets explicit partitions; the small branch is
    # intentionally shuffle-free (scan splits are already byte-balanced).
    n_large = max(1, int(n_partitions * large_fraction))

    sz = F.col(size_col) if size_col else F.length(F.col(html_col))
    # 64k salt values smooth the salt->partition lumping (each salt
    # value carries all its docs; coarse salts gave +-35% doc-count
    # spread over 48 partitions, 64k gives +-2%)
    salt = F.pmod(F.xxhash64(F.col(url_col)), F.lit(65536))

    # small docs: shuffle-free - scan splits are already byte-balanced
    # (build_session caps spark.sql.files.maxPartitionBytes)
    small = pages.filter(sz < threshold)
    # heavy tail: length-based repartitioning onto dedicated partitions
    large = (pages.filter(sz >= threshold)
             .withColumn("_salt", salt)
             .repartition(n_large, "_salt")
             .drop("_salt"))
    return small.unionByName(large)


def ensure_scan_parallelism(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition a scan whose file layout cannot split (guide 2.5:
    "input skew: one huge unsplittable file ... repartition immediately
    after the read").

    A parquet file with a single row group yields exactly ONE scan task
    no matter what ``maxPartitionBytes`` asks for, so everything fused
    into the scan stage (explode + hash + partial aggregation, regex
    chains, ``map_rows`` kernels) runs on one core.  When the scan
    already produces at least ``defaultParallelism`` partitions (a real
    multi-file table at scale) this is a no-op; otherwise it pays one
    narrow shuffle of the projected input to restore parallelism.
    With ``key_cols`` the repartition is hash-keyed (deterministic
    placement, and a downstream groupBy on a superset of the keys
    reuses the exchange); without, round-robin.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= cores:
        return df
    n = int(spark.conf.get("spark.sql.shuffle.partitions", str(2 * cores)))
    return df.repartition(n, *key_cols) if key_cols else df.repartition(n)


def latest_per_url(pages: DataFrame, url_col: str = "url",
                   ts_col: str = "warc_ts") -> DataFrame:
    """B12: keep the newest snapshot of each url (window dedup).

    A single hash shuffle on url; at scale this is the unavoidable
    dedup shuffle and doubles as co-location for the checkpoint
    anti-join that follows (same key).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(url_col).orderBy(F.col(ts_col).desc())
    return (pages
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn"))
