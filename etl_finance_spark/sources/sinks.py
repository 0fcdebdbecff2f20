"""Sinks (SURVEY.md §2.1 R-SNK-1/2, §2.2 X-SNK-1/2).

The reference's load path is one INSERT per row over a single
connection (/root/reference/etl.py:183-191). The engine's equivalents:

- partitioned parquet append (the warehouse path);
- keyed idempotent upsert = dedup + anti-join + append (the unique-
  index insert-ignore contract, etl.py:187-189);
- JDBC egress batched per partition (executemany), never per row.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(df: DataFrame, path: str,
                      partition_by: Sequence[str] = ()) -> None:
    """X-SNK-1: partitioned parquet append. Partition columns become
    directories → partition pruning on read; at 100 TB pick low-
    cardinality keys (date, region) so files stay > ~100 MB."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def backfill_partitions(df: DataFrame, path: str,
                        partition_by: Sequence[str]) -> None:
    """Idempotent reprocessing of a partitioned table: DYNAMIC
    partition overwrite replaces exactly the partitions present in
    ``df`` and leaves every other partition's files untouched — the
    repair primitive behind "re-run day X with the fixed logic".
    Append would duplicate the day; static overwrite mode would drop
    the whole table. Re-running the same backfill converges to the
    same bytes (no read-modify-write, so it also commutes with
    concurrent readers of other partitions)."""
    if not partition_by:
        raise ValueError("backfill_partitions needs partition columns; "
                         "use a plain overwrite for unpartitioned data")
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_upsert(spark: SparkSession, incoming: DataFrame, path: str,
                 keys: Sequence[str]) -> None:
    """R-SNK-2: insert-if-absent on the key against a parquet target.
    Creates the target on first write. (On a Delta/Iceberg catalog this
    is `MERGE WHEN NOT MATCHED THEN INSERT`; plain parquet gets the
    equivalent anti-join append.)

    Only a missing path means "first write". An existing target is
    read for its key columns with a schema taken from ``incoming``, so
    no schema-inference job runs per load. An explicit-schema read
    alone would return NULL for a key column the files lack, and the
    anti-join would then append every row again; one driver-side
    footer read of one data file keeps the check inference gave: a
    missing key column raises ValueError, a directory with no data
    files raises ValueError, and a file that is not parquet raises
    from the footer read. All three raise before anything is
    appended."""
    from pyspark.sql.types import StructType

    from etl_finance_spark.operators.core import upsert_new_rows

    keys = list(keys)
    conf = spark._jsc.hadoopConfiguration()
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(conf)
    if not fs.exists(jpath):
        incoming.dropDuplicates(keys).write.parquet(path)
        return
    data = [st for st in fs.listStatus(jpath)
            if st.isFile() and not st.getPath().getName().startswith(("_", "."))]
    if not data:
        raise ValueError(f"upsert target {path!r} exists but holds no data files")
    parquet = spark._jvm.org.apache.parquet.hadoop
    reader = parquet.ParquetFileReader.open(
        parquet.util.HadoopInputFile.fromStatus(data[0], conf))
    try:
        footer = reader.getFooter().getFileMetaData().getSchema()
    finally:
        reader.close()
    present = {footer.getFieldName(i) for i in range(footer.getFieldCount())}
    missing = [k for k in keys if k not in present]
    if missing:
        raise ValueError(f"upsert target {path!r} lacks key columns {missing}")
    key_schema = StructType([incoming.schema[k] for k in keys])
    target = spark.read.schema(key_schema).parquet(path)
    upsert_new_rows(incoming, target, keys).write.mode("append").parquet(path)


def write_jdbc(df: DataFrame, url: str, table: str, *,
               mode: str = "append", batchsize: int = 10_000,
               properties: dict | None = None) -> None:
    """X-SNK-2: JDBC egress — Spark batches `batchsize` rows per
    executemany per partition; one connection per partition, not per
    row (replaces etl.py:183's iterrows loop). Integration-tested
    against embedded Derby (ships in Spark's jars dir); a server-side
    target (MySQL, etl.py:84) is the same call with a different URL."""
    df.write.jdbc(url=url, table=table, mode=mode,
                  properties={"batchsize": str(batchsize),
                              **(properties or {})})


def write_orc(df: DataFrame, path: str,
              partition_by: Sequence[str] = ()) -> None:
    """ORC twin of write_partitioned — same layout guidance (low-
    cardinality partition keys, files > ~100 MB)."""
    w = df.write.mode("append")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_sorted_layout(df: DataFrame, path: str, sort_cols: Sequence[str],
                        n_files: int) -> None:
    """Range-partition + sort-within-partitions write — the clustering
    layout that makes min/max row-group statistics selective, so later
    range predicates skip whole files/row-groups at scan time (parquet
    footer pruning; the poor-man's Z-order for a single sort key).
    At 100 TB this is the difference between "read 3 files" and "read
    the table" for a date-range query; the file-level disjointness is
    asserted from the written footers in tests/test_sources2.py."""
    (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite").parquet(path)
    )


def write_zorder(df: DataFrame, path: str, cols: Sequence[str],
                 n_files: int, bits: int = 8) -> None:
    """Z-order (Morton-curve) clustered write — the multi-dimensional
    generalization of write_sorted_layout: rows sort by the bit
    interleaving of each clustering column's width-bucketed rank, so
    min/max footer statistics stay selective on EVERY clustering
    column at once (a single sort key is selective on itself and
    useless on the others; measured in tests/test_sources2.py —
    the x-sorted layout prunes nothing on y, the z-ordered layout
    prunes both dimensions).

    Ranks derive from global per-column min/max computed in ONE tiny
    aggregate that broadcast-joins back onto the frame — no driver
    collect, so the plan stays a single pass over the data at any
    scale. NULLs and degenerate (min == max) columns rank 0. ``bits``
    buckets each dimension into 2^bits cells; 8 bits resolves up to
    ~256 files per dimension, plenty past the point where file-level
    pruning saturates. When ``len(cols) * bits`` would overflow the 63
    usable (non-sign) bits of the long z-key, ``bits`` auto-shrinks to
    ``63 // len(cols)`` — without the clamp an 8th column at the
    default 8 bits puts its top bit in the sign position (top-bucket
    rows would sort FIRST) and a 9th wraps the shift count mod 64,
    silently scrambling the Morton order. Clustering columns must be
    numeric (cast dates and timestamps to epoch first)."""
    from pyspark.sql import functions as F

    k = len(cols)
    if k == 0:
        raise ValueError("write_zorder requires at least one clustering column")
    if bits < 1:
        raise ValueError(f"bits must be >= 1, got {bits}")
    bits = min(bits, 63 // k)
    if bits < 1:
        raise ValueError(
            f"write_zorder supports at most 63 clustering columns, got {k}")
    nb = 2 ** bits
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"__lo{i}")
          for i, c in enumerate(cols)],
        *[F.max(c).cast("double").alias(f"__hi{i}")
          for i, c in enumerate(cols)],
    )
    with_stats = df.crossJoin(F.broadcast(stats))
    # the NULL/degenerate fallback must sit INSIDE least(): Spark's
    # least() SKIPS null operands (returns null only when all are), so
    # least(255, null) = 255 and an outer coalesce never fires — NULL
    # values and min==max columns would silently rank into the TOP
    # bucket instead of the documented 0
    ranks = [
        F.least(
            F.lit(nb - 1),
            F.coalesce(
                F.floor(
                    F.try_divide(
                        F.col(c).cast("double") - F.col(f"__lo{i}"),
                        F.col(f"__hi{i}") - F.col(f"__lo{i}"),
                    )
                    * nb
                ),
                F.lit(0),
            ),
        ).cast("long")
        for i, c in enumerate(cols)
    ]
    # interleave: bit b of rank i lands at position b*k + i; the terms
    # occupy disjoint bit positions, so a plain sum assembles the key
    zkey = ranks[0] * 0
    for b in range(bits):
        for i, r in enumerate(ranks):
            zkey = zkey + F.shiftleft(
                F.shiftright(r, b).bitwiseAND(F.lit(1)), b * k + i
            )
    (
        with_stats.withColumn("__zkey", zkey)
        .select(*df.columns, "__zkey")
        .repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite").parquet(path)
    )


def write_target_size(df: DataFrame, path: str,
                      target_mb: float = 128.0,
                      sample_rows: int = 10_000) -> int:
    """Write parquet with output files sized near ``target_mb`` —
    the forward-fix for the lake file-size problem compact_partitions
    repairs after the fact. Row width at rest is unknowable from the
    logical schema (encodings + compression commonly shrink 5-20x), so
    a bounded ``sample_rows`` write measures the ENCODED bytes/row
    first; the real write then bounds ``maxRecordsPerFile`` to
    target_mb / bytes_per_row over an AQE-rebalanced exchange (the
    rebalance merges small task outputs so the record cap — which only
    SPLITS big tasks — has right-sized inputs to split). Returns the
    records-per-file bound used.

    The sample must be REPRESENTATIVE, not a prefix: ``limit()`` reads
    only the first partitions, and on key-clustered data (the normal
    lake layout) those encode unrepresentatively small — long
    dictionary/RLE runs — which would inflate the rows-per-file bound
    toward the wide-scan-OOM side. Instead EVERY partition contributes
    a bounded head (a mapInPandas generator that stops after its
    quota, so each task reads about one Arrow batch), capped globally
    at ``sample_rows``; like any pandas-lane op this needs
    Arrow-representable column types. Sizes come from the Hadoop
    FileSystem API, so any FS the session can write works, and the
    sizing directory is removed even when measurement fails. Tiny
    sample files still over-weigh the fixed parquet footer, biasing
    bytes/row UP and file sizes conservatively UNDER target — the safe
    direction (too-small splits cost a little scheduling; too-big
    splits cost executor OOM on wide scans)."""
    if target_mb <= 0:
        raise ValueError(f"target_mb must be > 0, got {target_mb}")
    if sample_rows < 1:
        raise ValueError(f"sample_rows must be >= 1, got {sample_rows}")
    spark = df.sparkSession
    per_part = 256

    def _heads(batches):
        taken = 0
        for pdf in batches:
            if len(pdf) == 0:
                # a zero-row Arrow batch mid-stream is not quota
                # exhaustion — skip it, keep sampling this partition
                continue
            take = min(len(pdf), per_part - taken)
            if take <= 0:
                return
            yield pdf.head(take)
            taken += take

    sizing = path.rstrip("/") + "__sizing"
    jpath = spark._jvm.org.apache.hadoop.fs.Path(sizing)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        (
            df.mapInPandas(_heads, df.schema).limit(sample_rows)
            .write.mode("overwrite").parquet(sizing)
        )
        sampled_bytes = sum(
            st.getLen() for st in fs.listStatus(jpath)
            if st.getPath().getName().endswith(".parquet")
        )
        sampled_n = spark.read.parquet(sizing).count()
    finally:
        fs.delete(jpath, True)
    if sampled_n == 0:  # empty frame — nothing to size
        df.write.mode("overwrite").parquet(path)
        return 0
    bytes_per_row = max(1, sampled_bytes // sampled_n)
    per_file = max(1, int(target_mb * 1024 * 1024 / bytes_per_row))
    (
        df.hint("rebalance")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", per_file)
        .parquet(path)
    )
    return per_file


def compact_partitions(spark: SparkSession, path: str,
                       target_files: int) -> int:
    """Small-file compaction: rewrite a directory into `target_files`
    evenly-sized files (coalesce — no shuffle; the files were already
    the right data, just fragmented by streaming/incremental appends).
    Returns the file count before compaction. The operational fix for
    the classic lake failure mode where a million 1 MB files make
    listing and task scheduling the bottleneck rather than IO.

    Flat-directory-only by contract: pointing this at a hive-partitioned
    root would re-read partition columns as data columns and flatten the
    layout, so a directory with subdirectories is refused — compact each
    leaf partition instead (ADVICE r3)."""
    import glob as _glob
    import os as _os

    subdirs = [e.name for e in _os.scandir(path)
               if e.is_dir() and not e.name.startswith(("_", "."))]
    if subdirs:
        raise ValueError(
            f"compact_partitions expects a flat parquet directory; {path!r} "
            f"contains subdirectories (e.g. {subdirs[0]!r}) — compact each "
            "leaf partition instead"
        )
    before = len(_glob.glob(_os.path.join(path, "*.parquet")))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact"
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    # atomic-ish swap (same filesystem); if either rename fails the
    # original directory is restored (readers never see `path` absent)
    # and the freshly written __compact copy is removed — a failed swap
    # must not strand a full second copy of the dataset on disk
    import shutil as _shutil

    bak = path.rstrip("/") + "__old"
    try:
        _os.rename(path, bak)
        try:
            _os.rename(tmp, path)
        except BaseException:
            _os.rename(bak, path)
            raise
    except BaseException:
        _shutil.rmtree(tmp, ignore_errors=True)
        raise
    _shutil.rmtree(bak)
    return before


# ---------------------------------------------------------------------------
# Declared query — the batch-observable projection of the backfill sink
# ---------------------------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from etl_finance_spark.catalog import table  # noqa: E402
from etl_finance_spark.registry import register  # noqa: E402


@register(
    "q_backfill_partitions",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS orders,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 'v2' ELSE 'v1' END
               AS batch
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_backfill_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-partition repair, projected to an oracle-checkable
    read-back: write orders partitioned by priority tagged 'v1', then
    backfill ONLY the 1-URGENT partition with a 'v2' re-run, and
    aggregate the table at rest. The oracle pins the three properties
    the sink exists for — the repaired partition is fully REPLACED
    (same row count, batch flips to v2; an append would double it),
    every other partition is untouched (original counts, batch v1; a
    static overwrite would drop them), and the repair is idempotent:
    the backfill runs TWICE, so a replace that degraded to an append
    on re-run would double the repaired count and go red. Work dir is
    process-temp, removed at exit; the frame is consumed in-process."""
    import atexit
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="q_backfill_partitions_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    path = f"{work}/orders_by_priority"

    orders = table(spark, sf_dir, "orders").withColumn("batch", F.lit("v1"))
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    # withColumn replaces the v1 tag in place — same source frame, same
    # column position, no second fixture scan
    repaired = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .withColumn("batch", F.lit("v2"))
    )
    backfill_partitions(repaired, path, ["o_orderpriority"])
    backfill_partitions(repaired, path, ["o_orderpriority"])  # idempotence
    # explicit read schema: on an empty source the write leaves no
    # partition directories, so inference has nothing to discover the
    # partition column from (and would fail); the schema is also what
    # keeps the result layout data-independent
    return (
        spark.read.schema(orders.schema).parquet(path)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("orders"),
            # exactly one batch tag per partition post-repair; max is a
            # plain witness that collapses identical values
            F.max("batch").alias("batch"),
        )
    )
