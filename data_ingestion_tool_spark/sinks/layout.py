"""Physical-layout maintenance: Z-order clustering and small-file
compaction.

Both operators matter only at scale — on a laptop every layout is fast;
on a 1000-executor cluster reading 100 TB, data layout IS the query
plan. Z-ordering bounds every file's min/max envelope in *several*
dimensions at once, so multi-dimensional range predicates prune files
before a single byte is read (parquet footer min/max + Spark's file
skipping). Compaction keeps the file count proportional to data size,
not to ingestion cadence — a table fed by 10k micro-batches/day
otherwise degrades into millions of KB-sized files whose open/footer
costs dwarf the scan.

The reference tool appends blindly per ingested file
(``box_ingest.py:124-129``) and has no maintenance story; these are the
Spark-native operators a production deployment runs nightly.

**Staged-swap scale boundary (shared contract for every rename-based op
in this module — compact_files, write_audit_publish, delete_where,
update_where, merge_upsert_where):** each op stages its complete output
to a sibling temp dir while the published files are untouched, then
publishes via POSIX same-volume ``os.rename`` / ``os.remove`` — atomic
and metadata-only on local disk and HDFS, which is what makes readers
see old-or-new, never half-written. On an object store (S3/GCS) rename
is copy+delete and NOT atomic: a production port replaces the publish
step — and ONLY it; the predicate-pushed scans, file targeting, and
one-job rewrites are unchanged — with a manifest/metastore commit (the
Delta/Iceberg transaction-log pattern; ``sinks.tables`` holds the
table-catalog variants).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def zvalue(a: Column | str, b: Column | str, *, bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of two
    non-negative integer columns. Pure JVM bit arithmetic — whole-stage
    codegen, no UDF. Callers must pre-scale inputs into [0, 2**bits)
    (rank or min/max scaling) — values beyond that range would collide
    on the high bits and weaken (not corrupt) clustering.
    """
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    ca = ca.cast("bigint")
    cb = cb.cast("bigint")
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        bit_a = F.shiftleft(F.shiftrightunsigned(ca, i).bitwiseAND(F.lit(1)), 2 * i)
        bit_b = F.shiftleft(
            F.shiftrightunsigned(cb, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        z = z.bitwiseOR(bit_a).bitwiseOR(bit_b)
    return z


def scaled_to_bits(col: Column | str, max_val: int, *, bits: int = 16) -> Column:
    """Scale a non-negative column with known maximum into [0, 2**bits)
    — the pre-step that makes the Z-curve meaningful when dimensions
    have different magnitudes (an unscaled 11-bit × 7-bit interleave
    degenerates toward a single-dimension sort)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c.cast("double") * (1 << bits) / (max_val + 1)).cast(
        "bigint"
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    *,
    bits: int = 16,
    n_files: int = 16,
) -> None:
    """Write ``df`` as parquet clustered on the Z-curve of two columns.

    ``repartitionByRange`` on the Morton key gives each output file a
    contiguous Z-range — i.e. a bounded rectangle (union of a few) in
    (a, b) space — and ``sortWithinPartitions`` tightens every parquet
    row group's min/max envelope inside the file. A predicate
    ``a BETWEEN .. AND b BETWEEN ..`` then skips every file whose
    envelope misses the box; a single-column sort layout can prune only
    its own dimension. One shuffle total (the range partitioner); the
    sort is per-partition, no extra exchange."""
    z = zvalue(cols[0], cols[1], bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def files_hit_by_box(
    path: str,
    a: str,
    lo_a: int,
    hi_a: int,
    b: str,
    lo_b: int,
    hi_b: int,
) -> tuple[int, int]:
    """(files whose parquet-footer min/max envelope intersects the box,
    total data files) — the same skipping decision Spark's parquet
    reader makes from row-group statistics, surfaced for tests and
    layout audits."""
    import pyarrow.parquet as pq

    hit = total = 0
    for name in os.listdir(path):
        if not name.endswith(".parquet"):
            continue
        total += 1
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        mins: dict[str, int] = {}
        maxs: dict[str, int] = {}
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                cname = col.path_in_schema
                st = col.statistics
                if st is None or cname not in (a, b):
                    continue
                mins[cname] = min(mins.get(cname, st.min), st.min)
                maxs[cname] = max(maxs.get(cname, st.max), st.max)
        if not mins:
            continue
        if mins[a] <= hi_a and maxs[a] >= lo_a and mins[b] <= hi_b and maxs[b] >= lo_b:
            hit += 1
    return hit, total


def compact_files(
    spark: SparkSession,
    path: str,
    *,
    target_bytes: int = 128 * 1024 * 1024,
    sort_within: str | None = None,
) -> tuple[int, int]:
    """Rewrite a parquet directory into ≈``target_bytes`` files.

    File count derives from the CURRENT on-disk byte size (not row
    count): ``ceil(total_bytes / target_bytes)``, so steady-state cost
    tracks data volume. The rewrite is one job — a round-robin
    ``repartition`` (or a range partition + sort when ``sort_within``
    is given, preserving clustering through compaction) and an
    atomic-rename swap via a sibling temp dir (POSIX/HDFS only — see
    the module docstring's staged-swap scale boundary for the
    object-store substitute). Returns (files_before, files_after)."""
    names = [n for n in os.listdir(path) if n.endswith(".parquet")]
    total_bytes = sum(os.path.getsize(os.path.join(path, n)) for n in names)
    n_out = max(1, math.ceil(total_bytes / target_bytes))
    df = spark.read.parquet(path)
    if sort_within is not None:
        repart = df.repartitionByRange(n_out, sort_within).sortWithinPartitions(
            sort_within
        )
    else:
        repart = df.repartition(n_out)
    tmp = path.rstrip("/") + "__compact_tmp"
    repart.write.mode("overwrite").parquet(tmp)
    # swap: the rewrite is complete and validated before the old dir
    # disappears; readers see either the old or the new layout.
    old = path.rstrip("/") + "__compact_old"
    os.rename(path, old)
    os.rename(tmp, path)
    import shutil

    shutil.rmtree(old)
    after = len([n for n in os.listdir(path) if n.endswith(".parquet")])
    return len(names), after


class AuditFailure(RuntimeError):
    """A write-audit-publish validation check failed; nothing was
    published."""


def write_audit_publish(
    df: DataFrame,
    path: str,
    *,
    checks: list,
    n_files: int | None = None,
) -> int:
    """Exactly-once batch publish: WRITE to a staging directory, AUDIT
    the staged data with validation checks, then PUBLISH via an atomic
    directory rename — readers never observe a half-written or invalid
    table, and a failed audit leaves the previous published state (if
    any) untouched.

    ``checks`` is a list of ``(name, fn)`` where ``fn(staged_df) ->
    bool``; all run against the STAGED files (what readers would get,
    not the in-memory plan — this catches write-path bugs too). Raises
    :class:`AuditFailure` naming the failed check. Returns the
    published row count.

    This is the pattern behind Iceberg/Delta WAP branches, expressed on
    plain directories: the rename is metadata-only on any real
    filesystem (same-volume POSIX rename, HDFS rename; on S3 the
    equivalent is a prefix swap in the table catalog)."""
    spark = df.sparkSession
    staging = path.rstrip("/") + "__staging"
    out = df.repartition(n_files) if n_files else df
    out.write.mode("overwrite").parquet(staging)
    staged = spark.read.parquet(staging)
    for name, fn in checks:
        if not fn(staged):
            raise AuditFailure(f"audit check failed: {name}")
    n = staged.count()
    old = None
    if os.path.exists(path):
        old = path.rstrip("/") + "__prev"
        os.rename(path, old)
    os.rename(staging, path)
    if old is not None:
        import shutil

        shutil.rmtree(old)
    return n


def _shard_bytes(spark: SparkSession, data_dir: str) -> dict[int, int]:
    """Per-shard on-disk bytes via the Hadoop FileSystem API, so the
    manifest works on any scheme (hdfs://, s3a://, file:); plain
    ``os.listdir`` only as the no-JVM fallback."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(data_dir)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        out: dict[int, int] = {}
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if not name.startswith("shard="):
                continue
            sid = int(name.split("=", 1)[1])
            out[sid] = sum(
                f.getLen()
                for f in fs.listStatus(st.getPath())
                if f.getPath().getName().endswith(".parquet")
            )
        return out
    except Exception:
        out = {}
        for d in os.listdir(data_dir):
            if not d.startswith("shard="):
                continue
            sid = int(d.split("=", 1)[1])
            full = os.path.join(data_dir, d)
            out[sid] = sum(
                os.path.getsize(os.path.join(full, f))
                for f in os.listdir(full)
                if f.endswith(".parquet")
            )
        return out


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    key: str,
    n_shards: int,
) -> DataFrame:
    """Publish a training corpus as ``n_shards`` DETERMINISTIC shards
    plus a manifest — the WebDataset/streaming-loader serving layout:
    trainers open shards independently, resume by shard id, and verify
    integrity against the manifest without listing the store.

    Shard assignment is ``xxhash64(key) mod n`` — a pure function of
    the data, so a re-run (or a second engine) produces byte-identical
    shard membership; ``partitionBy`` writes each shard as its own
    directory in ONE job. The manifest (one row per shard: rows, bytes,
    key checksum) is built from filesystem listing + a per-shard
    aggregate, and written next to the shards. Returns the manifest.

    At 100 TB: n_shards scales with corpus bytes (shards of ~1-4 GB).
    The write spends ONE explicit shuffle (``repartition`` on the shard
    id) to co-locate each shard into a single task — the deliberate
    trade-off versus a shuffle-free ``partitionBy``, which would have
    every input task open a file per shard it touches (tasks × shards
    small files); after the shuffle the store holds O(n_shards) files.
    The checksum aggregate is one map-side-combinable pass.
    """
    spark = df.sparkSession
    sharded = df.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(key)), F.lit(n_shards)).cast("int")
    )
    # co-locate each shard's rows into one task BEFORE partitionBy —
    # otherwise every input task writes one file per shard it touches
    # (tasks × shards small files); after this shuffle the file count
    # is O(n_shards)
    sharded = sharded.repartition(n_shards, F.col("shard"))
    data_dir = os.path.join(path, "data")
    sharded.write.mode("overwrite").partitionBy("shard").parquet(data_dir)
    # rows + order-insensitive key checksum per shard, from the STAGED
    # files (catches write-path corruption, not just plan output)
    staged = spark.read.parquet(data_dir)
    stats = (
        staged.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            # MULTISET checksum: sum of key hashes mod 2⁶⁴ (decimal
            # accumulator so ANSI never overflows). Order-insensitive,
            # and — unlike a plain bit_xor, where a dropped/duplicated
            # PAIR of identical keys cancels out — any multiplicity
            # change moves the sum by k·h(key) ≠ 0.
            F.expr(
                f"cast(pmod(sum(cast(xxhash64({key}) as decimal(38,0))"
                " + cast(9223372036854775808 as decimal(38,0))),"
                " cast(18446744073709551616 as decimal(38,0)))"
                " as decimal(20,0))"
            ).alias("key_checksum"),
        )
    )
    bytes_by_shard = _shard_bytes(spark, data_dir)
    b = spark.createDataFrame(
        [(k, v) for k, v in sorted(bytes_by_shard.items())],
        "shard int, n_bytes long",
    )
    manifest = stats.join(b, "shard").orderBy("shard")
    manifest.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "manifest")
    )
    return spark.read.parquet(os.path.join(path, "manifest"))


def _assert_flat_parquet_dir(path: str, op: str) -> None:
    """The file-targeted DML rewrites write FLAT part files into the
    directory root; on a hive-partitioned layout that would drop the
    partition columns from rewritten rows and corrupt reads. Partition
    layouts need partition-aware rewrites (or Delta/Iceberg) — fail
    loudly instead of silently mixing layouts."""
    parts = [
        n for n in os.listdir(path)
        if "=" in n and os.path.isdir(os.path.join(path, n))
    ]
    if parts:
        raise ValueError(
            f"{op} supports flat parquet directories only; {path} is "
            f"hive-partitioned ({parts[0]}, ...). Rewrite per-partition "
            "or use a table format with a transaction log."
        )


def delete_where(spark: SparkSession, path: str, predicate: str) -> dict:
    """Targeted row deletion (GDPR / right-to-be-forgotten) over a
    plain parquet directory: ONE predicate-pushed scan identifies the
    files that actually contain matching rows (parquet footer min/max
    statistics prune the rest before any bytes are read), ONLY those
    files are rewritten with the surviving rows, and replacements are
    staged to a sibling temp dir before the swap. Untouched files are
    never rewritten and stay byte-identical — with a sorted/z-ordered
    or partitioned layout at 100 TB, deleting one user touches a
    handful of files, not the table. (Delta/Iceberg wrap the same
    file-level rewrite in a transaction log; the rewrite discipline
    is identical, the atomicity is per-file here. The remove+rename
    publish assumes POSIX/HDFS semantics — see the module docstring's
    staged-swap scale boundary for the object-store substitute.)

    Returns ``{"files_total", "files_rewritten", "rows_deleted"}``.
    """
    from urllib.parse import unquote, urlparse

    _assert_flat_parquet_dir(path, "delete_where")

    df = spark.read.parquet(path)
    matched = df.where(predicate)
    hit_uris = sorted(
        r[0]
        for r in matched.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    )
    files_total = len(
        [n for n in os.listdir(path) if n.endswith(".parquet")]
    )
    if not hit_uris:
        return {
            "files_total": files_total,
            "files_rewritten": 0,
            "rows_deleted": 0,
        }
    hit_paths = [unquote(urlparse(u).path) for u in hit_uris]
    rows_deleted = matched.count()
    keep = spark.read.parquet(*hit_paths).where(f"NOT ({predicate})")
    tmp = path.rstrip("/") + "__delete_tmp"
    keep.write.mode("overwrite").parquet(tmp)
    # swap: replacements are fully written and closed before any old
    # file disappears; Spark's part-file names are UUID-unique, so the
    # moved files cannot collide with survivors.
    for p in hit_paths:
        os.remove(p)
    for name in os.listdir(tmp):
        if name.endswith(".parquet"):
            os.rename(os.path.join(tmp, name), os.path.join(path, name))
    import shutil

    shutil.rmtree(tmp)
    return {
        "files_total": files_total,
        "files_rewritten": len(hit_paths),
        "rows_deleted": rows_deleted,
    }


def update_where(
    spark: SparkSession,
    path: str,
    predicate: str,
    assignments: dict[str, str],
) -> dict:
    """Targeted UPDATE over a plain parquet directory — the same
    file-level rewrite discipline as :func:`delete_where` (one
    predicate-pushed scan finds the files containing matches, only
    those rewrite, staged swap), but matching rows are rewritten with
    ``assignments`` (column → SQL expression) applied instead of
    dropped. Non-matching rows in a hit file are carried through
    unchanged; untouched files stay byte-identical. Same staged-swap
    scale boundary as :func:`delete_where` (module docstring).

    Returns ``{"files_total", "files_rewritten", "rows_updated"}``.
    """
    from urllib.parse import unquote, urlparse

    _assert_flat_parquet_dir(path, "update_where")

    df = spark.read.parquet(path)
    matched = df.where(predicate)
    hit_uris = sorted(
        r[0]
        for r in matched.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    )
    files_total = len(
        [n for n in os.listdir(path) if n.endswith(".parquet")]
    )
    if not hit_uris:
        return {
            "files_total": files_total,
            "files_rewritten": 0,
            "rows_updated": 0,
        }
    hit_paths = [unquote(urlparse(u).path) for u in hit_uris]
    rows_updated = matched.count()
    hit_df = spark.read.parquet(*hit_paths)
    cond = F.expr(predicate)
    rewritten = hit_df.select(
        *[
            F.when(cond, F.expr(assignments[c]).cast(hit_df.schema[c].dataType))
            .otherwise(F.col(c))
            .alias(c)
            if c in assignments
            else F.col(c)
            for c in hit_df.columns
        ]
    )
    tmp = path.rstrip("/") + "__update_tmp"
    rewritten.write.mode("overwrite").parquet(tmp)
    for p in hit_paths:
        os.remove(p)
    for name in os.listdir(tmp):
        if name.endswith(".parquet"):
            os.rename(os.path.join(tmp, name), os.path.join(path, name))
    import shutil

    shutil.rmtree(tmp)
    return {
        "files_total": files_total,
        "files_rewritten": len(hit_paths),
        "rows_updated": rows_updated,
    }


def merge_upsert_where(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
) -> dict:
    """MERGE (upsert) for a plain parquet directory with the
    file-targeted rewrite discipline of :func:`delete_where` /
    :func:`update_where`: files containing MATCHED keys are rewritten
    with the source's rows taking precedence (carry-through for
    co-resident rows), and source rows with UNMATCHED keys append as
    new part files — untouched files stay byte-identical. This is the
    Delta/Iceberg MERGE INTO file plan without the transaction log;
    the table-catalog variant lives in ``sinks.tables.merge_upsert``.
    Same staged-swap scale boundary as :func:`delete_where` (module
    docstring): the remove+rename publish assumes POSIX/HDFS.

    Returns ``{"files_total", "files_rewritten", "rows_updated",
    "rows_inserted"}``.
    """
    from urllib.parse import unquote, urlparse

    _assert_flat_parquet_dir(path, "merge_upsert_where")

    tgt = spark.read.parquet(path)
    src_keys = source.select(*keys).distinct()
    # capture the file name IN the scan stage (before any join — after
    # a shuffle/broadcast join input_file_name loses its context)
    matched = tgt.withColumn("_f", F.input_file_name()).join(
        src_keys, keys, "left_semi"
    )
    hit_uris = sorted(
        r[0] for r in matched.select("_f").distinct().collect()
    )
    files_total = len(
        [n for n in os.listdir(path) if n.endswith(".parquet")]
    )
    rows_updated = matched.count()
    inserts = source.join(tgt.select(*keys).distinct(), keys, "left_anti")
    rows_inserted = inserts.count()

    import shutil

    # stage EVERY output while the target files are still intact —
    # lazy plans over `tgt` must never re-scan a half-swapped dir
    tmp = path.rstrip("/") + "__merge_tmp"
    tmp_new = path.rstrip("/") + "__merge_new"
    hit_paths = [unquote(urlparse(u).path) for u in hit_uris]
    if hit_paths:
        hit_df = spark.read.parquet(*hit_paths)
        carried = hit_df.join(src_keys, keys, "left_anti")
        replacements = source.join(
            hit_df.select(*keys).distinct(), keys, "left_semi"
        ).select(*hit_df.columns)
        carried.unionByName(replacements).write.mode("overwrite").parquet(tmp)
    if rows_inserted:
        inserts.select(*tgt.columns).write.mode("overwrite").parquet(tmp_new)

    # swap: all replacements and inserts are fully written and closed
    for hp in hit_paths:
        os.remove(hp)
    for staged in (tmp, tmp_new):
        if os.path.isdir(staged):
            for name in os.listdir(staged):
                if name.endswith(".parquet"):
                    os.rename(
                        os.path.join(staged, name), os.path.join(path, name)
                    )
            shutil.rmtree(staged)
    return {
        "files_total": files_total,
        "files_rewritten": len(hit_uris),
        "rows_updated": rows_updated,
        "rows_inserted": rows_inserted,
    }


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    *,
    n_buckets: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a BUCKETED, bucket-sorted managed parquet table
    with exactly ONE file per bucket.

    Thin single-key facade over the canonical writer in
    ``sinks.tables.write_bucketed`` (richer multi-column signature);
    the extra step here is the ``repartition(n_buckets, key)`` before
    the write: ``repartition`` and ``bucketBy`` use the same
    Murmur3 HashPartitioning, so each write task holds exactly one
    bucket and emits exactly one (sorted) file for it. One file per
    bucket is the condition under which Spark trusts the on-disk sort
    order and elides the per-query Sort below a sort-merge join — with
    multiple sorted files per bucket it must re-sort (interleaving two
    sorted files is not sorted).

    This is the pre-paid shuffle: two tables bucketed identically on
    their join key sort-merge-join with NO Exchange and NO per-query
    Sort on either side — at 100 TB a nightly fact⋈fact reconciliation
    that would otherwise shuffle both tables every run instead reads
    co-located buckets. The same layout serves every subsequent
    aggregation on ``key`` (no re-partitioning), amortizing one write
    across every downstream query. Contract proven in
    tests/test_layout.py::test_bucketed_join_plans_no_exchange.
    """
    from data_ingestion_tool_spark.sinks.tables import (
        write_bucketed as _write_bucketed_table,
    )

    _write_bucketed_table(
        df.repartition(n_buckets, F.col(key)),
        table,
        bucket_cols=[key],
        n_buckets=n_buckets,
        sort_cols=[key],
        mode=mode,
    )


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Join two identically-bucketed catalog tables on their bucket
    key as a sort-merge join over co-located, pre-sorted buckets: the
    plan contains no Exchange and (with one file per bucket, which
    ``write_bucketed`` guarantees) no Sort.

    The ``merge`` hint is load-bearing: without it, AQE happily picks
    a BroadcastHashJoin whenever one side looks small — and a
    broadcast join *disables bucketed scans entirely* ("Bucketed:
    false (disabled by query planner)"), silently discarding the
    pre-paid shuffle the caller wrote the layout for. At 100 TB
    neither side is broadcastable, so forcing SMJ here makes the
    local[32] plan the same shape as the cluster plan.

    Sets ``spark.sql.legacy.bucketedTableScan.outputOrdering=true``
    (session-sticky; also a ``session.py`` default): Spark 3+ stopped
    reporting bucket-sort order by default because it is only valid
    with one file per bucket — which ``write_bucketed`` guarantees —
    so with it on, the planner also elides the per-query Sort.
    """
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    lt = spark.table(left_table).hint("merge")
    rt = spark.table(right_table).hint("merge")
    return lt.join(rt, key)
