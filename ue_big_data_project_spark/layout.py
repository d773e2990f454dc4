"""Storage-layout levers for parquet tables.

Partitioned, bucketed, range-sorted and z-ordered writes; small-file
compaction; file pruning from parquet footer min/max statistics and
from Bloom-filter sidecars; and retention (``expire_batches``). The
sorted and clustered layouts exist to make footer statistics selective,
so a filter skips whole files instead of scanning them.

The transit queries read their feeds through
:mod:`ue_big_data_project_spark.sources` and use none of this.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ue_big_data_project_spark import fs
from ue_big_data_project_spark.session import local_relation


def write_partitioned(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """Hive-style partitioned parquet layout (K-side of the storage
    contract): queries filtering on ``partition_cols`` prune whole
    directories (``PartitionFilters`` in the scan) — the first lever for
    100 TB layout (partition by coarse time/tenant, NEVER by a
    high-cardinality key).
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int = 8,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Bucketed managed table: pre-shuffled storage.

    Both sides of a recurring equi join bucketed on the join key (same
    bucket count) join with ZERO exchange — the shuffle is paid once at
    write time instead of per query. Verified by plan assertion in
    tests/test_storage.py.
    """
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)



def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    num_files: int = 32,
) -> None:
    """Range-partitioned, sorted parquet layout: files cover DISJOINT
    ranges of ``sort_cols``, so every file's footer min/max is a tight,
    non-overlapping interval and a predicate on the leading sort column
    skips all files outside its range (row-group pruning degenerates to
    file pruning).

    This is the single-dimension layout lever: right for the one column
    that dominates your filters (event time, date). ``num_files`` sizes
    the layout — target file ~128-1024 MB at scale; the range exchange
    samples the data, so skew in the sort key still yields balanced
    files (unlike hash layouts).
    """
    (
        df.repartitionByRange(num_files, *[F.col(c) for c in sort_cols])
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def _bucket_index(col: Column, bounds: list) -> Column:
    """0-based bucket of ``col`` among sorted quantile ``bounds``
    (count of boundaries <= value) as a native expression."""
    arr = F.array(*[F.lit(b) for b in bounds])
    return F.size(F.filter(arr, lambda b: b <= col))


def zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 8,
    bounds: dict[str, list] | None = None,
) -> Column:
    """Z-order (Morton) key over ``cols`` as a pure native expression.

    Each column is quantile-bucketed into ``2**bits`` ranks (boundaries
    from ``approxQuantile`` — a bounded driver-side list, never data —
    or passed explicitly via ``bounds`` for a reproducible quantizer
    shared across incremental writes),
    then the rank bits are interleaved: bit ``i`` of column ``j`` lands
    at position ``i*len(cols)+j``. Rows close in the z-key are close in
    EVERY dimension, so sorting files by the key makes footer min/max
    selective for filters on ANY of the columns — the multi-dimension
    counterpart of :func:`write_range_sorted`.

    Bit arithmetic stays in exact integer range: ``bits*len(cols)`` must
    stay under 62 (8 bits x 2-4 cols in practice).
    """
    if bits * len(cols) > 62:
        raise ValueError("bits * len(cols) must stay under 62")
    probs = [i / (2**bits) for i in range(1, 2**bits)]
    # ONE quantile pass for every column without explicit bounds —
    # approxQuantile takes a column list, so N-column z-order costs one
    # scan, not N.
    need_q = [c for c in cols if not (bounds and c in bounds)]
    quantiles = (
        dict(zip(need_q, df.approxQuantile(need_q, [0.0, *probs], 0.001)))
        if need_q
        else {}
    )
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        if bounds and c in bounds:
            cuts = list(bounds[c])
        else:
            qs = quantiles[c]
            # Drop boundaries at the column minimum (bucket 0 must be
            # reachable) and dedup repeats (low-cardinality columns) so
            # ranks stay dense; the index is still <= 2**bits - 1.
            cuts = [b for b in qs[1:] if b > qs[0]]
        cuts = sorted(set(cuts))
        rank = _bucket_index(F.col(c), cuts).cast("long")
        for i in range(bits):
            z = z + F.shiftleft(
                F.shiftright(rank, i).bitwiseAND(F.lit(1)),
                i * len(cols) + j,
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 8,
    num_files: int = 32,
    bounds: dict[str, list] | None = None,
) -> None:
    """Write parquet clustered by the z-order of ``cols``: range-split
    and sort on the interleaved key, then drop it — the layout survives
    in file order and footer statistics, not in the schema.

    Pass ``bounds`` (per-column quantile boundaries) to pin the
    quantizer across incremental writes of the same table — otherwise
    each write re-derives boundaries from its own batch and the
    file-range layout drifts between increments.
    """
    z = zorder_key(df, cols, bits, bounds=bounds).alias("_z")
    (
        df.select("*", z)
        .repartitionByRange(num_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_small_files(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: Sequence[str] | None = None,
    partition_by: Sequence[str] | None = None,
) -> int:
    """Rewrite a many-small-files parquet dataset into ~target-sized
    files; returns the output file count.

    Small files are the silent scale killer: per-file open/footer/task
    overhead dominates once files drop under ~tens of MB (streaming
    sinks and fine-grained partitioning both produce them). File count
    is derived from on-disk bytes, the data is round-robin repartitioned
    to exactly that many balanced files (or range-sorted when
    ``sort_cols`` is given, preserving a skipping-friendly layout).
    At warehouse scale, run per partition directory so compaction
    parallelizes and commits independently.

    ``partition_by`` preserves a Hive-partitioned layout (e.g. the
    ``term_bucket=N`` dirs of a ``build_text_index`` index or the
    ``cell=N`` dirs of an IVF index, both of which incremental appends
    fragment): rows are hash-clustered on the partition key and
    written back ``partitionBy`` those columns, so every directory —
    and the partition PRUNING probes rely on — survives, with one file
    per directory per owning task instead of one per historical
    append. Without it a root-level compaction would flatten the
    directories into plain files: probes would still filter correctly
    (the key survives as a data column) but directory-level pruning
    would be gone.
    """
    total = sum(size for _, size in fs.walk_files(in_path))
    n = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(in_path)
    if partition_by:
        # Hash-clustering on the partition key puts each key in one
        # task, so the write yields one file per key directory — n only
        # bounds the task count. sort_cols composes: the within-task
        # sort LEADS with the partition columns so the writer's
        # required ordering is already satisfied (otherwise
        # FileFormatWriter re-sorts by partition columns alone and
        # destroys the secondary order), leaving each directory's file
        # ordered by sort_cols for row-group skipping.
        clustered = df.repartition(n, *[F.col(c) for c in partition_by])
        if sort_cols:
            clustered = clustered.sortWithinPartitions(
                *partition_by, *sort_cols
            )
        (
            clustered.write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(out_path)
        )
        return len(fs.walk_files(out_path))
    if sort_cols:
        (
            df.repartitionByRange(n, *[F.col(c) for c in sort_cols])
            .sortWithinPartitions(*sort_cols)
            .write.mode("overwrite")
            .parquet(out_path)
        )
    else:
        df.repartition(n).write.mode("overwrite").parquet(out_path)
    return n


def parquet_file_stats(path: str, col: str) -> list[tuple[str, object, object]]:
    """Per-file (path, min, max) of ``col`` from parquet footer metadata.

    Driver-side and bounded by FILE COUNT, not data size — the same
    contract as an Iceberg/Delta manifest scan: footers are a few KB
    each, so even a 100 TB table at healthy ~512 MB files is ~200k
    footer reads, parallelizable and cacheable. Files whose footer lacks
    statistics for ``col`` are returned with ``(None, None)`` so callers
    keep them conservatively.

    Listing goes through the ``fs`` seam (POSIX locally, Hadoop
    FileSystem on object stores); non-local footers are opened through
    ``pyarrow.fs.FileSystem.from_uri`` (the s3/hdfs connectors pyarrow
    ships — raises where the wheel lacks them rather than guessing).
    """
    import pyarrow.parquet as pq

    pa_fs = None
    root_rel = None
    root_uri = path.rstrip("/")
    if not fs.is_local(path):
        import pyarrow.fs as pafs

        # from_uri also returns the ROOT's fs-relative path, which is
        # scheme-specific: s3 keeps the bucket as the leading path
        # segment ("bucket/prefix"), hdfs strips scheme AND authority
        # ("/prefix") — naively splitting the scheme off a file URI
        # would leave "namenode:8020/p" for hdfs (round-9 advice).
        pa_fs, root_rel = pafs.FileSystem.from_uri(root_uri)

    def fs_relative(fpath: str) -> str:
        # Every listed file shares the root URI prefix, so its
        # fs-relative path is the root's resolved path plus the file's
        # suffix under the root — no per-file FileSystem construction.
        if fpath.startswith(root_uri):
            return root_rel.rstrip("/") + fpath[len(root_uri):]
        # Hadoop normalizes URI rendering (file:///x lists as file:/x),
        # so fall back to comparing URI *paths*.
        from urllib.parse import urlparse

        fp = urlparse(fpath).path
        rp = (urlparse(root_uri).path or "").rstrip("/")
        if rp and fp.startswith(rp + "/"):
            return root_rel.rstrip("/") + fp[len(rp):]
        import pyarrow.fs as pafs

        return pafs.FileSystem.from_uri(fpath)[1]

    out = []
    for fpath, _ in fs.walk_files(path):
        pf = (
            pq.ParquetFile(fpath)
            if pa_fs is None
            else pq.ParquetFile(pa_fs.open_input_file(fs_relative(fpath)))
        )
        # Resolve the LEAF column index by its dotted parquet path:
        # the Arrow top-level field index diverges from the parquet
        # leaf-column index as soon as an earlier field is nested
        # (struct/map/list flatten to multiple leaves), which would
        # silently read another column's statistics. A column with
        # no leaf of that exact path is conservatively unpruned.
        leaf_paths = [
            pf.metadata.row_group(0).column(i).path_in_schema
            for i in range(pf.metadata.num_columns)
        ] if pf.metadata.num_row_groups else []
        if col not in leaf_paths:
            out.append((fpath, None, None))
            continue
        idx = leaf_paths.index(col)
        mins, maxs = [], []
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                mins, maxs = [], []
                break
            mins.append(st.min)
            maxs.append(st.max)
        out.append(
            (fpath, min(mins), max(maxs)) if mins else (fpath, None, None)
        )
    return out


def prune_parquet_files(
    path: str, col: str, lo=None, hi=None
) -> tuple[list[str], int]:
    """Footer-stat file pruning for a range predicate ``lo <= col <= hi``.

    Returns ``(kept_files, total_files)`` — the manifest-style data-skip
    step that :func:`write_range_sorted` / :func:`write_zordered` layouts
    exist to make selective: with disjoint per-file ranges a narrow
    predicate keeps O(1) files out of N. Pruning is conservative: a file
    with no usable stats is always kept; ``lo``/``hi`` of ``None`` mean
    unbounded on that side. Spark's own parquet reader then skips row
    groups *within* the kept files, so the two levers compose.
    """
    stats = parquet_file_stats(path, col)
    kept = [
        f
        for f, mn, mx in stats
        if mn is None
        or not ((hi is not None and mn > hi) or (lo is not None and mx < lo))
    ]
    return kept, len(stats)


def read_stat_pruned(
    spark: SparkSession, path: str, col: str, lo=None, hi=None
) -> DataFrame:
    """Read a parquet dataset with file-level data skipping on a range
    predicate, then re-apply the exact predicate (stats pruning is
    conservative, never a substitute for the filter).

    This is the read-side counterpart of the layout writers: Spark's V1
    file index lists files without reading footers, so its ``numFiles``
    scan metric counts every file regardless of predicate; this helper
    hands Spark only the files whose footer range intersects the
    predicate, turning the layout's disjointness into actual skipped
    I/O (verified by scan metrics in tests/test_storage.py).
    """
    kept, total = prune_parquet_files(path, col, lo, hi)
    if not kept:
        df = spark.read.parquet(path).limit(0)
    else:
        # basePath keeps hive partition columns alive when reading an
        # explicit file list out of a directory-partitioned dataset
        # (without it the partition columns vanish and a predicate on
        # one would raise). Pruning on a partition column itself is
        # conservative — no footer leaf carries it, every file is kept —
        # and the re-applied filter below then prunes partitions.
        df = spark.read.option("basePath", path).parquet(*kept)
    c = F.col(col)
    if lo is not None:
        df = df.filter(c >= F.lit(lo))
    if hi is not None:
        df = df.filter(c <= F.lit(hi))
    return df


def write_bloom_sidecar(
    spark: SparkSession,
    path: str,
    col: str,
    m_bits: int = 1 << 17,
    k: int = 7,
) -> str:
    """Per-FILE Bloom index over ``col`` of an existing parquet layout —
    the data-skipping lever footer min/max CANNOT provide: range stats
    only prune when the layout is clustered on the column, while a
    Bloom sidecar prunes point lookups on HIGH-CARDINALITY, UNSORTED
    columns (user ids, document hashes — Delta's bloom filter index).

    One distributed pass: every row hashes its key to ``k`` bit
    positions (the ``operators/bloom.py`` construction, shared probe
    expressions), ``bit_or`` folds them per (file, word) — the shuffle
    carries ≤ files × m_bits/64 integer words, map-side combined, no
    driver round-trip. The sidecar lands under ``<path>/_bloom_<col>``:
    the ``_`` prefix makes it invisible to every normal read of the
    layout (Spark skips hidden files in input listing), the same
    convention as ``_delta_log``/``_metadata``. Hash params ride as
    constant columns so readers need no out-of-band config.

    Sizing: ~1% false-positive rate at ``m_bits ≈ 10 ×`` per-file
    distinct keys; the 2¹⁷-bit default (16 KiB/file) covers ~13k
    distinct per file. False positives only ADMIT files — never a
    correctness issue, the reader applies the exact predicate.
    """
    from ue_big_data_project_spark.operators.bloom import (
        _array_literal,
        _BIT_MASKS,
        _positions,
    )

    if m_bits & (m_bits - 1) or m_bits < 64:
        raise ValueError(f"m_bits must be a power of two >= 64, got {m_bits}")
    data = spark.read.parquet(path)
    pos = F.explode(
        F.array(*_positions(F.col(col), m_bits, k))
    ).alias("_p")
    hashed = (
        data.where(F.col(col).isNotNull())
        .select(F.input_file_name().alias("file"), pos)
        .select(
            "file",
            F.shiftright("_p", 6).alias("w"),
            F.element_at(
                _array_literal(_BIT_MASKS),
                F.col("_p").bitwiseAND(F.lit(63)).cast("int") + 1,
            ).alias("_m"),
        )
        .groupBy("file", "w")
        .agg(F.bit_or("_m").alias("bits"))
    )
    # EVERY file gets at least one sidecar row — a file whose rows are
    # all NULL in `col` (or a ZERO-ROW part file, which input_file_name
    # can never enumerate because no row carries its name) contributes
    # no hashed words, but it must still register so the reader's
    # freshness check can tell "indexed, provably key-free" (zero bits:
    # no probe ever hits) apart from "appended after the sidecar was
    # written" (stale — fail loudly). The registry therefore comes from
    # the DIRECTORY LISTING, joined to the hashed set by basename
    # (input_file_name emits file:// URIs, the listing plain paths).
    listing = [(f,) for f, _ in fs.walk_files(path)]
    all_files = local_relation(spark, listing, "file string")

    def base(c: Column) -> Column:
        return F.element_at(F.split(c, "/"), -1)

    hashed_names = hashed.select(base(F.col("file")).alias("_b")).distinct()
    empty_files = (
        all_files.withColumn("_b", base(F.col("file")))
        .join(hashed_names, "_b", "left_anti")
        .select(
            "file", F.lit(0).alias("w"), F.lit(0).cast("long").alias("bits")
        )
    )
    sidecar = hashed.unionByName(empty_files).select(
        "file",
        "w",
        "bits",
        F.lit(m_bits).alias("m_bits"),
        F.lit(k).alias("k"),
        F.lit(col).alias("col"),
    )
    out = os.path.join(path, f"_bloom_{col}")
    sidecar.write.mode("overwrite").parquet(out)
    return out


def read_bloom_pruned(
    spark: SparkSession,
    path: str,
    col: str,
    values: list,
) -> DataFrame:
    """Point-lookup read through the Bloom sidecar: scan ONLY the files
    whose per-file filter admits at least one of ``values``, then apply
    the exact ``IN`` predicate (false positives are admitted files, and
    rows are still filtered exactly — result ≡ the full-scan filter).

    The pruning decision is computed IN SPARK over the bounded sidecar
    (≤ files × m_bits/64 rows): each value's k probe positions join the
    word table, a file survives a value iff ALL k probes hit (the
    standard conjunction), and only the surviving FILE LIST is
    collected — bounded by file count, like ``prune_parquet_files``.
    At 100 TB with ~200k files this is a sidecar-only job; the data
    scan then opens just the admitted files.
    """
    from ue_big_data_project_spark.operators.bloom import (
        _array_literal,
        _BIT_MASKS,
        _positions,
    )

    # Flat layouts only: reading ADMITTED FILES directly would silently
    # drop hive partition columns (their values live in dir names, not
    # footers). Partitioned layouts already have partition pruning for
    # the partition key; bloom-index a non-partition column there by
    # pointing this at one partition dir.
    for entry in fs.listdir(path):
        if "=" in entry and not entry.startswith("_") and fs.isdir(
            os.path.join(path, entry)
        ):
            raise ValueError(
                f"read_bloom_pruned wants a flat parquet layout; {path} "
                f"has hive partition dirs ({entry}) whose columns a "
                "file-list read would drop — prune the partition key "
                "via partition pruning and bloom-read inside a partition"
            )
    if not values:
        return spark.read.parquet(path).where(F.lit(False))
    side_path = os.path.join(path, f"_bloom_{col}")
    side = fs.read_parquet(spark, side_path)
    meta = None if side is None else side.select("m_bits", "k", "col").first()
    if meta is None or meta["col"] != col:
        raise ValueError(f"no bloom sidecar for column {col!r} at {path}")
    m_bits, k = int(meta["m_bits"]), int(meta["k"])
    # Freshness check (round-8 advice): a file appended to the layout
    # AFTER write_bloom_sidecar has no sidecar rows, so pruning would
    # silently drop its rows and break the documented "result ≡ the
    # full-scan filter" guarantee. Both listings are bounded by file
    # count (sidecar distinct + one directory walk); basenames compare
    # scheme-independently (input_file_name emits file:// URIs). Files
    # the sidecar indexes but the layout no longer has fail loudly in
    # the read below, so only the appended-unindexed side needs this.
    indexed = {
        os.path.basename(r["file"])
        for r in side.select("file").distinct().collect()
    }
    current = {os.path.basename(f) for f, _ in fs.walk_files(path)}
    unindexed = sorted(current - indexed)
    if unindexed:
        raise ValueError(
            f"bloom sidecar at {side_path} is STALE: {len(unindexed)} "
            f"data file(s) were added after it was written (e.g. "
            f"{unindexed[0]}) and would be silently excluded — re-run "
            "write_bloom_sidecar over the layout"
        )
    # Probe values carry the DATA column's exact type: the bloom hashes
    # the canonical string form either way, but the exact IN predicate
    # and any engine cast semantics stay type-faithful.
    col_type = dict(spark.read.parquet(path).dtypes)[col]
    vals = local_relation(spark, [(v,) for v in values], f"v {col_type}")
    probes = vals.select(
        F.col("v"),
        F.posexplode(F.array(*_positions(F.col("v"), m_bits, k))).alias(
            "i", "_p"
        ),
    ).select(
        "v",
        F.shiftright("_p", 6).alias("w"),
        F.element_at(
            _array_literal(_BIT_MASKS),
            F.col("_p").bitwiseAND(F.lit(63)).cast("int") + 1,
        ).alias("mask"),
    )
    hits = (
        side.join(F.broadcast(probes), "w")
        .where(F.col("bits").bitwiseAND(F.col("mask")) != 0)
        .groupBy("file", "v")
        .agg(F.count(F.lit(1)).alias("hit_k"))
        .where(F.col("hit_k") >= F.lit(k))
    )
    files = [r["file"] for r in hits.select("file").distinct().collect()]
    exact = F.col(col).isin(values)
    if not files:
        return spark.read.parquet(path).where(F.lit(False))
    return spark.read.parquet(*files).where(exact)


def expire_batches(
    spark: SparkSession, path: str, keep_last: int
) -> list[int]:
    """Retention for ``batch_id=N``-partitioned layouts (the
    dedup/IVF/band ingest indexes and corpus dirs, whose batch
    partition "doubles as the retention/compaction unit"): drop every
    batch partition except the newest ``keep_last``. Returns the
    dropped batch ids.

    Semantics note — this is the CRAWL-FRESHNESS tradeoff, not a
    correctness lever: expiring fingerprint/band index batches means
    content seen only in expired batches can re-enter the corpus as
    "new" (by design: screens bound their memory by forgetting the
    oldest arrivals); expiring corpus batches removes their documents
    from reads. Metadata IO rides the ``fs`` seam, so hdfs/s3a layouts
    expire the same way. Directory-granular and O(batch count) —
    nothing is rewritten."""
    from ue_big_data_project_spark import fs

    if keep_last < 0:
        raise ValueError(f"keep_last must be >= 0, got {keep_last}")
    if not fs.isdir(path):
        return []
    ids = []
    for name in fs.listdir(path):
        if name.startswith("batch_id="):
            try:
                ids.append(int(name[len("batch_id="):]))
            except ValueError:
                continue
    drop = sorted(ids)[: max(len(ids) - keep_last, 0)]
    for b in drop:
        fs.rmtree(os.path.join(path, f"batch_id={b}"))
    return drop
