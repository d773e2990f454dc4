"""Incremental ingest streams built on the core streaming sinks.

Each ``*_ingest_stream`` keeps a persisted index, sketch or snapshot up
to date from a stream: dedup, cluster, winnow, fingerprint, video
signature, IVF and BM25 indexes, constraint checks, HLL / quantile /
count-min rollups, DSIR scores, and MERGE into a versioned (optionally
bucketed) snapshot. ``incremental_windowed_rollup`` maintains a
windowed-aggregate table. Most streams commit through
:func:`~ue_big_data_project_spark.streaming.idempotent_foreach_batch`,
so a replayed batch is applied once; the HLL and DSIR streams write
per-batch partitions a replay overwrites, so they need no ledger. The
ledger *query* helpers here read the committed ids.

None of this is part of the transit queries; the core streaming
module does not import it.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ue_big_data_project_spark import fs
from ue_big_data_project_spark.session import local_relation
from ue_big_data_project_spark.streaming import (
    _ledger_watermark,
    _loose_marker_ids,
    foreach_batch,
    idempotent_foreach_batch,
)


def incremental_windowed_rollup(
    sdf: DataFrame,
    ts_col: str,
    window_duration: str,
    keys: list[str],
    aggs: list[Column],
    snapshot_dir: str,
    watermark: str = "1 hour",
    chunk_seconds: int = 86400,
) -> StreamingQuery:
    """Continuous aggregate: maintain a queryable windowed-rollup TABLE
    from a stream (the hypertable/materialized-view pattern), not just
    an in-memory sink.

    Update-mode windowed aggregation re-emits each (window, keys) group
    with its complete new value whenever it changes; the foreachBatch
    sink upserts those rows into a parquet snapshot partitioned by
    TIME CHUNK (``chunk_seconds``-wide, default 1 day — the hypertable
    chunking grain) — via :func:`~ue_big_data_project_spark.operators.
    cdc.upsert_latest` with the micro-batch id as the version. Chunking
    at the day grain rather than per window keeps the directory count
    O(days), not O(windows): a per-window layout turns both the
    snapshot write and every read-back into a small-file explosion
    (tested: ~2.8k 15-min window dirs at one month of data made the
    read 25x slower than 30 day dirs).

    Scale contract: a batch rewrites ONLY the chunk partitions it
    touched (semi-join the previous snapshot down to touched chunks +
    dynamic partition overwrite), so per-batch work is O(touched
    chunks), never O(snapshot). Crash-replayed batches are no-ops
    twice over: the idempotence ledger skips committed ids, and an
    uncommitted replay upserts identical (version, value) rows.
    """
    chunk_us = int(chunk_seconds) * 1_000_000
    windowed = (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window_duration).alias("_w"), *keys)
        .agg(*aggs)
    )
    agged = windowed.select(
        F.unix_micros(F.col("_w.start")).alias("window_us"),
        *[c for c in windowed.columns if c != "_w"],
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ue_big_data_project_spark.operators.cdc import upsert_latest

        sp = batch_df.sparkSession
        # Dynamic partition overwrite is scoped to THIS write and
        # restored after: leaking it session-wide would silently turn
        # later full-overwrite writes into partial ones.
        prev_mode = sp.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        sp.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        batch = batch_df.withColumn("_ver", F.lit(batch_id)).withColumn(
            "chunk_id", F.floor(F.col("window_us") / F.lit(chunk_us))
        )
        key_cols = ["window_us", *keys]
        if fs.isdir(snapshot_dir) and any(
            not e.startswith("_") for e in fs.listdir(snapshot_dir)
        ):
            prev = sp.read.parquet(snapshot_dir)
            touched = batch.select("chunk_id").distinct()
            prev_touched = prev.join(
                F.broadcast(touched), "chunk_id", "left_semi"
            )
            merged = upsert_latest(
                prev_touched, batch, keys=key_cols, version_col="_ver"
            )
        else:
            merged = batch
        try:
            # One write task per touched chunk -> one file per chunk dir
            # per batch, not shuffle_partitions tiny files.
            merged.repartition("chunk_id").write.mode("overwrite").partitionBy(
                "chunk_id"
            ).parquet(snapshot_dir)
        finally:
            sp.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev_mode
            )

    return idempotent_foreach_batch(
        agged,
        apply_batch,
        ledger_dir=os.path.join(snapshot_dir, "_ledger"),
        mode="update",
    )


def read_rollup(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """Read the current continuous-aggregate snapshot as a batch table.
    A range predicate on ``chunk_id`` (floor(window_us / chunk) — kept as
    the partition column) prunes whole time-chunk directories before
    this drops it."""
    return spark.read.parquet(snapshot_dir).drop("_ver", "chunk_id")


def _parallel_batch_writes(*thunks) -> None:
    """Run a micro-batch's INDEPENDENT write jobs concurrently (guide
    §2.6 — overlap independent jobs: the driver submits them from a
    small pool so the second job's tasks back-fill executors freed by
    the first's tail instead of waiting for its commit).

    Only used where the batch's artifacts are mutually independent
    derivations of one already-materialized frame, each landing in its
    own ``batch_id=N`` overwrite partition: the crash window "some
    artifacts written, others not" already existed between the
    sequential writes and is absorbed by replay (the ledger marker
    commits only after EVERY thread joins). Any write failure
    re-raises here, failing the batch before the ledger exactly like
    the sequential form — every thunk's exception is gathered, the
    FIRST (by thunk order) re-raised and the rest logged, so a
    multi-failure batch never hides a cause. Threads are
    ``pyspark.InheritableThread`` so each write job inherits the
    caller's JVM thread-locals (job group/description/tags — under
    pinned-thread mode a bare pool thread would not), keeping the
    jobs cancellable via the streaming query's group. NOT used for
    :func:`dedup_ingest_stream`, whose write ORDER (bloom superset
    before any index write) is a tested crash contract."""
    import logging

    from pyspark import InheritableThread

    errors: list[BaseException | None] = [None] * len(thunks)

    def _run(i: int, thunk) -> None:
        try:
            thunk()
        except BaseException as exc:  # gathered; first re-raised below
            errors[i] = exc

    threads = [
        InheritableThread(target=_run, args=(i, t), daemon=True)
        for i, t in enumerate(thunks)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    raised = [e for e in errors if e is not None]
    if raised:
        for extra in raised[1:]:
            logging.getLogger(__name__).error(
                "parallel batch write also failed: %r", extra
            )
        raise raised[0]


def _read_partitioned_index(
    sp: SparkSession, path: str, batch_id: int
) -> DataFrame | None:
    """Read a persisted index, excluding rows the CURRENT batch wrote
    (a crashed earlier attempt of this same batch id) — partition
    pruning on the hive ``batch_id`` column, so the exclusion never
    scans the excluded files. None when the index does not exist yet."""
    df = fs.read_parquet(sp, path)
    if df is not None and "batch_id" in df.columns:
        df = df.filter(F.col("batch_id") != F.lit(batch_id)).drop(
            "batch_id"
        )
    return df


def dedup_ingest_stream(
    sdf: DataFrame,
    index_path: str,
    corpus_dir: str,
    ledger_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dup: bool = True,
    band_index_path: str | None = None,
    bloom_path: str | None = None,
    bloom_m_bits: int = 1 << 20,
    failpoint: str | None = None,
) -> StreamingQuery:
    """Continuous corpus ingestion with dedup: every micro-batch is
    exact-dedup screened against the PERSISTED fingerprint index
    (:func:`~ue_big_data_project_spark.operators.dedup.
    update_dedup_index` — in-batch collapse + anti join, corpus text
    never rescanned), and only first-seen documents are appended to the
    corpus table. By DEFAULT a second tier screens the exact-survivors
    against the LSH band index at ``band_index_path`` (derived as
    ``<index_path>_bands`` when not given) and within the batch, via
    :func:`~ue_big_data_project_spark.operators.dedup.
    incremental_minhash_filter`, then appends the survivors' band rows —
    so the corpus rejects both byte-identical and near-identical
    arrivals, continuously; pass ``near_dup=False`` for exact-only.
    Documents too short to shingle (< shingle_n words — no band rows)
    pass the near-dup tier untouched: only a positive band collision
    drops a document, absence of evidence never does.

    Crash-safety: EVERY side effect of a batch lands in that batch's own
    ``batch_id=N`` partition (corpus, band index, fingerprint index) in
    overwrite mode, and the SCREEN excludes the current batch id when it
    reads the indexes. A replayed batch therefore always screens against
    exactly the pre-batch state — regardless of which of its writes
    completed before the crash — recomputes the identical survivor set,
    and overwrites its own partitions byte-for-byte: no duplicates, no
    lost documents, no self-collision (a batch can never classify its
    docs as near-dups of their own just-appended band rows), whichever
    write the crash interrupted. The ledger marker commits last and only
    skips fully-committed batches. Crash injection at each write
    boundary is tested in tests/test_incremental_dedup.py. Per-batch
    cost is O(batch + index-joins), independent of corpus size: the
    streaming form of the crawl-increment screen. The batch_id partition
    column also ages the indexes for free (drop oldest partitions to
    bound index size at 100 TB-scale retention).

    ``bloom_path`` enables a persisted Bloom SIDECAR over the
    fingerprint index: each batch screens with the pre-batch filter
    (bloom-negative fingerprints bypass the index anti-join entirely —
    see ``dedup.incremental_exact_dedup``), then the updated filter
    commits BEFORE any index write, so the filter is always a SUPERSET
    of the indexed fingerprints — the property the join bypass needs;
    crash-ordering means a replay can leave extra bloom bits (harmless:
    those fingerprints just take the anti-join path), never missing
    ones. A missing sidecar next to an existing index is bootstrapped
    from the index in one scan. Sizing: the filter saturates (FP rate →
    1, bypass → no-op, still exact) at ~``bloom_m_bits / 10`` distinct
    contents; rebuild it larger from the index when that approaches.

    ``failpoint`` is test-only fault injection: raise after the named
    write ("bloom_update", "corpus_write", "band_index_append",
    "fingerprint_append") to exercise the crash windows above.
    """
    from ue_big_data_project_spark.operators.dedup import (
        incremental_exact_dedup,
        incremental_minhash_filter,
        minhash_band_rows,
    )

    if near_dup and not band_index_path:
        band_index_path = index_path.rstrip("/") + "_bands"

    _read_index = _read_partitioned_index

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        from ue_big_data_project_spark.operators.bloom import (
            bloom_union,
            build_key_bloom,
            load_bloom,
            save_bloom,
        )

        sp = batch_df.sparkSession
        # Screen (no side effects yet). The pre-batch bloom sidecar (if
        # enabled and present) lets definitely-new fingerprints bypass
        # the index anti-join; a missing sidecar simply means no bypass
        # this batch (it is seeded below).
        prefilter = load_bloom(bloom_path) if bloom_path else None
        if prefilter is not None and prefilter.m_bits != bloom_m_bits:
            # Resized sidecar (the documented saturation response):
            # discard the old filter — this batch screens plain — and
            # let the seed-from-index branch below rebuild it at the
            # new size. Without this, bloom_union would raise on the
            # size mismatch inside foreachBatch, crash-looping the
            # stream until someone deleted the file by hand.
            prefilter = None
        seen = _read_index(sp, index_path, batch_id)
        survivors = incremental_exact_dedup(
            batch_df, seen, id_col, text_col, prefilter=prefilter
        ).localCheckpoint(eager=True)
        kept = batch_df.join(
            survivors.select(F.col("keep_id").alias(id_col)), id_col
        )
        kept_bands = None
        if near_dup:
            # Band the batch ONCE (shingle+minhash is the dominant
            # screen cost); the screen and the unshingleable-doc
            # exemption below share these rows.
            batch_bands = minhash_band_rows(
                kept, id_col, text_col
            ).localCheckpoint(eager=True)
            kept_bands = incremental_minhash_filter(
                kept,
                _read_index(sp, band_index_path, batch_id),
                id_col,
                text_col,
                batch_bands=batch_bands,
            ).localCheckpoint(eager=True)
            # Drop only docs that HAD band rows and lost them to a
            # collision; unshingleable docs (no band rows at all) are
            # absent from both sides and must survive — a semi join on
            # the survivors would silently discard them.
            near_dropped = (
                batch_bands.select(id_col)
                .distinct()
                .join(
                    kept_bands.select(id_col).distinct(),
                    id_col,
                    "left_anti",
                )
            )
            kept = kept.join(near_dropped, id_col, "left_anti")
            kept = kept.localCheckpoint(eager=True)
        # Bloom sidecar commits FIRST: the filter must stay a SUPERSET
        # of the indexed fingerprints at every crash point, so its
        # update precedes every index/corpus write. A crash after this
        # line leaves bloomed-but-unindexed fingerprints — they take
        # the anti-join path next time, which is merely slower, never
        # wrong. (The reverse order would let a bloom-negative true
        # duplicate bypass the join: silent corpus duplicates.)
        if bloom_path:
            base = prefilter
            if base is None and seen is not None:
                # Sidecar enabled mid-life: seed from the full index
                # once; without this the batch's survivors alone would
                # understate the index and break the superset property.
                base = build_key_bloom(
                    seen, "fingerprint", m_bits=bloom_m_bits
                )
            batch_bloom = build_key_bloom(
                survivors, "fingerprint", m_bits=bloom_m_bits
            )
            save_bloom(
                bloom_union(base, batch_bloom) if base else batch_bloom,
                bloom_path,
            )
        if failpoint == "bloom_update":
            raise RuntimeError("injected crash: after bloom update")
        # All three writes land in THIS batch's partition in overwrite
        # mode — a replay after any crash rewrites the same bytes.
        # 1. Corpus first, only if anything survived.
        if not kept.isEmpty():
            kept.write.mode("overwrite").parquet(
                os.path.join(corpus_dir, f"batch_id={batch_id}")
            )
        if failpoint == "corpus_write":
            raise RuntimeError("injected crash: after corpus write")
        # 2. Index partition overwrites (the screen above excluded this
        # batch's partitions, so a replay recomputed the same rows).
        if near_dup and kept_bands is not None:
            kept_bands.write.mode("overwrite").parquet(
                os.path.join(band_index_path, f"batch_id={batch_id}")
            )
        if failpoint == "band_index_append":
            raise RuntimeError("injected crash: after band-index append")
        survivors.select("fingerprint").write.mode("overwrite").parquet(
            os.path.join(index_path, f"batch_id={batch_id}")
        )
        if failpoint == "fingerprint_append":
            raise RuntimeError("injected crash: after fingerprint append")

    return idempotent_foreach_batch(sdf, ingest, ledger_dir)


def cluster_ingest_stream(
    sdf: DataFrame,
    map_path: str,
    band_index_path: str,
    ledger_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    n_buckets: int = 32,
) -> StreamingQuery:
    """Continuous NEAR-DUP CLUSTER maintenance: each micro-batch of
    documents is banded (MinHash LSH), its candidate pairs — against
    the persisted band index AND within the batch — fold into the
    persisted cluster map via ``dedup.append_cluster_map`` (a CC over
    the O(batch) contracted graph + touched-buckets-only rewrite), and
    the batch's band rows append to the index. The corpus is never
    re-clustered: the streaming form of the round-9 incremental
    maintenance path.

    END-STATE EQUIVALENCE (the oracle contract): every band-sharing
    pair (a, b) is discovered exactly once — in b's batch against the
    index holding a, or in-batch when they arrive together — so the
    union of per-batch pair sets IS the full corpus's band-pair set,
    and CC over a union of edges is batch-order-INSENSITIVE. The final
    map therefore equals clustering the whole corpus at once
    (`dedup_minhash_lsh`'s pair SQL under a recursive-CTE closure).

    Crash/replay safety, three layers:
    - band rows land in this batch's own ``batch_id=N`` partition
      (overwrite mode) and the candidate probe EXCLUDES the current
      batch id — a replay probes exactly the pre-batch index
      (:func:`dedup_ingest_stream`'s contract);
    - ``append_cluster_map`` is replay-ABSORBING: already-appended
      nodes fall out of the fresh set (anti-join against the map) and
      already-applied relabels produce an empty change map, so
      re-applying an increment is a no-op — and min-label relabeling is
      monotone, so a crash that committed only SOME touched buckets
      converges to the same fixpoint on replay (test-pinned);
    - the ledger commits last and skips fully-committed batches.
    """
    from ue_big_data_project_spark.operators.dedup import (
        append_cluster_map,
        minhash_band_rows,
        write_cluster_map,
    )
    from ue_big_data_project_spark.operators.graph import (
        connected_components,
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        band_rows = minhash_band_rows(
            batch_df, id_col, text_col, num_hashes, bands, shingle_n
        ).localCheckpoint(eager=True)  # probe + in-batch + index append
        a, b = band_rows.alias("a"), band_rows.alias("b")
        in_batch = (
            a.join(
                b,
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_val") == F.col("b.band_val"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
        index = _read_partitioned_index(sp, band_index_path, batch_id)
        if index is not None:
            cross = (
                band_rows.join(
                    index.withColumnRenamed(id_col, "_idx_id"),
                    ["band_idx", "band_val"],
                )
                .select(
                    F.col(id_col).alias("id_a"),
                    F.col("_idx_id").alias("id_b"),
                )
                .distinct()
            )
            pairs = in_batch.unionByName(cross)
        else:
            pairs = in_batch
        # ONE pair-discovery job per batch: the append consumes the
        # edge set from several branches (endpoint contraction,
        # contracted-CC nodes and edges), and without this checkpoint
        # each branch re-runs the index probe + in-batch self-join —
        # measured ~2-3 re-executions per micro-batch of the batch's
        # single most expensive plan.
        pairs = pairs.localCheckpoint(eager=True)
        new_nodes = batch_df.select(id_col).distinct()

        def fold_map() -> None:
            if fs.exists(os.path.join(map_path, "_cluster_meta.json")):
                append_cluster_map(
                    sp, map_path, new_nodes, pairs,
                    src_col="id_a", dst_col="id_b",
                )
            else:
                # Bootstrap: the first batch IS the corpus;
                # deterministic overwrite makes a replayed bootstrap
                # byte-identical.
                write_cluster_map(
                    connected_components(
                        new_nodes, pairs,
                        node_col=id_col, src_col="id_a", dst_col="id_b",
                    ),
                    map_path,
                    node_col=id_col,
                    n_buckets=n_buckets,
                )

        def write_bands() -> None:
            band_rows.write.mode("overwrite").parquet(
                os.path.join(band_index_path, f"batch_id={batch_id}")
            )

        # The map fold and the band append consume only checkpointed
        # frames and touch disjoint directories; the probe above already
        # excluded this batch's partition, so overlapping them (§2.6)
        # leaves the crash/replay contract exactly as sequential.
        _parallel_batch_writes(fold_map, write_bands)

    return idempotent_foreach_batch(sdf, apply, ledger_dir)


def winnow_ingest_stream(
    sdf: DataFrame,
    index_path: str,
    ledger_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    w: int = 5,
    min_shared: int = 2,
    max_df: int = 50,
    n_buckets: int = 16,
) -> StreamingQuery:
    """Continuous maintenance of the winnow fingerprint index — the
    streaming drain the fourth persisted-index family was missing
    (dedup bands, clusters, IVF, HLL, qhist, CMS, and DSIR all have
    one): each micro-batch of documents is winnow-fingerprinted
    (``dedup._winnow_fp_rows`` — per-doc zero-shuffle array HOFs) and
    its ``(id, h)`` rows plus per-hash df DELTA rows land in the
    index's bucket sharding, after which ``dedup.winnow_probe_index``
    answers against the streamed index exactly as against a one-shot
    :func:`~ue_big_data_project_spark.operators.dedup.write_winnow_index`
    build of the same corpus (df aggregates on read, so batch deltas
    are invisible by construction — nothing frozen, nothing to audit).

    Crash/replay safety (the :func:`ivf_ingest_stream` layout): each
    batch OVERWRITES its own ``batch_id=N`` partition in both the row
    and freq layouts — a replayed or half-committed batch converges to
    the same bytes — and the ledger commits last. The stats sidecar is
    written once at bootstrap (deterministic, so a replayed bootstrap
    is byte-identical). Flat ``append_winnow_index`` calls on a
    streamed layout are rejected (conflicting partition schemes would
    brick reads); RETENTION is
    ``dedup.rewrite_winnow_index(keep_docs)``, which prunes + compacts
    ANY layout back to the canonical flat sharding — run it when
    retiring or checkpointing the stream, exactly like compacting a
    long append history."""
    from ue_big_data_project_spark.operators.dedup import _winnow_fp_rows

    root = index_path.rstrip("/")

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        fps, fp_rows = _winnow_fp_rows(batch_df, id_col, text_col, k, w)
        try:
            bucket = F.pmod(F.col("h"), F.lit(n_buckets)).cast("int")
            # ONE fingerprint job feeds both artifacts (row + freq
            # writes would otherwise each re-run the distinct shuffle).
            rows = fps.withColumn("_hbucket", bucket).localCheckpoint(
                eager=True
            )

            def write_rows() -> None:
                (
                    rows.repartition("_hbucket")
                    .write.mode("overwrite")
                    .partitionBy("_hbucket")
                    .parquet(os.path.join(root, f"batch_id={batch_id}"))
                )

            def write_freq() -> None:
                freq = rows.groupBy("h", "_hbucket").agg(
                    F.count(F.lit(1)).alias("_df")
                )
                (
                    freq.repartition("_hbucket")
                    .write.mode("overwrite")
                    .partitionBy("_hbucket")
                    .parquet(
                        os.path.join(
                            root + "_freq", f"batch_id={batch_id}"
                        )
                    )
                )

            # Both artifacts derive from the checkpointed rows and land
            # in this batch's own partitions — overlap them (§2.6;
            # measured 1.5-2.1 -> 1.1-1.5 s per batch at sf0.1).
            _parallel_batch_writes(write_rows, write_freq)
            if not fs.exists(root + "_stats"):
                local_relation(sp, 
                    [(id_col, k, w, min_shared, max_df, n_buckets)],
                    "id_col string, k int, w int, min_shared int, "
                    "max_df int, n_buckets int",
                ).write.mode("overwrite").parquet(root + "_stats")
        finally:
            fp_rows.unpersist()

    return idempotent_foreach_batch(sdf, apply, ledger_dir)


def fp_ingest_stream(
    sdf: DataFrame,
    index_path: str,
    ledger_dir: str,
    fingerprint,
    id_col: str = "doc_id",
    hi_col: str = "dhash_hi",
    lo_col: str = "dhash_lo",
    max_hamming: int = 2,
    n_buckets: int = 16,
) -> StreamingQuery:
    """Continuous maintenance of the media fingerprint band index —
    the fifth persisted family's streaming drain: each micro-batch is
    fingerprinted by the caller-supplied ``fingerprint(batch_df) →
    (id, hi, lo)`` stage (``multimodal.image_dhash`` over attached
    payloads, ``audio_fingerprint``, …) and its band rows land in the
    index's bucket sharding, after which ``fp_probe_index`` screens
    any increment against everything ingested exactly as against a
    one-shot :func:`~ue_big_data_project_spark.operators.multimodal.write_fp_index`
    build (banding is stateless — batching is invisible by
    construction).

    Crash/replay safety is the :func:`winnow_ingest_stream` contract:
    each batch OVERWRITES its own ``batch_id=N`` partition, the stats
    sidecar bootstraps deterministically, the ledger commits last.
    Flat appends onto the streamed layout are rejected
    (``fp_index_append`` guard); RETENTION/compaction is
    ``multimodal.rewrite_fp_index``, which prunes any layout back to
    the flat sharding."""
    from ue_big_data_project_spark.operators.multimodal import (
        fp_band_rows,
    )

    root = index_path.rstrip("/")

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        hashes = fingerprint(batch_df)
        rows = fp_band_rows(hashes, id_col, hi_col, lo_col).select(
            F.col(id_col).alias("id"),
            F.col(hi_col).alias("hi"),
            F.col(lo_col).alias("lo"),
            "bi",
            "bv",
        ).withColumn(
            "_bucket", F.pmod(F.col("bv"), F.lit(n_buckets)).cast("int")
        )
        (
            rows.repartition("_bucket")
            .write.mode("overwrite")
            .partitionBy("_bucket")
            .parquet(os.path.join(root, f"batch_id={batch_id}"))
        )
        if not fs.exists(root + "_stats"):
            local_relation(sp, 
                [(id_col, hi_col, lo_col, max_hamming, n_buckets)],
                "id_col string, hi_col string, lo_col string, "
                "max_hamming int, n_buckets int",
            ).write.mode("overwrite").parquet(root + "_stats")

    return idempotent_foreach_batch(sdf, apply, ledger_dir)


def video_sig_ingest_stream(
    sdf: DataFrame,
    index_path: str,
    ledger_dir: str,
    signatures,
    id_col: str = "doc_id",
    sig_cols: tuple[str, ...] = ("sum_luma", "pos_digest"),
    min_frac_num: int = 1,
    min_frac_den: int = 2,
    n_buckets: int = 16,
) -> StreamingQuery:
    """Continuous maintenance of the video signature index — the sixth
    persisted family's streaming drain: each micro-batch is turned
    into per-frame signature rows by the caller-supplied
    ``signatures(batch_df) → (id, *sig_cols)`` stage
    (``multimodal.mp4_frame_dhash`` over attached containers,
    ``mp4_thumbnail_features``, …) and its distinct rows plus the
    per-video size rows land under the batch's own partitions, after
    which ``video_probe_sig_index`` answers against the streamed index
    exactly as against a one-shot ``write_video_sig_index`` build
    (signatures are stateless and the sizes union-max dedupes
    replays — batching is invisible by construction). A video's frames
    must arrive in ONE batch (the payload row carries the whole
    container, so this is structural, not a constraint the caller
    manages).

    Crash/replay safety is the :func:`fp_ingest_stream` contract: each
    batch OVERWRITES its own ``batch_id=N`` partitions in BOTH the row
    and sizes layouts, the stats sidecar bootstraps deterministically,
    the ledger commits last. Flat ``video_sig_index_append`` calls on
    a streamed layout are rejected; RETENTION/compaction is
    ``multimodal.rewrite_video_sig_index``, which prunes any layout
    back to the flat appendable sharding (sizes in lockstep)."""
    from ue_big_data_project_spark.operators.multimodal import (
        _sig_bucket,
    )

    root = index_path.rstrip("/")
    sig = list(sig_cols)

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        sigs = (
            signatures(batch_df)
            .select(F.col(id_col).alias("id"), *sig)
            .distinct()
            .localCheckpoint(eager=True)  # feeds rows AND sizes
        )
        def write_rows() -> None:
            (
                sigs.withColumn("_bucket", _sig_bucket(sig, n_buckets))
                .repartition("_bucket")
                .write.mode("overwrite")
                .partitionBy("_bucket")
                .parquet(os.path.join(root, f"batch_id={batch_id}"))
            )

        def write_sizes() -> None:
            (
                sigs.groupBy("id")
                .agg(F.count(F.lit(1)).alias("n_sig"))
                .write.mode("overwrite")
                .parquet(
                    os.path.join(root + "_sizes", f"batch_id={batch_id}")
                )
            )

        # Independent derivations of the checkpointed sigs, each in its
        # own batch partition — overlap them (§2.6).
        _parallel_batch_writes(write_rows, write_sizes)
        if not fs.exists(root + "_stats"):
            local_relation(sp, 
                [
                    (
                        id_col,
                        ",".join(sig),
                        min_frac_num,
                        min_frac_den,
                        n_buckets,
                    )
                ],
                "id_col string, sig_cols string, min_frac_num int, "
                "min_frac_den int, n_buckets int",
            ).write.mode("overwrite").parquet(root + "_stats")

    return idempotent_foreach_batch(sdf, apply, ledger_dir)


def ivf_ingest_stream(
    sdf: DataFrame,
    index_path: str,
    ledger_dir: str,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    score_scale: int = 6,
) -> StreamingQuery:
    """Continuous embedding ingestion into a persisted IVF index: every
    micro-batch is assigned with the index's FROZEN quantizer (the
    persisted ``<index_path>_centroids`` — train it once on a bootstrap
    sample via ``similarity.kmeans_centroids``; retraining mid-stream
    would move existing cell boundaries) and written into its Voronoi
    cells, so ANN probes see new vectors as soon as their batch commits.

    Layout: each batch lands under its own ``batch_id=N`` partition,
    sub-partitioned by ``cell`` (``batch_id=N/cell=C/``) in overwrite
    mode — the same crash contract as :func:`dedup_ingest_stream`: a
    replayed batch rewrites its own partitions byte-for-byte, never
    duplicates vectors, and the ledger marker commits last. Probes
    (``similarity.ivf_knn_indexed``) filter on the hive ``cell`` column,
    which prunes cell directories inside every batch partition; the
    ``batch_id`` level also ages the index for free (drop the oldest
    partitions for windowed retention) and marks compaction units
    (``layout.compact_small_files`` per cell when increments fragment).

    Per-batch cost: one broadcast-assign scan of the batch — O(batch),
    independent of index size. Quantizer drift under a shifting stream
    is a rebuild decision; watch ``similarity.ivf_cell_stats``.
    """
    from ue_big_data_project_spark.operators.similarity import _write_tagged

    centroids_path = index_path.rstrip("/") + "_centroids"
    layout_checked = False

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        # Emptiness is decided BEFORE tagging: assignment never changes
        # the row count, and isEmpty() on the tagged frame would run the
        # centroid read + broadcast join once for the check and again
        # for the write.
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        nonlocal layout_checked
        if not layout_checked:
            # A one-shot build/append layout (flat cell=C dirs) at this
            # path would conflict with the batch_id=N/cell=C partitions
            # this stream writes — refuse rather than brick the index.
            # None: no data yet, and this stream creates the layout.
            existing = fs.read_parquet(sp, index_path)
            if existing is not None and "batch_id" not in existing.columns:
                raise ValueError(
                    f"{index_path} uses the flat build_ivf_index "
                    "layout; stream batches would conflict with it "
                    "— append via similarity.ivf_index_append, or "
                    "point the stream at a fresh index path"
                )
            layout_checked = True
        centroids = sp.read.parquet(centroids_path)
        _write_tagged(
            batch_df,
            centroids,
            os.path.join(index_path, f"batch_id={batch_id}"),
            item_id,
            item_vec,
            score_scale,
            mode="overwrite",
        )

    return idempotent_foreach_batch(sdf, ingest, ledger_dir)


def bm25_ingest_stream(
    sdf: DataFrame,
    index_path: str,
    ledger_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
) -> StreamingQuery:
    """Continuous document ingestion into a persisted BM25 inverted
    index (the :func:`~ue_big_data_project_spark.operators.retrieval.build_text_index`
    family's streaming drain): each micro-batch is tokenized ONCE
    (an increment-scale ``build_postings`` — the existing corpus is
    never re-scanned) and lands three per-batch artifacts, so lexical
    search sees new documents as soon as their batch commits:

    - posting rows under ``<index>/batch_id=N/term_bucket=M`` — the
      same term-bucket sharding a flat build uses, nested inside the
      batch partition, so a probe's bucket pruning keeps working;
    - its document-frequency DELTA under ``<index>_termdf/batch_id=N``
      (a term's true df is the SUM of its per-batch deltas — exact,
      because a document's postings live in exactly one batch);
    - its corpus-stats delta (doc count, total length) under
      ``<index>_stats/batch_id=N``.

    ``bm25_topk_indexed`` aggregates the sidecars on read (identity
    over a flat layout), so the streamed index answers byte-for-byte
    like a one-shot build over the union corpus — batching is
    invisible, the property `streaming_bm25_index`'s oracle pins.

    Crash/replay safety is the :func:`fp_ingest_stream` contract: every
    batch OVERWRITES its own ``batch_id=N`` partition in all three
    layouts, the ledger marker commits last, replays rewrite
    byte-identically. Documents must be NEW ids (re-crawls are an
    upsert — route through ``cdc.upsert_latest`` and rebuild). Flat
    :func:`~ue_big_data_project_spark.operators.retrieval.append_text_index`
    calls on a streamed layout are rejected; RETENTION/compaction is
    :func:`~ue_big_data_project_spark.operators.retrieval.rewrite_text_index`,
    which recomputes both sidecars from surviving postings and emits
    the flat appendable sharding from either layout.

    Per-batch cost: one tokenize + one (doc, term) shuffle of the
    batch plus a batch-vocabulary aggregate — O(batch), independent of
    index size."""
    from ue_big_data_project_spark.operators.retrieval import build_postings

    root = index_path.rstrip("/")
    layout_checked = False

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sp = batch_df.sparkSession
        nonlocal layout_checked
        if not layout_checked:
            # None: no data yet, and this stream creates the layout.
            existing = fs.read_parquet(sp, root)
            if existing is not None and "batch_id" not in existing.columns:
                raise ValueError(
                    f"{root} uses the flat build_text_index layout; "
                    "stream batches would conflict with it — append "
                    "via retrieval.append_text_index, or point the "
                    "stream at a fresh index path"
                )
            layout_checked = True
        postings, _doclen = build_postings(batch_df, id_col, text_col)
        # One eager materialization of the increment's postings feeds
        # the bucket write AND both sidecar deltas — the batch is
        # tokenized exactly once (the append_text_index lesson).
        inc = postings.withColumn(
            "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
        ).localCheckpoint(eager=True)
        def write_postings() -> None:
            (
                inc.repartition(n_buckets, "term_bucket")
                .write.mode("overwrite")
                .partitionBy("term_bucket")
                .parquet(os.path.join(root, f"batch_id={batch_id}"))
            )

        def write_termdf() -> None:
            inc.groupBy("term").agg(
                F.count(F.lit(1)).alias("df_t")
            ).write.mode("overwrite").parquet(
                os.path.join(root + "_termdf", f"batch_id={batch_id}")
            )

        def write_stats() -> None:
            delta = (
                inc.groupBy("doc_id")
                .agg(F.max("dl").alias("dl"))
                .agg(
                    F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t")
                )
                .first()
            )
            local_relation(sp, 
                [(int(delta["n"] or 0), int(delta["t"] or 0), n_buckets)],
                "n_docs long, total_len long, n_buckets int",
            ).write.mode("overwrite").parquet(
                os.path.join(root + "_stats", f"batch_id={batch_id}")
            )

        # All three artifacts derive from the checkpointed increment
        # and land in this batch's own partitions — overlap them (§2.6).
        _parallel_batch_writes(write_postings, write_termdf, write_stats)

    return idempotent_foreach_batch(sdf, ingest, ledger_dir)


def constraints_ingest_stream(
    sdf: DataFrame,
    verdict_path: str,
    constraints,
    ledger_dir: str,
) -> StreamingQuery:
    """Continuous data-quality monitoring — the
    :func:`~ue_big_data_project_spark.quality.check_constraints`
    suite evaluated PER MICRO-BATCH, each batch's verdict rows
    ``(constraint, observed, passed)`` landing under their own
    ``batch_id=N`` partition of a verdict ledger table. The table is
    the quality timeline a 100 TB ingest alerts on: a source drop that
    suddenly fails ``completeness(text)`` or ``in_set(lang)`` shows up
    as a ``passed=false`` row in ITS batch, without anything ever
    re-scanning earlier batches (per-batch cost = one aggregation of
    the batch — the suite's one-pass contract, streamed).

    Crash/replay safety is the :func:`fp_ingest_stream` contract: each
    batch OVERWRITES its own partition (the suite is a pure function
    of the batch, so a replayed batch rewrites byte-identical verdict
    rows), the ledger marker commits last. Batch-level verdicts
    deliberately complement — not replace — the row-level dead-letter
    split (``split_by_expectations``): the split quarantines records,
    this records the evidence."""
    from ue_big_data_project_spark.quality import check_constraints

    root = verdict_path.rstrip("/")

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        (
            check_constraints(batch_df, constraints)
            .coalesce(1)  # a suite verdict is O(constraints) rows
            .write.mode("overwrite")
            .parquet(os.path.join(root, f"batch_id={batch_id}"))
        )

    return idempotent_foreach_batch(sdf, apply, ledger_dir)


def hll_ingest_stream(
    sdf: DataFrame,
    registers_path: str,
    group_cols: list[str],
    value_col: str,
    p: int = 6,
) -> StreamingQuery:
    """Continuous distinct-count rollup: each micro-batch's HLL
    registers land in the batch's own ``batch_id=N`` partition of a
    parquet sidecar; :func:`read_hll_rollup` folds every partition into
    the corpus-wide estimate.

    Crash-safety falls out of the algebra, with NO ledger: register
    merge is idempotent AND the per-batch write is a deterministic
    overwrite of the batch's own partition, so at-least-once replay
    rewrites the same bytes — and even a reader racing a half-written
    replay can only see register values the true sketch dominates
    (min-merge absorbs duplicates). This is the streaming twin of the
    batch sidecar-merge query (``sketch_hll_merged_modes``); per-batch
    cost is O(batch) with a shuffle of ≤ 2^p integers per group — the
    only at-scale way to keep live distinct counts over an unbounded
    stream without unbounded state.
    """
    from ue_big_data_project_spark.operators.sketch import hll_registers

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        reg = hll_registers(
            batch_df,
            group_cols,
            F.col(value_col).cast("string"),
            p=p,
        )
        reg.write.mode("overwrite").parquet(
            os.path.join(registers_path, f"batch_id={batch_id}")
        )

    return foreach_batch(sdf, ingest)


def read_hll_rollup(
    spark: SparkSession,
    registers_path: str,
    group_cols: list[str],
    p: int = 6,
) -> DataFrame:
    """Current distinct estimates from a register sidecar maintained by
    :func:`hll_ingest_stream` — one bounded scan of ≤ batches·groups·2^p
    integer rows, never of the ingested data."""
    from ue_big_data_project_spark.operators.sketch import hll_estimate

    reg = spark.read.parquet(registers_path)
    if "batch_id" in reg.columns:
        reg = reg.drop("batch_id")
    merged = reg.groupBy(*group_cols, "bucket").agg(
        F.min("min_term").alias("min_term")
    )
    return hll_estimate(merged, group_cols, p=p)


def qhist_ingest_stream(
    sdf: DataFrame,
    counters_path: str,
    ledger_dir: str,
    group_cols: list[str],
    value_col: str,
    s: int = 3,
) -> StreamingQuery:
    """Continuous quantile rollup: each micro-batch's histogram counters
    land in the batch's own ``batch_id=N`` partition;
    :func:`read_qhist_rollup` folds the sidecar by ADDING counts.

    Unlike :func:`hll_ingest_stream`, this one NEEDS the idempotence
    ledger: register min-merge absorbs duplicate batches, counter
    ADDITION does not — a replayed batch folded twice would double its
    counts. The per-batch partition overwrite keeps replays
    byte-deterministic and the ledger (commits last) keeps them
    single-counted — the ``dedup_ingest_stream`` contract."""
    from ue_big_data_project_spark.operators.sketch import qhist_counters

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        cnt = qhist_counters(
            batch_df, group_cols, F.col(value_col), s=s
        )
        cnt.write.mode("overwrite").parquet(
            os.path.join(counters_path, f"batch_id={batch_id}")
        )

    return idempotent_foreach_batch(sdf, ingest, ledger_dir)


def read_qhist_rollup(
    spark: SparkSession,
    counters_path: str,
    group_cols: list[str],
) -> DataFrame:
    """Current merged counter table from a sidecar maintained by
    :func:`qhist_ingest_stream` — feed it to ``sketch.qhist_quantiles``
    for live percentiles. One bounded scan of counter rows, never of
    the ingested data."""
    cnt = spark.read.parquet(counters_path)
    if "batch_id" in cnt.columns:
        cnt = cnt.drop("batch_id")
    return cnt.groupBy(*group_cols, "bin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def cms_ingest_stream(
    sdf: DataFrame,
    counters_path: str,
    ledger_dir: str,
    value_col: str,
    depth: int = 4,
    width: int = 1024,
) -> StreamingQuery:
    """Continuous frequency rollup — the count-min member of the
    streaming-sketch family: each micro-batch's counter table lands in
    its own ``batch_id=N`` partition; :func:`read_cms_rollup` folds the
    sidecar by ADDING counts, so point-frequency estimates and
    heavy-hitter candidate filters stay queryable over an unbounded
    stream from bounded state (≤ depth×width integers per batch).

    Same idempotence class as :func:`qhist_ingest_stream` (counter
    addition is NOT replay-absorbing — a double-folded batch
    double-counts), so it KEEPS the ledger, while
    :func:`hll_ingest_stream` is ledger-free (min-merge absorbs
    replays) — the round-7 contrast, now pinned across all three
    sketch rollups."""
    from ue_big_data_project_spark.operators.sketch import cms_counters

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        cnt = cms_counters(
            batch_df, F.col(value_col), depth=depth, width=width
        )
        cnt.write.mode("overwrite").parquet(
            os.path.join(counters_path, f"batch_id={batch_id}")
        )

    return idempotent_foreach_batch(sdf, ingest, ledger_dir)


def read_cms_rollup(spark: SparkSession, counters_path: str) -> DataFrame:
    """Current merged counter table from a sidecar maintained by
    :func:`cms_ingest_stream` — feed it to ``sketch.cms_lookup`` /
    ``sketch.cms_join_size``. One bounded scan of counter rows, never
    of the ingested data."""
    cnt = spark.read.parquet(counters_path)
    if "batch_id" in cnt.columns:
        cnt = cnt.drop("batch_id")
    return cnt.groupBy("row_idx", "bucket").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )


def dsir_score_stream(
    sdf: DataFrame,
    model_path: str,
    scores_path: str,
) -> StreamingQuery:
    """Continuous DSIR scoring: each micro-batch of arriving documents
    scores against the FROZEN persisted importance model
    (``pipelines.dsir_score_increment`` — the ≤1024-row ratio table
    broadcasts; the fit corpus is never touched) and lands in the
    batch's own ``batch_id=N`` partition of a scores sidecar. This is
    the crawl-frontier deployment of DSIR: the model is fit once on the
    reference corpora, then every arriving shard gets its importance
    weight the moment it lands — the selection itself (threshold or
    Gumbel-top-k over ``read_dsir_scores``) stays a cheap downstream
    read of the O(docs-seen) score table.

    Crash-safety with NO ledger (the :func:`hll_ingest_stream` class):
    a batch's scores are a pure function of (frozen model, batch rows),
    and the write is a deterministic overwrite of the batch's own
    partition — at-least-once replay rewrites identical bytes. The
    ``batch_id=N`` layout makes retention free
    (``layout.expire_batches``); model refresh is a re-fit +
    re-point, audited by ``pipelines.dsir_model_staleness``.
    """
    from ue_big_data_project_spark.pipelines import _dsir_score, dsir_scorer

    # The model is FROZEN: read + validate + materialize the ratio
    # table ONCE at stream setup (a dsir_score_increment call per batch
    # would re-read the artifact and re-run the lr0 lookup job on every
    # micro-batch of the hot path). The ≤1024-row checkpointed table is
    # captured by the closure and broadcast-joined per batch.
    ratio, lr0, id_col = dsir_scorer(sdf.sparkSession, model_path)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        scored = _dsir_score(batch_df, ratio, lr0, id_col, "text")
        scored.write.mode("overwrite").parquet(
            os.path.join(scores_path, f"batch_id={batch_id}")
        )

    return foreach_batch(sdf, ingest)


def read_dsir_scores(spark: SparkSession, scores_path: str) -> DataFrame:
    """Every scored document from a sidecar maintained by
    :func:`dsir_score_stream` — ``(id, logw)``, batch partition column
    dropped. O(docs scored) rows; the ingested text never re-reads."""
    out = spark.read.parquet(scores_path)
    if "batch_id" in out.columns:
        out = out.drop("batch_id")
    return out


def _ledger_state(ledger_dir: str) -> tuple[int, list[int]]:
    """``(watermark, loose ids above it)`` — the ledger's bounded
    representation (the watermark folds the contiguous committed
    prefix; loose markers are capped by compaction). Every per-batch
    and read path works from THIS, never from a materialized
    ``range(watermark + 1)``: that list grows O(total batches ever) and
    re-introduces the unbounded per-batch cost ledger compaction was
    added to eliminate (round-9 advice)."""
    w = _ledger_watermark(ledger_dir)
    loose = [b for b in _loose_marker_ids(ledger_dir) if b > w]
    return w, loose


def _latest_committed(ledger_dir: str) -> int:
    """Highest committed batch id, or -1 if none."""
    w, loose = _ledger_state(ledger_dir)
    return loose[-1] if loose else w


def _last_committed_before(ledger_dir: str, batch_id: int) -> int:
    """Highest committed id strictly below ``batch_id``, or -1."""
    w, loose = _ledger_state(ledger_dir)
    below = [b for b in loose if b < batch_id]
    if below:
        return below[-1]
    return min(w, batch_id - 1)


def _is_committed(ledger_dir: str, batch_id: int) -> bool:
    w, loose = _ledger_state(ledger_dir)
    return 0 <= batch_id <= w or batch_id in loose


def _committed_tail(ledger_dir: str, n: int) -> list[int]:
    """The last ``n`` committed ids, ascending — computed
    arithmetically from the watermark plus loose markers, O(n), never
    O(batches-ever)."""
    if n <= 0:
        return []
    w, loose = _ledger_state(ledger_dir)
    tail = loose[-n:]
    short = n - len(tail)
    if short > 0 and w >= 0:
        tail = list(range(max(0, w - short + 1), w + 1)) + tail
    return tail


def _committed_batch_ids(ledger_dir: str) -> list[int]:
    """Every committed batch id, materialized — O(total batches ever),
    so this is a TEST/DEBUG enumeration utility only; the sinks' hot
    paths and the snapshot readers use the bounded
    :func:`_ledger_state`-derived helpers above."""
    w, loose = _ledger_state(ledger_dir)
    return list(range(w + 1)) + loose


def merge_ingest_stream(
    sdf: DataFrame,
    initial: DataFrame,
    snapshot_dir: str,
    keys: list[str],
    update_set: dict | None = None,
    delete_when=None,
    insert_values: dict | None = None,
    retain_versions: int = 3,
) -> StreamingQuery:
    """Continuous CDC apply: each micro-batch of change rows MERGEs
    (``operators/cdc.merge_into`` — update/delete/insert clauses) onto
    a COPY-ON-WRITE versioned snapshot; :func:`read_merged_snapshot`
    reads the latest committed version.

    MERGE is NOT replay-absorbing (a relative update like
    ``bal += s.delta`` applied twice double-counts — the qhist-ledger
    side of the round-7 idempotence contrast), so at-least-once replay
    needs BOTH mechanisms this sink composes:

    - **Version dirs** (``v=<batch_id>``): batch N writes version N as a
      pure function of IMMUTABLE version N−1 plus batch N, so a replay
      that crashed between snapshot write and ledger commit simply
      rewrites the identical bytes — deterministic overwrite, never a
      second application onto its own output.
    - **The idempotence ledger** (commit marker AFTER the write): a
      replay of an already-committed batch is skipped outright, and
      readers resolve ONLY committed versions, so a torn ``v=N`` dir
      from a mid-write crash is invisible until its deterministic
      rewrite commits.

    Old committed versions beyond ``retain_versions`` are pruned after
    each commit (time-travel window = the retained tail).

    **This is the NAIVE form — deploy**
    :func:`bucketed_merge_ingest_stream` **by default.** Per-batch cost
    here is one key-equi merge join + an O(snapshot) copy-on-write
    rewrite, measured at **30.9× the bytes per batch** of the bucketed/
    manifest sink at 32 buckets (``scripts/merge_scale_check.py``,
    removed after commit d34de9f) —
    write amplification that scales with SNAPSHOT size, which a
    continuous MERGE against a 100 TB table cannot pay. Keep this form
    for small dimension-table snapshots where a whole-table rewrite is
    cheaper than manifest bookkeeping, or as the semantics reference
    (the bucketed sink is equivalence-tested against it).
    """
    from ue_big_data_project_spark.operators.cdc import merge_into

    ledger_dir = os.path.join(snapshot_dir, "_ledger")

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        prev = _last_committed_before(ledger_dir, batch_id)
        if prev >= 0:
            target = sp.read.parquet(os.path.join(snapshot_dir, f"v={prev}"))
        else:
            target = initial
        merged = merge_into(
            target,
            batch_df,
            keys,
            update_set=update_set,
            delete_when=delete_when,
            insert_values=insert_values,
        )
        merged.write.mode("overwrite").parquet(
            os.path.join(snapshot_dir, f"v={batch_id}")
        )

    def prune_and_apply(batch_df: DataFrame, batch_id: int) -> None:
        apply(batch_df, batch_id)
        # Prune INSIDE the callback but only versions strictly older
        # than the retained committed tail (the marker for THIS batch
        # is written by the ledger wrapper after we return — a crash
        # here replays deterministically). Iterate EXISTING v= dirs,
        # not every committed id — with the compacted ledger the
        # committed list spans the stream's whole lifetime and a
        # per-id rmtree loop would go quadratic.
        if retain_versions <= 0:
            return
        keep = set(_committed_tail(ledger_dir, retain_versions)) | {batch_id}
        for d in _existing_version_ids(snapshot_dir):
            if d not in keep:
                fs.rmtree(os.path.join(snapshot_dir, f"v={d}"))

    return idempotent_foreach_batch(
        sdf, prune_and_apply, ledger_dir=ledger_dir, mode="append"
    )


def read_merged_snapshot(
    spark: SparkSession, snapshot_dir: str, version: int | None = None
) -> DataFrame:
    """A COMMITTED version of a :func:`merge_ingest_stream` snapshot —
    latest by default, or time-travel to any version still inside the
    ``retain_versions`` tail. Committed = ledger-marked, so torn writes
    from a crashed batch are never visible at ANY version."""
    ledger_dir = os.path.join(snapshot_dir, "_ledger")
    latest = _latest_committed(ledger_dir)
    if latest < 0:
        raise ValueError(f"no committed snapshot versions in {snapshot_dir}")
    if version is None:
        version = latest
    elif not _is_committed(ledger_dir, version) or not fs.isdir(
        os.path.join(snapshot_dir, f"v={version}")
    ):
        raise ValueError(
            f"version {version} is not a committed, retained snapshot "
            f"(latest committed: {latest})"
        )
    return spark.read.parquet(os.path.join(snapshot_dir, f"v={version}"))


def _existing_version_ids(snapshot_dir: str) -> list[int]:
    """Version ids with a ``v=<id>`` dir on disk — the prune loops walk
    THESE (bounded by retention), never the committed-id range (which
    spans the stream's whole lifetime under the compacted ledger)."""
    if not fs.isdir(snapshot_dir):
        return []
    out = []
    for name in fs.listdir(snapshot_dir):
        if name.startswith("v="):
            try:
                out.append(int(name[2:]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(path: str) -> dict[int, int]:
    import json

    return {int(k): int(v) for k, v in json.loads(fs.read_text(path)).items()}


def _manifest_path(snapshot_dir: str, batch_id: int) -> str:
    return os.path.join(snapshot_dir, "_manifests", f"m-{batch_id}.json")


def bucketed_merge_ingest_stream(
    sdf: DataFrame,
    initial: DataFrame,
    snapshot_dir: str,
    keys: list[str],
    update_set: dict | None = None,
    delete_when=None,
    insert_values: dict | None = None,
    n_buckets: int = 16,
    retain_versions: int = 3,
) -> StreamingQuery:
    """The PARTIAL-REWRITE variant of :func:`merge_ingest_stream` — the
    Iceberg/Delta manifest shape: the snapshot is hash-bucketed on the
    merge key, each micro-batch MERGEs and rewrites ONLY the buckets
    its change keys touch, and a per-version MANIFEST maps every bucket
    to the version that last rewrote it. Per-batch cost is
    O(touched buckets), not O(snapshot) — the property that makes a
    continuous MERGE viable against a 100 TB table
    (``scripts/merge_scale_check.py``, removed after commit d34de9f,
    measured the contrast).

    Same two replay-safety mechanisms as the copy-on-write sink, now
    over (bucket, version) granularity:

    - version PURITY: batch N's bucket rewrites and manifest m-N are a
      pure function of the IMMUTABLE manifest m-(N−1)'s bucket files
      plus batch N, so an uncommitted replay deterministically rewrites
      identical bytes;
    - the LEDGER commits after manifest + data land; readers resolve
      the max committed manifest only, so torn writes are invisible.

    Retention prunes version dirs that are (a) older than the
    ``retain_versions`` committed tail AND (b) not referenced by the
    LATEST committed manifest — a bucket untouched for many batches
    keeps its old version dir alive for as long as the manifest points
    at it (compaction = a full-touch batch).
    """
    from ue_big_data_project_spark.operators.cdc import merge_into

    ledger_dir = os.path.join(snapshot_dir, "_ledger")
    fs.makedirs(os.path.join(snapshot_dir, "_manifests"))
    bucket_of = F.pmod(
        F.xxhash64(*[F.col(k).cast("string") for k in keys]),
        F.lit(n_buckets),
    ).cast("int")

    def bucket_dir(version: int, bucket: int) -> str:
        # partitionBy names dirs <col>=<val>; the column is _bucket.
        return os.path.join(
            snapshot_dir, f"v={version}", f"_bucket={bucket}"
        )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        prev = _last_committed_before(ledger_dir, batch_id)
        manifest = (
            _read_manifest(_manifest_path(snapshot_dir, prev))
            if prev >= 0
            else None
        )
        batch = batch_df.withColumn("_bucket", bucket_of)
        if manifest is None:
            # Bootstrap: every bucket is touched — seed from `initial`.
            touched = list(range(n_buckets))
            target = initial.withColumn("_bucket", bucket_of)
        else:
            touched = sorted(
                r["_bucket"]
                for r in batch.select("_bucket").distinct().collect()
            )
            if touched:
                # A bucket can be EMPTY at its manifest version (no row
                # ever landed there — partitionBy writes no dir for an
                # empty bucket): treat missing dirs as empty buckets.
                dirs = [
                    d
                    for d in (
                        bucket_dir(manifest[b], b) for b in touched
                    )
                    if fs.isdir(d)
                ]
                target = (
                    spark_union_read(sp, dirs).withColumn(
                        "_bucket", bucket_of
                    )
                    if dirs
                    else initial.limit(0).withColumn("_bucket", bucket_of)
                )
            else:
                target = None
        if touched:
            merged = merge_into(
                target.drop("_bucket"),
                batch.drop("_bucket"),
                keys,
                update_set=update_set,
                delete_when=delete_when,
                insert_values=insert_values,
            ).withColumn("_bucket", bucket_of)
            # One write task per touched bucket; partitionBy lands each
            # bucket in its own dir under this batch's version.
            (
                merged.repartition(max(len(touched), 1), "_bucket")
                .write.mode("overwrite")
                .partitionBy("_bucket")
                .parquet(os.path.join(snapshot_dir, f"v={batch_id}"))
            )
            # partitionBy writes dirs named _bucket=<b>; normalize the
            # manifest to plain bucket ids.
        new_manifest = (
            {b: batch_id for b in range(n_buckets)}
            if manifest is None
            else {**manifest, **{b: batch_id for b in touched}}
        )
        mpath = _manifest_path(snapshot_dir, batch_id)
        import json

        fs.write_text_atomic(
            mpath, json.dumps({str(k): v for k, v in new_manifest.items()})
        )

    def prune_and_apply(batch_df: DataFrame, batch_id: int) -> None:
        apply(batch_df, batch_id)
        latest_id = _latest_committed(ledger_dir)
        if latest_id < 0:
            return
        latest = _read_manifest(_manifest_path(snapshot_dir, latest_id))
        # Versions referenced by the latest committed manifest (plus
        # the version just written, whose manifest commits after this
        # callback returns) must survive; prune committed versions
        # outside both the reference set and the retained tail.
        # Iterate EXISTING dirs/manifests, never the full committed id
        # range (quadratic over a long-lived stream otherwise).
        referenced = set(latest.values()) | {batch_id}
        keep = referenced | set(_committed_tail(ledger_dir, retain_versions))
        for b in _existing_version_ids(snapshot_dir):
            if b not in keep:
                fs.rmtree(os.path.join(snapshot_dir, f"v={b}"))
        # Manifests are a few hundred bytes each but one lands per
        # batch FOREVER without retention; a manifest is only readable
        # for versions whose dirs survive, so the same keep set bounds
        # them. (Time-travel outside the keep set already fails loudly
        # at version-dir resolution.)
        mdir = os.path.join(snapshot_dir, "_manifests")
        for name in fs.listdir(mdir):
            if name.startswith("m-") and name.endswith(".json"):
                mid = int(name[2:-5])
                if mid not in keep and mid < batch_id:
                    fs.remove(os.path.join(mdir, name))

    return idempotent_foreach_batch(
        sdf, prune_and_apply, ledger_dir=ledger_dir, mode="append"
    )


def spark_union_read(spark: SparkSession, dirs: list[str]) -> DataFrame:
    """Read several parquet dirs as one frame (schemas identical)."""
    return spark.read.parquet(*dirs)


def read_bucketed_merged_snapshot(
    spark: SparkSession, snapshot_dir: str, version: int | None = None
) -> DataFrame:
    """Resolve a :func:`bucketed_merge_ingest_stream` snapshot at the
    latest (or a retained) COMMITTED manifest: each bucket reads from
    the version that last rewrote it."""
    ledger_dir = os.path.join(snapshot_dir, "_ledger")
    latest = _latest_committed(ledger_dir)
    if latest < 0:
        raise ValueError(f"no committed snapshot versions in {snapshot_dir}")
    if version is None:
        version = latest
    elif not _is_committed(ledger_dir, version):
        raise ValueError(
            f"version {version} is not committed "
            f"(latest committed: {latest})"
        )
    mpath = _manifest_path(snapshot_dir, version)
    if not fs.exists(mpath):
        raise ValueError(
            f"version {version} is no longer fully retained: its "
            "manifest was pruned (retention keeps the latest manifest's "
            "references plus the committed tail — time-travel only "
            "within it)"
        )
    manifest = _read_manifest(mpath)
    # partitionBy writes dirs as <col>=<val>; passing leaf dirs drops
    # the partition column, which is fine — _bucket is derivable.
    #
    # Two distinct reasons a manifest-referenced bucket dir can be
    # missing, and they must NOT be conflated (round-8 advice —
    # conflating them silently returned a PARTIAL snapshot):
    # - the bucket was legitimately EMPTY at that version (partitionBy
    #   writes no dir for an empty bucket, but the version dir itself
    #   exists) → skip, it contributes zero rows;
    # - the referenced VERSION DIR is gone (retention protects only the
    #   LATEST manifest's references plus the committed tail, so an
    #   older manifest can point at pruned versions) → fail loudly,
    #   matching read_merged_snapshot's contract.
    existing: list[str] = []
    for b, v in manifest.items():
        vdir = os.path.join(snapshot_dir, f"v={v}")
        bdir = os.path.join(vdir, f"_bucket={b}")
        if fs.isdir(bdir):
            existing.append(bdir)
        elif not fs.isdir(vdir):
            raise ValueError(
                f"version {version} is no longer fully retained: its "
                f"manifest maps bucket {b} to pruned version dir {vdir} "
                "(retention keeps the latest manifest's references plus "
                "the committed tail — time-travel only within it)"
            )
    if not existing:
        raise ValueError(
            f"snapshot at version {version} has no bucket data dirs — "
            "an all-empty snapshot has no readable schema"
        )
    return spark.read.parquet(*existing)
