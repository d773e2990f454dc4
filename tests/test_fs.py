"""The metadata-IO seam (round-8 verdict task 2): ledger scans,
manifest read/write, sidecar discovery, and version pruning must work
on object stores, not just POSIX — and the artifact layer must not
regress back to raw ``os``/``shutil``/``open`` calls."""

from __future__ import annotations

import os
import re

import pytest

from ue_big_data_project_spark import fs

PKG = os.path.join(os.path.dirname(__file__), "..", "ue_big_data_project_spark")

# POSIX metadata calls that fail outright on HDFS/S3 paths. Pure path
# STRING ops (os.path.join/basename/dirname) are fine everywhere.
_FORBIDDEN = re.compile(
    r"os\.listdir|os\.path\.isdir|os\.path\.exists|os\.rename"
    r"|os\.makedirs|os\.walk|os\.path\.getsize|shutil\."
    r"|with open\(|= open\("
)


def test_artifact_layer_has_no_posix_metadata_calls():
    """Grep pin: outside fs.py itself and queries/ (whose replay
    fixtures stage LOCAL tempdir micro-batches by design — symlinks and
    mtime staggering have no object-store analogue), no module may call
    POSIX metadata APIs directly; everything routes through the fs
    seam so artifacts work on hdfs://, s3a://, gs:// paths."""
    offenders = []
    for root, dirs, files in os.walk(PKG):
        dirs[:] = [d for d in dirs if d not in ("__pycache__", "queries")]
        for f in files:
            if not f.endswith(".py") or f == "fs.py":
                continue
            p = os.path.join(root, f)
            with open(p) as fh:
                for i, line in enumerate(fh, 1):
                    if _FORBIDDEN.search(line):
                        offenders.append(f"{p}:{i}: {line.strip()}")
    assert not offenders, "POSIX metadata IO outside the fs seam:\n" + "\n".join(
        offenders
    )


def test_local_roundtrip(tmp_path):
    d = str(tmp_path / "a" / "b")
    fs.makedirs(d)
    assert fs.isdir(d) and fs.exists(d)
    p = os.path.join(d, "m.json")
    fs.write_text_atomic(p, '{"x": 1}')
    assert fs.read_text(p) == '{"x": 1}'
    assert fs.exists(p) and not fs.isdir(p)
    assert fs.listdir(d) == ["m.json"]
    # Overwrite is atomic-replace, not append.
    fs.write_text_atomic(p, "second")
    assert fs.read_text(p) == "second"
    fs.rmtree(str(tmp_path / "a"))
    assert not fs.exists(d)
    fs.rmtree(str(tmp_path / "a"))  # idempotent on missing


def test_read_parquet_is_none_until_a_file_lands(spark, tmp_path):
    """A missing index and an existing directory with no data file both
    read as None; once a file lands, the read returns its rows."""
    path = str(tmp_path / "idx")
    assert fs.read_parquet(spark, path) is None
    fs.makedirs(path)
    assert fs.read_parquet(spark, path) is None
    spark.range(3).write.mode("append").parquet(path)
    assert fs.read_parquet(spark, path).count() == 3


def test_local_walk_files_skips_hidden(tmp_path):
    (tmp_path / "x.parquet").write_bytes(b"d")
    (tmp_path / "_hidden").mkdir()
    (tmp_path / "_hidden" / "y.parquet").write_bytes(b"dd")
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "z.parquet").write_bytes(b"ddd")
    (tmp_path / "sub" / "_SUCCESS.parquet").write_bytes(b"")
    got = fs.walk_files(str(tmp_path))
    names = [os.path.basename(f) for f, _ in got]
    assert names == ["z.parquet", "x.parquet"] or sorted(names) == [
        "x.parquet",
        "z.parquet",
    ]
    sizes = dict((os.path.basename(f), s) for f, s in got)
    assert sizes == {"x.parquet": 1, "z.parquet": 3}


def test_hadoop_branch_roundtrip(spark, tmp_path, monkeypatch):
    """Drive the Hadoop FileSystem branch against local disk by
    presenting file:// URIs as non-local — the same JVM code path an
    hdfs:// or s3a:// URI takes, minus the remote store."""
    monkeypatch.setattr(fs, "is_local", lambda p: False)
    base = "file://" + str(tmp_path / "store")
    d = base + "/ledger"
    fs.makedirs(d)
    assert fs.isdir(d) and fs.exists(d)
    m = d + "/batch-0.done"
    fs.write_text_atomic(m, "done")
    assert fs.exists(m)
    assert fs.read_text(m) == "done"
    assert fs.listdir(d) == ["batch-0.done"]
    # Atomic overwrite through the delete-then-rename path.
    fs.write_text_atomic(m, '{"v": 2}')
    assert fs.read_text(m) == '{"v": 2}'
    # walk_files: hidden dirs skipped, sizes right, scheme preserved.
    fs.makedirs(base + "/data/_bloom_k")
    fs.write_text_atomic(base + "/data/_bloom_k/p.parquet", "xx")
    fs.write_text_atomic(base + "/data/f.parquet", "xyz")
    walked = fs.walk_files(base + "/data")
    assert [(os.path.basename(f), s) for f, s in walked] == [("f.parquet", 3)]
    fs.rmtree(d)
    assert not fs.exists(d)
    fs.rmtree(d)  # idempotent on missing


def test_hadoop_branch_requires_active_session(monkeypatch):
    monkeypatch.setattr(fs, "is_local", lambda p: False)
    import pyspark.sql

    monkeypatch.setattr(
        pyspark.sql.SparkSession, "getActiveSession", classmethod(lambda cls: None)
    )
    with pytest.raises(RuntimeError, match="active SparkSession"):
        fs.exists("s3a://bucket/x")


def test_streaming_sink_roundtrip_through_hadoop_branch(
    spark, tmp_path, monkeypatch
):
    """End-to-end: the bucketed merge sink's ledger + manifests + prune
    all resolve through the Hadoop branch when the snapshot dir is a
    URI — the exact 100 TB deployment shape (snapshot on s3a/hdfs)."""
    from pyspark.sql import functions as F

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.streaming import ingest

    monkeypatch.setattr(
        fs, "is_local", lambda p: not str(p).startswith("file://")
    )
    initial = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id long, bal double"
    )
    import time

    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    now = time.time()
    for i, rows in enumerate([[(1, 11.0)], [(3, 33.0)]]):
        bdir = str(tmp_path / f"b{i}")
        spark.createDataFrame(rows, "id long, bal double").coalesce(
            1
        ).write.parquet(bdir)
        part = [f for f in os.listdir(bdir) if f.endswith(".parquet")][0]
        dst = os.path.join(stage, f"b{i}.parquet")
        os.symlink(os.path.join(bdir, part), dst)
        os.utime(dst, (now + i, now + i), follow_symlinks=False)
    sdf = spark.readStream.schema("id long, bal double").option(
        "maxFilesPerTrigger", 1
    ).parquet(stage)
    snap = "file://" + str(tmp_path / "snap")
    q = ingest.bucketed_merge_ingest_stream(
        sdf,
        initial,
        snap,
        ["id"],
        update_set={"bal": F.col("s.bal")},
        insert_values={"bal": F.col("s.bal")},
        n_buckets=2,
    )
    ST.run_until_drained(q)
    assert ingest._committed_batch_ids(snap + "/_ledger") == [0, 1]
    got = {
        r.id: r.bal
        for r in ingest.read_bucketed_merged_snapshot(spark, snap).collect()
    }
    assert got == {1: 11.0, 2: 20.0, 3: 33.0}
