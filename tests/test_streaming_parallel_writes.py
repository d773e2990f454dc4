"""Failure propagation for the §2.6 overlapped micro-batch writes
(`streaming._parallel_batch_writes`): a failed overlapped write must
fail the batch BEFORE the ledger marker on every path, every thunk's
exception must be gathered (first re-raised, not silently dropped),
and a replay after the failure must re-do the batch to the same bytes
a clean drain produces."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ue_big_data_project_spark.streaming import ingest


def test_parallel_batch_writes_runs_all_and_raises_first():
    ran = []

    def ok_a():
        ran.append("a")

    def boom_b():
        ran.append("b")
        raise RuntimeError("first failure")

    def boom_c():
        ran.append("c")
        raise ValueError("second failure")

    with pytest.raises(RuntimeError, match="first failure"):
        ingest._parallel_batch_writes(ok_a, boom_b, boom_c)
    # Every thunk was attempted (threads all join before the raise),
    # and the FIRST failure by thunk order is the one raised — the
    # ValueError from the later thunk is logged, not lost as the
    # propagated cause.
    assert sorted(ran) == ["a", "b", "c"]


def test_parallel_batch_writes_success_path():
    ran = []
    ingest._parallel_batch_writes(lambda: ran.append(1), lambda: ran.append(2))
    assert sorted(ran) == [1, 2]


def test_failed_overlapped_write_blocks_ledger_and_replay_redoes_batch(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Inject a failing thunk into the winnow drain's overlapped batch
    writes: the batch must fail BEFORE its ledger marker (no
    batch-N.done), and a clean re-drain over the same stage + ledger
    must re-do the batch, converging to the one-shot index's answers."""
    from ue_big_data_project_spark.operators.dedup import (
        winnow_probe_index,
        write_winnow_index,
    )
    from ue_big_data_project_spark.queries.tables import load_tables

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    probe = d.filter(F.col("doc_id") % 4 == 1)

    root = str(tmp_path / "winfail")
    os.makedirs(root)
    from tests.test_winnow import _drain_winnow_stream, _stage_winnow_batches

    stage = _stage_winnow_batches(spark, corpus, root)
    idx = os.path.join(root, "widx")
    ledger = os.path.join(root, "_ledger")

    real = ingest._parallel_batch_writes

    def with_injected_failure(*thunks):
        def boom():
            raise RuntimeError("injected write failure")

        real(*(list(thunks) + [boom]))

    monkeypatch.setattr(ingest, "_parallel_batch_writes", with_injected_failure)
    with pytest.raises(Exception):
        _drain_winnow_stream(spark, stage, idx, ledger)
    for q in spark.streams.active:  # the failed query may linger
        q.stop()
    # The injected failure propagated out of the overlapped writes, so
    # the wrapper never reached fs.write_text_atomic: zero markers.
    markers = (
        [f for f in os.listdir(ledger) if f.startswith("batch-")]
        if os.path.isdir(ledger)
        else []
    )
    assert markers == [], f"ledger committed despite write failure: {markers}"

    # Clean replay over the same stage + ledger re-does every batch
    # (nothing was committed) and converges: the streamed index answers
    # the probe exactly like a one-shot build of the same corpus.
    monkeypatch.setattr(ingest, "_parallel_batch_writes", real)
    _drain_winnow_stream(spark, stage, idx, ledger)
    got = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnow_probe_index(spark, idx, probe).collect()
    }
    flat = str(tmp_path / "widx_oneshot")
    write_winnow_index(corpus, flat)
    want = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnow_probe_index(spark, flat, probe).collect()
    }
    spark.catalog.clearCache()
    assert got == want
    assert want  # non-vacuous
