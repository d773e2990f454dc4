"""BM25 retrieval semantics on a hand-checkable toy corpus."""

from __future__ import annotations

import pytest

from ue_big_data_project_spark.operators.retrieval import (
    bm25_topk,
    build_postings,
)


@pytest.fixture(scope="module")
def toy(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark shuffle join"),
            (2, "spark spark spark spark spark spark spark spark"),
            (3, "the the the the join"),
            (4, "gardening soil compost"),
            (5, "spark join   Join SPARK"),  # case/whitespace normalize
        ],
        "doc_id long, text string",
    )
    return docs


def _q(spark, *texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "query_id int, query_text string"
    )


def test_postings_and_doclen(spark, toy):
    postings, doclen = build_postings(toy)
    p = {(r.doc_id, r.term): (r.tf, r.dl) for r in postings.collect()}
    assert p[(1, "spark")] == (1, 3)
    assert p[(2, "spark")] == (8, 8)
    assert p[(5, "spark")] == (2, 4)  # normalized: lower + collapsed ws
    assert {r.doc_id: r.dl for r in doclen.collect()} == {
        1: 3, 2: 8, 3: 5, 4: 3, 5: 4,
    }


def test_bm25_ranks_multi_term_match_over_spam(spark, toy):
    out = bm25_topk(toy, _q(spark, "spark join"), k=5).collect()
    ranked = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    # Docs 1 and 5 match BOTH terms; tf-saturation (k1) keeps the
    # 8x-"spark" spam doc 2 below them; doc 4 matches nothing.
    assert set(ranked[:2]) == {1, 5}
    assert 4 not in ranked
    scores = {r.doc_id: r.bm25 for r in out}
    assert scores[1] > scores[2] and scores[5] > scores[2]


def test_bm25_idf_downweights_common_terms(spark, toy):
    # "spark" appears in 3 docs, "gardening" in 1 — a one-term query on
    # the rare term scores its doc higher than the one-term common-term
    # query scores its best doc (same tf=1 ballpark, higher idf).
    rare = bm25_topk(toy, _q(spark, "gardening"), k=1).collect()[0]
    assert rare.doc_id == 4
    common = {
        r.doc_id: r.bm25
        for r in bm25_topk(toy, _q(spark, "shuffle"), k=5).collect()
    }
    assert common == pytest.approx({1: common[1]})  # only doc 1 matches


def test_bm25_unknown_term_yields_no_rows(spark, toy):
    assert bm25_topk(toy, _q(spark, "quantum"), k=3).count() == 0


def test_bm25_k_bounds_results(spark, toy):
    out = bm25_topk(toy, _q(spark, "spark"), k=2).collect()
    assert len(out) == 2
    assert [r.rank for r in sorted(out, key=lambda r: r.rank)] == [1, 2]


# -- persisted index --------------------------------------------------------


def test_indexed_bm25_matches_one_shot_and_prunes(spark, tmp_path):
    from pyspark.sql import functions as F

    from ue_big_data_project_spark.observability import (
        executed_scan_metrics as _scan_metrics,
    )
    from ue_big_data_project_spark.operators.retrieval import (
        bm25_topk_indexed,
        build_text_index,
        bm25_topk,
    )
    from ue_big_data_project_spark.queries.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001", ("documents",))[
        "documents"
    ]
    q = spark.createDataFrame(
        [(0, "spark join window"), (1, "customer order data")],
        "query_id int, query_text string",
    )
    idx = str(tmp_path / "text_index")
    build_text_index(docs, idx, n_buckets=8)

    got = sorted(
        bm25_topk_indexed(spark, idx, q, k=5).collect(),
        key=lambda r: (r.query_id, r.rank),
    )
    want = sorted(
        bm25_topk(docs, q, k=5).collect(),
        key=lambda r: (r.query_id, r.rank),
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # Partition pruning: the probe's scan reads only the bucket
    # directories the query terms hash to (layout writes one file per
    # populated bucket partition after the n_buckets repartition).
    n_buckets = 8
    buckets = {
        r[0]
        for r in spark.createDataFrame(
            [("spark",), ("join",), ("window",), ("customer",),
             ("order",), ("data",)],
            "term string",
        )
        .select(F.pmod(F.xxhash64("term"), F.lit(n_buckets)))
        .collect()
    }
    m = _scan_metrics(
        spark.read.parquet(idx).filter(
            F.col("term_bucket").isin(list(buckets))
        )
    )
    full = _scan_metrics(spark.read.parquet(idx))
    assert m["numFiles"] < full["numFiles"]
    assert m["numFiles"] <= len(buckets)


def test_bm25_matches_unpruned_scoring(spark, toy):
    """The semi-join pruning below the postings aggregation must not
    change any score: compare against a build with no pruning at all
    (full postings, query stats joined after the fact)."""
    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.retrieval import (
        _query_stats,
        _query_terms,
        _rank_candidates,
    )

    q = _q(spark, "spark join", "gardening compost")
    pruned = sorted(
        bm25_topk(toy, q, k=5).collect(), key=lambda r: (r.query_id, r.rank)
    )
    postings, doclen = build_postings(toy)
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_len")
    )
    termdf = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    qstats = _query_stats(termdf, _query_terms(q), stats)
    unpruned = sorted(
        _rank_candidates(postings, qstats, 5, 1.2, 0.75).collect(),
        key=lambda r: (r.query_id, r.rank),
    )
    assert [tuple(r) for r in pruned] == [tuple(r) for r in unpruned]
    assert len(pruned) > 0


def test_bm25_oracle_normalizes_raw_query_text(spark):
    # Round-4 advice: the oracle's qterms CTE used to split the RAW
    # query string, matching the Spark path only because the fixed
    # _BM25_QUERIES happened to be pre-normalized. Pin that an
    # uppercase / doubled-space / padded query string hash-matches
    # through BOTH engines.
    import duckdb

    from ue_big_data_project_spark.operators.retrieval import bm25_topk
    from ue_big_data_project_spark.queries.textops import _bm25_sql
    from ue_big_data_project_spark.queries.tables import load_tables
    from tests.test_oracle import duck_con, normalize

    raw = ("  Spark   JOIN  window ", "CUSTOMER  order   Data")
    docs = load_tables(spark, "/root/testdata/sf0.001", ("documents",))[
        "documents"
    ]
    q = spark.createDataFrame(
        [(i, t) for i, t in enumerate(raw)], "query_id int, query_text string"
    )
    got = normalize(bm25_topk(docs, q, k=5).toPandas())
    con = duck_con("/root/testdata/sf0.001")
    sql = _bm25_sql(queries=tuple(enumerate(raw)))
    want = normalize(con.sql(sql).df())
    assert len(got) == len(want) > 0
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)


def test_index_stats_carry_bucket_count(spark, tmp_path, toy):
    from ue_big_data_project_spark.operators.retrieval import (
        bm25_topk_indexed,
        build_text_index,
        bm25_topk,
    )

    idx = str(tmp_path / "toy_index")
    build_text_index(toy, idx, n_buckets=4)
    q = _q(spark, "spark join")
    got = {(r.query_id, r.doc_id): r.bm25
           for r in bm25_topk_indexed(spark, idx, q, k=10).collect()}
    want = {(r.query_id, r.doc_id): r.bm25
            for r in bm25_topk(toy, q, k=10).collect()}
    assert got == want


def test_unigram_surprisal_matches_python_ground_truth(spark, toy):
    """Per-doc mean surprisal equals the textbook add-α computation."""
    import math

    from ue_big_data_project_spark.operators.retrieval import (
        unigram_surprisal,
    )

    docs = {
        1: "spark shuffle join".split(),
        2: ("spark " * 8).split(),
        3: "the the the the join".split(),
        4: "gardening soil compost".split(),
        5: "spark join join spark".split(),  # normalized form of doc 5
    }
    counts: dict[str, int] = {}
    for d in docs.values():
        for t in d:
            counts[t] = counts.get(t, 0) + 1
    n_tok = sum(counts.values())
    v = len(counts)
    got = {
        r.doc_id: (r.n_tokens, r.mean_nll)
        for r in unigram_surprisal(toy, alpha=0.5).collect()
    }
    assert set(got) == set(docs)
    for i, d in docs.items():
        nll = sum(
            -math.log((counts[t] + 0.5) / (n_tok + 0.5 * v)) for t in d
        ) / len(d)
        assert got[i][0] == len(d)
        assert abs(got[i][1] - nll) < 1e-3, i
    # The all-common-terms spam doc is less surprising than the
    # rare-terms gardening doc.
    assert got[2][1] < got[4][1]


def test_source_unigram_kl_ground_truth_and_zero_self(spark):
    """KL of a source identical to the corpus distribution is ~0; a
    divergent source scores higher, matching the python computation."""
    import math

    from ue_big_data_project_spark.operators.retrieval import (
        source_unigram_kl,
    )

    rows = [
        (1, "alpha beta gamma", "a"),
        (2, "alpha beta gamma", "b"),
        (3, "delta delta delta", "c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r.kl_nats for r in source_unigram_kl(df).collect()}

    toks = {s: t.split() for _, t, s in rows}
    corpus: dict[str, int] = {}
    for t in toks.values():
        for w in t:
            corpus[w] = corpus.get(w, 0) + 1
    n_tok, v = sum(corpus.values()), len(corpus)

    def kl(source_tokens):
        c: dict[str, int] = {}
        for w in source_tokens:
            c[w] = c.get(w, 0) + 1
        n_g = sum(c.values())
        out = 0.0
        for w, cg in c.items():
            p_g = (cg + 0.5) / (n_g + 0.5 * v)
            p_c = (corpus[w] + 0.5) / (n_tok + 0.5 * v)
            out += p_g * math.log(p_g / p_c)
        return out

    for s in ("a", "b", "c"):
        assert abs(got[s] - kl(toks[s])) < 1e-4, s
    # identical sources score identically; the divergent one scores higher
    assert got["a"] == got["b"]
    assert got["c"] > got["a"]


def test_surprisal_and_kl_edge_cases(spark):
    """Empty corpus → empty result (no division-by-null surprises);
    whitespace-only docs are excluded exactly like the oracle's
    zero-token exclusion."""
    from ue_big_data_project_spark.operators.retrieval import (
        source_unigram_kl,
        unigram_surprisal,
    )

    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    assert unigram_surprisal(empty).count() == 0
    assert source_unigram_kl(empty).count() == 0

    ws = spark.createDataFrame(
        [(1, "alpha beta", "a"), (2, "   ", "a"), (3, "", "b")],
        "doc_id long, text string, source string",
    )
    rows = {r.doc_id for r in unigram_surprisal(ws).collect()}
    assert rows == {1}  # whitespace-only and empty docs excluded
    kl = {r.source for r in source_unigram_kl(ws).collect()}
    assert kl == {"a"}  # source "b" contributed zero tokens


def test_indexed_bm25_large_batch_semi_join_fallback(spark, tmp_path):
    """Past _MAX_INLINE_TERMS distinct query terms the indexed probe
    must switch from an inlined isin (whose In-list would grow with the
    batch) to a broadcast semi join, without changing any answer
    (round-5 advice)."""
    import ue_big_data_project_spark.operators.retrieval as R
    from ue_big_data_project_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
        build_text_index,
    )
    from ue_big_data_project_spark.queries.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001", ("documents",))[
        "documents"
    ]
    q = spark.createDataFrame(
        [(0, "spark join window"), (1, "customer order data")],
        "query_id int, query_text string",
    )
    idx = str(tmp_path / "text_index")
    build_text_index(docs, idx, n_buckets=8)

    want = sorted(
        bm25_topk(docs, q, k=5).collect(),
        key=lambda r: (r.query_id, r.rank),
    )
    old = R._MAX_INLINE_TERMS
    R._MAX_INLINE_TERMS = 3  # force the fallback with a small batch
    try:
        df = bm25_topk_indexed(spark, idx, q, k=5)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # Term pruning now rides a semi join, not a giant In-list.
        assert "LeftSemi" in plan, plan
        got = sorted(df.collect(), key=lambda r: (r.query_id, r.rank))
    finally:
        R._MAX_INLINE_TERMS = old
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_append_text_index_equals_fresh_full_build(spark, tmp_path):
    """append_text_index must be EXACTLY a fresh build over the union
    corpus: identical postings rows, merged df_t/n_docs/total_len — so
    identical BM25 answers, bit for bit."""
    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.retrieval import (
        append_text_index,
        bm25_topk_indexed,
        build_text_index,
    )
    from ue_big_data_project_spark.queries.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001", ("documents",))[
        "documents"
    ]
    q = spark.createDataFrame(
        [(0, "spark join window"), (1, "customer order data"),
         (2, "gardening soil")],
        "query_id int, query_text string",
    )
    fresh_idx = str(tmp_path / "fresh")
    app_idx = str(tmp_path / "appended")
    build_text_index(docs, fresh_idx, n_buckets=8)
    build_text_index(docs.filter(F.col("doc_id") % 2 == 0), app_idx, n_buckets=8)
    append_text_index(spark, docs.filter(F.col("doc_id") % 2 == 1), app_idx)

    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    got = sorted(bm25_topk_indexed(spark, app_idx, q, k=5).collect(), key=key)
    want = sorted(
        bm25_topk_indexed(spark, fresh_idx, q, k=5).collect(), key=key
    )
    assert [r.asDict() for r in got] == [r.asDict() for r in want]

    # Sidecars merged exactly: same stats row, same vocabulary.
    s_f = spark.read.parquet(fresh_idx + "_stats").first().asDict()
    s_a = spark.read.parquet(app_idx + "_stats").first().asDict()
    assert s_f == s_a
    tf_f = {
        r.term: r.df_t
        for r in spark.read.parquet(fresh_idx + "_termdf").collect()
    }
    tf_a = {
        r.term: r.df_t
        for r in spark.read.parquet(app_idx + "_termdf").collect()
    }
    assert tf_f == tf_a


def test_append_text_index_empty_increment_is_noop(spark, tmp_path, toy):
    from ue_big_data_project_spark.operators.retrieval import (
        append_text_index,
        build_text_index,
    )

    idx = str(tmp_path / "idx")
    build_text_index(toy, idx, n_buckets=4)
    before = spark.read.parquet(idx + "_stats").first().asDict()
    empty = toy.filter("doc_id < 0")
    append_text_index(spark, empty, idx)
    after = spark.read.parquet(idx + "_stats").first().asDict()
    assert before == after


def test_compaction_preserves_appended_index_layout_and_answers(
    spark, tmp_path, toy
):
    """Frequent appends fragment the bucket dirs; compact_small_files
    with partition_by must keep the term_bucket directories (probe
    pruning intact) and change no answer."""
    import os

    from ue_big_data_project_spark.operators.retrieval import (
        append_text_index,
        bm25_topk_indexed,
        build_text_index,
    )
    from ue_big_data_project_spark.layout import compact_small_files

    idx = str(tmp_path / "idx")
    compacted = str(tmp_path / "compacted")
    build_text_index(toy.filter("doc_id <= 2"), idx, n_buckets=4)
    append_text_index(spark, toy.filter("doc_id = 3"), idx)
    append_text_index(spark, toy.filter("doc_id >= 4"), idx)

    q = _q(spark, "spark join", "gardening compost")
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    before = sorted(bm25_topk_indexed(spark, idx, q, k=3).collect(), key=key)

    compact_small_files(
        spark, idx, compacted, partition_by=["term_bucket"]
    )
    # The sidecars are layout-independent: point the compacted root at
    # the same ones.
    for side in ("_termdf", "_stats"):
        spark.read.parquet(idx + side).write.parquet(compacted + side)
    dirs = sorted(
        d for d in os.listdir(compacted) if d.startswith("term_bucket=")
    )
    assert dirs, "compaction flattened the partition directories"
    n_files_before = sum(
        f.endswith(".parquet")
        for d in os.listdir(idx)
        if d.startswith("term_bucket=")
        for f in os.listdir(os.path.join(idx, d))
    )
    n_files_after = sum(
        f.endswith(".parquet")
        for d in dirs
        for f in os.listdir(os.path.join(compacted, d))
    )
    assert n_files_after < n_files_before  # three writes -> one compact
    after = sorted(
        bm25_topk_indexed(spark, compacted, q, k=3).collect(), key=key
    )
    assert [r.asDict() for r in after] == [r.asDict() for r in before]


def test_rewrite_text_index_equals_fresh_kept_build(spark, tmp_path):
    """rewrite_text_index (retention) must be EXACTLY a fresh build
    over the kept corpus: same probe answers, same sidecars — N, avgdl
    and df_t genuinely stop counting removed documents."""
    from pyspark.sql import functions as F

    from ue_big_data_project_spark.operators.retrieval import (
        bm25_topk_indexed,
        build_text_index,
        rewrite_text_index,
    )
    from ue_big_data_project_spark.queries.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001", ("documents",))[
        "documents"
    ]
    kept = docs.filter(F.col("doc_id") % 3 != 0)
    q = spark.createDataFrame(
        [(0, "spark join window"), (1, "customer order data")],
        "query_id int, query_text string",
    )
    pruned_idx = str(tmp_path / "pruned")
    fresh_idx = str(tmp_path / "fresh")
    build_text_index(docs, pruned_idx, n_buckets=8)
    n = rewrite_text_index(spark, pruned_idx, kept.select("doc_id"))
    build_text_index(kept, fresh_idx, n_buckets=8)
    assert n == spark.read.parquet(fresh_idx).count()

    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    got = sorted(
        bm25_topk_indexed(spark, pruned_idx, q, k=5).collect(), key=key
    )
    want = sorted(
        bm25_topk_indexed(spark, fresh_idx, q, k=5).collect(), key=key
    )
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    assert got  # non-vacuous

    s_p = spark.read.parquet(pruned_idx + "_stats").first().asDict()
    s_f = spark.read.parquet(fresh_idx + "_stats").first().asDict()
    assert s_p == s_f
    tf_p = {
        r.term: r.df_t
        for r in spark.read.parquet(pruned_idx + "_termdf").collect()
    }
    tf_f = {
        r.term: r.df_t
        for r in spark.read.parquet(fresh_idx + "_termdf").collect()
    }
    assert tf_p == tf_f


def test_bm25_stream_equals_one_shot_guard_and_rewrite(spark, tmp_path):
    """The STREAMED BM25 index answers exactly like a one-shot build
    over the union corpus (sidecars aggregate on read); a full replay
    against the same ledger is byte-stable; flat appends onto the
    streamed layout are rejected; rewrite_text_index prunes + compacts
    back to the flat appendable layout."""
    import os
    import time

    from pyspark.sql import functions as F

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.streaming import ingest
    from ue_big_data_project_spark.operators.retrieval import (
        append_text_index,
        bm25_topk_indexed,
        build_text_index,
        rewrite_text_index,
    )
    from ue_big_data_project_spark.queries.tables import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.001", ("documents",))[
        "documents"
    ].select("doc_id", "text")
    corpus = docs.filter("doc_id % 2 = 0")
    late = docs.filter("doc_id % 4 = 3")
    q = spark.createDataFrame(
        [(0, "spark join window"), (1, "customer order data")],
        "query_id int, query_text string",
    )

    root = str(tmp_path / "bm25stream")
    stage = os.path.join(root, "stage")
    os.makedirs(stage)
    now = time.time()
    for i in range(2):
        bdir = os.path.join(root, f"b{i}")
        corpus.filter(f"doc_id % 4 = {2 * i}").coalesce(1).write.parquet(bdir)
        part = [f for f in os.listdir(bdir) if f.endswith(".parquet")][0]
        os.symlink(
            os.path.join(bdir, part), os.path.join(stage, f"b{i}.parquet")
        )
        os.utime(os.path.join(bdir, part), (now + i, now + i))

    idx = os.path.join(root, "bm25idx")
    ledger = os.path.join(root, "_ledger")

    def drain():
        sdf = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        ST.run_until_drained(
            ingest.bm25_ingest_stream(sdf, idx, ledger, n_buckets=8)
        )

    drain()
    key = lambda r: (r.query_id, r.rank)  # noqa: E731
    got = sorted(bm25_topk_indexed(spark, idx, q, k=5).collect(), key=key)
    flat = str(tmp_path / "oneshot")
    build_text_index(corpus, flat, n_buckets=8)
    want = sorted(bm25_topk_indexed(spark, flat, q, k=5).collect(), key=key)
    assert [r.asDict() for r in got] == [r.asDict() for r in want]
    assert got

    # Replay: ledger skips committed batches; all three layouts stable.
    def files(p):
        return sorted(
            os.path.join(dp, f)
            for dp, _, fns in os.walk(p)
            for f in fns
            if f.endswith(".parquet")
        )

    before = [files(idx), files(idx + "_termdf"), files(idx + "_stats")]
    drain()
    assert [files(idx), files(idx + "_termdf"), files(idx + "_stats")] == before

    with pytest.raises(ValueError, match="stream-ingested"):
        append_text_index(spark, late, idx)

    kept = corpus.filter(F.col("doc_id") % 16 != 0)
    n = rewrite_text_index(spark, idx, kept.select("doc_id"))
    assert n > 0
    assert "batch_id" not in spark.read.parquet(idx).columns
    append_text_index(spark, late, idx)  # flat layout again
    got2 = sorted(bm25_topk_indexed(spark, idx, q, k=5).collect(), key=key)
    fresh = str(tmp_path / "fresh_kept_late")
    build_text_index(kept.unionByName(late), fresh, n_buckets=8)
    want2 = sorted(bm25_topk_indexed(spark, fresh, q, k=5).collect(), key=key)
    assert [r.asDict() for r in got2] == [r.asDict() for r in want2]


def test_text_index_term_stats_flags_hot_terms(spark, tmp_path, toy):
    """text_index_term_stats: shares sum to 1, skew centers at 1, the
    most document-frequent term ranks hot, exactly top_k rows flagged."""
    from ue_big_data_project_spark.operators.retrieval import (
        build_text_index,
        text_index_term_stats,
    )

    idx = str(tmp_path / "idx")
    build_text_index(toy, idx, n_buckets=4)
    rows = text_index_term_stats(spark, idx, top_k=1).collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-9
    mean_skew = sum(r.skew for r in rows) / len(rows)
    assert abs(mean_skew - 1.0) < 1e-9
    hot = [r.term for r in rows if r.hot]
    # df: "spark" and "join" both appear in 3 docs; the (df desc, term
    # asc) comparator makes "join" the single hot row at top_k=1.
    assert hot == ["join"]
    assert max((r.df_t, r.term == "join") for r in rows)[0] == 3


def test_bm25_stop_term_cap_semantics(spark, tmp_path):
    """max_term_df drops a hot term from scoring EXACTLY as if it were
    removed from every query string (surviving terms' tf/df
    untouched); the in-flight and indexed forms agree; and the cap is
    non-vacuous (capped ranking differs from uncapped)."""
    from ue_big_data_project_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_indexed,
        build_text_index,
    )

    corpus = spark.createDataFrame(
        [
            (1, "common apple apple"),
            (2, "common banana"),
            (3, "common apple banana"),
            (4, "common cherry"),
        ],
        "doc_id long, text string",
    )
    q_full = spark.createDataFrame(
        [(0, "common apple")], "query_id int, query_text string"
    )
    q_stripped = spark.createDataFrame(
        [(0, "apple")], "query_id int, query_text string"
    )
    key = lambda r: (r.query_id, r.rank)  # noqa: E731

    # "common" has df 4; cap at 3 removes it.
    capped = sorted(
        bm25_topk(corpus, q_full, k=4, max_term_df=3).collect(), key=key
    )
    stripped = sorted(bm25_topk(corpus, q_stripped, k=4).collect(), key=key)
    assert [r.asDict() for r in capped] == [r.asDict() for r in stripped]
    assert capped  # apple docs still score

    uncapped = sorted(bm25_topk(corpus, q_full, k=4).collect(), key=key)
    assert [r.asDict() for r in capped] != [r.asDict() for r in uncapped]

    idx = str(tmp_path / "idx")
    build_text_index(corpus, idx, n_buckets=4)
    got_idx = sorted(
        bm25_topk_indexed(spark, idx, q_full, k=4, max_term_df=3).collect(),
        key=key,
    )
    assert [r.asDict() for r in got_idx] == [r.asDict() for r in capped]
