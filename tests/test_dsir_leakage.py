"""DSIR importance resampling + near-dup-aware leakage split.

Three independent evidence layers for the two wave-5 pipeline ops (the
Spark-vs-DuckDB hash check rides test_oracle automatically):

- a pure-Python replay of the DSIR estimator (hashlib md5, Decimal
  half-up accumulation — no Spark, no DuckDB) on a constructed corpus;
- the statistical property the estimator exists for: target-domain
  documents outscore background documents when the domains differ;
- the leakage CONTRACT: cluster-hash splitting never separates a
  near-dup pair, on a corpus engineered so id-hash splitting provably
  does.
"""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from ue_big_data_project_spark.pipelines import (
    DSIR_BUCKETS,
    dsir_logweights,
    dsir_sample,
    leakage_split,
    split_assign,
)


def _norm(s: str) -> str:
    return " ".join(s.lower().split())


def _feats(text: str) -> list[str]:
    w = _norm(text).split(" ")
    return w + [f"{a} {b}" for a, b in zip(w, w[1:])]


def _bucket(f: str) -> int:
    return (
        int(hashlib.md5(("f:" + f).encode()).hexdigest()[:8], 16)
        % DSIR_BUCKETS
    )


def _r(x: float, dp: int) -> Decimal:
    return Decimal(repr(x)).quantize(
        Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP
    )


def _py_dsir(corpus: list[tuple[int, str, bool]], alpha=1.0) -> dict:
    """Reference replay of dsir_logweights: (id, text, is_target) →
    {id: logw}, Decimal half-up at the same 9/6 dp points."""
    c_t: dict[int, int] = {}
    c_r: dict[int, int] = {}
    for _id, text, tgt in corpus:
        for f in _feats(text):
            b = _bucket(f)
            c_r[b] = c_r.get(b, 0) + 1
            if tgt:
                c_t[b] = c_t.get(b, 0) + 1
    n_t = sum(c_t.values())
    n_r = sum(c_r.values())
    lr = {
        b: _r(
            math.log((c_t.get(b, 0) + alpha) / (n_t + alpha * DSIR_BUCKETS))
            - math.log((c_r[b] + alpha) / (n_r + alpha * DSIR_BUCKETS)),
            9,
        )
        for b in c_r
    }
    out = {}
    for _id, text, _tgt in corpus:
        acc = Decimal(0)
        for f in _feats(text):
            acc += lr[_bucket(f)]
        out[_id] = float(_r(float(acc), 6))
    return out


_TARGET_DOCS = [
    "the encyclopedia article cites peer reviewed sources",
    "reference article with citations and a bibliography",
    "the article summarizes peer reviewed research sources",
]
_RAW_DOCS = [
    "click here to win a free prize now",
    "buy cheap deals online free shipping today",
    "subscribe now for exclusive deals and offers",
    "one weird trick doctors hate click now",
    "the encyclopedia article cites peer reviewed sources too",
]


def _corpus(spark):
    rows = [
        (i, t, True) for i, t in enumerate(_TARGET_DOCS)
    ] + [
        (100 + i, t, False) for i, t in enumerate(_RAW_DOCS)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], ["doc_id", "text"]
    )
    return rows, df


def test_dsir_logweights_match_python_reference(spark):
    rows, df = _corpus(spark)
    got = {
        r["doc_id"]: r["logw"]
        for r in dsir_logweights(
            df, F.col("doc_id") < 100
        ).collect()
    }
    want = _py_dsir(rows)
    assert got == pytest.approx(want, abs=1.5e-6)


def test_dsir_separates_target_from_background(spark):
    """The estimator's reason to exist: with distinct vocabularies,
    every target doc outscores every background doc — and the
    near-copy of a target doc planted in the background outscores the
    true background (content, not the label, drives the weight)."""
    rows, df = _corpus(spark)
    lw = {
        r["doc_id"]: r["logw"]
        for r in dsir_logweights(df, F.col("doc_id") < 100).collect()
    }
    target = [lw[i] for i, _, t in rows if t]
    lookalike = lw[104]  # background row that mirrors a target doc
    background = [lw[100 + i] for i in range(4)]
    assert min(target) > max(background)
    assert lookalike > max(background)


def test_dsir_sample_is_deterministic_topk(spark):
    _, df = _corpus(spark)
    a = dsir_sample(df, F.col("doc_id") < 100, k=4).collect()
    b = dsir_sample(df, F.col("doc_id") < 100, k=4).collect()
    assert a == b
    assert len(a) == 4
    keys = [r["gkey"] for r in a]
    assert keys == sorted(keys, reverse=True)


def _hash100(value) -> int:
    return int(hashlib.md5(str(value).encode()).hexdigest()[:12], 16) % 100


def _twin_ids():
    """Two ids whose id-hash buckets land in DIFFERENT splits (one
    train ≥20, one val <10) — so split_assign provably separates their
    near-identical documents and leakage_split provably must not."""
    train_id = next(i for i in range(1, 500) if _hash100(i) >= 20)
    val_id = next(
        i for i in range(1, 500) if _hash100(i) < 10 and i != train_id
    )
    return train_id, val_id


def test_leakage_split_keeps_near_dups_together(spark):
    from ue_big_data_project_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    a, b = _twin_ids()
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (a, base),
            (b, base + " mu"),
            (900, "totally different words about spark shuffles here"),
            (901, "yet another unrelated document mentioning joins"),
        ],
        ["doc_id", "text"],
    )
    pairs = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_n=3, threshold=0.7
    )
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {
        (min(a, b), max(a, b))
    }

    # The id-hash split separates the twins (engineered via _twin_ids).
    id_split = {
        r["doc_id"]: r["split"]
        for r in split_assign(docs, val_pct=10, test_pct=10).collect()
    }
    assert id_split[a] != id_split[b]

    # The cluster-hash split cannot: both twins ride one component.
    s = leakage_split(docs.select("doc_id"), pairs)
    rows = {r["doc_id"]: r for r in s.collect()}
    assert rows[a]["component"] == rows[b]["component"]
    assert rows[a]["split"] == rows[b]["split"]
    # Split is a pure function of component across the whole corpus.
    per_comp = (
        s.groupBy("component")
        .agg(F.countDistinct("split").alias("n"))
        .collect()
    )
    assert all(r["n"] == 1 for r in per_comp)
    # Singletons keep their own component and some split.
    assert rows[900]["component"] == 900
    assert rows[901]["component"] == 901


def test_dsir_frozen_model_scores_match_inline_fit(spark, tmp_path):
    """Scoring the fit corpus itself against the persisted frozen model
    reproduces the inline estimator exactly — the persisted artifact
    changes WHERE the distributions live, never a number."""
    from ue_big_data_project_spark.pipelines import (
        dsir_score_increment,
        write_dsir_model,
    )

    _, df = _corpus(spark)
    model = str(tmp_path / "model")
    write_dsir_model(df, F.col("doc_id") < 100, model)
    frozen = {
        r["doc_id"]: r["logw"]
        for r in dsir_score_increment(spark, model, df).collect()
    }
    inline = {
        r["doc_id"]: r["logw"]
        for r in dsir_logweights(df, F.col("doc_id") < 100).collect()
    }
    assert frozen == inline


def test_dsir_unseen_bucket_takes_smoothed_zero_ratio(spark, tmp_path):
    """An increment whose vocabulary the fit never saw still scores —
    every feature takes the smoothed zero-count ratio, which is a
    CONSTANT per occurrence (ln(n_r + αB) − ln(n_t + αB))."""
    from ue_big_data_project_spark.pipelines import (
        DSIR_BUCKETS,
        dsir_score_increment,
        write_dsir_model,
    )

    rows, df = _corpus(spark)
    model = str(tmp_path / "model")
    write_dsir_model(df, F.col("doc_id") < 100, model)
    inc = spark.createDataFrame(
        [(500, "zzzq xxqj qqvv")], ["doc_id", "text"]
    )
    got = dsir_score_increment(spark, model, inc).collect()[0]["logw"]
    # Python replay with the FROZEN counts: a fitted bucket keeps its
    # ratio (the 1024-bucket space can collide even for fake words —
    # that's the estimator's hashing smoothing, not an error); a truly
    # unseen bucket takes the smoothed zero-count constant.
    c_t: dict[int, int] = {}
    c_r: dict[int, int] = {}
    for _id, text, tgt in rows:
        for f in _feats(text):
            b = _bucket(f)
            c_r[b] = c_r.get(b, 0) + 1
            if tgt:
                c_t[b] = c_t.get(b, 0) + 1
    n_t, n_r = sum(c_t.values()), sum(c_r.values())
    acc = Decimal(0)
    for f in _feats("zzzq xxqj qqvv"):  # 3 unigrams + 2 bigrams
        b = _bucket(f)
        acc += _r(
            math.log((c_t.get(b, 0) + 1.0) / (n_t + DSIR_BUCKETS))
            - math.log((c_r.get(b, 0) + 1.0) / (n_r + DSIR_BUCKETS)),
            9,
        )
    assert got == pytest.approx(float(_r(float(acc), 6)), abs=2e-6)
    # At least one of the fake features must actually be unseen, or
    # the test stops exercising the left-join/coalesce path.
    assert any(_bucket(f) not in c_r for f in _feats("zzzq xxqj qqvv"))


def test_dsir_model_staleness_audit(spark, tmp_path):
    """Fresh model ≈ 0 total variation against its own fit corpus;
    drift (disjoint vocabulary flooding in) drives it up; a re-fit
    resets it — the rebuild-on-measured-drift loop the IVF and Jaccard
    indexes follow."""
    from ue_big_data_project_spark.pipelines import (
        dsir_model_staleness,
        write_dsir_model,
    )

    _, df = _corpus(spark)
    model = str(tmp_path / "model")
    write_dsir_model(df, F.col("doc_id") < 100, model)
    fresh = dsir_model_staleness(spark, model, df)
    assert fresh["tv"] == pytest.approx(0.0, abs=1e-12)

    drifted = df.unionByName(
        spark.createDataFrame(
            [
                (200 + i, f"qqx{i} wwy{i} zzk{i} qqx{i} wwy{i}")
                for i in range(30)
            ],
            ["doc_id", "text"],
        )
    )
    stale = dsir_model_staleness(spark, model, drifted)
    assert stale["tv"] > 0.3

    from ue_big_data_project_spark.pipelines import write_dsir_model as W

    W(drifted, F.col("doc_id") < 100, model)
    refit = dsir_model_staleness(spark, model, drifted)
    assert refit["tv"] == pytest.approx(0.0, abs=1e-12)


def test_dsir_score_stream_equals_one_shot_and_replays_safely(
    spark, tmp_path
):
    """Stream == batch: draining documents through dsir_score_stream in
    micro-batches produces exactly the one-shot dsir_score_increment
    table; re-running a batch's ingest (at-least-once replay) rewrites
    identical bytes (pure function of frozen model + batch rows, no
    ledger needed); expire_batches prunes old score partitions."""
    import os

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.streaming import ingest
    from ue_big_data_project_spark.pipelines import (
        dsir_score_increment,
        write_dsir_model,
    )
    from ue_big_data_project_spark.layout import expire_batches

    _, df = _corpus(spark)
    model = str(tmp_path / "model")
    write_dsir_model(df, F.col("doc_id") < 100, model)

    inc = spark.createDataFrame(
        [(300 + i, t) for i, t in enumerate(_RAW_DOCS + _TARGET_DOCS)],
        ["doc_id", "text"],
    )
    batches = [str(tmp_path / f"b{i}") for i in range(3)]
    for i, b in enumerate(batches):
        inc.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(b)

    scores = str(tmp_path / "scores")
    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    for i, b in enumerate(batches):
        part = [f for f in os.listdir(b) if f.endswith(".parquet")][0]
        os.symlink(os.path.join(b, part), f"{stage}/b{i}.parquet")
    sdf = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = ingest.dsir_score_stream(sdf, model, scores)
    ST.run_until_drained(q)

    got = {
        (r["doc_id"], r["logw"])
        for r in ingest.read_dsir_scores(spark, scores).collect()
    }
    want = {
        (r["doc_id"], r["logw"])
        for r in dsir_score_increment(spark, model, inc).collect()
    }
    assert got == want and len(got) == inc.count()

    # Replay a committed batch by hand: identical bytes land (same
    # rows), nothing duplicates.
    parts = sorted(
        p for p in os.listdir(scores) if p.startswith("batch_id=")
    )
    assert len(parts) >= 2
    b0 = spark.read.parquet(os.path.join(scores, parts[0]))
    rescored = dsir_score_increment(
        spark, model, inc.join(b0.select("doc_id"), "doc_id", "left_semi")
    )
    rescored.write.mode("overwrite").parquet(
        os.path.join(scores, parts[0])
    )
    assert {
        (r["doc_id"], r["logw"])
        for r in ingest.read_dsir_scores(spark, scores).collect()
    } == want

    # Retention rides the batch_id layout for free.
    dropped = expire_batches(spark, scores, keep_last=1)
    assert dropped and len(
        [p for p in os.listdir(scores) if p.startswith("batch_id=")]
    ) == 1


def test_dsir_model_records_and_validates_params(spark, tmp_path):
    """The model records its constants as column metadata on the count
    table (one artifact — no counts/params crash window) and scoring
    validates recorded == running bucket count instead of silently
    hashing features into the wrong ratio space (the cms_lookup
    recorded-params discipline)."""
    from ue_big_data_project_spark.pipelines import (
        dsir_score_increment,
        write_dsir_model,
    )

    _, df = _corpus(spark)
    model = str(tmp_path / "model")
    write_dsir_model(df, F.col("doc_id") < 100, model)
    md = spark.read.parquet(model).schema["_b"].metadata
    assert md["dsir_alpha"] == 1.0
    assert md["dsir_n_buckets"] == DSIR_BUCKETS
    assert md["dsir_id_col"] == "doc_id"

    # A counts-shaped table WITHOUT recorded params must refuse.
    bare = str(tmp_path / "bare")
    spark.read.parquet(model).select(
        F.col("_b").alias("_b", metadata={}), "c_t", "c_r"
    ).write.parquet(bare)
    with pytest.raises(ValueError, match="not a write_dsir_model"):
        dsir_score_increment(spark, bare, df)

    # A model recorded under a different bucket count must refuse.
    wrong = str(tmp_path / "wrong")
    spark.read.parquet(model).select(
        F.col("_b").alias(
            "_b",
            metadata={
                "dsir_alpha": 1.0,
                "dsir_n_buckets": DSIR_BUCKETS * 2,
                "dsir_id_col": "doc_id",
            },
        ),
        "c_t",
        "c_r",
    ).write.parquet(wrong)
    with pytest.raises(ValueError, match="re-fit the model"):
        dsir_score_increment(spark, wrong, df)


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_words = st.sampled_from(
    "spark join shuffle agg scan row table value part batch key".split()
)
_docs = st.lists(
    st.lists(_words, min_size=1, max_size=8).map(" ".join),
    min_size=2,
    max_size=8,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_docs, n_target=st.integers(min_value=1, max_value=3))
def test_dsir_logweights_match_reference_on_random_corpora(
    spark, texts, n_target
):
    """Property form of the fixed-corpus replay: on arbitrary random
    corpora and target splits, the distributed estimator equals the
    pure-Python md5/Decimal reference to the 6-dp rounding contract."""
    n_target = min(n_target, max(1, len(texts) - 1))
    rows = [(i, t, i < n_target) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["logw"]
        for r in dsir_logweights(
            df, F.col("doc_id") < n_target
        ).collect()
    }
    assert got == pytest.approx(_py_dsir(rows), abs=1.5e-6)


def test_dsir_scorer_rejects_empty_model_and_wrong_paths(spark, tmp_path):
    """Clear driver-side errors instead of opaque crashes: an empty
    model (zero count rows), a parquet that is not a model at all (no
    _b column — the wrong-directory mixup), and a counts table without
    recorded params all refuse with named ValueErrors."""
    from ue_big_data_project_spark.pipelines import (
        dsir_score_increment,
        write_dsir_model,
    )

    _, df = _corpus(spark)
    empty = str(tmp_path / "empty")
    write_dsir_model(df.filter("doc_id < 0"), F.col("doc_id") < 100, empty)
    with pytest.raises(ValueError, match="empty"):
        dsir_score_increment(spark, empty, df)

    notmodel = str(tmp_path / "notmodel")
    df.write.parquet(notmodel)
    with pytest.raises(ValueError, match="no _b column"):
        dsir_score_increment(spark, notmodel, df)
