"""Similarity search over embedding columns (``array<float>``).

- ``brute_force_knn``: exact top-k by cosine for a bounded query set.
  The query side is broadcast; the item side streams through one scan —
  no shuffle except the final per-query top-k (row_number over k·|Q|
  rows). This is the correctness baseline.
- ``lsh_knn``: approximate top-k via random-hyperplane LSH buckets —
  the scale path: items hash to sign-pattern buckets; only same-bucket
  (or near-bucket) candidates are scored. Hyperplanes are derived from
  md5 bits so the index is deterministic (no RNG state to ship).

Vector math is ``functions.vectors`` (higher-order functions, JVM-side,
double accumulation in index order — oracle-reproducible).
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ue_big_data_project_spark import fs
from ue_big_data_project_spark.functions import pround
from ue_big_data_project_spark.session import local_relation
from ue_big_data_project_spark.functions.vectors import cosine, dot, norm2


def _pair_cosine(
    item_vec: str, query_vec: str, score_scale: int
) -> Column:
    """Rounded cosine over a joined (item, query) row, with both norms
    pre-folded into ``_inorm``/``_qnorm`` columns by :func:`_with_norms`
    — same double ops in the same order as ``cosine()``, evaluated once
    per VECTOR instead of once per PAIR."""
    denom = F.col("_inorm") * F.col("_qnorm")
    return pround(
        F.when(denom > 0, dot(F.col(item_vec), F.col(query_vec)) / denom)
        .otherwise(F.lit(0.0)),
        score_scale,
    )


def _with_norms(
    items: DataFrame, queries: DataFrame, item_vec: str, query_vec: str
) -> tuple[DataFrame, DataFrame]:
    return (
        items.withColumn("_inorm", norm2(F.col(item_vec))),
        queries.withColumn("_qnorm", norm2(F.col(query_vec))),
    )


def _rank_topk(
    scored: DataFrame, query_id: str, item_id: str, k: int
) -> DataFrame:
    """The shared top-k epilogue of every knn operator: rank by
    descending ``cosine_sim`` with ties to the lowest item id — the
    exact contract the DuckDB oracles pin, kept in ONE place so the six
    operators cannot drift apart."""
    w = Window.partitionBy(query_id).orderBy(
        F.desc("cosine_sim"), F.asc(item_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, item_id, "cosine_sim", "rank")
    )


def _unit_centroids(centroids: DataFrame) -> DataFrame:
    """(cell, _cv): each centroid projected to its unit direction — the
    per-cell constant residual IVF-PQ subtracts at encode time AND adds
    back in the ADC sum; both sites must share this one projection."""
    return centroids.select(
        F.col("cent_id").alias("cell"),
        F.transform(
            F.col("cent_vec"), lambda v: v / norm2(F.col("cent_vec"))
        ).alias("_cv"),
    )


def _pq_lut(
    queries: DataFrame,
    codebooks: DataFrame,
    query_id: str,
    query_vec: str,
    score_scale: int,
) -> DataFrame:
    """The per-query ADC lookup table shared by :func:`pq_knn` and
    :func:`ivf_pq_knn`: for every (query, subspace, code), the rounded
    partial dot of the query subvector against that codeword, plus the
    query norm. Slim by construction — the query vector itself is NOT
    carried (m·k rows per query broadcast and ride the code join)."""
    return queries.join(F.broadcast(codebooks)).select(
        F.col(query_id),
        F.col("subspace"),
        F.col("code"),
        pround(
            dot(
                F.slice(
                    F.col(query_vec),
                    F.col("subspace") * F.size(F.col("cent_vec")) + 1,
                    F.size(F.col("cent_vec")),
                ),
                F.col("cent_vec"),
            ),
            score_scale,
        ).alias("partial"),
        norm2(F.col(query_vec)).alias("_qnorm"),
    )


def brute_force_knn(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    score_scale: int = 6,
) -> DataFrame:
    """Exact cosine top-k of ``items`` for each row of ``queries``.

    Self-matches (same id) are excluded. Ties break on item id.
    """
    items, queries = _with_norms(items, queries, item_vec, query_vec)
    scored = items.join(F.broadcast(queries)).filter(
        F.col(item_id) != F.col(query_id)
    )
    scored = scored.select(
        F.col(query_id),
        F.col(item_id),
        _pair_cosine(item_vec, query_vec, score_scale).alias("cosine_sim"),
    )
    return _rank_topk(scored, query_id, item_id, k)


def hyperplane_signs(vec_col, planes: int, dim: int):
    """Deterministic random-hyperplane bucket id for a vector.

    Plane p's coefficient for dimension d is ±1 by the parity of a hex
    digit of ``md5('p:d')`` — an ℓ∞-bounded Rademacher hyperplane, fully
    deterministic and engine-portable. Returns an int bucket in
    [0, 2^planes).
    """
    bucket = F.lit(0)
    for p in range(planes):
        coeffs = [
            1 if _md5_parity(f"{p}:{d}") else -1 for d in range(dim)
        ]
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(c) for c in coeffs]),
                lambda x, c: x.cast("double") * c,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1)).otherwise(F.lit(0)) * (1 << p)
    return bucket


def _md5_parity(s: str) -> bool:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[0], 16) % 2 == 1


def cosine_pairs(
    items: DataFrame,
    threshold: float,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    score_scale: int = 6,
    block_size: int = 2048,
    margin: float = 1e-6,
    partition_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a, b) with
    cosine(a, b) ≥ ``threshold``. EXACT results, blocked execution.

    Two stages (the block-matrix similarity join):

    1. **Candidate generation** — vectors are grouped into blocks of
       ``block_size`` by id; every block-pair (upper triangle) flows
       through ``mapInPandas`` where one numpy matmul scores the whole
       tile. Pairs within ``margin`` of the threshold survive. BLAS
       summation order differs from the fold-left expression math by
       ≤ ~64 ulp, far below ``margin``, so no true pair can be missed —
       numpy is used only as a *sound pruner*.
    2. **Exact rescore** — the (small) candidate set joins back to the
       vectors and is scored with the same fold-left column expressions
       the oracle mirrors; the rounded threshold test is exact.

    Scale shape: N vectors → (N/B)² /2 tiles, each an independent task
    whose inputs are two ~B·dim float blocks. Tile fan-out is pure
    shuffle: only the *ids-only* block list (N/B longs) is broadcast to
    form (blk_a, blk_b) pair keys; the block payloads then attach via
    two equi-joins, so each block is replicated ~N/(2B) times across the
    shuffle — total tile shuffle O(N²·dim/B) bytes spread over the
    cluster, with no stage materializing the corpus on one node. That
    quadratic-over-B volume is inherent to an EXACT all-pairs join; at
    100 TB you put an LSH/band prefilter in front and feed only the
    surviving id pairs through the exact rescore below.

    ``partition_col`` scopes the pair search WITHIN equal values of
    that column (the SemDeDup cell contract): blocks carry the
    partition key, tile keys pair only same-partition blocks, and the
    quadratic term drops from N² to Σ|partition|² — identical results
    to filtering the full pair set to same-partition pairs, at a
    fraction of the tiles.
    """
    import pandas as pd

    sid, svec = F.col(item_id), F.col(item_vec)
    part = [partition_col] if partition_col else []
    blocks = (
        items.groupBy(*part, F.floor(sid / block_size).alias("blk"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct(sid.alias("id"), svec.alias("vec")))
            ).alias("rows")
        )
    )
    # Upper-triangle tile keys from the ids-only block list — the ONLY
    # broadcast side, O(N/B) longs regardless of vector width. The block
    # payloads (unbounded) arrive by equi-join shuffle, never broadcast.
    blk_ids = items.select(
        *part, F.floor(sid / block_size).alias("blk")
    ).distinct()
    same_part = (
        [F.col(f"_pa.{partition_col}") == F.col(f"_pb.{partition_col}")]
        if partition_col
        else []
    )
    pair_keys = (
        blk_ids.select(*part, F.col("blk").alias("blk_a"))
        .alias("_pa")
        .join(
            F.broadcast(
                blk_ids.select(*part, F.col("blk").alias("blk_b")).alias(
                    "_pb"
                )
            ),
            functools.reduce(
                lambda x, y: x & y,
                same_part + [F.col("blk_a") <= F.col("blk_b")],
            ),
        )
        .select(
            *[F.col(f"_pa.{c}") for c in part], "blk_a", "blk_b"
        )
    )
    a = blocks.select(
        *part, F.col("blk").alias("blk_a"), F.col("rows").alias("rows_a")
    )
    b = blocks.select(
        *part, F.col("blk").alias("blk_b"), F.col("rows").alias("rows_b")
    )
    tiles = pair_keys.join(a, part + ["blk_a"]).join(b, part + ["blk_b"])

    cut = threshold - margin

    def score_tiles(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b = [], []
            for rows_a, rows_b in zip(pdf["rows_a"], pdf["rows_b"]):
                ids_a = np.array([r["id"] for r in rows_a], dtype="int64")
                ids_b = np.array([r["id"] for r in rows_b], dtype="int64")
                ma = np.array([r["vec"] for r in rows_a], dtype="float64")
                mb = np.array([r["vec"] for r in rows_b], dtype="float64")
                na = np.linalg.norm(ma, axis=1)
                nb = np.linalg.norm(mb, axis=1)
                na[na == 0] = 1.0
                nb[nb == 0] = 1.0
                sims = (ma / na[:, None]) @ (mb / nb[:, None]).T
                ia, ib = np.nonzero(sims >= cut)
                ka, kb = ids_a[ia], ids_b[ib]
                keep = ka < kb
                out_a.append(ka[keep])
                out_b.append(kb[keep])
            yield pd.DataFrame(
                {
                    "id_a": np.concatenate(out_a) if out_a else [],
                    "id_b": np.concatenate(out_b) if out_b else [],
                }
            )

    cand_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
        ]
    )
    candidates = tiles.mapInPandas(score_tiles, cand_schema)

    va = items.select(sid.alias("id_a"), svec.alias("_va"))
    vb = items.select(sid.alias("id_b"), svec.alias("_vb"))
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            pround(cosine(F.col("_va"), F.col("_vb")), score_scale).alias(
                "cosine_sim"
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def _assign_clusters(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    id_col: str,
    nprobe: int,
    score_scale: int = 6,
    metric: str = "cosine",
    backend: str = "arrow",
) -> DataFrame:
    """Rank centroids per row by similarity; keep the top ``nprobe``.

    ``metric="cosine"`` (default) ranks by rounded cosine.
    ``metric="l2"`` ranks by ascending Euclidean distance, expressed as
    the descending score ``2·x·c − ‖c‖²`` (the ‖x‖² term is constant
    per row, so the argmin is identical) — the ranking PQ subspace
    quantizers need, where subvectors are not norm-invariant.

    Two bit-identical backends (``tests/test_approx.py`` pins their
    row-level equality on random data):

    - ``"arrow"`` (default): the centroid table — bounded by
      construction — collects to a numpy matrix, and each Arrow batch
      scores every (row, centroid) pair with a vectorized
      dimension-major fold (``acc += X[:,d]·C[:,d]`` in increasing d)
      that replays the HOF fold's float64 op order EXACTLY, so scores
      are bit-identical while the interpreted-HOF constant (~µs per
      scored pair: closure dispatch + array allocs per element)
      becomes a BLAS-free numpy sweep. Assignment is the
      O(rows × n_centroids) stage of every IVF/PQ build, append, and
      probe — measured on the 500-vector append
      (scripts/append_scale_check.py, removed after commit d34de9f):
      0.99 → 0.63 s total at 16
      cells and 3.66 → 1.27 s at 160 (scale ratio 3.7 → 2.0); the
      self-contained bench entries dropped too (isolated medians:
      knn_cosine_ivf 3.0 → 1.9 s, ivf_appended 4.7 → 3.9 s,
      ivf_indexed 3.6 → 3.2 s at sf0.1). Ranking uses a
      stable argsort over columns pre-sorted by cent_id, reproducing
      the (sim desc, cent_id asc) comparator. NaN embeddings are the
      one divergence (Spark sorts NaN high, numpy low) — corpus
      contract excludes them.
    - ``"hof"``: the original pure-plan formulation below, kept as the
      executable reference spec.

    ZERO-shuffle assignment: the centroid table collapses to a single
    array row (bounded by construction — n_centroids entries), which
    broadcasts; each data row then scores/sorts/slices the array with
    higher-order functions in one scan. No row explosion, no per-row
    window — the earlier formulation (cross-join to N×C rows +
    row_number over the id) shuffled the whole corpus once per Lloyd
    iteration; this one touches it in place.

    Ordering matches the index contract exactly: descending rounded
    cosine, ties to the lowest centroid id.
    """
    if backend == "arrow":
        return _assign_clusters_arrow(
            df, centroids, vec_col, nprobe, score_scale, metric
        )
    cent_arr = centroids.agg(
        F.collect_list(
            F.struct(
                F.col("cent_id"),
                F.col("cent_vec"),
                # Pre-fold the centroid norm once here instead of once
                # per data row; the row's own norm is likewise hoisted
                # out of the per-centroid lambda below. Same double ops
                # in the same order as cosine() — bit-identical scores.
                norm2(F.col("cent_vec")).alias("cent_norm"),
            )
        ).alias("_cents")
    )
    row_norm = norm2(F.col(vec_col))

    def _sim(c):
        if metric == "l2":
            return pround(
                F.lit(2.0) * dot(F.col(vec_col), c["cent_vec"])
                - c["cent_norm"] * c["cent_norm"],
                score_scale,
            )
        denom = row_norm * c["cent_norm"]
        return pround(
            F.when(denom > 0, dot(F.col(vec_col), c["cent_vec"]) / denom)
            .otherwise(F.lit(0.0)),
            score_scale,
        )

    scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            _sim(c).alias("sim"),
            c["cent_id"].alias("cent_id"),
        ),
    )
    ranked = F.array_sort(
        scored,
        lambda l, r: (
            F.when(l["sim"] > r["sim"], F.lit(-1))
            .when(l["sim"] < r["sim"], F.lit(1))
            .when(l["cent_id"] < r["cent_id"], F.lit(-1))
            .when(l["cent_id"] > r["cent_id"], F.lit(1))
            .otherwise(F.lit(0))
        ),
    )
    return (
        df.join(F.broadcast(cent_arr))
        .withColumn("_top", F.slice(ranked, 1, nprobe))
        .select(*df.columns, F.explode("_top").alias("_t"))
        .select(*df.columns, F.col("_t.cent_id").alias("cent_id"))
    )


def _fold_scores(X, C, score_scale: int, metric: str):
    """Vectorized (rows × centroids) score matrix replaying the HOF
    fold's float64 op order exactly: dimension-major ``acc += x_d·c_d``
    (each scalar accumulates left-to-right over dims, the zip_with/
    aggregate order), norms as sqrt of the same fold, centroid norm
    squared back for l2 (replicating ``cent_norm·cent_norm``), pround
    as ``floor(x·10ˢ + 0.5)/10ˢ``. X, C float64 2-D."""
    n, d = X.shape
    k = C.shape[0]
    acc = np.zeros((n, k))
    cn = np.zeros(k)
    for j in range(d):
        acc += X[:, j, None] * C[None, :, j]
        cn += C[:, j] * C[:, j]
    cn = np.sqrt(cn)
    if metric == "l2":
        sim = 2.0 * acc - (cn * cn)[None, :]
    else:
        xn = np.zeros(n)
        for j in range(d):
            xn += X[:, j] * X[:, j]
        xn = np.sqrt(xn)
        denom = xn[:, None] * cn[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = np.where(
                denom > 0, acc / np.where(denom == 0, 1.0, denom), 0.0
            )
    kk = float(10**score_scale)
    return np.floor(sim * kk + 0.5) / kk


def _assign_clusters_arrow(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    nprobe: int,
    score_scale: int,
    metric: str,
) -> DataFrame:
    """The Arrow backend of :func:`_assign_clusters` — see its
    docstring for the contract. Centroids collect to the driver
    (bounded: n_centroids rows, the same volume the HOF path collapses
    into its broadcast array) and ship to the workers inside the UDF
    closure; each batch scores via :func:`_fold_scores` and emits
    ``nprobe`` output rows per input row with ``cent_id`` appended."""
    cent_rows = sorted(
        centroids.select("cent_id", "cent_vec").collect(),
        key=lambda r: r["cent_id"],
    )
    C = np.asarray([list(r["cent_vec"]) for r in cent_rows], dtype=np.float64)
    cids = np.asarray([int(r["cent_id"]) for r in cent_rows], dtype=np.int64)
    p = max(1, min(int(nprobe), len(cent_rows)))

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("cent_id", T.LongType())]
    )

    def gen(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            if len(pdf) == 0:
                out = pdf.copy()
                out["cent_id"] = pd.Series([], dtype="int64")
                yield out
                continue
            X = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            sim = _fold_scores(X, C, score_scale, metric)
            # Columns are pre-sorted by cent_id asc, so a stable sort
            # on -sim reproduces (sim desc, cent_id asc) exactly.
            order = np.argsort(-sim, axis=1, kind="stable")[:, :p]
            top = cids[order]  # (n, p)
            out = pdf.loc[pdf.index.repeat(p)].reset_index(drop=True)
            out["cent_id"] = top.reshape(-1)
            yield out

    return df.mapInPandas(gen, out_schema)


# --------------------------------------------------------------------------
# Driver-side quantizer training (bit-identical twin of the distributed
# Lloyd loops below).
#
# Quantizer training is SAMPLE-bounded by design — a coarse quantizer or
# PQ codebook never needs more than ~1e5-1e6 training vectors no matter
# how big the corpus is (that is the whole point of train_mod). When the
# sample fits a modest driver budget, running Lloyd locally replaces
# 2·iters Spark jobs (broadcast-assign scan + (cell,dim) shuffle +
# localCheckpoint each) with one bounded Arrow collect — the same
# build-once/query-many economics FAISS uses. Every float/decimal op
# replays the distributed plan EXACTLY:
#
# - dot/norm: left-to-right float64 folds (functions.vectors).
# - scores: pround(x, scale) = floor(x·10ˢ + 0.5)/10ˢ, IEEE double.
# - argmax: (rounded score desc, cent_id asc), same as max_by struct.
# - update: per-(cell,dim) sums of Decimal(repr(x)) quantized HALF_UP at
#   10 dp — the same shortest-repr conversion Spark's double→decimal(27,10)
#   cast performs (BigDecimal.valueOf) — cast back via correctly-rounded
#   float(); L2 means divide by the member count in float64.
#
# Equivalence is pinned bit-for-bit against the distributed path in
# tests/test_approx.py / tests/test_pq.py; oracles are unchanged.
_DRIVER_TRAIN_OP_BUDGET = 50_000_000
_DEC_Q10 = None  # initialized lazily (decimal import kept local)


def _dec10(x: float):
    """Spark's Cast(double → decimal(27,10)): shortest decimal repr,
    then HALF_UP at 10 decimal places."""
    import decimal

    global _DEC_Q10
    if _DEC_Q10 is None:
        _DEC_Q10 = decimal.Decimal("1E-10")
    return decimal.Decimal(repr(x)).quantize(
        _DEC_Q10, rounding=decimal.ROUND_HALF_UP
    )


def _pround_py(x: float, scale: int) -> float:
    import math

    k = float(10**scale)
    return math.floor(x * k + 0.5) / k


def _dot_py(a: list, b: list) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _norm2_py(a: list) -> float:
    import math

    acc = 0.0
    for x in a:
        acc = acc + x * x
    return math.sqrt(acc)


def _md5_init(rows: list, n: int) -> list:
    """The deterministic init: n training vectors with the smallest
    (md5(str(id)), id) — same ordering the distributed plan sorts by."""
    import hashlib

    return sorted(
        rows,
        key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]),
    )[:n]


def _lloyd_driver(
    rows: list,
    n_centroids: int,
    iters: int,
    metric: str,
    score_scale: int,
    init: list | None = None,
) -> list:
    """Pure-Python Lloyd, bit-identical to the distributed loop.

    ``rows`` is [(id, [float64,...]), ...]; returns [(cent_id, vec)].
    """
    import decimal

    cents = [
        (rid, list(vec))
        for rid, vec in (init if init is not None else _md5_init(rows, n_centroids))
    ]
    with decimal.localcontext() as ctx:
        ctx.prec = 50
        for _ in range(iters):
            cnorms = [
                (cid, cvec, _norm2_py(cvec)) for cid, cvec in cents
            ]
            members: dict = {}
            for rid, vec in rows:
                rn = _norm2_py(vec) if metric != "l2" else 0.0
                best_s = None
                best_c = None
                for cid, cvec, cn in cnorms:
                    if metric == "l2":
                        s = _pround_py(
                            2.0 * _dot_py(vec, cvec) - cn * cn, score_scale
                        )
                    else:
                        denom = rn * cn
                        s = (
                            _pround_py(_dot_py(vec, cvec) / denom, score_scale)
                            if denom > 0
                            else _pround_py(0.0, score_scale)
                        )
                    if (
                        best_s is None
                        or s > best_s
                        or (s == best_s and cid < best_c)
                    ):
                        best_s, best_c = s, cid
                members.setdefault(best_c, []).append(vec)
            new_cents = []
            for cid, old in cents:
                mem = members.get(cid)
                if not mem:
                    new_cents.append((cid, old))
                    continue
                nv = []
                for p in range(len(old)):
                    sdec = decimal.Decimal(0)
                    for v in mem:
                        sdec = sdec + _dec10(v[p])
                    f = float(sdec)
                    nv.append(f / len(mem) if metric == "l2" else f)
                new_cents.append((cid, nv))
            cents = new_cents
    return cents


def _collect_train_sample(
    train: DataFrame, item_id: str, item_vec: str, max_rows: int
) -> list | None:
    """Arrow-collect the bounded training sample as [(id, float64 vec)],
    or None when it exceeds ``max_rows`` (caller falls back to the
    distributed Lloyd)."""
    tbl = (
        train.select(F.col(item_id).alias("_id"), F.col(item_vec).alias("_v"))
        .limit(max_rows + 1)
        .toArrow()
    )
    if tbl.num_rows > max_rows:
        return None
    ids = tbl.column("_id").to_pylist()
    vecs = tbl.column("_v").to_pylist()  # float32 → exact float64
    return [
        (i, [float(x) for x in v]) for i, v in zip(ids, vecs)
    ]


def kmeans_centroids(
    items: DataFrame,
    n_centroids: int = 16,
    iters: int = 2,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    train_mod: int = 4,
    score_scale: int = 6,
    metric: str = "cosine",
    trainer: str = "auto",
) -> DataFrame:
    """Deterministic sampled k-means centroids as pure DataFrame ops.

    The IVF coarse quantizer: ``iters`` fixed Lloyd iterations (no
    convergence test — a bounded, reproducible plan), trained on the
    deterministic sample ``id % train_mod == 0``. Sampled training is
    the DEFAULT (1-in-4; at 100 TB pass a mod that yields ~1e6 training
    vectors) — a quantizer never needs the full corpus, and full-table
    Lloyd iterations are exactly the cost a coarse quantizer exists to
    avoid; ``train_mod=1`` remains available for tiny fixtures. Every
    step is cross-engine reproducible, so a SQL oracle can replay it
    exactly:

    - **init**: the ``n_centroids`` training vectors with the smallest
      ``md5(id)`` — a deterministic pseudo-random spread (no RNG state).
    - **assign**: nearest centroid by cosine rounded at ``score_scale``,
      ties to the lowest centroid id (same argmax the index itself uses).
    - **update**: per-cell per-dimension DECIMAL sums, cast back to
      double. Sums, not means: cosine is scale-invariant, so the summed
      vector defines the same Voronoi cell as the mean while avoiding a
      cross-engine division; decimal accumulation makes the result
      independent of partition order (float sums are not associative).
      Cells that lose all members keep their previous centroid.

    Each iteration is one broadcast-assign scan + one (cell, dim)
    shuffle of decimal scalars — O(N·dim) rows of a few bytes; the
    centroid table (``n_centroids`` rows) is localCheckpointed per
    iteration so the lazy plan doesn't snowball.

    ``trainer="auto"`` (default) runs the bit-identical DRIVER-side
    Lloyd when the sample fits the op budget (one bounded Arrow collect
    instead of 2·iters Spark jobs — see the block comment above);
    ``"distributed"`` forces the cluster path, ``"driver"`` forces the
    local path (raising if the sample exceeds the budget).
    """
    sid, svec = F.col(item_id), F.col(item_vec)
    train = items if train_mod <= 1 else items.filter(sid % train_mod == 0)
    if trainer in ("auto", "driver"):
        first = train.select(F.size(svec).alias("d")).first()
        if first is None:
            dim = 0  # empty corpus → empty centroid frame, both paths
        else:
            dim = first["d"]
            if not dim:
                # NULL/empty first vector: the driver probe can't size
                # the budget — leave these shapes to the distributed
                # path, which handles them row by row.
                dim = None
        if dim is None:
            sample = None
        elif dim == 0:
            sample = []
        else:
            max_rows = _DRIVER_TRAIN_OP_BUDGET // max(
                dim * n_centroids * max(iters, 1), 1
            )
            sample = _collect_train_sample(train, item_id, item_vec, max_rows)
        if sample is None and trainer == "driver":
            raise ValueError(
                "kmeans_centroids: driver training unavailable (sample "
                "over budget, or NULL/empty leading vector) — use "
                "trainer='distributed' (or raise train_mod)"
            )
        if sample is not None:
            cents = _lloyd_driver(
                sample, n_centroids, iters, metric, score_scale
            )
            return local_relation(
                items.sparkSession,
                [(int(cid), list(vec)) for cid, vec in cents],
                T.StructType(
                    [
                        T.StructField("cent_id", T.LongType()),
                        T.StructField("cent_vec", T.ArrayType(T.DoubleType())),
                    ]
                ),
            )
    cents = (
        train.select(
            sid.alias("cent_id"),
            F.transform(svec, lambda x: x.cast("double")).alias("cent_vec"),
            F.md5(sid.cast("string")).alias("_h"),
        )
        .orderBy(F.asc("_h"), F.asc("cent_id"))
        .limit(n_centroids)
        .drop("_h")
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        assigned = _assign_clusters(
            train, cents, item_vec, item_id, nprobe=1,
            score_scale=score_scale, metric=metric,
        ).withColumnRenamed("cent_id", "cell")
        dims = assigned.select(
            "cell", F.posexplode(F.col(item_vec)).alias("pos", "val")
        )
        sums = dims.groupBy("cell", "pos").agg(
            F.sum(
                F.col("val").cast("double").cast("decimal(27,10)")
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        # Cosine cells: the decimal SUM defines the same Voronoi cell as
        # the mean (scale-invariant) while avoiding a division. L2 cells
        # are NOT scale-invariant, so the update must be the true mean:
        # exact decimal sum / exact count, each deterministic.
        val = (
            (F.col("s").cast("double") / F.col("n"))
            if metric == "l2"
            else F.col("s").cast("double")
        )
        newc = (
            sums.groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), val.alias("v")))
                ).alias("_ps")
            )
            .select(
                F.col("cell").alias("cent_id"),
                F.transform(F.col("_ps"), lambda x: x["v"]).alias(
                    "cent_vec"
                ),
            )
        )
        cents = (
            cents.alias("c")
            .join(
                newc.alias("n"),
                F.col("c.cent_id") == F.col("n.cent_id"),
                "left",
            )
            .select(
                F.col("c.cent_id").alias("cent_id"),
                F.coalesce(F.col("n.cent_vec"), F.col("c.cent_vec")).alias(
                    "cent_vec"
                ),
            )
            .localCheckpoint(eager=True)
        )
    return cents


def ivf_knn(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    score_scale: int = 6,
    kmeans_iters: int = 2,
    train_mod: int = 4,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index.

    Classic two-level ANN: partition the corpus into Voronoi cells
    around :func:`kmeans_centroids` (deterministic sampled k-means,
    broadcast centroid table), then score a query only against the
    ``nprobe`` cells nearest to it.

    Scale shape: the corpus is scanned ONCE to tag each item with its
    cell (broadcast centroids, no shuffle), then items shuffle on
    ``cell``, which is also the storage partition key for a persisted
    index — repeated queries touch only ``nprobe`` partitions instead
    of the full corpus.
    """
    centroids = kmeans_centroids(
        items,
        n_centroids=n_centroids,
        iters=kmeans_iters,
        item_id=item_id,
        item_vec=item_vec,
        train_mod=train_mod,
        score_scale=score_scale,
    )
    tagged = _assign_clusters(
        items, centroids, item_vec, item_id, nprobe=1, score_scale=score_scale
    ).withColumnRenamed("cent_id", "cell")
    probes = _assign_clusters(
        queries, centroids, query_vec, query_id, nprobe=nprobe,
        score_scale=score_scale,
    ).withColumnRenamed("cent_id", "cell")
    tagged, probes = _with_norms(tagged, probes, item_vec, query_vec)
    scored = tagged.join(F.broadcast(probes), "cell").filter(
        F.col(item_id) != F.col(query_id)
    )
    scored = scored.select(
        F.col(query_id),
        F.col(item_id),
        _pair_cosine(item_vec, query_vec, score_scale).alias("cosine_sim"),
    )
    # Items live in exactly one cell (nprobe=1 on the item side), so a
    # (query, item) pair appears at most once — no dedup needed.
    return _rank_topk(scored, query_id, item_id, k)


def lsh_knn(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 4,
    dim: int = 64,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    score_scale: int = 6,
) -> DataFrame:
    """Approximate top-k: score only items in the query's LSH bucket.

    With ``planes`` hyperplanes the item side is cut ~2^planes-fold before
    scoring; recall is traded for scan cost (multi-probe = union of
    adjacent buckets would raise recall; not needed for the demo). At
    100 TB the bucket id becomes the shuffle/partition key, so each
    query touches one partition slice instead of the full corpus.
    """
    items, queries = _with_norms(items, queries, item_vec, query_vec)
    ib = items.withColumn(
        "_bucket", hyperplane_signs(F.col(item_vec), planes, dim)
    )
    qb = queries.withColumn(
        "_bucket", hyperplane_signs(F.col(query_vec), planes, dim)
    )
    scored = ib.join(F.broadcast(qb), "_bucket").filter(
        F.col(item_id) != F.col(query_id)
    )
    scored = scored.select(
        F.col(query_id),
        F.col(item_id),
        _pair_cosine(item_vec, query_vec, score_scale).alias("cosine_sim"),
    )
    return _rank_topk(scored, query_id, item_id, k)


def build_ivf_index(
    items: DataFrame,
    path: str,
    n_centroids: int | None = None,
    kmeans_iters: int | None = None,
    train_mod: int | None = None,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    score_scale: int = 6,
    centroids: DataFrame | None = None,
) -> None:
    """Materialize an IVF index on disk: the corpus tagged with its
    Voronoi cell and written PARTITIONED BY ``cell`` (one directory per
    cell), centroids persisted alongside at ``<path>_centroids``.
    Pass ``centroids`` to seed the index with an externally trained
    quantizer (e.g. trained on the full corpus while only a first batch
    is written, with the rest arriving via :func:`ivf_index_append`).

    This is the persisted form of the in-flight index :func:`ivf_knn`
    builds per call: at scale you pay the tagging scan once, and every
    subsequent query batch reads only its ``nprobe`` cell partitions —
    partition pruning does the candidate cut before any row is scanned
    (asserted via scan metrics in tests/test_approx.py). Cell-local
    file counts follow the write's upstream partitioning; run
    :func:`~ue_big_data_project_spark.layout.compact_small_files` per
    cell directory if increments fragment it.
    """
    if centroids is not None:
        if any(v is not None for v in (n_centroids, kmeans_iters, train_mod)):
            # Training parameters with an external quantizer would be
            # silently ignored — the index would carry however many
            # centroids the frame has, not what the caller asked for.
            raise ValueError(
                "pass EITHER centroids= OR quantizer-training parameters "
                "(n_centroids/kmeans_iters/train_mod), not both"
            )
    else:
        centroids = kmeans_centroids(
            items,
            n_centroids=16 if n_centroids is None else n_centroids,
            iters=2 if kmeans_iters is None else kmeans_iters,
            item_id=item_id,
            item_vec=item_vec,
            train_mod=4 if train_mod is None else train_mod,
            score_scale=score_scale,
        )
    centroids.write.mode("overwrite").parquet(path.rstrip("/") + "_centroids")
    _write_tagged(
        items, centroids, path, item_id, item_vec, score_scale, mode="overwrite"
    )


def _write_tagged(
    items: DataFrame,
    centroids: DataFrame,
    path: str,
    item_id: str,
    item_vec: str,
    score_scale: int,
    mode: str,
) -> None:
    """Tag ``items`` with their Voronoi cell (broadcast centroids, zero
    shuffle) and write them into the cell-partitioned layout. One output
    file per cell per write (repartition on the partition column), so a
    probe reads nprobe files per increment, not nprobe × shuffle
    partitions."""
    tagged = _assign_clusters(
        items,
        centroids,
        item_vec,
        item_id,
        nprobe=1,
        score_scale=score_scale,
    ).withColumnRenamed("cent_id", "cell")
    # Hash-cluster on the cell with the task count capped at the
    # SESSION WIDTH, not the cell count: each cell still lands wholly
    # in one task (one file per cell per write preserved — hash
    # partitioning never splits a key), but a small append into a
    # many-cell index no longer pays one near-empty writer task per
    # cell, and the file commits still parallelize across the
    # executors. All three shapes measured appending 500 vectors into
    # a 160-cell index (scripts/append_scale_check.py, removed after
    # commit d34de9f; 5-run medians):
    # one task per cell 3.73 s; AQE-sized (plain repartition("cell"),
    # which over-coalesces the tiny increment to ONE task committing
    # every file serially) 5.34 s; width-capped 3.66 s — the floor,
    # because past this point the append is dominated by the
    # O(increment x n_centroids) quantizer assignment, not the write
    # (see the ivf_index_append docstring).
    n_cells = centroids.count()
    width = items.sparkSession.sparkContext.defaultParallelism
    tagged.repartition(
        max(1, min(int(n_cells), width)), "cell"
    ).write.mode(mode).partitionBy("cell").parquet(path)


def ivf_index_append(
    spark: SparkSession,
    index_path: str,
    new_items: DataFrame,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    score_scale: int = 6,
) -> None:
    """Incrementally add vectors to a persisted IVF index WITHOUT
    retraining: new items are assigned with the index's SAVED centroids
    (the coarse quantizer is a frozen artifact — retraining it would
    silently shift every existing cell boundary) and appended into their
    cell directories.

    The 100 TB maintenance path: per-increment cost is one tagged scan
    of the increment, never a rebuild; cell boundaries — and therefore
    every existing item's placement and every probe plan — are
    unchanged, so an appended index returns exactly what a fresh
    :func:`build_ivf_index` tag-and-write of the full corpus against
    the same centroids would (equivalence-tested). The one component
    that grows with the INDEX is the quantizer assignment itself —
    O(increment × n_centroids) scored pairs, the same per-row cost the
    build pays — measured: the same 500-vector increment appends in
    0.63 s against 16 centroids and 1.27 s against 160 (2.0× with the
    vectorized arrow assignment; the interpreted HOF backend read
    0.99 s / 3.66 s, 3.7×, linear in C as brute-force assignment
    predicts; ``scripts/append_scale_check.py``, removed after commit
    d34de9f). Existing postings
    are never
    read, so this stays increment-bounded: the rebuild alternative at
    10× corpus × 10× centroids costs ~100× the original build. When
    the centroid count grows past ~10⁴, the standard lever is a
    hierarchical coarse quantizer (assign against a centroid tree) —
    a drop-in replacement for ``_assign_clusters`` that trades the
    bit-identical fold-left scoring this engine pins for oracle
    determinism. Each append adds one
    file per touched cell; compact cell directories
    (``layout.compact_small_files`` with ``partition_by=["cell"]``,
    which keeps the cell dirs and their pruning) when increments
    fragment them.
    Quantizer drift (the corpus distribution moving away from the
    frozen centroids) is a rebuild decision, not an append concern —
    monitor via :func:`ivf_cell_stats`.

    Guards against the STREAM-ingested layout
    (``streaming.ingest.ivf_ingest_stream`` writes ``batch_id=N/cell=C``):
    appending flat ``cell=C`` dirs next to batch partitions would brick
    every subsequent read with conflicting partition schemas — route
    increments for a streamed index through the stream (or a
    ``batch_id=...`` subdir write) instead.
    """
    centroids = spark.read.parquet(index_path.rstrip("/") + "_centroids")
    # None: no data yet, and the append creates the layout.
    existing = fs.read_parquet(spark, index_path)
    if existing is not None and "batch_id" in existing.columns:
        raise ValueError(
            f"{index_path} uses the stream-ingested batch_id=N/cell=C "
            "layout; a flat append would conflict with it — ingest the "
            "increment via streaming.ingest.ivf_ingest_stream instead"
        )
    _write_tagged(
        new_items, centroids, index_path, item_id, item_vec, score_scale,
        mode="append",
    )


def rewrite_ivf_index(
    spark: SparkSession,
    index_path: str,
    keep_items: DataFrame,
    item_id: str = "vec_id",
) -> int:
    """RETENTION for a persisted IVF index: drop the vectors of items
    not in ``keep_items`` (takedowns, licence expiry, re-embedding
    waves), rewriting the cell-partitioned layout in place. The frozen
    coarse quantizer (``<index>_centroids``) is deliberately UNTOUCHED:
    cell boundaries — and therefore every survivor's placement and
    every probe plan — don't depend on which vectors exist, so the
    pruned index answers exactly like a fresh
    :func:`build_ivf_index` tag-and-write of the kept corpus against
    the same centroids (equivalence-tested in tests/test_approx.py);
    removed vectors simply stop appearing among any probe's
    candidates. (If heavy pruning shifts the corpus distribution away
    from the trained centroids, that is the same rebuild decision
    appends face — monitor via :func:`ivf_cell_stats`.)

    Accepts BOTH layouts (flat ``cell=C`` and the stream-ingested
    ``batch_id=N/cell=C``) and always emits the canonical flat
    sharding — doubling as the compaction that retires a streamed
    index into an :func:`ivf_index_append`-able artifact and the
    windowed-retention primitive ``ivf_ingest_stream``'s batch_id
    partitions only approximate. Cost is one semi-join scan of the
    index (never a re-assignment: the ``cell`` tag rides each
    surviving row). Returns the surviving vector count."""
    root = index_path.rstrip("/")
    keep = keep_items.select(
        F.col(keep_items.columns[0]).alias(item_id)
    ).distinct()
    src = spark.read.parquet(root)
    # explicit column cut: a streamed batch_id=N/cell=C layout
    # surfaces batch_id as a partition column — dropped so the rewrite
    # always lands flat.
    cols = [c for c in src.columns if c != "batch_id"]
    rows = (
        src.join(keep, item_id, "left_semi")
        .select(*cols)
        .localCheckpoint(eager=True)  # materialize before the overwrite
    )
    n = rows.count()
    # Width-capped hash-clustering on the cell — the _write_tagged
    # sizing: each cell lands wholly in one task (one file per cell),
    # without paying one near-empty writer task per cell.
    n_cells = spark.read.parquet(root + "_centroids").count()
    width = spark.sparkContext.defaultParallelism
    (
        rows.repartition(max(1, min(int(n_cells), width)), "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(root)
    )
    return n


def ivf_cell_stats(spark: SparkSession, index_path: str) -> DataFrame:
    """Per-cell occupancy of a persisted IVF index — the quantizer-drift
    monitor :func:`ivf_index_append`'s contract points at: appends with
    a frozen quantizer are exact, but a corpus whose distribution moves
    away from the trained centroids shows up here as growing cell-size
    skew (hot cells slow probes; empty cells waste nprobe). ``cell`` is
    the partition column, so the count scan prunes to ZERO data columns
    (empty ReadSchema) — the vectors are never read.

    Columns: cell, n_vectors, share (fraction of corpus), skew (cell
    size / mean cell size — alert when max(skew) drifts, e.g. > 4).

    The cell universe comes from the PERSISTED CENTROIDS, not from the
    data's partition directories: a cell no vector maps to has no
    directory, and averaging over only the occupied cells would read
    "healthy" exactly when drift is worst (everything collapsed into
    one cell → skew 1.0). Empty cells emit explicit n_vectors = 0 rows
    and dilute the mean, so max(skew) grows with the collapse.
    """
    cells = spark.read.parquet(index_path.rstrip("/") + "_centroids").select(
        F.col("cent_id").alias("cell")
    )
    counts = (
        spark.read.parquet(index_path)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    occupancy = (
        cells.join(counts, "cell", "left")
        .select("cell", F.coalesce("n_vectors", F.lit(0)).alias("n_vectors"))
    )
    totals = occupancy.agg(
        F.sum("n_vectors").alias("_total"), F.count(F.lit(1)).alias("_cells")
    )
    return occupancy.crossJoin(F.broadcast(totals)).select(
        "cell",
        "n_vectors",
        (F.col("n_vectors") / F.col("_total")).alias("share"),
        (F.col("n_vectors") * F.col("_cells") / F.col("_total")).alias("skew"),
    )


def ivf_index_staleness(
    spark: SparkSession,
    index_path: str,
    train_mod: int = 4,
    kmeans_iters: int = 2,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    score_scale: int = 6,
) -> dict:
    """How much the FROZEN coarse quantizer has degraded as the corpus
    drifted — the fit-quality complement to :func:`ivf_cell_stats`'s
    occupancy skew, and the IVF twin of
    ``dedup.jaccard_index_staleness`` (round-10: SCALE.md's "rebuild
    only on measured quantizer drift" now has its measurement).

    Appends under a frozen quantizer stay EXACT (assignment is just
    routing), but probe COST degrades as vectors land far from every
    frozen centroid: nprobe cells stop covering the true neighborhoods
    and cell sizes skew. This audit retrains a candidate quantizer on
    the CURRENT index contents (same deterministic sampling as the
    build) and compares mean quantization fit:

        distortion = 1 − mean cosine(vector, its best centroid)
        staleness_ratio = distortion_frozen / distortion_fresh

    ~1.0 means the frozen quantizer still fits the corpus it indexes
    (rebuilding would buy nothing); materially above 1 — the pinned
    drift test reads >1.3 under a disjoint-cluster append — means
    probes are paying for the freeze and a rebuild re-tightens cells.
    Offline audit cost: one index scan per quantizer (zero-shuffle
    assignment against broadcast centroids) plus one bounded-sample
    k-means; never a probe-path cost.
    """
    root = index_path.rstrip("/")
    centroids = spark.read.parquet(root + "_centroids")
    n_cent = centroids.count()
    rows = spark.read.parquet(root).select(item_id, item_vec)

    def mean_fit(cents: DataFrame) -> float:
        assigned = _assign_clusters(
            rows, cents, item_vec, item_id, nprobe=1,
            score_scale=score_scale,
        )
        row = (
            assigned.join(
                F.broadcast(cents.select("cent_id", "cent_vec")), "cent_id"
            )
            .agg(
                F.avg(cosine(F.col(item_vec), F.col("cent_vec"))).alias("_s")
            )
            .first()
        )
        return float(row["_s"] or 0.0)

    fresh_cent = kmeans_centroids(
        rows,
        n_centroids=int(n_cent),
        iters=kmeans_iters,
        item_id=item_id,
        item_vec=item_vec,
        train_mod=train_mod,
        score_scale=score_scale,
    )
    fit_frozen, fit_fresh = mean_fit(centroids), mean_fit(fresh_cent)
    d_frozen, d_fresh = 1.0 - fit_frozen, 1.0 - fit_fresh
    eps = 1e-9
    return {
        "fit_frozen": fit_frozen,
        "fit_fresh": fit_fresh,
        "staleness_ratio": (d_frozen + eps) / (d_fresh + eps),
    }


def ivf_knn_indexed(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    score_scale: int = 6,
) -> DataFrame:
    """Top-k against a PERSISTED IVF index (:func:`build_ivf_index`).

    The probe set (query -> nprobe nearest cells, via the persisted
    centroids) collapses to a bounded driver-side cell list pushed as a
    static ``cell IN (...)`` partition filter, so the scan lists and
    reads ONLY the probed cell directories — the same result as
    :func:`ivf_knn` on the same centroids, but touching nprobe/N of the
    corpus. The cell list is bounded by n_centroids (it collects cell
    ids, never data), which keeps the pruning static and
    oracle-reproducible; dynamic partition pruning would express the
    same cut declaratively for unbounded query streams.
    """
    centroids = spark.read.parquet(index_path.rstrip("/") + "_centroids")
    probes = _assign_clusters(
        queries, centroids, query_vec, query_id, nprobe=nprobe,
        score_scale=score_scale,
    ).withColumnRenamed("cent_id", "cell")
    # collect_set keeps the driver materialization bounded at
    # ≤ n_centroids ints regardless of |Q| (map-side partials cap each
    # partition's contribution) — one tiny single-row agg instead of a
    # distinct shuffle of the probe table.
    cells = sorted(
        probes.select("cell").agg(F.collect_set("cell").alias("c")).first()["c"]
    )
    items = spark.read.parquet(index_path).filter(F.col("cell").isin(cells))
    items, probes = _with_norms(items, probes, item_vec, query_vec)
    scored = items.join(F.broadcast(probes), "cell").filter(
        F.col(item_id) != F.col(query_id)
    )
    scored = scored.select(
        F.col(query_id),
        F.col(item_id),
        _pair_cosine(item_vec, query_vec, score_scale).alias("cosine_sim"),
    )
    return _rank_topk(scored, query_id, item_id, k)


def pq_codebooks(
    items: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    train_mod: int = 4,
    score_scale: int = 6,
    trainer: str = "auto",
) -> DataFrame:
    """Product-quantization codebooks: the embedding space is split into
    ``m`` contiguous subspaces and each gets its own ``k``-entry L2
    k-means codebook (deterministic sampled training, same machinery as
    the IVF quantizer but with true-mean updates — subvectors are not
    norm-invariant). Returns ``(subspace, code, cent_vec)`` with dense
    codes 0..k-1 per subspace: m·k rows total, the whole model
    broadcasts everywhere it is used.

    PQ is the storage-scale lever for embeddings: a D-dim float corpus
    compresses to m small ints per vector (e.g. 64 floats -> 4 codes,
    a ~32x cut), and distances are answered from code lookups without
    touching the original floats — at 100 TB the difference between
    scanning vectors and scanning bytes.
    """
    first = items.select(F.size(F.col(item_vec)).alias("d")).first()
    if first is None:
        raise ValueError("pq_codebooks: empty items corpus — nothing to train on")
    n_dim = first["d"]
    if not n_dim:
        raise ValueError(
            "pq_codebooks: leading embedding is NULL/empty — cannot size "
            "subspaces"
        )
    if n_dim % m != 0:
        raise ValueError(f"dim {n_dim} must split evenly into m={m} subspaces")
    d = n_dim // m
    sid = F.col(item_id)
    train = items if train_mod <= 1 else items.filter(sid % train_mod == 0)

    # Driver-side twin (see the block comment above kmeans_centroids):
    # one bounded Arrow collect, then m independent L2 Lloyd runs over
    # the subvector slices — same md5-smallest init rows shared across
    # subspaces, same decimal-exact means, bit-identical codebooks
    # (pinned in tests/test_pq.py).
    if trainer in ("auto", "driver"):
        max_rows = _DRIVER_TRAIN_OP_BUDGET // max(
            n_dim * k * max(iters, 1), 1
        )
        sample = _collect_train_sample(train, item_id, item_vec, max_rows)
        if sample is None and trainer == "driver":
            raise ValueError(
                f"pq_codebooks: training sample exceeds {max_rows} rows"
                " — use trainer='distributed' (or raise train_mod)"
            )
        if sample is not None:
            init_full = _md5_init(sample, k)
            out_rows = []
            for j in range(m):
                lo, hi = j * d, (j + 1) * d
                cents_j = _lloyd_driver(
                    [(rid, vec[lo:hi]) for rid, vec in sample],
                    k,
                    iters,
                    "l2",
                    score_scale,
                    init=[(rid, vec[lo:hi]) for rid, vec in init_full],
                )
                for code, (_cid, cvec) in enumerate(
                    sorted(cents_j, key=lambda c: c[0])
                ):
                    out_rows.append((j, code, list(cvec)))
            return local_relation(
                items.sparkSession,
                out_rows,
                T.StructType(
                    [
                        T.StructField("subspace", T.IntegerType()),
                        T.StructField("code", T.IntegerType()),
                        T.StructField("cent_vec", T.ArrayType(T.DoubleType())),
                    ]
                ),
            )

    def sub_structs(vec: Column) -> Column:
        return F.array(
            *[
                F.struct(
                    F.lit(j).alias("subspace"),
                    F.slice(vec, j * d + 1, d).alias("sub"),
                )
                for j in range(m)
            ]
        )

    # All m subspaces train TOGETHER: training rows explode to
    # (id, subspace, subvector) once, and each Lloyd iteration is one
    # broadcast join + one grouped aggregation over every subspace —
    # per-iteration job count is O(1), not O(m) (the arithmetic is
    # identical to m independent runs, so the SQL oracle is unchanged).
    sub_rows = (
        train.select(sid.alias("_id"), F.explode(sub_structs(F.col(item_vec))).alias("s"))
        .select("_id", "s.subspace", "s.sub")
    )
    # Same init rule as kmeans_centroids: the k training ids with the
    # smallest md5 — the ids are subspace-independent, so every
    # subspace initializes from the same rows (exactly as the
    # per-subspace runs did).
    init = (
        train.select(
            sid.alias("cent_id"),
            F.col(item_vec).alias("_vec"),
            F.md5(sid.cast("string")).alias("_h"),
        )
        .orderBy(F.asc("_h"), F.asc("cent_id"))
        .limit(k)
        .drop("_h")
    )
    cents = (
        init.select("cent_id", F.explode(sub_structs(F.col("_vec"))).alias("s"))
        .select(
            "s.subspace",
            "cent_id",
            F.transform(F.col("s.sub"), lambda x: x.cast("double")).alias(
                "cent_vec"
            ),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        cn = norm2(F.col("cent_vec"))
        score = pround(
            F.lit(2.0) * dot(F.col("sub"), F.col("cent_vec")) - cn * cn,
            score_scale,
        )
        assigned = (
            sub_rows.join(F.broadcast(cents), "subspace")
            .groupBy("_id", "subspace")
            .agg(
                # argmax by (score desc, cent_id asc) — the same order
                # _assign_clusters ranks by.
                F.max_by(
                    F.col("cent_id"),
                    F.struct(
                        score.alias("s"), (-F.col("cent_id")).alias("t")
                    ),
                ).alias("cell"),
                F.first("sub").alias("sub"),
            )
        )
        dims = assigned.select(
            "subspace", "cell", F.posexplode(F.col("sub")).alias("pos", "val")
        )
        sums = dims.groupBy("subspace", "cell", "pos").agg(
            F.sum(F.col("val").cast("double").cast("decimal(27,10)")).alias(
                "s"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        # L2 cells: true decimal-exact mean (see kmeans_centroids).
        newc = (
            sums.groupBy("subspace", "cell")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("pos"),
                            (F.col("s").cast("double") / F.col("n")).alias(
                                "v"
                            ),
                        )
                    )
                ).alias("_ps")
            )
            .select(
                "subspace",
                F.col("cell").alias("cent_id"),
                F.transform(F.col("_ps"), lambda x: x["v"]).alias("cent_vec"),
            )
        )
        cents = (
            cents.alias("c")
            .join(
                newc.alias("n"),
                ["subspace", "cent_id"],
                "left",
            )
            .select(
                F.col("subspace"),
                F.col("cent_id"),
                F.coalesce(F.col("n.cent_vec"), F.col("c.cent_vec")).alias(
                    "cent_vec"
                ),
            )
            .localCheckpoint(eager=True)
        )
    # Remap the (arbitrary) init-row ids to dense 0..k-1 codes so a
    # stored code is a small int, not an 8-byte document id.
    w = Window.partitionBy("subspace").orderBy(F.asc("cent_id"))
    return (
        cents.select(
            "subspace",
            (F.row_number().over(w) - 1).cast("int").alias("code"),
            "cent_vec",
        )
        .localCheckpoint(eager=True)
    )


def pq_encode(
    items: DataFrame,
    codebooks: DataFrame,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    score_scale: int = 6,
) -> DataFrame:
    """Encode each vector as its per-subspace nearest-codeword codes:
    ``(id, codes array<int>, vec_norm)``. ZERO shuffle — the m·k
    codebook collapses to one broadcast array row and every row picks
    its m codes with higher-order functions in a single scan.
    ``vec_norm`` (the only float kept) makes cosine reconstruction
    possible at query time.
    """
    cb_arr = codebooks.agg(
        F.collect_list(
            F.struct(
                F.col("subspace"),
                F.col("code"),
                F.col("cent_vec"),
                norm2(F.col("cent_vec")).alias("cnorm"),
            )
        ).alias("_cb")
    )
    head = codebooks.select(
        F.max("subspace").alias("mx"), F.size(F.min("cent_vec")).alias("d")
    ).first()
    if head is None or head["mx"] is None:
        raise ValueError("pq_encode: empty codebooks — train pq_codebooks first")
    n_sub = head["mx"] + 1
    d = head["d"]

    def best_code(j: int) -> Column:
        sub = F.slice(F.col(item_vec), j * d + 1, d)
        entries = F.filter(F.col("_cb"), lambda c: c["subspace"] == F.lit(j))
        scored = F.transform(
            entries,
            lambda c: F.struct(
                pround(
                    F.lit(2.0) * dot(sub, c["cent_vec"])
                    - c["cnorm"] * c["cnorm"],
                    score_scale,
                ).alias("sim"),
                c["code"].alias("code"),
            ),
        )
        ranked = F.array_sort(
            scored,
            lambda l, r: (
                F.when(l["sim"] > r["sim"], F.lit(-1))
                .when(l["sim"] < r["sim"], F.lit(1))
                .when(l["code"] < r["code"], F.lit(-1))
                .when(l["code"] > r["code"], F.lit(1))
                .otherwise(F.lit(0))
            ),
        )
        return ranked[0]["code"]

    return (
        items.join(F.broadcast(cb_arr))
        .select(
            F.col(item_id),
            F.array(*[best_code(j) for j in range(n_sub)]).alias("codes"),
            norm2(F.col(item_vec)).alias("vec_norm"),
        )
    )


def pq_knn(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 5,
    item_id: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    score_scale: int = 6,
) -> DataFrame:
    """Approximate cosine top-k by asymmetric distance computation:
    items are their PQ codes, each query builds an m·k lookup table of
    subspace partial dot products against the codebooks, and an item's
    approximate cosine is the code-summed partials over
    ``query_norm · vec_norm`` — the corpus floats are never read.

    Shape: codes explode to m rows per item and equi-join the broadcast
    (query, subspace, code) LUT, then one (query, item) aggregation —
    partials go through DECIMAL so the sum is order-independent. Query
    side is bounded (the brute-force contract); compose with the IVF
    cell layout to prune the item side first for unbounded corpora.
    """
    lut = _pq_lut(queries, codebooks, query_id, query_vec, score_scale)
    exploded = codes.select(
        F.col(item_id),
        F.col("vec_norm"),
        F.posexplode(F.col("codes")).alias("subspace", "code"),
    )
    joined = exploded.join(
        F.broadcast(lut), ["subspace", "code"]
    )
    dec = lambda c: c.cast("decimal(27,10)")
    agg = (
        joined.groupBy(query_id, item_id)
        .agg(
            F.sum(dec(F.col("partial"))).alias("_dot"),
            F.first("vec_norm").alias("_inorm"),
            F.first("_qnorm").alias("_qn"),
        )
    )
    score = pround(
        F.when(
            (F.col("_qn") > 0) & (F.col("_inorm") > 0),
            F.col("_dot").cast("double")
            / (F.col("_qn") * F.col("_inorm")),
        ).otherwise(F.lit(0.0)),
        score_scale,
    )
    scored = agg.filter(F.col(item_id) != F.col(query_id)).select(
        F.col(query_id),
        F.col(item_id),
        score.alias("cosine_sim"),
    )
    return _rank_topk(scored, query_id, item_id, k)


def ivf_pq_knn(
    items: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 4,
    pq_k: int = 16,
    pq_iters: int = 2,
    kmeans_iters: int = 2,
    train_mod: int = 4,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    score_scale: int = 6,
    residual: bool = False,
) -> DataFrame:
    """The composed 100 TB ANN shape: IVF cells prune the CANDIDATES,
    PQ codes replace the FLOATS — each query scores only the items in
    its ``nprobe`` cells, from the code lookup table, never touching
    the corpus vectors after the one tagging/encoding pass.

    Unlike :func:`pq_knn` (whose LUT join fans every item out to every
    query), the (query, item) pair space here is cut by the cell equi
    join first, so the aggregation shuffles O(candidates·m), not
    O(N·Q·m) — queries need not be bounded if cells are selective.
    Everything is the same deterministic machinery (cosine coarse
    quantizer, L2 subspace codebooks, decimal partial sums), so results
    equal :func:`pq_knn` exactly when every cell is probed (tested).

    ``residual=True`` is classic IVF-PQ: the codebooks quantize
    ``x − centroid(cell(x))`` instead of ``x``, which concentrates the
    code entropy on the within-cell variation the coarse quantizer
    can't express. The ADC identity ``q·x ≈ q·c_cell + q·r̂`` splits the
    score into a per-(query, cell) term (nprobe lookups) plus the same
    subspace LUT sum; the stored exact ``vec_norm`` keeps the cosine
    denominator exact either way. Same join/shuffle shape as the plain
    form — the residual subtraction rides the one encode scan.

    Residual helps when the corpus is CLUSTERED (the IVF-PQ norm);
    on near-uniform data the centroids carry no structure to subtract
    and direct encoding measures slightly better (0.30 vs 0.22 recall@5
    on the synthetic fixture) — pick per corpus shape.
    """
    centroids = kmeans_centroids(
        items,
        n_centroids=n_centroids,
        iters=kmeans_iters,
        item_id=item_id,
        item_vec=item_vec,
        train_mod=train_mod,
        score_scale=score_scale,
    )
    tagged = _assign_clusters(
        items, centroids, item_vec, item_id, nprobe=1, score_scale=score_scale
    ).withColumnRenamed("cent_id", "cell")
    if residual:
        # x − c(cell), via one broadcast equi-join on the cell id; the
        # ORIGINAL norm is kept alongside for the cosine denominator.
        # The ADC identity q·x = q·c + q·(x − c) holds for ANY per-cell
        # constant c, but quantization quality does not: the cosine
        # quantizer's cent_vec is a decimal SUM of members (huge norm),
        # and residuals against it would dwarf the codebook range — so
        # c is the UNIT-normalized centroid direction, keeping residual
        # norms O(‖x‖). _unit_centroids is the SINGLE source of that c:
        # the q·c term below must use the identical projection.
        cent_named = _unit_centroids(centroids)
        enc_input = (
            tagged.join(F.broadcast(cent_named), "cell")
            .select(
                F.col(item_id),
                F.col("cell"),
                norm2(F.col(item_vec)).alias("_orig_norm"),
                F.zip_with(
                    F.col(item_vec),
                    F.col("_cv"),
                    lambda x, c: x.cast("double") - c,
                ).alias(item_vec),
            )
        )
    else:
        enc_input = tagged
    codebooks = pq_codebooks(
        enc_input,
        m=m,
        k=pq_k,
        iters=pq_iters,
        item_id=item_id,
        item_vec=item_vec,
        train_mod=train_mod,
        score_scale=score_scale,
    )
    codes = pq_encode(
        enc_input, codebooks, item_id, item_vec, score_scale
    ).join(enc_input.select(item_id, "cell", *(
        ["_orig_norm"] if residual else [])), item_id)
    if residual:
        # pq_encode's vec_norm is the RESIDUAL norm; cosine needs ‖x‖.
        codes = codes.drop("vec_norm").withColumnRenamed(
            "_orig_norm", "vec_norm"
        )
    probes = _assign_clusters(
        queries, centroids, query_vec, query_id, nprobe=nprobe,
        score_scale=score_scale,
    ).withColumnRenamed("cent_id", "cell")
    lut = _pq_lut(queries, codebooks, query_id, query_vec, score_scale)
    # Candidate cut FIRST: items fan out only to queries probing their
    # cell, then each candidate pair expands to its m code rows.
    probe_cells = probes.select(query_id, "cell")
    if residual:
        # The per-(query, cell) coarse term of q·x ≈ q·c_cell + q·r̂:
        # nprobe lookups per query, broadcast with the probe list.
        qc = (
            probes.join(
                F.broadcast(_unit_centroids(centroids)),
                "cell",
            )
            .select(
                F.col(query_id),
                F.col("cell"),
                pround(
                    dot(F.col(query_vec), F.col("_cv")), score_scale
                ).alias("_qc"),
            )
        )
        probe_cells = qc
    cands = codes.join(
        F.broadcast(probe_cells), "cell"
    ).filter(F.col(item_id) != F.col(query_id))
    exploded = cands.select(
        F.col(query_id),
        F.col(item_id),
        F.col("vec_norm"),
        *([F.col("_qc")] if residual else []),
        F.posexplode(F.col("codes")).alias("subspace", "code"),
    )
    joined = exploded.join(
        F.broadcast(lut), [query_id, "subspace", "code"]
    )
    dec = lambda c: c.cast("decimal(27,10)")
    agg = joined.groupBy(query_id, item_id).agg(
        F.sum(dec(F.col("partial"))).alias("_dot"),
        F.first("vec_norm").alias("_inorm"),
        F.first("_qnorm").alias("_qn"),
        *([F.first("_qc").alias("_qcv")] if residual else []),
    )
    num = F.col("_dot").cast("double")
    if residual:
        num = num + F.col("_qcv")
    score = pround(
        F.when(
            (F.col("_qn") > 0) & (F.col("_inorm") > 0),
            num / (F.col("_qn") * F.col("_inorm")),
        ).otherwise(F.lit(0.0)),
        score_scale,
    )
    scored = agg.select(
        F.col(query_id), F.col(item_id), score.alias("cosine_sim")
    )
    return _rank_topk(scored, query_id, item_id, k)


def semdedup(
    items: DataFrame,
    threshold: float = 0.4,
    n_centroids: int = 16,
    kmeans_iters: int = 2,
    train_mod: int = 4,
    item_id: str = "vec_id",
    item_vec: str = "embedding",
    score_scale: int = 6,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup scoped to k-means
    cells — per item: (id, ``cell``, ``kept``).

    Cluster the corpus with the deterministic Lloyd quantizer
    (:func:`kmeans_centroids` — md5 init, decimal-exact sums, fully
    SQL-replayable), tag every item with its nearest cell, then pair
    items ONLY within a cell: an item is dropped (``kept`` = 0) when a
    lower-id cell-mate sits within ``threshold`` rounded cosine. The
    keep-lowest rule makes the decision order-free and deterministic —
    no greedy scan order to reproduce.

    This is the SCALE path for embedding near-dedup: the global
    block-matrix join (:func:`cosine_pairs`) pays O(N²·dim/B) shuffle
    bytes no matter how sparse the duplicates; cell-scoped pairing pays
    Σ|cell|² — with n_centroids grown ~√N (SemDeDup used 50k cells for
    LAION), cells stay bounded and the pair stage is ~linear. The only
    corpus shuffle is the self-join on ``cell``; assignment broadcasts
    the bounded centroid table and never shuffles. A pathological
    giant cell can front this with the tile pruner (compose
    ``cosine_pairs`` per cell) without changing the kept/dropped
    contract — the rounded-cosine test is identical.

    Semantic vs lexical: MinHash/Jaccard spans catch COPIES; embedding
    cells catch paraphrases and template families whose token overlap
    is low. Pipelines run both (SemDeDup drops 50%+ of LAION with
    negligible loss; §LLM-pipeline north star).
    """
    centroids = kmeans_centroids(
        items,
        n_centroids=n_centroids,
        iters=kmeans_iters,
        item_id=item_id,
        item_vec=item_vec,
        train_mod=train_mod,
        score_scale=score_scale,
    )
    tagged = (
        _assign_clusters(
            items, centroids, item_vec, item_id, nprobe=1,
            score_scale=score_scale,
        )
        .withColumnRenamed("cent_id", "cell")
        .cache()  # feeds both pair sides + the kept-flag epilogue
    )
    # Pair stage through the blocked numpy pruner + exact rescore
    # (:func:`cosine_pairs` with cell-scoped tiles, round-13): the
    # former formulation joined the cell's rows and evaluated the
    # interpreted fold-left cosine on EVERY within-cell pair — µs-scale
    # closure dispatch per pair × Σ|cell|² pairs. The tile path scores
    # each cell-block tile with one numpy matmul (a sound pruner:
    # BLAS-vs-fold divergence ≪ margin), then rescores only the
    # surviving candidates with the SAME pround(cosine) expressions —
    # the kept/dropped contract is bit-identical.
    drops = (
        cosine_pairs(
            tagged.select("cell", item_id, item_vec),
            threshold,
            item_id=item_id,
            item_vec=item_vec,
            score_scale=score_scale,
            partition_col="cell",
        )
        .select(F.col("id_b").alias(item_id))
        .distinct()
        .withColumn("_drop", F.lit(1))
    )
    return (
        tagged.select(item_id, "cell")
        .join(drops, item_id, "left")
        .select(
            F.col(item_id),
            F.col("cell"),
            F.col("_drop").isNull().cast("int").alias("kept"),
        )
    )
