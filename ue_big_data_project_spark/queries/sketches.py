"""Cardinality-sketch queries: HyperLogLog and KMV distinct estimates,
oracle-paired bit-for-bit (``operators/sketch.py`` documents the
engine-portable integer hash/register math).

Beyond-reference capability. Each result carries the sketch estimate
NEXT TO the exact distinct count and the relative error, so the gate
checks both engines agree on the estimator to the last bit AND the
output itself documents the accuracy trade-off at fixture scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ue_big_data_project_spark.functions import pround, sql_round
from ue_big_data_project_spark.operators import sketch as SK
from ue_big_data_project_spark.queries import QuerySpec
from ue_big_data_project_spark.queries.tables import load_tables

_P = 6  # 64 HLL registers: ±13% typical; fixture groups sit in the
#         harmonic range (≥ 2.5·m distinct) the raw estimator targets.
_K = 32  # KMV: exact below 32 distinct, (k−1)·2^48 DIV h_k above.


def _with_exact(
    est: DataFrame, exact: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Join estimate to exact count and add the relative error — the
    same 3 IEEE ops + half-up round in the SQL twins below."""
    out = est.join(exact, group_cols)
    rel = F.abs(
        F.col("est_distinct") - F.col("exact_distinct").cast("double")
    ) / F.col("exact_distinct").cast("double")
    return out.select(
        *group_cols,
        "est_distinct",
        "exact_distinct",
        pround(rel, 4).alias("rel_err"),
    )


def sketch_hll_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL(p=6) estimate of distinct parts per lineitem return flag.

    The register build is the at-scale shape: one shuffle carrying ≤ 64
    integers per (group × map task) no matter how many rows scan —
    versus COUNT(DISTINCT)'s shuffle of every distinct value."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    reg = SK.hll_registers(
        li, ["l_returnflag"], F.col("l_partkey").cast("string"), p=_P
    )
    est = SK.hll_estimate(reg, ["l_returnflag"], p=_P)
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_distinct")
    )
    return _with_exact(est, exact, ["l_returnflag"])


def _exact_join_sql(est_cte: str, grp: str, exact_sql: str) -> str:
    rel = "abs(e.est_distinct - CAST(x.exact_distinct AS DOUBLE)) / CAST(x.exact_distinct AS DOUBLE)"
    return f"""
WITH est AS ({est_cte}),
exact AS ({exact_sql})
SELECT e.{grp}, e.est_distinct, x.exact_distinct,
       {sql_round(rel, 4)} AS rel_err
FROM est e JOIN exact x ON e.{grp} = x.{grp}
"""


SKETCH_HLL_PARTS_SQL = _exact_join_sql(
    SK.hll_estimate_sql(
        "lineitem", ["l_returnflag"], "CAST(l_partkey AS VARCHAR)", p=_P
    ),
    "l_returnflag",
    "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_distinct"
    " FROM lineitem GROUP BY l_returnflag",
)


def sketch_kmv_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV(k=32) estimate of distinct customers per order priority —
    integer end-to-end, so the oracle match is exact by construction."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    sk = SK.kmv_sketch(
        o, ["o_orderpriority"], F.col("o_custkey").cast("string"), k=_K
    )
    est = SK.kmv_estimate(sk, ["o_orderpriority"], k=_K)
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    return _with_exact(est, exact, ["o_orderpriority"])


SKETCH_KMV_CUSTKEYS_SQL = _exact_join_sql(
    SK.kmv_estimate_sql(
        "orders", ["o_orderpriority"], "CAST(o_custkey AS VARCHAR)", k=_K
    ),
    "o_orderpriority",
    "SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS exact_distinct"
    " FROM orders GROUP BY o_orderpriority",
)


def sketch_hll_merged_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE contract, exercised through a real parquet sidecar:
    half the lineitem (even order keys) is sketched and WRITTEN as a
    register sidecar — "yesterday's corpus" — then read back and merged
    with the odd-half increment's registers; no row of the even half is
    rescanned. The oracle computes the single-pass whole-corpus
    estimate, so the value-hash match IS the merge == rebuild property
    (register merge = min over the unioned bucket sets)."""
    import shutil as _sh
    import tempfile as _tf

    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    grp = ["l_linestatus"]
    val = F.col("l_partkey").cast("string")
    even = li.filter(F.col("l_orderkey") % 2 == 0)
    odd = li.filter(F.col("l_orderkey") % 2 == 1)
    root = _tf.mkdtemp(prefix="spark_graft_hll_")
    try:
        SK.hll_registers(even, grp, val, p=_P).write.mode(
            "overwrite"
        ).parquet(root + "/registers")
        sidecar = spark.read.parquet(root + "/registers")
        merged = SK.hll_merge(
            sidecar, SK.hll_registers(odd, grp, val, p=_P), grp
        )
        est = SK.hll_estimate(merged, grp, p=_P)
        exact = li.groupBy(*grp).agg(
            F.countDistinct("l_partkey").alias("exact_distinct")
        )
        return _with_exact(est, exact, grp).localCheckpoint(eager=True)
    finally:
        _sh.rmtree(root, ignore_errors=True)


SKETCH_HLL_MERGED_SQL = _exact_join_sql(
    SK.hll_estimate_sql(
        "lineitem", ["l_linestatus"], "CAST(l_partkey AS VARCHAR)", p=_P
    ),
    "l_linestatus",
    "SELECT l_linestatus, COUNT(DISTINCT l_partkey) AS exact_distinct"
    " FROM lineitem GROUP BY l_linestatus",
)


_CMS_D = 3
_CMS_W = 16  # the fixture vocabulary is ~31 tokens; a narrow sketch
#              forces real bucket collisions so the reported overcount
#              exercises the (non-negative) over-estimate guarantee
_CMS_VALS = ", ".join(f"({i})" for i in range(_CMS_D))


def sketch_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch over every document token; the top-10
    exact tokens are then estimated FROM THE SKETCH and reported next
    to their true counts. CMS over-estimates only, so ``overcount`` is
    a non-negative integer — and being all-integer, the whole result is
    exact-matched by the oracle."""
    from ue_big_data_project_spark.functions.text import normalize_text

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = d.select(
        F.explode(
            F.filter(
                F.split(normalize_text(F.col("text")), " "),
                lambda t: t != "",
            )
        ).alias("token")
    )
    counters = SK.cms_counters(
        toks, F.col("token"), depth=_CMS_D, width=_CMS_W
    )
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), "token")
        .limit(10)
    )
    est = SK.cms_lookup(
        counters, top, F.col("token"), depth=_CMS_D, width=_CMS_W
    )
    return est.select(
        "token",
        "est_count",
        "exact_count",
        (F.col("est_count") - F.col("exact_count")).alias("overcount"),
    )


_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _hex8_sql(col: str, start: int) -> str:
    return (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr(md5({col}), {start + k}, 1)) - 1)"
            f" * {16 ** (7 - k)}"
            for k in range(8)
        )
        + ")"
    )


SKETCH_CMS_TOKENS_SQL = f"""
WITH tok AS (
  SELECT unnest(list_filter(string_split({_NORM}, ' '), w -> w <> '')) AS token
  FROM documents
), ab AS (
  SELECT token, {_hex8_sql('token', 1)} AS a, {_hex8_sql('token', 9)} AS b
  FROM tok
), c AS (
  SELECT t.i AS row_idx, ((ab.a + t.i * ab.b) % {SK.CMS_PRIME}) % {_CMS_W} AS bucket,
         COUNT(*) AS cnt
  FROM ab CROSS JOIN (VALUES {_CMS_VALS}) AS t(i)
  GROUP BY 1, 2
), ex AS (
  SELECT token, COUNT(*) AS exact_count FROM tok GROUP BY token
  ORDER BY exact_count DESC, token LIMIT 10
), dab AS (
  SELECT DISTINCT token, a, b FROM ab
), probes AS (
  SELECT e.token, e.exact_count, t.i AS row_idx,
         ((d.a + t.i * d.b) % {SK.CMS_PRIME}) % {_CMS_W} AS bucket
  FROM ex e JOIN dab d ON e.token = d.token
  CROSS JOIN (VALUES {_CMS_VALS}) AS t(i)
), est AS (
  SELECT p.token, p.exact_count, MIN(c.cnt) AS est_count
  FROM probes p JOIN c ON c.row_idx = p.row_idx AND c.bucket = p.bucket
  GROUP BY p.token, p.exact_count
)
SELECT token, CAST(est_count AS BIGINT) AS est_count,
       CAST(exact_count AS BIGINT) AS exact_count,
       CAST(est_count - exact_count AS BIGINT) AS overcount
FROM est
"""


QUERIES = {
    "sketch_hll_parts_per_flag": QuerySpec(
        sketch_hll_parts_per_flag, SKETCH_HLL_PARTS_SQL
    ),
    "sketch_kmv_custkeys": QuerySpec(
        sketch_kmv_custkeys, SKETCH_KMV_CUSTKEYS_SQL
    ),
    "sketch_hll_merged_modes": QuerySpec(
        sketch_hll_merged_modes, SKETCH_HLL_MERGED_SQL
    ),
    "sketch_cms_tokens": QuerySpec(sketch_cms_tokens, SKETCH_CMS_TOKENS_SQL),
}


def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source overlap audit from sketches alone: how many
    customers place both '1-URGENT' and '5-LOW' orders, estimated from
    two k=64 KMV sidecars that never co-scan (``kmv_set_estimates``) —
    next to the exact intersection/union for the accuracy columns."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    ck = F.col("o_custkey").cast("string")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT")
    b = o.filter(F.col("o_orderpriority") == "5-LOW")
    est = SK.kmv_set_estimates(
        SK.kmv_sketch(a, [], ck, k=64), SK.kmv_sketch(b, [], ck, k=64),
        [], k=64,
    )
    ka = a.select("o_custkey").distinct()
    kb = b.select("o_custkey").distinct()
    ex_over = ka.join(kb, "o_custkey").agg(
        F.count(F.lit(1)).alias("exact_overlap")
    )
    ex_uni = ka.unionByName(kb).distinct().agg(
        F.count(F.lit(1)).alias("exact_union")
    )
    out = est.crossJoin(ex_over).crossJoin(ex_uni)  # three 1-row sides
    rel_u = F.abs(
        F.col("est_union") - F.col("exact_union").cast("double")
    ) / F.col("exact_union").cast("double")
    rel_o = F.abs(
        F.col("est_overlap") - F.col("exact_overlap").cast("double")
    ) / F.col("exact_overlap").cast("double")
    return out.select(
        "est_union",
        "exact_union",
        pround(rel_u, 4).alias("rel_err_union"),
        "est_overlap",
        "exact_overlap",
        pround(rel_o, 4).alias("rel_err_overlap"),
    )


_URGENT = "(SELECT * FROM orders WHERE o_orderpriority = '1-URGENT')"
_LOW = "(SELECT * FROM orders WHERE o_orderpriority = '5-LOW')"

SKETCH_KMV_OVERLAP_SQL = f"""
WITH est AS ({SK.kmv_set_estimates_sql(
    _URGENT, _LOW,
    "CAST(o_custkey AS VARCHAR)", "CAST(o_custkey AS VARCHAR)", k=64)}),
xo AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_overlap FROM (
    SELECT DISTINCT o_custkey FROM {_URGENT}
    INTERSECT
    SELECT DISTINCT o_custkey FROM {_LOW}
  )
), xu AS (
  SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_union
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
)
SELECT est_union, exact_union,
       {sql_round(
           "abs(est_union - CAST(exact_union AS DOUBLE))"
           " / CAST(exact_union AS DOUBLE)", 4)} AS rel_err_union,
       est_overlap, exact_overlap,
       {sql_round(
           "abs(est_overlap - CAST(exact_overlap AS DOUBLE))"
           " / CAST(exact_overlap AS DOUBLE)", 4)} AS rel_err_overlap
FROM est, xo, xu
"""


_CENTS = "CAST(floor(l_extendedprice * 1e2 + 5e-1) AS BIGINT)"


def sketch_qhist_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile histogram (HDR-style log bins, 8 sub-buckets
    per octave): per-returnflag p50/p95 of the price in cents read off
    a bounded counter CDF, PLUS the exact order statistics computed the
    only way that survives 100 TB — histogram-pruned
    (``qhist_exact_quantiles``: the CDF locates each quantile's bin and
    in-bin rank, then only hit-bin rows sort, ~2^−s of each group,
    instead of the naive one-reducer-per-group full sort). est ≤ exact
    ≤ est·1.125 by construction — the rel_err columns show the realized
    gap. The oracle computes the exact side with the naive full rank
    window: order statistics are formulation-independent, so the hash
    match proves the pruned path drops nothing."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    grp = ["l_returnflag"]
    cents = F.expr(_CENTS)
    out = SK.qhist_exact_quantiles(
        li, grp, cents, [("p50", 1, 2), ("p95", 19, 20)]
    )
    rel50 = (
        F.col("exact_p50") - F.col("est_p50")
    ).cast("double") / F.col("exact_p50").cast("double")
    rel95 = (
        F.col("exact_p95") - F.col("est_p95")
    ).cast("double") / F.col("exact_p95").cast("double")
    return out.select(
        *grp,
        "est_p50",
        "exact_p50",
        pround(rel50, 4).alias("rel_err_p50"),
        "est_p95",
        "exact_p95",
        pround(rel95, 4).alias("rel_err_p95"),
    )


_QH_BIN = SK.qhist_bin_sql("v")
_QH_R50 = "CAST((n + 1) // 2 AS BIGINT)"
_QH_R95 = "CAST((19 * n + 19) // 20 AS BIGINT)"

SKETCH_QHIST_PRICES_SQL = f"""
WITH v AS (
  SELECT l_returnflag, {_CENTS} AS v FROM lineitem
), c AS (
  SELECT l_returnflag, {_QH_BIN} AS bin, COUNT(*) AS cnt
  FROM v GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, bin,
         SUM(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
  FROM c
), hit AS (
  SELECT l_returnflag,
         MIN(CASE WHEN cum >= {_QH_R50} THEN bin END) AS b50,
         MIN(CASE WHEN cum >= {_QH_R95} THEN bin END) AS b95
  FROM cum GROUP BY l_returnflag
), est AS (
  SELECT l_returnflag,
         CAST({SK.qhist_lower_sql("b50")} AS BIGINT) AS est_p50,
         CAST({SK.qhist_lower_sql("b95")} AS BIGINT) AS est_p95
  FROM hit
), r AS (
  SELECT l_returnflag, v,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM v
), ex AS (
  SELECT l_returnflag,
         MIN(CASE WHEN rn = {_QH_R50} THEN v END) AS exact_p50,
         MIN(CASE WHEN rn = {_QH_R95} THEN v END) AS exact_p95
  FROM r GROUP BY l_returnflag
)
SELECT e.l_returnflag, e.est_p50, x.exact_p50,
       {sql_round(
           "(x.exact_p50 - e.est_p50) / CAST(x.exact_p50 AS DOUBLE)", 4)}
         AS rel_err_p50,
       e.est_p95, x.exact_p95,
       {sql_round(
           "(x.exact_p95 - e.est_p95) / CAST(x.exact_p95 AS DOUBLE)", 4)}
         AS rel_err_p95
FROM est e JOIN ex x ON e.l_returnflag = x.l_returnflag
"""


QUERIES["sketch_kmv_overlap"] = QuerySpec(
    sketch_kmv_overlap, SKETCH_KMV_OVERLAP_SQL
)
QUERIES["sketch_qhist_prices"] = QuerySpec(
    sketch_qhist_prices, SKETCH_QHIST_PRICES_SQL
)


def streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live distinct counts over a real stream: events replayed as 4
    micro-batches through ``hll_ingest_stream`` (per-batch register
    partitions, no ledger — merge idempotence makes at-least-once
    exactly-once), then the register sidecar alone is folded into the
    estimate. The oracle computes the single-pass whole-table estimate,
    so the hash match proves stream == batch for the sketch."""
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.streaming import ingest
    from ue_big_data_project_spark.session import apply_session_conf

    apply_session_conf(spark)
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    grp = ["event_type"]
    root = _tf.mkdtemp(prefix="spark_graft_hllstream_")
    try:
        stage = _os.path.join(root, "stage")
        # 4 files → 4 genuine micro-batches under maxFilesPerTrigger=1.
        ev.select("event_type", "event_id").repartition(4).write.parquet(
            stage
        )
        sdf = (
            spark.readStream.schema("event_type string, event_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        ST.drain(spark, lambda: ingest.hll_ingest_stream(
            sdf, _os.path.join(root, "registers"), grp, "event_id", p=_P
        ))
        est = ingest.read_hll_rollup(
            spark, _os.path.join(root, "registers"), grp, p=_P
        )
        exact = ev.groupBy(*grp).agg(
            F.countDistinct("event_id").alias("exact_distinct")
        )
        return _with_exact(est, exact, grp).localCheckpoint(eager=True)
    finally:
        _sh.rmtree(root, ignore_errors=True)


STREAMING_HLL_DISTINCT_SQL = _exact_join_sql(
    SK.hll_estimate_sql(
        "events", ["event_type"], "CAST(event_id AS VARCHAR)", p=_P
    ),
    "event_type",
    "SELECT event_type, COUNT(DISTINCT event_id) AS exact_distinct"
    " FROM events GROUP BY event_type",
)

QUERIES["streaming_hll_distinct"] = QuerySpec(
    streaming_hll_distinct, STREAMING_HLL_DISTINCT_SQL
)


_WORDS_SQL = "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"


def pipeline_quantile_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus trimming by a quantile floor WITHOUT a global sort: drop
    the shortest quarter of documents by token count. The p25 threshold
    is an EXACT order statistic found histogram-pruned
    (``qhist_exact_quantiles``: bounded counters → CDF → sort only the
    hit bin), then one broadcast of the 1-row threshold filters the
    corpus — the at-scale shape for "trim the bottom X% by Y" pipeline
    gates, where the naive exact percentile sorts the world on one
    reducer. Result: threshold + kept/total accounting, all integers."""
    from ue_big_data_project_spark.functions import text as TX

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = d.select(TX.token_count("text").alias("n_tokens"))
    th = SK.qhist_exact_quantiles(
        toks, [], F.col("n_tokens"), [("p25", 1, 4)]
    )
    joined = toks.crossJoin(F.broadcast(th))  # 1-row scalar attach
    keep = F.col("n_tokens") >= F.col("exact_p25")
    return joined.agg(
        F.min("exact_p25").cast("long").alias("p25_tokens"),
        F.count(F.lit(1)).cast("long").alias("total_docs"),
        F.sum(keep.cast("long")).cast("long").alias("kept_docs"),
        F.sum(F.when(keep, F.col("n_tokens")).otherwise(F.lit(0)))
        .cast("long")
        .alias("kept_tokens"),
    )


PIPELINE_QUANTILE_TRIM_SQL = f"""
WITH t AS (
  SELECT CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens FROM documents
), r AS (
  SELECT n_tokens,
         row_number() OVER (ORDER BY n_tokens) AS rn,
         COUNT(*) OVER () AS n
  FROM t
), th AS (
  SELECT MIN(CASE WHEN rn = CAST((n + 3) // 4 AS BIGINT)
             THEN n_tokens END) AS p25
  FROM r
)
SELECT CAST(th.p25 AS BIGINT) AS p25_tokens,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM t) AS total_docs,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM t
        WHERE n_tokens >= th.p25) AS kept_docs,
       (SELECT CAST(SUM(n_tokens) AS BIGINT) FROM t
        WHERE n_tokens >= th.p25) AS kept_tokens
FROM th
"""

QUERIES["pipeline_quantile_trim"] = QuerySpec(
    pipeline_quantile_trim, PIPELINE_QUANTILE_TRIM_SQL
)


def join_auto_strategy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-driven physical join planning end-to-end
    (``skew.sketch_join_plan``): revenue by market segment through a
    join whose strategy — broadcast / salted / plain shuffle — is
    CHOSEN from bounded sketch evidence (small-side count + a count-min
    bound on the hottest key; CMS over-estimates only, so a "not
    skewed" verdict is provably safe). All three strategies are
    semantics-identical, so the oracle is the plain SQL join — the hash
    match holds whichever branch the evidence picks (broadcast at
    fixture scale)."""
    from ue_big_data_project_spark.operators.skew import sketch_join_plan
    from ue_big_data_project_spark.queries.tpch import d2, dsum

    t = load_tables(spark, sf_dir, ("orders", "customer"))
    cust = t["customer"].select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined, _decision = sketch_join_plan(t["orders"], cust, ["o_custkey"])
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(d2(F.col("o_totalprice"))).alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


JOIN_AUTO_STRATEGY_SQL = f"""
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       {sql_round("CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)", 2)} AS revenue
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""

QUERIES["join_auto_strategy"] = QuerySpec(
    join_auto_strategy, JOIN_AUTO_STRATEGY_SQL
)


def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (tokens with ≥ 2% of all occurrences),
    AUTO-DISPATCHED (``sketch.heavy_hitters``, round-7 verdict task 3):
    an HLL pass estimates the vocabulary size, then the engine picks
    the naive partial-aggregated group-by-having (what wins wall-time
    while the per-task key table fits memory — this fixture) or the CMS
    map-side pre-filter (whose one-sided over-estimate keeps the
    candidate set a superset, bounding the shuffle by depth×width +
    candidates at multi-million-token vocabularies). Both plans return
    EXACTLY the same rows, so the single naive oracle hash-checks
    whichever branch the evidence picks."""
    from ue_big_data_project_spark.functions.text import normalize_text

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = d.select(
        F.explode(
            F.filter(
                F.split(normalize_text(F.col("text")), " "),
                lambda t: t != "",
            )
        ).alias("token")
    )
    out, _decision = SK.heavy_hitters(
        toks,
        F.col("token"),
        share_num=1,
        share_den=50,
        depth=3,
        width=1024,
        out_value="token",
        out_count="n",
    )
    return out


TEXT_HEAVY_HITTERS_SQL = f"""
WITH tok AS (
  SELECT unnest(list_filter(string_split({_NORM}, ' '), w -> w <> ''))
    AS token
  FROM documents
), tot AS (
  SELECT COUNT(*) AS total FROM tok
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM tok, tot
GROUP BY token, tot.total
HAVING COUNT(*) >= (1 * tot.total + 49) // 50
"""

QUERIES["text_heavy_hitters"] = QuerySpec(
    text_heavy_hitters, TEXT_HEAVY_HITTERS_SQL
)


def sketch_qhist_token_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-MASS quantile (the packing/budgeting cut): what document
    length covers 90% of all tokens? The histogram counters are
    token-weighted (``qhist_counters(weight=n_tokens)``), so the CDF
    walks token mass, not document count — next to the exact weighted
    order statistic (cheap here: the cum walk runs over DISTINCT
    lengths, a bounded set, never over documents)."""
    from pyspark.sql import Window

    from ue_big_data_project_spark.functions import text as TX

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = d.select(TX.token_count("text").cast("long").alias("n_tokens"))
    cnt = SK.qhist_counters(
        toks, [], F.col("n_tokens"), weight=F.col("n_tokens")
    )
    est = SK.qhist_quantiles(cnt, [], [("est_p90", 9, 10)])
    by_len = toks.groupBy("n_tokens").agg(
        F.sum("n_tokens").cast("long").alias("mass")
    )
    w = Window.partitionBy(F.lit(1)).orderBy("n_tokens")
    cum = by_len.select(
        "n_tokens",
        F.sum("mass").over(w).alias("cum"),
        F.sum("mass")
        .over(
            Window.partitionBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("total"),
    )
    exact = (
        cum.filter(
            F.col("cum") >= F.expr("CAST((9 * total + 9) DIV 10 AS BIGINT)")
        )
        .agg(F.min("n_tokens").alias("exact_p90"))
    )
    out = est.crossJoin(exact)  # two 1-row sides
    rel = (
        F.col("exact_p90") - F.col("est_p90")
    ).cast("double") / F.col("exact_p90").cast("double")
    return out.select(
        "est_p90", "exact_p90", pround(rel, 4).alias("rel_err")
    )


_QH_TOK_BIN = SK.qhist_bin_sql("n_tokens")

SKETCH_QHIST_TOKEN_MASS_SQL = f"""
WITH t AS (
  SELECT CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens FROM documents
), c AS (
  SELECT {_QH_TOK_BIN} AS bin, CAST(SUM(n_tokens) AS BIGINT) AS cnt
  FROM t GROUP BY 1
), cum AS (
  SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum,
         SUM(cnt) OVER () AS n
  FROM c
), hit AS (
  SELECT MIN(CASE WHEN cum >= CAST((9 * n + 9) // 10 AS BIGINT)
             THEN bin END) AS b90
  FROM cum
), est AS (
  SELECT CAST({SK.qhist_lower_sql("b90")} AS BIGINT) AS est_p90 FROM hit
), bylen AS (
  SELECT n_tokens, CAST(SUM(n_tokens) AS BIGINT) AS mass
  FROM t GROUP BY n_tokens
), wcum AS (
  SELECT n_tokens, SUM(mass) OVER (ORDER BY n_tokens) AS cum,
         SUM(mass) OVER () AS total
  FROM bylen
), ex AS (
  SELECT MIN(n_tokens) AS exact_p90 FROM wcum
  WHERE cum >= CAST((9 * total + 9) // 10 AS BIGINT)
)
SELECT e.est_p90, x.exact_p90,
       {sql_round(
           "(x.exact_p90 - e.est_p90) / CAST(x.exact_p90 AS DOUBLE)", 4)}
         AS rel_err
FROM est e, ex x
"""

QUERIES["sketch_qhist_token_mass"] = QuerySpec(
    sketch_qhist_token_mass, SKETCH_QHIST_TOKEN_MASS_SQL
)


_JS_D = 4
_JS_W = 16384


def sketch_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join OUTPUT-SIZE estimation from bounded sketches, BEFORE running
    the join (``sketch.cms_join_size`` — the CMS inner-product / AMS-F₂
    estimator, over-estimate only). ONE counter table over
    orders.o_custkey serves BOTH estimates: paired with itself it bounds
    the self-join |orders ⋈ orders ON custkey| (the F₂ moment — the
    "same-customer pair explosion" a planner wants to see coming);
    paired with customer.c_custkey's counters it bounds the FK join —
    two sketches that never co-scanned. Both estimates are pure-integer;
    the realized one-sided gap is reported as rel_err next to each
    exact count. At 100 TB this is the number a planner reads to refuse
    (or budget) an exploding join, at the cost of bounded counter
    tables instead of the join itself."""
    t = load_tables(spark, sf_dir, ("orders", "customer"))
    oc = SK.cms_counters(
        t["orders"], F.col("o_custkey").cast("string"),
        depth=_JS_D, width=_JS_W,
    ).localCheckpoint(eager=True)  # both inner products consume it
    cc = SK.cms_counters(
        t["customer"], F.col("c_custkey").cast("string"),
        depth=_JS_D, width=_JS_W,
    )
    est_self = SK.cms_join_size(
        oc, oc, out_col="est_self_join", depth=_JS_D, width=_JS_W
    )
    exact_self = (
        t["orders"].groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * F.col("c")).cast("long")
            .alias("exact_self_join")
        )
    )
    est_fk = SK.cms_join_size(
        oc, cc, out_col="est_fk_join", depth=_JS_D, width=_JS_W
    )
    exact_fk = (
        t["orders"].join(
            t["customer"],
            t["orders"]["o_custkey"] == t["customer"]["c_custkey"],
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_fk_join"))
    )
    out = (
        est_self.crossJoin(exact_self)
        .crossJoin(est_fk)
        .crossJoin(exact_fk)  # four 1-row sides
    )
    rel_s = (
        F.col("est_self_join") - F.col("exact_self_join")
    ).cast("double") / F.col("exact_self_join").cast("double")
    rel_f = (
        F.col("est_fk_join") - F.col("exact_fk_join")
    ).cast("double") / F.col("exact_fk_join").cast("double")
    return out.select(
        "est_self_join",
        "exact_self_join",
        pround(rel_s, 4).alias("rel_err_self"),
        "est_fk_join",
        "exact_fk_join",
        pround(rel_f, 4).alias("rel_err_fk"),
    )


_OC_SQL = SK.cms_counters_sql(
    "orders", "CAST(o_custkey AS VARCHAR)", depth=_JS_D, width=_JS_W
)
_CC_SQL = SK.cms_counters_sql(
    "customer", "CAST(c_custkey AS VARCHAR)", depth=_JS_D, width=_JS_W
)

SKETCH_JOIN_SIZE_SQL = f"""
WITH oc AS (SELECT * FROM {_OC_SQL}),
es AS (
  SELECT CAST(MIN(s) AS BIGINT) AS est_self_join FROM (
    SELECT a.row_idx, SUM(a.cnt * b.cnt) AS s
    FROM oc a JOIN oc b ON a.row_idx = b.row_idx AND a.bucket = b.bucket
    GROUP BY a.row_idx
  )
), xs AS (
  SELECT CAST(SUM(c * c) AS BIGINT) AS exact_self_join FROM (
    SELECT COUNT(*) AS c FROM orders GROUP BY o_custkey
  )
), ef AS (
  SELECT CAST(MIN(s) AS BIGINT) AS est_fk_join FROM (
    SELECT a.row_idx, SUM(a.cnt * b.cnt) AS s
    FROM oc a JOIN {_CC_SQL} b
      ON a.row_idx = b.row_idx AND a.bucket = b.bucket
    GROUP BY a.row_idx
  )
), xf AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_fk_join
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT est_self_join, exact_self_join,
       {sql_round(
           "(est_self_join - exact_self_join)"
           " / CAST(exact_self_join AS DOUBLE)", 4)} AS rel_err_self,
       est_fk_join, exact_fk_join,
       {sql_round(
           "(est_fk_join - exact_fk_join)"
           " / CAST(exact_fk_join AS DOUBLE)", 4)} AS rel_err_fk
FROM es, xs, ef, xf
"""

QUERIES["sketch_join_size"] = QuerySpec(
    sketch_join_size, SKETCH_JOIN_SIZE_SQL
)


def sketch_hll_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count CUBE from ONE scan (``sketch.hll_cube``): distinct
    parts per (returnflag, linestatus) at EVERY granularity — leaf,
    each single dim, grand total — where the corpus is scanned once for
    the leaf registers and every coarser level derives by min-merge
    over the bounded register table (exact: min is associative, so the
    lattice rollup equals a direct build). COUNT(DISTINCT) cannot roll
    up — the exact cube pays the Expand-multiplied shuffle (every row ×
    2^d sets, computed here only as the verification column); sketches
    make the cube one scan + 2^d bounded jobs. grouping_id follows the
    SQL convention (bit = dim aggregated, first dim = MSB), so the
    oracle aligns rows by (dims, grouping_id)."""
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    dims = ["l_returnflag", "l_linestatus"]
    est = SK.hll_cube(
        li, dims, F.col("l_partkey").cast("string"), p=_P
    )
    # Pre-aggregate BELOW the Expand (guide §2.5, round-13): distinct
    # (dims, partkey) triples first, then CUBE the deduped leaf — every
    # grouping set's COUNT(DISTINCT partkey) is invariant to leaf-level
    # dedup, so results are identical while the Expand multiplies
    # |distinct triples| rows instead of every lineitem row × 2^d sets.
    leaf = li.select(*dims, "l_partkey").distinct()
    exact = (
        leaf.cube(*dims)
        .agg(
            F.countDistinct("l_partkey").alias("exact_distinct"),
            (
                F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")
            ).cast("int").alias("grouping_id"),
        )
    )
    cond = [est[d].eqNullSafe(exact[d]) for d in dims] + [
        est["grouping_id"] == exact["grouping_id"]
    ]
    j = est.join(exact, cond)
    rel = F.abs(
        F.col("est_distinct") - F.col("exact_distinct").cast("double")
    ) / F.col("exact_distinct").cast("double")
    return j.select(
        *[est[d] for d in dims],
        est["grouping_id"],
        "est_distinct",
        "exact_distinct",
        pround(rel, 4).alias("rel_err"),
    )


_HC_VAL = "CAST(l_partkey AS VARCHAR)"


def _hll_cube_level_sql(kept: list[str], gid: int) -> str:
    """One lattice level of the estimate as SQL: hll_estimate_sql at
    that grouping, dropped dims as typed NULLs, the literal gid."""
    dims = ["l_returnflag", "l_linestatus"]
    if kept:
        inner = SK.hll_estimate_sql("lineitem", kept, _HC_VAL, p=_P)
    else:
        inner = SK.hll_estimate_sql(
            "(SELECT 1 AS g, l_partkey FROM lineitem)", ["g"], _HC_VAL, p=_P
        )
    sel = ", ".join(
        d if d in kept else f"CAST(NULL AS VARCHAR) AS {d}" for d in dims
    )
    return (
        f"SELECT {sel}, {gid} AS grouping_id, est_distinct"
        f" FROM ({inner})"
    )


SKETCH_HLL_CUBE_SQL = f"""
WITH est AS (
  {_hll_cube_level_sql(["l_returnflag", "l_linestatus"], 0)}
  UNION ALL
  {_hll_cube_level_sql(["l_returnflag"], 1)}
  UNION ALL
  {_hll_cube_level_sql(["l_linestatus"], 2)}
  UNION ALL
  {_hll_cube_level_sql([], 3)}
), exact AS (
  SELECT l_returnflag, l_linestatus,
         CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus)
              AS INTEGER) AS grouping_id,
         COUNT(DISTINCT l_partkey) AS exact_distinct
  FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
)
SELECT e.l_returnflag, e.l_linestatus,
       CAST(e.grouping_id AS INTEGER) AS grouping_id,
       e.est_distinct, x.exact_distinct,
       {sql_round(
           "abs(e.est_distinct - CAST(x.exact_distinct AS DOUBLE))"
           " / CAST(x.exact_distinct AS DOUBLE)", 4)} AS rel_err
FROM est e JOIN exact x
  ON e.grouping_id = x.grouping_id
 AND e.l_returnflag IS NOT DISTINCT FROM x.l_returnflag
 AND e.l_linestatus IS NOT DISTINCT FROM x.l_linestatus
"""

QUERIES["sketch_hll_cube"] = QuerySpec(sketch_hll_cube, SKETCH_HLL_CUBE_SQL)


def streaming_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of ``sketch_cms_tokens``: documents replay as
    4 real micro-batches through ``cms_ingest_stream`` (per-batch
    counter partitions + the idempotence ledger — counter ADDITION is
    not replay-absorbing, unlike the HLL rollup's min-merge), the
    merged sidecar alone estimates the top-10 exact tokens' counts.
    Counter merge == rebuild, so the ORACLE IS THE SAME SQL as the
    batch query — stream == batch, pinned by the shared hash."""
    import os as _os
    import shutil as _sh
    import tempfile as _tf

    from ue_big_data_project_spark import streaming as ST
    from ue_big_data_project_spark.streaming import ingest
    from ue_big_data_project_spark.functions.text import normalize_text
    from ue_big_data_project_spark.session import apply_session_conf

    apply_session_conf(spark)
    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    root = _tf.mkdtemp(prefix="spark_graft_cmsstream_")
    try:
        stage = _os.path.join(root, "stage")
        d.select("doc_id", "text").repartition(4).write.parquet(stage)
        sdf = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        toks_of = lambda frame: frame.select(
            F.explode(
                F.filter(
                    F.split(normalize_text(F.col("text")), " "),
                    lambda t: t != "",
                )
            ).alias("token")
        )
        # Tokenize INSIDE the stream: the counter build consumes the
        # token stream per micro-batch.
        ST.drain(spark, lambda: ingest.cms_ingest_stream(
            toks_of(sdf),
            _os.path.join(root, "counters"),
            _os.path.join(root, "ledger"),
            "token",
            depth=_CMS_D,
            width=_CMS_W,
        ))
        counters = ingest.read_cms_rollup(spark, _os.path.join(root, "counters"))
        toks = toks_of(d)
        top = (
            toks.groupBy("token")
            .agg(F.count(F.lit(1)).alias("exact_count"))
            .orderBy(F.desc("exact_count"), "token")
            .limit(10)
        )
        est = SK.cms_lookup(
            counters, top, F.col("token"), depth=_CMS_D, width=_CMS_W
        )
        return est.select(
            "token",
            "est_count",
            "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        ).localCheckpoint(eager=True)
    finally:
        _sh.rmtree(root, ignore_errors=True)


# Stream == batch: counter merge equals the single-pass build, so the
# batch oracle text applies verbatim.
QUERIES["streaming_cms_tokens"] = QuerySpec(
    streaming_cms_tokens, SKETCH_CMS_TOKENS_SQL
)
