"""Driver-contract queries: one entry per operator family (SURVEY.md §2),
each as a (spark_fn, oracle_sql) pair over /root/testdata tables, plus
rows-only geospatial pipeline queries over the synthetic pages fixture.

Conventions for DuckDB value-hash parity:
- every computed double is rounded identically on both sides;
- every aggregate/computed column is aliased identically on both sides;
- randomness is md5-based (identical hex in Spark and DuckDB);
- exact percentiles: Spark ``percentile`` == DuckDB ``quantile_cont``
  (both linear-interpolated).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import NN_PARAM
from ..functions import text as TX
from ..operators import dedup as DD
from ..operators import similarity as SIM
from ..operators.extract import extract_objects
from ..operators.knn import knn_join_broadcast
from ..operators.matching import ratio_sql
from ..operators.properties import compute_properties
from ..operators.sampling import sample_ids_fraction
from ..operators.blocking import (
    bkafi_feature_order,
    bkafi_vectors,
    run_bkafi_blocking,
)
from ..sources.pages import generate_pages_df
from ..streaming.incremental import events_tumbling_agg


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _fround(col, decimals: int):
    """Cross-engine-stable half-up rounding: floor(x*10^d + 0.5)/10^d uses
    only IEEE ops, so Spark and DuckDB agree bit-for-bit — unlike round(),
    where Spark rounds the shortest decimal repr and DuckDB the binary
    value (they split on products like 37081.645). Positive inputs only."""
    p = float(10**decimals)
    return F.floor(col * p + F.lit(0.5)) / F.lit(p)


# ==========================================================================
# relational operator families (TPC-H-ish tables) — full SQL oracles
# ==========================================================================


def q_filter_project(spark, sf_dir):
    """P1/S1: predicate + projection pushed into the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") >= 30) & (F.col("l_discount") < 0.05))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            _fround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
                "revenue"
            ),
        )
    )


SQL_FILTER_PROJECT = """
SELECT l_orderkey, l_linenumber, l_quantity,
       floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5) / 100.0 AS revenue
FROM lineitem
WHERE l_quantity >= 30 AND l_discount < 0.05
"""


def q_semi_join(spark, sf_dir):
    """P2/J6: left-semi — customers having orders, counted per segment."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


SQL_SEMI_JOIN = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
GROUP BY c_mktsegment
"""


def q_anti_join(spark, sf_dir):
    """P7/J6: left-anti — customers with no high-value order, per nation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


SQL_ANTI_JOIN = """
SELECT c_nationkey, count(*) AS n_customers
FROM customer WHERE c_custkey NOT IN
  (SELECT o_custkey FROM orders WHERE o_totalprice > 250000)
GROUP BY c_nationkey
"""


def q_group_agg(spark, sf_dir):
    """A2/A8: TPC-H Q1-shaped grouped aggregation (partial+final agg free
    from Catalyst)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-11-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            _fround(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            _fround(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


SQL_GROUP_AGG = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       floor(sum(l_extendedprice * (1 - l_discount)) * 100.0 + 0.5) / 100.0
         AS sum_disc_price,
       floor(avg(l_quantity) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= '2024-11-01'
GROUP BY l_returnflag, l_linestatus
"""


def q_topk_window(spark, sf_dir):
    """W1: per-key top-k by rank window with deterministic tie-break."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank", "o_totalprice")
    )


SQL_TOPK_WINDOW = """
SELECT o_custkey, o_orderkey, rank, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders) WHERE rank <= 3
"""


def q_ratio_feature(spark, sf_dir):
    """F1/J5: the reference ratio kernel — least(1000, round(c/i,3)),
    divide-by-zero → 1000 (process_pairs.py:42-66)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey)
    return j.select(
        "o_orderkey",
        "o_custkey",
        F.expr(ratio_sql("o_totalprice", "c_acctbal")).alias("price_ratio"),
    )


SQL_RATIO_FEATURE = """
SELECT o_orderkey, o_custkey,
       CASE WHEN c_acctbal = 0 THEN 1000.0
            ELSE least(1000.0, round(o_totalprice / c_acctbal, 3)) END AS price_ratio
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def q_percentile_agg(spark, sf_dir):
    """A4/A9: exact linear-interpolated percentiles per group."""
    li = _t(spark, sf_dir, "lineitem")
    qs = li.groupBy("l_returnflag").agg(
        F.percentile(
            F.col("l_extendedprice"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
        ).alias("q")
    )
    return qs.select(
        "l_returnflag",
        F.round(F.element_at("q", 1), 4).alias("q25"),
        F.round(F.element_at("q", 2), 4).alias("q50"),
        F.round(F.element_at("q", 3), 4).alias("q75"),
    )


SQL_PERCENTILE_AGG = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS q25,
       round(quantile_cont(l_extendedprice, 0.50), 4) AS q50,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS q75
FROM lineitem GROUP BY l_returnflag
"""


def q_robust_scale(spark, sf_dir):
    """A9: RobustScaler semantics — (x - median)/IQR per group, as a
    join of per-group exact percentiles back onto rows."""
    s = _t(spark, sf_dir, "supplier")
    stats = s.groupBy("s_nationkey").agg(
        F.percentile(F.col("s_acctbal"), F.lit(0.5)).alias("med"),
        (
            F.percentile(F.col("s_acctbal"), F.lit(0.75))
            - F.percentile(F.col("s_acctbal"), F.lit(0.25))
        ).alias("iqr"),
    )
    j = s.join(stats, "s_nationkey")
    scaled = (F.col("s_acctbal") - F.col("med")) / F.when(
        F.col("iqr") == 0.0, F.lit(1.0)
    ).otherwise(F.col("iqr"))
    return j.select("s_suppkey", F.round(scaled, 6).alias("acctbal_scaled"))


SQL_ROBUST_SCALE = """
WITH stats AS (
  SELECT s_nationkey,
         quantile_cont(s_acctbal, 0.5) AS med,
         quantile_cont(s_acctbal, 0.75) - quantile_cont(s_acctbal, 0.25) AS iqr
  FROM supplier GROUP BY s_nationkey)
SELECT s_suppkey,
       round((s_acctbal - med) / (CASE WHEN iqr = 0 THEN 1.0 ELSE iqr END), 6)
         AS acctbal_scaled
FROM supplier JOIN stats USING (s_nationkey)
"""


def q_set_intersect(spark, sf_dir):
    """SO1: id intersection."""
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_suppkey").alias("suppkey"))
    return s.intersect(li)


SQL_SET_INTERSECT = """
SELECT s_suppkey AS suppkey FROM supplier
INTERSECT
SELECT l_suppkey AS suppkey FROM lineitem
"""


def q_set_except(spark, sf_dir):
    """SO2: id difference (ids minus the big-order id set)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 250000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return c.exceptAll(o).distinct()


SQL_SET_EXCEPT = """
SELECT c_custkey AS custkey FROM customer
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000
"""


def q_union_label(spark, sf_dir):
    """SO3/P4: labeled union (pos/neg concat + label attach)."""
    o = _t(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 300000).select(
        "o_orderkey", F.lit(1).alias("label")
    )
    lo = o.filter(F.col("o_totalprice") < 50000).select(
        "o_orderkey", F.lit(0).alias("label")
    )
    return hi.unionByName(lo)


SQL_UNION_LABEL = """
SELECT o_orderkey, 1 AS label FROM orders WHERE o_totalprice > 300000
UNION ALL
SELECT o_orderkey, 0 AS label FROM orders WHERE o_totalprice < 50000
"""


def q_ratio_stats(spark, sf_dir):
    """A3: per-group mean + stddev_pop of a ratio, sorted by std
    (classifier.py:224-233 shape)."""
    c = _t(spark, sf_dir, "customer")
    navg = c.groupBy("c_nationkey").agg(F.avg("c_acctbal").alias("nat_avg"))
    j = c.join(navg, "c_nationkey").filter(F.col("nat_avg") != 0)
    ratio = F.col("c_acctbal") / F.col("nat_avg")
    return (
        j.groupBy("c_nationkey")
        .agg(
            F.round(F.avg(ratio), 3).alias("ratio_mean"),
            F.round(F.stddev_pop(ratio), 3).alias("ratio_std"),
        )
    )


SQL_RATIO_STATS = """
WITH navg AS (
  SELECT c_nationkey, avg(c_acctbal) AS nat_avg FROM customer GROUP BY c_nationkey)
SELECT c_nationkey,
       round(avg(c_acctbal / nat_avg), 3) AS ratio_mean,
       round(stddev_pop(c_acctbal / nat_avg), 3) AS ratio_std
FROM customer JOIN navg USING (c_nationkey)
WHERE nat_avg <> 0
GROUP BY c_nationkey
"""


def q_seed_mean_pivot(spark, sf_dir):
    """A8: per-config mean over 'seeds' as conditional aggregation
    (utils.py:303-346 shape; pivot via when-sums)."""
    e = _t(spark, sf_dir, "events")
    seed = (F.col("user_id") % 3).alias("seed")
    base = e.select("event_type", seed, "value")
    outs = [
        F.round(
            F.avg(F.when(F.col("seed") == i, F.col("value"))), 4
        ).alias(f"avg_seed_{i}")
        for i in range(3)
    ]
    return base.groupBy("event_type").agg(
        *outs, F.round(F.avg("value"), 4).alias("avg_all")
    )


SQL_SEED_MEAN_PIVOT = """
SELECT event_type,
       round(avg(CASE WHEN user_id % 3 = 0 THEN value END), 4) AS avg_seed_0,
       round(avg(CASE WHEN user_id % 3 = 1 THEN value END), 4) AS avg_seed_1,
       round(avg(CASE WHEN user_id % 3 = 2 THEN value END), 4) AS avg_seed_2,
       round(avg(value), 4) AS avg_all
FROM events GROUP BY event_type
"""


def q_sampled_subset(spark, sf_dir):
    """R2: deterministic md5-ranked fraction sample (seeded, order- and
    partitioning-invariant)."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("obj_id")
    )
    return sample_ids_fraction(c, "obj_id", 0.2, seed=7).select(
        F.col("obj_id").cast("long").alias("c_custkey")
    )


SQL_SAMPLED_SUBSET = """
SELECT CAST(obj_id AS BIGINT) AS c_custkey FROM (
  SELECT CAST(c_custkey AS VARCHAR) AS obj_id,
         row_number() OVER (ORDER BY md5('7|' || CAST(c_custkey AS VARCHAR))) AS r
  FROM customer)
WHERE r <= CAST(0.2 * (SELECT count(*) FROM customer) AS INT)
"""


def q_negative_sampling(spark, sf_dir):
    """R1 (portable form): 2 deterministic 'negative' suppliers per
    customer via md5 pair-ranking (small-side cross join)."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 50)
        .select("c_custkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey")
    pairs = c.crossJoin(s)
    h = F.md5(
        F.concat(
            F.lit("5|"),
            F.col("c_custkey").cast("string"),
            F.lit("|"),
            F.col("s_suppkey").cast("string"),
        )
    )
    w = Window.partitionBy("c_custkey").orderBy(h)
    return (
        pairs.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 2)
        .select("c_custkey", "s_suppkey", "r")
    )


SQL_NEGATIVE_SAMPLING = """
SELECT c_custkey, s_suppkey, r FROM (
  SELECT c_custkey, s_suppkey,
         row_number() OVER (
           PARTITION BY c_custkey
           ORDER BY md5('5|' || CAST(c_custkey AS VARCHAR) || '|'
                        || CAST(s_suppkey AS VARCHAR))) AS r
  FROM customer, supplier WHERE c_custkey <= 50)
WHERE r <= 2
"""


def q_contamination(spark, sf_dir):
    """R3: hash-picked row subset gets x → min(1000, 1/x)
    (contamination_experiments.py:67-85); pick = first md5 hex char in
    0-3 (25% rate), portable to any engine."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    key = F.concat(
        F.lit("3|"),
        F.col("l_orderkey").cast("string"),
        F.lit("|"),
        F.col("l_linenumber").cast("string"),
    )
    picked = F.substring(F.md5(key), 1, 1).isin("0", "1", "2", "3")
    contaminated = F.when(F.col("l_quantity") == 0.0, F.lit(0.0)).otherwise(
        F.least(F.lit(1000.0), F.round(1.0 / F.col("l_quantity"), 6))
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(picked, contaminated).otherwise(F.col("l_quantity")).alias("q_cont"),
    )


SQL_CONTAMINATION = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN substr(md5('3|' || CAST(l_orderkey AS VARCHAR) || '|'
                          || CAST(l_linenumber AS VARCHAR)), 1, 1)
                 IN ('0','1','2','3')
            THEN CASE WHEN l_quantity = 0 THEN 0.0
                      ELSE least(1000.0, round(1.0 / l_quantity, 6)) END
            ELSE l_quantity END AS q_cont
FROM lineitem
"""


def q_knn_window(spark, sf_dir):
    """J1 (1-d relational analog): 3 nearest same-nation customers by
    |acctbal difference|, ties by neighbor key — the equi-join + rank
    window shape of the blocking kNN.

    Sub-quadratic plan (round 4): instead of the naive per-nation self
    join (|group|² pairs before the rank window), build a *distinct-value
    ribbon*: for each distinct (nation, acctbal) the 4 smallest custkeys
    (tie-break winners — a query needs at most 3 neighbors from any one
    value, +1 in case itself is among them), then lag/lead the 3 nearest
    distinct values per side over a per-nation window. Every customer's
    exact top-3 lies inside its own value group plus those ≤6 neighbor
    values: a member of the 4th-nearest distinct value on a side is
    strictly farther than ≥1 member at each of that side's 3 nearer
    values plus any own-value member, so ≥3 candidates beat it.
    Candidate rows are O(28·n) instead of O(n²/nation).

    Exactness precondition (holds for TPC-H acctbal): values lie on a
    0.01 lattice, so distinct true distances differ by ≥0.01 and the
    oracle's round(dist, 2) cannot merge ranks across pruned values.
    """
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("cand"),
        F.col("c_acctbal").alias("bal"),
    )
    wv = Window.partitionBy("nk", "bal").orderBy("cand")
    members = (
        c.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") <= 4)
        .groupBy("nk", "bal")
        .agg(F.sort_array(F.collect_list("cand")).alias("keys"))
    )
    wn = Window.partitionBy("nk").orderBy("bal")
    own = F.struct(F.col("bal").alias("v"), F.col("keys").alias("ks"))
    neigh = [own]
    ribbon = members
    for off in range(1, 4):
        for fn, nm in ((F.lag, f"lo{off}"), (F.lead, f"hi{off}")):
            ribbon = ribbon.withColumn(nm, fn(own, off).over(wn))
            neigh.append(F.col(nm))
    ribbon = ribbon.select(
        "nk",
        "bal",
        F.filter(F.array(*neigh), lambda s: s.isNotNull()).alias("packs"),
    )
    exploded = (
        c.join(ribbon, ["nk", "bal"])
        .select("cand", "bal", F.explode("packs").alias("p"))
        .select("cand", "bal", F.col("p.v").alias("vb"), F.explode("p.ks").alias("neighbor"))
        .filter(F.col("cand") != F.col("neighbor"))
    )
    dist = F.round(F.abs(F.col("bal") - F.col("vb")), 2)
    w = Window.partitionBy("cand").orderBy(dist.asc(), F.col("neighbor").asc())
    return (
        exploded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("cand", "neighbor", "rank", dist.alias("dist"))
    )


SQL_KNN_WINDOW = """
SELECT cand, neighbor, rank, dist FROM (
  SELECT a.c_custkey AS cand, b.c_custkey AS neighbor,
         round(abs(a.c_acctbal - b.c_acctbal), 2) AS dist,
         row_number() OVER (
           PARTITION BY a.c_custkey
           ORDER BY round(abs(a.c_acctbal - b.c_acctbal), 2) ASC,
                    b.c_custkey ASC) AS rank
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey <> b.c_custkey)
WHERE rank <= 3
"""


def q_tumbling_window(spark, sf_dir):
    """Streaming-shaped tumbling-window aggregation (same plan under
    readStream; batch form checked against the oracle)."""
    e = _t(spark, sf_dir, "events")
    return events_tumbling_agg(e, "1 day")


SQL_TUMBLING_WINDOW = """
SELECT date_trunc('day', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
"""


# ==========================================================================
# documents: dedup + text analysis
# ==========================================================================


def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return DD.dedup_exact(d)


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, min(doc_id) AS rep_id, count(*) AS dup_count
FROM documents GROUP BY md5(text)
"""


def q_token_count(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.char_count(F.col("text")).alias("n_chars_text"),
        TX.token_count(F.col("text")).alias("n_tokens"),
    )


SQL_TOKEN_COUNT = r"""
SELECT doc_id, length(text) AS n_chars_text,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
FROM documents
"""


def q_text_scores(spark, sf_dir):
    """Per-document text-analysis scores in ONE scan: quality heuristics
    (punct ratio / mean token length / composite score) plus the n-gram
    language-ID prediction.  Merged from the former ``text_quality`` and
    ``lang_id`` queries (round 5) so the full driver surface fits the
    50-query correctness budget — both operators keep their own SQL
    oracle, joined on doc_id."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(TX.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
        F.round(TX.mean_token_len(F.col("text")), 6).alias("mean_token_len"),
        F.round(TX.quality_score(F.col("text")), 6).alias("quality"),
        TX.lang_id(F.col("text")).alias("lang_pred"),
    )


SQL_TEXT_QUALITY = r"""
WITH base AS (
  SELECT doc_id, text, length(text) AS n,
         (length(text) - length(regexp_replace(text, '[.,;:!?''"()-]', '', 'g')))
           * 1.0 / length(text) AS pr,
         length(regexp_replace(text, '\s+', '', 'g')) * 1.0
           / len(regexp_split_to_array(trim(text), '\s+')) AS mtl
  FROM documents)
SELECT doc_id,
       round(pr, 6) AS punct_ratio,
       round(mtl, 6) AS mean_token_len,
       round(((CASE WHEN n BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.5 END) +
              (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.5 END) +
              (CASE WHEN mtl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)) / 3.0,
             6) AS quality
FROM base
"""


def _sql_lang_score(lang_markers):
    parts = []
    for m in lang_markers:
        mm = m.replace("'", "''")
        parts.append(
            f"(length(padded) - length(replace(padded, '{mm}', ''))) / {len(m)}.0"
        )
    return " + ".join(parts)


_L = {k: _sql_lang_score(v) for k, v in TX.LANG_MARKERS.items()}

SQL_LANG_ID = f"""
WITH s AS (
  SELECT doc_id,
         {_L['de']} AS s_de, {_L['en']} AS s_en, {_L['es']} AS s_es,
         {_L['fr']} AS s_fr, {_L['nl']} AS s_nl
  FROM (SELECT doc_id, ' ' || text || ' ' AS padded FROM documents))
SELECT doc_id,
       CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_nl) <= 0 THEN 'und'
            WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_nl) THEN 'de'
            WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_nl) THEN 'en'
            WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_nl) THEN 'es'
            WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_nl) THEN 'fr'
            ELSE 'nl' END AS lang_pred
FROM s
"""

SQL_TEXT_SCORES = (
    f"SELECT q.doc_id, q.punct_ratio, q.mean_token_len, q.quality, "
    f"l.lang_pred FROM ({SQL_TEXT_QUALITY}) q "
    f"JOIN ({SQL_LANG_ID}) l USING (doc_id)"
)


def q_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint64(F.col("text")).alias("fp"))


SQL_FINGERPRINT = """
SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp
FROM documents
"""


def q_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram jaccard near-dup pairs (threshold 0.2 so the
    synthetic word-soup corpus yields rows)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return DD.ngram_jaccard_pairs(d, n=3, threshold=0.2).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


SQL_NGRAM_JACCARD = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
  FROM documents WHERE doc_id < 200),
g AS (
  SELECT doc_id,
         list_distinct([array_to_string(ws[i:i+2], ' ')
                        for i in range(1, greatest(len(ws) - 2, 1) + 1)]) AS grams
  FROM w),
e AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram FROM g),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         any_value(a.n_grams) AS n_a, any_value(b.n_grams) AS n_b,
         count(*) AS n_common
  FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b,
       round(n_common * 1.0 / (n_a + n_b - n_common), 6) AS jaccard
FROM inter
WHERE n_common * 1.0 / (n_a + n_b - n_common) >= 0.2
"""


def q_minhash_dedup(spark, sf_dir):
    """MinHash-LSH near-dup candidates (rows-only oracle: signature hashing
    is engine-defined; layer-1 pytest checks its determinism + recall on
    planted duplicates)."""
    d = _t(spark, sf_dir, "documents")
    # row count from parquet metadata (cheap) → lets the pair step decide
    # whether the signature back-join can broadcast (see minhash_lsh_pairs)
    n_docs = d.count()
    sigs = DD.minhash_signatures(d, n_hashes=64, shingle_k=5)
    return DD.minhash_lsh_pairs(sigs, bands=16, n_hashes=64, n_ids=n_docs)


def q_simhash_dedup(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    sigs = DD.simhash_signatures(d, shingle_k=4)
    return DD.simhash_near_dup_pairs(sigs, max_hamming=6)


# ==========================================================================
# embeddings: similarity search
# ==========================================================================


def q_cosine_topk(spark, sf_dir):
    """All THREE exact IP/cosine top-k kernels in one query, discriminated
    by a ``kernel`` column (merged round 5 so the driver surface fits the
    50-query budget): ``xjoin`` = the crossJoin reference form, ``flat`` =
    the broadcast-GEMM driver-collect kernel, ``bigindex`` = the
    inverted-broadcast streamed-index kernel (the beyond-2M scale path).
    All three are exact, so one brute-force DuckDB oracle (cross-joined
    with the three kernel labels) checks them simultaneously — any kernel
    diverging from any other fails the hash."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    outs = []
    for kern, fn in (
        ("xjoin", SIM.cosine_topk),
        ("flat", SIM.dense_cosine_topk),
        ("bigindex", SIM.dense_cosine_topk_bigindex),
    ):
        outs.append(
            fn(e, q, k=5).select(
                F.lit(kern).alias("kernel"),
                "query_id",
                "vec_id",
                "rank",
                F.round("cosine", 6).alias("cosine"),
            )
        )
    return outs[0].unionByName(outs[1]).unionByName(outs[2])


SQL_COSINE_TOPK = """
SELECT query_id, vec_id, rank, round(cosine, 6) AS cosine FROM (
  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         list_dot_product(q.embedding::DOUBLE[], b.embedding::DOUBLE[])
           / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
              * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
           AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_dot_product(q.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
             DESC, b.vec_id ASC) AS rank
  FROM embeddings q JOIN embeddings b ON q.vec_id <> b.vec_id
  WHERE q.vec_id < 20)
WHERE rank <= 5
"""

SQL_DENSE_TOPK_KERNELS = (
    "SELECT kern.kernel, t.query_id, t.vec_id, t.rank, t.cosine "
    "FROM (VALUES ('xjoin'), ('flat'), ('bigindex')) kern(kernel) "
    f"CROSS JOIN ({SQL_COSINE_TOPK}) t"
)


def q_embedding_near_dup(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    out = SIM.embedding_near_dup_pairs(e, threshold=0.3, bucket_col="label")
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


SQL_EMBEDDING_NEAR_DUP = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
         / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
            * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
         6) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
        / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
           * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
      >= 0.3
"""


def q_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN (rows-only oracle; pytest checks bucket collision
    recall vs brute force)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    out = SIM.lsh_cosine_topk(e, q, k=5, n_planes=6)
    return out.select(
        "query_id", "vec_id", "rank", F.round("cosine", 6).alias("cosine")
    )


def q_ivf_topk(spark, sf_dir):
    """IVF (k-means coarse quantizer) approximate NN — the data-adaptive
    sibling of lsh_topk. The expected-parquet oracle recomputes the
    quantizer from the documented spec; DuckDB then executes the
    probe-x-bucket join / cosine / top-k itself."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    out = SIM.ivf_cosine_topk(e, q, k=5, n_centroids=16, n_probe=4)
    return out.select(
        "query_id", "vec_id", "rank", _fround(F.col("cosine"), 6).alias("cosine")
    )


# ==========================================================================
# geospatial pipeline (synthetic pages; rows-only oracles — the exact-
# parity gate for these lives in tests/ against the numpy oracle)
# ==========================================================================


def _geo_pages(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").count()
    n_entities = max(40, li // 100)
    return generate_pages_df(spark, n_entities, seed=42)


def q_geo_extract(spark, sf_dir):
    objects = extract_objects(_geo_pages(spark, sf_dir), zoom=15)
    return objects.select(
        "obj_id",
        "source",
        "url",
        "n_surfaces",
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
        "cell_id",
    )


def q_geo_properties(spark, sf_dir):
    from ..operators.properties import pages_to_properties
    from ..config import OBJECT_PROPERTIES

    props = pages_to_properties(_geo_pages(spark, sf_dir), zoom=15, log1p=True)
    rounded = [F.round(p, 6).alias(p) for p in OBJECT_PROPERTIES]
    return props.select("obj_id", "source", *rounded)


def q_geo_blocking_pairs(spark, sf_dir):
    """BKAFI blocking candidates under BOTH feature-selection criteria,
    discriminated by a ``criterion`` column (merged from the former
    separate ``geo_blocking_fi`` query, round 5): ``sdr`` = the
    ratio-stability criterion, ``fi`` = the learned RF feature-importance
    order (the reference default, config.py:68).  Each half keeps its own
    expected-parquet oracle, unioned in SQL."""
    from ..operators.matching_model import learned_feature_order
    from ..operators.properties import pages_to_properties

    props = pages_to_properties(
        _geo_pages(spark, sf_dir), zoom=15, log1p=True
    ).persist()
    cols = ["bkafi_dim", "cand_id", "index_id", "rank", "dist", "label"]
    res_sdr = run_bkafi_blocking(
        props, dims=[3], k_list=(1, 5, 20), nn_param=NN_PARAM
    )
    order, _ = learned_feature_order(props, n_neg=2, seed=1, n_trees=15)
    res_fi = run_bkafi_blocking(
        props, dims=[3], k_list=(1, 5, 20), nn_param=NN_PARAM,
        feature_order=order,
    )
    return res_sdr.candidates.select(
        F.lit("sdr").alias("criterion"), *cols
    ).unionByName(
        res_fi.candidates.select(F.lit("fi").alias("criterion"), *cols)
    )


def q_geo_blocking_recall(spark, sf_dir):
    from ..operators.properties import pages_to_properties

    props = pages_to_properties(_geo_pages(spark, sf_dir), zoom=15, log1p=True)
    res = run_bkafi_blocking(props, dims=[1, 3], k_list=(1, 5, 20), nn_param=NN_PARAM)
    return spark.createDataFrame(res.recall)


def q_geo_match_decisions(spark, sf_dir):
    from ..plans.pipeline import run_pipeline

    res = run_pipeline(
        spark, _geo_pages(spark, sf_dir), bkafi_dim=3, with_features=False
    )
    return res["matches"].select("cand_id", "index_id", "rank", "dist", "label")


def q_geo_pair_features(spark, sf_dir):
    from ..operators.properties import pages_to_properties

    props = pages_to_properties(_geo_pages(spark, sf_dir), zoom=15, log1p=True)
    order = bkafi_feature_order(props)
    cands_v, index_v = bkafi_vectors(props, order[:3])
    nn = knn_join_broadcast(cands_v, index_v, 5)
    from ..operators.matching import pair_features

    feats = pair_features(nn.select("cand_id", "index_id"), props)
    ratio_cols = [c for c in feats.columns if c.endswith("_ratio")]
    return feats.select(
        "cand_id", "index_id", *[F.round(c, 3).alias(c) for c in ratio_cols]
    )


def q_geo_tiles(spark, sf_dir):
    from ..operators.tiles import footprints, tile_assignments

    objects = extract_objects(_geo_pages(spark, sf_dir), zoom=15)
    fp = footprints(objects.filter(F.col("source") == "cands"))
    return tile_assignments(fp, zoom=18).select(
        "obj_id", "tile_x", "tile_y", "zoom", F.round("coverage", 6).alias("coverage")
    )


def q_geo_pip(spark, sf_dir):
    from ..operators.tiles import footprints, pip_join

    objects = extract_objects(_geo_pages(spark, sf_dir), zoom=15)
    fp = footprints(objects.filter(F.col("source") == "cands"))
    pts = objects.filter(F.col("source") == "index").select(
        F.col("obj_id").alias("point_id"), "lon", "lat"
    )
    return pip_join(pts, fp, zoom=18)


def q_geo_threshold_sweep(spark, sf_dir):
    """Full percentile-threshold sweep (reference §3.3,
    bkafi_with_threshold.py): recall / cand_pairs_num / reduction_ratio
    at every percentile 0..0.995 step .005, one distributed pass."""
    from ..config import THRESHOLD_PERCENTILES
    from ..operators.knn import knn_join_broadcast
    from ..operators.matching import (
        matched_pair_vectors,
        percentile_thresholds,
        threshold_stats,
    )
    from ..operators.properties import pages_to_properties

    props = pages_to_properties(
        _geo_pages(spark, sf_dir), zoom=15, log1p=True
    ).persist()
    order = bkafi_feature_order(props)
    dists, _ = matched_pair_vectors(props, order[:3])
    thresholds = percentile_thresholds(dists, THRESHOLD_PERCENTILES)
    cands_v, index_v = bkafi_vectors(props, order[:3])
    cand_tbl = knn_join_broadcast(cands_v, index_v, 100, round_dists=7)
    sc = (
        props.groupBy("obj_id")
        .agg(
            F.max((F.col("source") == "cands").cast("int")).alias("c"),
            F.max((F.col("source") == "index").cast("int")).alias("i"),
        )
        .agg(
            F.sum("c").alias("n_c"),
            F.sum("i").alias("n_i"),
            F.sum(F.col("c") * F.col("i")).alias("n_int"),
        )
        .first()
    )
    stats = threshold_stats(
        cand_tbl, thresholds, int(sc["n_c"]), int(sc["n_i"]), int(sc["n_int"])
    )
    # threshold_val is a raw percentile interpolation — round it so the
    # independent numpy oracle (np.percentile differs in ulps from Spark's
    # exact percentile) lands on the same bits
    return spark.createDataFrame(stats).withColumn(
        "threshold_val", _fround(F.col("threshold_val"), 6)
    )


def q_geo_seed_mean_recall(spark, sf_dir):
    """3-seed blocking evaluation with seed-mean aggregation (reference
    main.py:32-38 + utils.py:303-346): per-seed recall@k rows pivoted to
    the mean over seeds."""
    from ..operators.properties import pages_to_properties
    from ..sources.results import seed_mean_results

    li = _t(spark, sf_dir, "lineitem").count()
    n_entities = max(30, li // 400)  # smaller per-seed set: 3 full runs
    rows = []
    for seed in (1, 2, 3):
        pages = generate_pages_df(spark, n_entities, seed=seed)
        props = pages_to_properties(pages, zoom=15, log1p=True)
        res = run_bkafi_blocking(
            props, dims=[3], k_list=(1, 5, 20), nn_param=NN_PARAM
        )
        for _, r in res.recall.iterrows():
            rows.append(
                (f"dim{int(r['bkafi_dim'])}", seed, f"recall_at_{int(r['k'])}",
                 float(r["blocking_recall"]))
            )
    metrics = spark.createDataFrame(
        rows, "model string, seed int, metric string, value double"
    )
    return seed_mean_results(metrics)


def q_geo_centroid_knn(spark, sf_dir):
    from ..operators.blocking import centroid_blocking

    objects = extract_objects(_geo_pages(spark, sf_dir), zoom=15)
    return centroid_blocking(objects, k=5, strategy="broadcast")


def q_geo_partitions(spark, sf_dir):
    """Dataset partition generator summary (reference data_partition.py /
    data_partition_dirty.py): train/test-matching pair sets + test-blocking
    id sets, reduced to per-(split,size,key) row/positive counts."""
    from ..plans.partitions import create_dataset_partition, partition_summary

    objects = extract_objects(_geo_pages(spark, sf_dir), zoom=15)
    cands = objects.filter(F.col("source") == "cands").select("obj_id")
    index = objects.filter(F.col("source") == "index").select("obj_id")
    part = create_dataset_partition(
        cands,
        index,
        seed=1,
        train_size_ratios={"small": 0.1, "large": 0.6},
        test_size_ratios={"small": 0.1, "large": 1.0},
        train_neg_samples=(2,),
        test_neg_samples=(2,),
    )
    return partition_summary(part).orderBy("split", "size", "key")


def q_geo_transform(spark, sf_dir):
    """J7 Kabsch/Procrustes centroid alignment (reference blocking.py:78-92
    'centroid_with_transform'): fitted rotation/scale/translation params as
    one row (planted-transform recovery is asserted in pytest)."""
    from ..operators.transform import fit_centroid_transform

    objects = extract_objects(_geo_pages(spark, sf_dir), zoom=15)
    params = fit_centroid_transform(objects)
    R = params["R"]
    row = {
        f"r{a}{b}": round(float(R[a][b]), 6) for a in range(3) for b in range(3)
    }
    row["scale"] = round(float(params["scale"]), 6)
    for i, v in enumerate(params["t"]):
        row[f"t{i}"] = round(float(v), 4)
    import pandas as pd

    cols = sorted(row)
    return spark.createDataFrame(pd.DataFrame([{c: row[c] for c in cols}]))


def q_media_features(spark, sf_dir):
    """Multimodal plumbing end-to-end (operators/multimodal.py): opaque
    binary blobs (the pages' html bytes) → Arrow-batched fake-decode
    feature kernel → exploded (media_id, bin, value) rows. The decode stub
    is deterministic (64-bin byte histogram), so the expected-parquet
    oracle recomputes it independently."""
    from ..operators.multimodal import extract_media_features

    media = _geo_pages(spark, sf_dir).select(
        F.col("url").alias("media_id"), F.col("html").alias("blob")
    )
    feats = extract_media_features(media, fake=True)
    return feats.select(
        "media_id",
        "n_bytes",
        F.posexplode("features").alias("bin", "value"),
    ).select(
        "media_id", "n_bytes", "bin", _fround(F.col("value"), 6).alias("value")
    )


def q_image_features(spark, sf_dir):
    """REAL multimodal decode path: planted BMP/PPM blobs (sources/
    media.py, born scan-side) → pure-numpy container decode
    (operators/multimodal.py::_decode_image) → integer-exact 64-dim
    pixel features, exploded. The oracle recomputes features from the
    PIXEL SPEC directly (tools/gen_expected.py::expected_image_features,
    no engine imports), so a broken encoder OR decoder goes red."""
    from ..operators.multimodal import extract_media_features
    from ..sources.media import generate_media_df

    li = _t(spark, sf_dir, "lineitem").count()
    n = max(40, li // 400)
    media = generate_media_df(spark, n, seed=5)
    feats = extract_media_features(media, fake=False)
    return feats.select(
        "media_id",
        "n_bytes",
        F.posexplode("features").alias("bin", "value"),
    ).select(
        "media_id", "n_bytes", "bin", _fround(F.col("value"), 6).alias("value")
    )


def q_render_features(spark, sf_dir):
    """S7 render baseline end-to-end (reference utils.py:134-163
    ``generate_png_fig`` renders every object's mesh to a PNG for the
    image matching baseline): extract → RENDER SPEC v1 integer
    rasterizer (operators/render.py) → real PNG container bytes
    (functions/png.py) → pure-numpy PNG decode → integer-exact 64-dim
    pixel features. The oracle scalar-reimplements the whole chain from
    the documented specs (raster integers, stdlib-zlib container
    arithmetic, pixel formula) with no engine imports, so a broken
    rasterizer, encoder, or decoder goes red."""
    from ..operators.multimodal import extract_media_features
    from ..operators.render import render_objects_png

    objects = extract_objects(_geo_pages(spark, sf_dir), zoom=15).select(
        F.concat_ws("|", "source", "obj_id").alias("objkey"),
        "coords",
        "ring_offsets",
    )
    rend = render_objects_png(objects, id_col="objkey")
    feats = extract_media_features(rend, id_col="obj_id", blob_col="blob")
    return feats.select(
        F.col("media_id").alias("obj_key"),
        "n_bytes",
        F.posexplode("features").alias("bin", "value"),
    ).select(
        "obj_key", "n_bytes", "bin", _fround(F.col("value"), 6).alias("value")
    )


def q_geo_image_blocking(spark, sf_dir):
    """S8 image-embedding blocking + PC@k (reference blocking.py:176-191
    ``_run_vit``: CLIP embeddings → faiss.IndexFlatIP top-k per cand;
    recall metric pipelines.py:386, TR Tables 3/4): extract → RENDER SPEC
    v1 rasterizer → deterministic encoder → dense broadcast-GEMM IP top-k
    (exclude_self=False — the id-equal row IS the true match) → one
    (k, n_hits, n_intersection, pc) row per k. The oracle
    scalar-reimplements raster → encoder → brute-force IP rank of the
    true match from the documented specs (tools/gen_expected.py::
    expected_image_blocking, no engine imports), so a broken rasterizer,
    encoder, or top-k kernel goes red."""
    from ..plans.contrastive import run_image_blocking

    return run_image_blocking(
        spark, _geo_pages(spark, sf_dir), k_list=(1, 5, 20)
    )


def q_contrastive_quality(spark, sf_dir):
    """M5 contrastive image-matching lifecycle (reference
    contrastive_training_matching_with contamination.py:27-151
    ``run_pipeline``): render every object (S7) → deterministic image
    encoder (S8 stand-in, operators/contrastive.py) → blocking-based
    pos/neg image pairs → |emb1-emb2| features (JVM columns) → driver-fit
    MLP head → distributed predict → one P/R/F1 row. Same smaller entity
    set as matching_quality (the render+encode pass dominates)."""
    from ..plans.contrastive import run_contrastive_matching

    li = _t(spark, sf_dir, "lineitem").count()
    n_entities = max(30, li // 400)
    pages = generate_pages_df(spark, n_entities, seed=42)
    res = run_contrastive_matching(spark, pages, n_neg=2, seed=1)
    return spark.createDataFrame(res)


def q_geo_matching_quality(spark, sf_dir):
    """Matching-quality lifecycle (reference §3.2): blocking-based pair
    partitions → 25 ratio features → cv=3 grid search over two backbones
    → distributed predict → per-model precision/recall/F1. Smaller entity
    set (like seed-mean): the driver-side grid search is the reference's
    own topology (GridSearchCV on collected numpy)."""
    from ..operators.properties import pages_to_properties
    from ..plans.matching_quality import run_matching_quality

    li = _t(spark, sf_dir, "lineitem").count()
    n_entities = max(30, li // 400)
    pages = generate_pages_df(spark, n_entities, seed=42)
    props = pages_to_properties(pages, zoom=15, log1p=True)
    res = run_matching_quality(spark, props, bkafi_dim=3, n_neg=2, seed=1)
    return spark.createDataFrame(res)


def q_stream_dedup(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState,
    streaming/stateful.py): first-seen dedup by content fingerprint with
    TTL-bounded state. The documents table is replayed as TWO parquet
    micro-batches (low doc_ids first), so the emitted winner per
    fingerprint equals the batch truth MIN(doc_id) — which is the DuckDB
    oracle."""
    import os
    import tempfile
    import uuid

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", TX.fingerprint64(F.col("text")).alias("fingerprint"))
        .toPandas()
    )
    d = d.sort_values("doc_id").reset_index(drop=True)
    tmp = tempfile.mkdtemp(prefix="gom_stream_dedup_")
    import pyarrow as pa
    import pyarrow.parquet as pq

    half = len(d) // 2
    pa_path = os.path.join(tmp, "a.parquet")
    pb_path = os.path.join(tmp, "b.parquet")
    pq.write_table(pa.Table.from_pandas(d.iloc[:half], preserve_index=False), pa_path)
    pq.write_table(pa.Table.from_pandas(d.iloc[half:], preserve_index=False), pb_path)
    # FileStreamSource orders micro-batches by modification time; the
    # low-doc_id chunk must be processed first for first-seen == MIN(doc_id)
    now = os.path.getmtime(pb_path)
    os.utime(pa_path, (now - 10, now - 10))

    from ..streaming.stateful import DOCS_STREAM_SCHEMA, stream_dedup_first_seen

    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(tmp)
    )
    name = f"sdedup_{uuid.uuid4().hex[:8]}"
    # availableNow: process everything then terminate (the batch-replay
    # trigger); no TTL here — registered processing-time timeouts would
    # keep the query alive past the replayed data (see stateful.py)
    q = (
        stream_dedup_first_seen(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    return spark.table(name)


SQL_STREAM_DEDUP = """
SELECT ('0x' || substr(md5(text), 1, 15))::BIGINT AS fingerprint,
       MIN(doc_id) AS doc_id
FROM documents
GROUP BY 1
"""


def q_stream_cell_topk(spark, sf_dir):
    """Stateful incremental per-cell top-k (applyInPandasWithState,
    streaming/stateful.py). One micro-batch here (so the append-mode
    memory sink holds exactly the final leaderboard; cross-batch merging
    is covered in tests/test_streaming_stateful.py); the oracle is a
    row_number window over the geo_extract expected parquet — the score
    is the extraction's own rounded lat, bit-equal on both sides."""
    import os
    import tempfile
    import uuid

    objects = extract_objects(_geo_pages(spark, sf_dir), zoom=15)
    rows = objects.select(
        "cell_id",
        F.concat_ws(":", "source", "obj_id").alias("obj_id"),
        F.round("lat", 6).alias("score"),
    ).toPandas()
    tmp = tempfile.mkdtemp(prefix="gom_stream_topk_")
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(rows, preserve_index=False),
        os.path.join(tmp, "a.parquet"),
    )
    from ..streaming.stateful import TOPK_IN_SCHEMA, stream_cell_topk

    stream = spark.readStream.schema(TOPK_IN_SCHEMA).parquet(tmp)
    name = f"stopk_{uuid.uuid4().hex[:8]}"
    q = (
        stream_cell_topk(stream, k=5)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


# ==========================================================================
# registry
# ==========================================================================

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "filter_project": q_filter_project,
    "semi_join": q_semi_join,
    "anti_join": q_anti_join,
    "group_agg": q_group_agg,
    "topk_window": q_topk_window,
    "ratio_feature": q_ratio_feature,
    "percentile_agg": q_percentile_agg,
    "robust_scale": q_robust_scale,
    "set_intersect": q_set_intersect,
    "set_except": q_set_except,
    "union_label": q_union_label,
    "ratio_stats": q_ratio_stats,
    "seed_mean_pivot": q_seed_mean_pivot,
    "sampled_subset": q_sampled_subset,
    "negative_sampling": q_negative_sampling,
    "contamination": q_contamination,
    "knn_window": q_knn_window,
    "tumbling_window": q_tumbling_window,
    "stream_dedup": q_stream_dedup,
    "stream_cell_topk": q_stream_cell_topk,
    "dedup_exact": q_dedup_exact,
    "token_count": q_token_count,
    "text_scores": q_text_scores,
    "fingerprint": q_fingerprint,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_dedup": q_minhash_dedup,
    "simhash_dedup": q_simhash_dedup,
    "cosine_topk": q_cosine_topk,
    "embedding_near_dup": q_embedding_near_dup,
    "lsh_topk": q_lsh_topk,
    "ivf_topk": q_ivf_topk,
    "geo_extract": q_geo_extract,
    "geo_properties": q_geo_properties,
    "geo_blocking_pairs": q_geo_blocking_pairs,
    "geo_blocking_recall": q_geo_blocking_recall,
    "geo_match_decisions": q_geo_match_decisions,
    "geo_pair_features": q_geo_pair_features,
    "geo_threshold_sweep": q_geo_threshold_sweep,
    "geo_seed_mean_recall": q_geo_seed_mean_recall,
    "geo_transform": q_geo_transform,
    "geo_tiles": q_geo_tiles,
    "geo_pip": q_geo_pip,
    "geo_centroid_knn": q_geo_centroid_knn,
    "geo_matching_quality": q_geo_matching_quality,
    "contrastive_quality": q_contrastive_quality,
    "geo_image_blocking": q_geo_image_blocking,
    "media_features": q_media_features,
    "image_features": q_image_features,
    "render_features": q_render_features,
    "geo_partitions": q_geo_partitions,
}

ORACLE_SQL: dict[str, str] = {
    "filter_project": SQL_FILTER_PROJECT,
    "semi_join": SQL_SEMI_JOIN,
    "anti_join": SQL_ANTI_JOIN,
    "group_agg": SQL_GROUP_AGG,
    "topk_window": SQL_TOPK_WINDOW,
    "ratio_feature": SQL_RATIO_FEATURE,
    "percentile_agg": SQL_PERCENTILE_AGG,
    "robust_scale": SQL_ROBUST_SCALE,
    "set_intersect": SQL_SET_INTERSECT,
    "set_except": SQL_SET_EXCEPT,
    "union_label": SQL_UNION_LABEL,
    "ratio_stats": SQL_RATIO_STATS,
    "seed_mean_pivot": SQL_SEED_MEAN_PIVOT,
    "sampled_subset": SQL_SAMPLED_SUBSET,
    "negative_sampling": SQL_NEGATIVE_SAMPLING,
    "contamination": SQL_CONTAMINATION,
    "knn_window": SQL_KNN_WINDOW,
    "tumbling_window": SQL_TUMBLING_WINDOW,
    "dedup_exact": SQL_DEDUP_EXACT,
    "token_count": SQL_TOKEN_COUNT,
    "text_scores": SQL_TEXT_SCORES,
    "fingerprint": SQL_FINGERPRINT,
    "stream_dedup": SQL_STREAM_DEDUP,
    "ngram_jaccard": SQL_NGRAM_JACCARD,
    "cosine_topk": SQL_DENSE_TOPK_KERNELS,
    "embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
}

# --------------------------------------------------------------------------
# expected-parquet oracles (tools/gen_expected.py) for queries DuckDB cannot
# recompute from the raw tables. Tier per query lives in gen_expected.TIER:
# 'independent' = recomputed from first principles (numpy reference oracle +
# standalone spec reimplementations); 'golden' = the engine's own output
# captured once under fixed seeds (distributed-stability regression gate;
# formula parity for those lives in the pytest numpy-oracle suites).
# --------------------------------------------------------------------------

_EXPECTED = "/root/repo/oracle/expected"


def _expected_sql(name: str, cols: list[str], marker: str = "_n_li",
                  table: str = "lineitem") -> str:
    return (
        f"SELECT {', '.join(cols)} "
        f"FROM read_parquet('{_EXPECTED}/{name}.parquet') "
        f"WHERE {marker} = (SELECT count(*) FROM {table})"
    )


from ..config import OBJECT_PROPERTIES as _PROPS  # noqa: E402

_KNN_COLS = ["bkafi_dim", "cand_id", "index_id", "rank", "dist", "label"]

ORACLE_SQL.update(
    {
        "ivf_topk": (
            "WITH iv AS (SELECT * FROM read_parquet('"
            f"{_EXPECTED}/ivf_buckets.parquet') "
            "WHERE _n_li = (SELECT count(*) FROM lineitem)), "
            "a AS (SELECT id AS vec_id, cid FROM iv WHERE kind='assign'), "
            "p AS (SELECT id AS query_id, cid FROM iv WHERE kind='probe'), "
            "pr AS (SELECT p.query_id, a.vec_id, "
            " list_dot_product(qe.embedding::DOUBLE[], be.embedding::DOUBLE[]) / "
            " (sqrt(list_dot_product(qe.embedding::DOUBLE[], qe.embedding::DOUBLE[])) * "
            "  sqrt(list_dot_product(be.embedding::DOUBLE[], be.embedding::DOUBLE[]))) AS cosine "
            " FROM p JOIN a USING (cid) "
            " JOIN embeddings qe ON qe.vec_id = p.query_id "
            " JOIN embeddings be ON be.vec_id = a.vec_id "
            " WHERE p.query_id <> a.vec_id) "
            "SELECT query_id, vec_id, CAST(rank AS INTEGER) AS rank, "
            "floor(cosine * 1e6 + 0.5) / 1e6 AS cosine FROM ("
            " SELECT query_id, vec_id, cosine, row_number() OVER ("
            "  PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank "
            " FROM pr) WHERE rank <= 5"
        ),
        "stream_cell_topk": (
            "SELECT cell_id, CAST(rank AS INTEGER) AS rank, obj_id, score "
            "FROM (SELECT cell_id, source || ':' || obj_id AS obj_id, "
            "lat AS score, row_number() OVER (PARTITION BY cell_id "
            "ORDER BY lat DESC, source || ':' || obj_id ASC) AS rank "
            f"FROM read_parquet('{_EXPECTED}/geo_extract.parquet') "
            "WHERE _n_li = (SELECT count(*) FROM lineitem)) WHERE rank <= 5"
        ),
        "geo_extract": _expected_sql(
            "geo_extract",
            ["obj_id", "source", "url", "n_surfaces", "lat", "lon", "cell_id"],
        ),
        "geo_properties": _expected_sql(
            "geo_properties", ["obj_id", "source", *_PROPS]
        ),
        # both criteria of the merged blocking query keep their own golden
        # parquet; the union mirrors q_geo_blocking_pairs' criterion column
        "geo_blocking_pairs": (
            "SELECT 'sdr' AS criterion, * FROM ("
            + _expected_sql("geo_blocking_pairs", _KNN_COLS)
            + ") UNION ALL SELECT 'fi' AS criterion, * FROM ("
            + _expected_sql("geo_blocking_fi", _KNN_COLS)
            + ")"
        ),
        "geo_blocking_recall": _expected_sql(
            "geo_blocking_recall", ["bkafi_dim", "k", "blocking_recall"]
        ),
        "geo_match_decisions": _expected_sql(
            "geo_match_decisions",
            ["cand_id", "index_id", "rank", "dist", "label"],
        ),
        "geo_pair_features": _expected_sql(
            "geo_pair_features",
            ["cand_id", "index_id", *[f"{p}_ratio" for p in _PROPS]],
        ),
        "geo_tiles": _expected_sql(
            "geo_tiles", ["obj_id", "tile_x", "tile_y", "zoom", "coverage"]
        ),
        "geo_pip": _expected_sql("geo_pip", ["point_id", "obj_id"]),
        "geo_centroid_knn": _expected_sql(
            "geo_centroid_knn", ["cand_id", "index_id", "rank", "dist"]
        ),
        "geo_threshold_sweep": _expected_sql(
            "geo_threshold_sweep",
            ["percentile", "recall", "cand_pairs_num", "reduction_ratio",
             "threshold_val"],
        ),
        "geo_seed_mean_recall": _expected_sql(
            "geo_seed_mean_recall",
            ["model", "recall_at_1", "recall_at_20", "recall_at_5"],
        ),
        "geo_matching_quality": _expected_sql(
            "geo_matching_quality",
            ["model", "cv_f1", "precision", "recall", "f1"],
        ),
        "contrastive_quality": _expected_sql(
            "contrastive_quality",
            ["model", "precision", "recall", "f1"],
        ),
        "media_features": _expected_sql(
            "media_features", ["media_id", "n_bytes", "bin", "value"]
        ),
        "image_features": _expected_sql(
            "image_features", ["media_id", "n_bytes", "bin", "value"]
        ),
        "render_features": _expected_sql(
            "render_features", ["obj_key", "n_bytes", "bin", "value"]
        ),
        "geo_image_blocking": _expected_sql(
            "geo_image_blocking", ["k", "n_hits", "n_intersection", "pc"]
        ),
        "geo_partitions": _expected_sql(
            "geo_partitions", ["split", "size", "key", "n_rows", "n_pos"]
        ),
        "geo_transform": _expected_sql(
            "geo_transform",
            sorted(
                [f"r{a}{b}" for a in range(3) for b in range(3)]
                + ["scale", "t0", "t1", "t2"]
            ),
        ),
    }
)

# LSH-family oracles: signatures/buckets are materialized from independent
# spec reimplementations; DuckDB itself performs the banding / hamming /
# bucketed-top-k pair logic, so the JOIN SHAPE is verified end-to-end.

ORACLE_SQL["minhash_dedup"] = f"""
WITH sigs AS (
  SELECT doc_id, signature
  FROM read_parquet('{_EXPECTED}/minhash_sigs.parquet')
  WHERE _n_li = (SELECT count(*) FROM lineitem)),
bands AS (
  SELECT doc_id, signature, r.band AS band,
         signature[r.band*4 + 1 : r.band*4 + 4] AS key
  FROM sigs, range(16) r(band)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT id_a, id_b,
       len(list_filter(range(64),
                       i -> sa.signature[i+1] = sb.signature[i+1])) / 64.0
         AS est_jaccard
FROM pairs
JOIN sigs sa ON sa.doc_id = id_a
JOIN sigs sb ON sb.doc_id = id_b
"""

ORACLE_SQL["simhash_dedup"] = f"""
WITH sigs AS (
  SELECT doc_id, simhash
  FROM read_parquet('{_EXPECTED}/simhash_sigs.parquet')
  WHERE _n_li = (SELECT count(*) FROM lineitem)),
bands AS (
  SELECT doc_id, simhash, r.band AS band,
         (simhash >> (16 * r.band)) & 65535 AS key
  FROM sigs, range(4) r(band))
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM bands a JOIN bands b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
"""

_COS = (
    "list_dot_product(q.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)

ORACLE_SQL["lsh_topk"] = f"""
WITH bk AS (
  SELECT vec_id, bucket
  FROM read_parquet('{_EXPECTED}/lsh_buckets.parquet')
  WHERE _n_li = (SELECT count(*) FROM lineitem))
SELECT query_id, vec_id, rank, round(cosine, 6) AS cosine FROM (
  SELECT q.vec_id AS query_id, b.vec_id AS vec_id, {_COS} AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY {_COS} DESC, b.vec_id ASC) AS rank
  FROM embeddings q
  JOIN bk qb ON qb.vec_id = q.vec_id
  JOIN bk bb ON bb.bucket = qb.bucket
  JOIN embeddings b ON b.vec_id = bb.vec_id AND b.vec_id <> q.vec_id
  WHERE q.vec_id < 20)
WHERE rank <= 5
"""
