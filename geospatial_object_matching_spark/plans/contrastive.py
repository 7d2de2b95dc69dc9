"""M5 — contrastive image-matching lifecycle.

Reference analog ("contrastive_training_matching_with
contamination.py":27-151 ``run_pipeline``): blocking-based training
pairs of rendered object images → CLIP visual encoder →
``ContrastiveBinaryClassifier`` head on ``|emb1 - emb2|`` trained with
BCE-with-logits (AdamW, shuffled mini-batches) → binary
precision/recall/F1 via sigmoid > 0.5.

Spark-first lifecycle (encoder stand-in documented in
operators/contrastive.py):

    pages ─extract─▶ objects ─render (S7)─▶ PNG blobs
        │                                   │
        ▼                                   ▼
    properties ─BKAFI blocking─▶ pairs   image_embeddings (S8)
        │                          │        │
        └── blocking-based pair ───┴─join──▶ |diff| features (JVM cols)
            partition (pos/neg)             │
                                            ▼
            driver fit: MLPMatcher head (numpy Adam, logistic loss —
            the same |diff| → MLP → sigmoid topology as the reference
            head, two hidden layers vs its one)
                                            ▼
            broadcast weights ─▶ distributed predict ─▶ P/R/F1 row
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.blocking import run_bkafi_blocking
from ..operators.contrastive import image_embeddings, pair_diff_features
from ..operators.extract import extract_objects
from ..operators.matching import precision_recall_f1
from ..operators.matching_model import MLPMatcher, predict_matches
from ..operators.properties import pages_to_properties
from ..operators.render import render_objects_png
from .matching_quality import blocking_based_pairs, train_test_split_pairs


def run_image_blocking(
    spark: SparkSession,
    pages: DataFrame,
    k_list: tuple[int, ...] = (1, 5, 20),
    dim: int | None = None,
    embed_seed: int = 7,
    index_cap: int = 2_000_000,
) -> DataFrame:
    """S8 image-embedding blocking + PC@k — the reference's ViT/CLIP
    blocking path (`blocking.py:176-191` ``_run_vit``: CLIP embeddings of
    cands and index → ``faiss.IndexFlatIP`` → top-``nn_param`` neighbors
    per cand) scored with its blocking-recall metric
    (`pipelines.py:386`: pos pairs where ``cand_ind == nn_ind`` over the
    cands∩index entity set — PC@k, TR Tables 3/4).

    Spark-first shape: render (S7) and encode (S8 stand-in) run scan-side
    in one ``mapInPandas`` pass (blobs never shuffle); the IndexFlatIP
    search is :func:`~..operators.similarity.dense_cosine_topk` with
    ``exclude_self=False`` (our embeddings are L2-normalized, so inner
    product == cosine; the id-equal index row IS the true match) — the
    index matrix broadcasts once and each query partition does one BLAS
    GEMM, |Q|·|B|·d FLOPs with no pair shuffle; PC@k reduces the hit
    ranks (≤1 per cand — index ids are unique) against each k in
    ``k_list``, a tiny JVM aggregate.

    Returns one row per k: ``(k, n_hits, n_intersection, pc)`` with
    ``pc = round(n_hits / n_intersection, 3)`` (the reference rounds its
    blocking recall to 3 decimals)."""
    from ..operators.similarity import dense_cosine_topk

    objects = extract_objects(pages).select(
        F.concat_ws("|", "source", "obj_id").alias("objkey"),
        "coords",
        "ring_offsets",
    )
    emb = (
        image_embeddings(
            render_objects_png(objects, id_col="objkey"),
            dim=dim,
            seed=embed_seed,
        )
        .select(
            F.split("obj_id", "\\|").getItem(0).alias("src"),
            F.split("obj_id", "\\|").getItem(1).alias("vec_id"),
            "embedding",
        )
        .persist()
    )
    cand_emb = emb.filter(F.col("src") == "cands").select("vec_id", "embedding")
    index_emb = emb.filter(F.col("src") == "index").select(
        "vec_id", "embedding"
    )
    n_inter = (
        cand_emb.select("vec_id")
        .intersect(index_emb.select("vec_id"))
        .count()
    )
    topk = dense_cosine_topk(
        index_emb,
        cand_emb,
        k=max(k_list),
        exclude_self=False,
        index_cap=index_cap,
    )
    # reduce hits to a ≤max(k_list)-row rank histogram BEFORE the k join:
    # the only shuffle in the whole query moves ≤k_max rows, and the
    # range join is a broadcast of that histogram — scale-independent
    rank_hist = (
        topk.filter(F.col("query_id") == F.col("vec_id"))
        .groupBy("rank")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ks = spark.createDataFrame([(int(k),) for k in k_list], "k int")
    res = (
        ks.join(rank_hist, F.col("rank") <= F.col("k"), "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_hits"))
        .select(
            "k",
            "n_hits",
            F.lit(n_inter).alias("n_intersection"),
            F.round(F.col("n_hits") / F.lit(n_inter), 3).alias("pc"),
        )
        .orderBy("k")
    )
    return res


def run_contrastive_matching(
    spark: SparkSession,
    pages: DataFrame,
    dim: int | None = None,
    n_neg: int = 2,
    seed: int = 1,
    embed_seed: int = 7,
    train_cap: int = 60_000,
    hidden: tuple[int, int] = (32, 16),
    max_iter: int = 300,
) -> pd.DataFrame:
    """Full M5 lifecycle; returns one row:
    (model, precision, recall, f1) on the held-out test pairs.

    ``train_cap`` bounds the driver-side fit exactly as in
    run_matching_quality: tighten the entity-hash window, never collect
    more than ~cap pairs at any corpus scale."""
    pages = pages.persist()
    props = pages_to_properties(pages, zoom=15, log1p=True)
    blocking = run_bkafi_blocking(
        props, dims=[3], k_list=(n_neg + 1,), nn_param=n_neg + 1
    )
    matched = (
        props.filter(F.col("source") == "cands")
        .select("obj_id")
        .intersect(props.filter(F.col("source") == "index").select("obj_id"))
    )
    pairs = blocking_based_pairs(blocking.candidates, n_neg, matched_ids=matched)

    objects = extract_objects(pages).select(
        F.concat_ws("|", "source", "obj_id").alias("objkey"),
        "coords",
        "ring_offsets",
    )
    from ..operators.contrastive import EMBED_DIM

    n_dim = dim if dim is not None else EMBED_DIM
    emb = image_embeddings(
        render_objects_png(objects, id_col="objkey"),
        dim=dim,
        seed=embed_seed,
    ).select(
        F.split("obj_id", "\\|").getItem(0).alias("source"),
        F.split("obj_id", "\\|").getItem(1).alias("obj_id"),
        "embedding",
    ).persist()
    feats = pair_diff_features(
        pairs,
        emb.filter(F.col("source") == "cands").select("obj_id", "embedding"),
        emb.filter(F.col("source") == "index").select("obj_id", "embedding"),
        n_dim,
    ).persist()
    d_cols = [f"d{i}" for i in range(n_dim)]

    train, test = train_test_split_pairs(feats, 0.7, seed)
    n_train = train.count()
    if n_train > train_cap:
        train, _ = train_test_split_pairs(
            feats, 0.7 * (train_cap / n_train), seed
        )
    train_pdf = (
        train.select("cand_id", "index_id", "label", *d_cols)
        .toPandas()
        .sort_values(["cand_id", "index_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    head = MLPMatcher(hidden=hidden, max_iter=max_iter, seed=seed).fit(
        train_pdf[d_cols].to_numpy(dtype=np.float64),
        train_pdf["label"].to_numpy(dtype=np.int64),
        d_cols,
    )
    scored = predict_matches(
        head, test, d_cols, keep_cols=("cand_id", "index_id", "label")
    )
    m = precision_recall_f1(scored)
    pages.unpersist()
    return pd.DataFrame(
        [
            {
                "model": "ContrastiveImageMatcher",
                "precision": round(m["precision"], 3),
                "recall": round(m["recall"], 3),
                "f1": round(m["f1"], 3),
            }
        ]
    )
