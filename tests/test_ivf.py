"""IVF ANN: centroid sanity, subset-of-brute-force, and recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from monday_etl_spark.extensions.ivf import ivf_topk, kmeans_fit
from monday_etl_spark.extensions.similarity import brute_force_topk
from monday_etl_spark.io import load_table

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


@pytest.fixture(scope="module")
def centroids(emb):
    cents = kmeans_fit(emb, k=8, iterations=3)
    assert len(cents) == 8
    assert all(len(c) == 64 for _, c in cents)
    return cents


def test_assignment_covers_corpus(spark, emb, centroids):
    from monday_etl_spark.extensions.ivf import _nearest_centroid, quantize

    v = emb.select(quantize(F.col("embedding")).alias("q"))
    cells = v.withColumn("cell", _nearest_centroid(F.col("q"), centroids))
    counts = {r.cell: r.n for r in
              cells.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 500
    assert len(counts) >= 4  # clustering spread over several cells


def test_ivf_subset_and_recall(spark, emb, centroids):
    queries = emb.filter(F.col("vec_id") < 20)
    bf = brute_force_topk(emb, queries, k=10)
    ivf = ivf_topk(emb, queries, centroids, k=10, nprobe=2)

    bf_sims = {(r.query_id, r.neighbor_id): r.cosine_sim for r in bf.collect()}
    ivf_rows = ivf.collect()
    for r in ivf_rows:
        pair = (r.query_id, r.neighbor_id)
        if pair in bf_sims:  # shared pairs: identical similarity math
            assert r.cosine_sim == pytest.approx(bf_sims[pair], abs=1e-9)

    recall = len(bf_sims.keys() & {(r.query_id, r.neighbor_id) for r in ivf_rows}) / len(bf_sims)
    assert recall > 0.2  # nprobe=2 of 8 cells; exact recall is data-dependent



def test_caller_helper_named_columns_change_nothing(spark, emb, centroids):
    """The scorers' hoisted-norm columns take fresh names: a cell-assigned
    corpus that already carries ``__qn`` and ``__cn`` columns scores
    exactly like one without them."""
    from monday_etl_spark.extensions.ivf import (
        assign_cells,
        scored_cells,
        topk_against_cells,
    )

    queries = emb.filter(F.col("vec_id") < 10)
    c = assign_cells(emb, centroids)
    tagged = c.withColumn("__qn", F.lit(-1.0)).withColumn("__cn", F.lit(-1.0))
    for score in (
        lambda cells: topk_against_cells(cells, queries, centroids, k=5),
        lambda cells: scored_cells(cells, queries, centroids),
    ):
        assert sorted(score(tagged).collect()) == sorted(score(c).collect())
