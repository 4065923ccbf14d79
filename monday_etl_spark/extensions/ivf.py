"""IVF-style approximate nearest neighbor: k-means coarse quantizer +
inverted lists, probing only the closest cells.

The second scale path beside sign-LSH (similarity.py): instead of random
hyperplane buckets, the corpus is clustered into k cells and each query
scores only its ``nprobe`` nearest cells (~nprobe/k of the corpus).

Scale split (FAISS-style): the coarse quantizer TRAINS on a bounded
driver-side sample (``max_train`` lowest-id vectors — one Spark job), while
ASSIGNMENT — the part that is linear in corpus size — runs distributively as
a broadcast cross-score against the k-centroid literal. At 100 TB the sample
stays O(max_train·dim) on the driver and the corpus never leaves the
executors.

Determinism design (round 2): every DISCRETE decision — training
assignments, centroid updates, final cell assignment, probe-cell choice —
is computed in exact int64 arithmetic on vectors quantized to
``SCALE = 1e6`` (sums of integers are exact and order-independent, so numpy,
Spark, and the DuckDB oracle agree bit-for-bit; the one fp step per
centroid update, FLOOR(sum/count + 0.5), is a single exactly-rounded IEEE
division + floor, identical everywhere). Floating point appears only in the
final cosine similarity, which is rounded to 4dp where rank gaps dwarf
engine noise (the same contract the green ann_brute_force oracle uses).
This is what makes ``ann_ivf`` SQL-oracle-checkable: the oracle re-derives
the whole pipeline, including training, from the ``embeddings`` view alone.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import _norm_names, _to_double, _topk_merge, cosine_hoisted, norm

#: fixed-point scale for the quantized training/assignment space.
SCALE = 1_000_000


def quantize(vec) -> "F.Column":
    """array<bigint>: FLOOR(x·SCALE + 0.5) per element — the exact same
    expression the DuckDB oracle and the numpy trainer apply."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * SCALE + F.lit(0.5)).cast("long")
    )


def _int_scores(qvec, centroids: list[tuple[int, list[int]]]):
    """Column array<bigint>: per-centroid distance score in list order, in
    exact integer arithmetic: |c|² − 2·q·c (|q|² is constant per row, so the
    argmin is the true squared-euclidean argmin).

    The k×dim centroid matrix enters the plan as ONE array<array<bigint>>
    literal + a transform, not k unrolled 64-element F.array()s — the
    unrolled form put 512 literal nodes in the tree twice (assignment +
    probe) and codegen compile dominated the cold run (~5 s at sf0.1)."""
    cmat = F.lit([c for _, c in centroids]).cast("array<array<bigint>>")
    c2 = F.lit([sum(x * x for x in c) for _, c in centroids]).cast("array<bigint>")
    dot_i = lambda a, b: F.aggregate(  # noqa: E731 — strict left fold, exact int64
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda s, x: s + x
    )
    return F.zip_with(cmat, c2, lambda c, cc: cc - 2 * dot_i(qvec, c))


def _nearest_centroid(qvec, centroids: list[tuple[int, list[int]]]):
    """Column: id of the closest centroid by (exact integer) euclidean
    distance; ties break toward the lower centroid id (first occurrence of
    the min — argmin over a scores ARRAY, not a chain of F.when: a when-chain
    that re-embeds the running best twice per step grows the expression tree
    2^k-fold).

    r13 note: ``array_position(scores, array_min(scores))`` references the
    scores subtree twice at the TOP level of the projection — measured A/B
    (100k rows, noop sink) shows codegen subexpression elimination already
    dedupes it (let-binding via transform(array(...)) was 0.40 s vs 0.32 s
    — strictly slower). The interpreted-HOF re-evaluation bug class (dsir,
    shingles) applies only to derived expressions referenced INSIDE a
    lambda body, not to top-level duplicates. Left as is."""
    scores = _int_scores(qvec, centroids)
    pos = F.array_position(scores, F.array_min(scores)).cast("int")
    return F.element_at(F.lit([cid for cid, _ in centroids]), pos)


def kmeans_fit(corpus: DataFrame, k: int = 8, iterations: int = 3,
               vec_col: str = "embedding", id_col: str = "vec_id",
               max_train: int = 100_000) -> list[tuple[int, list[int]]]:
    """Deterministic integer Lloyd on a bounded training sample: the
    ``max_train`` lowest-id vectors are quantized JVM-side, collected once,
    and iterated in int64 numpy (init = the k smallest ids; ties in
    assignment break toward the lower centroid id; empty cells keep their
    previous centroid; centroid update = FLOOR(sum/count + 0.5) per dim).
    One Spark job total. Returns [(cell_id, centroid_int_list)].

    Every arithmetic step is exact in int64 (or a single exactly-rounded
    IEEE division), so the DuckDB oracle's unrolled-CTE replica of this loop
    produces bit-identical centroids from the same parquet."""
    pdf = (
        corpus.select(F.col(id_col).alias("id"), quantize(F.col(vec_col)).alias("q"))
        .orderBy("id")
        .limit(max_train)
        .toPandas()  # Arrow transfer: ~2× faster than row collect() here
    )
    X = np.array(pdf["q"].tolist(), dtype=np.int64)
    cents = X[:k].copy()
    x2 = (X * X).sum(axis=1)
    for _ in range(iterations):
        # n×k distances via |x|² - 2x·c + |c|²; argmin ties → first index
        d = x2[:, None] - 2 * (X @ cents.T) + (cents * cents).sum(axis=1)[None, :]
        assign = d.argmin(axis=1)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                s = members.sum(axis=0)
                cents[c] = np.floor(s.astype(np.float64) / len(members) + 0.5).astype(
                    np.int64
                )
    return [(i, cents[i].tolist()) for i in range(k)]


def ivf_topk(corpus: DataFrame, queries: DataFrame,
             centroids: list[tuple[int, list[int]]], k: int = 10,
             nprobe: int = 2, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """Top-k per query, scoring only the query's ``nprobe`` nearest cells.
    Returns (query_id, neighbor_id, rank, cosine_sim) — same shape as the
    LSH and brute-force paths. The final merge reuses the two-level salted
    ``_topk_merge`` (partial WindowGroupLimit before each exchange), so no
    executor ever holds more than fanout·k survivors per query even when a
    probed cell is corpus-sized."""
    c = assign_cells(corpus, centroids, vec_col=vec_col, id_col=id_col)
    return topk_against_cells(c, queries, centroids, k=k, nprobe=nprobe,
                              vec_col=vec_col, id_col=id_col)


def assign_cells(corpus: DataFrame, centroids: list[tuple[int, list[int]]],
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """The inverted-list view of the corpus: (neighbor_id, cv, cell) with
    cell = exact-int64 nearest centroid. A pure map over the scan — this is
    the linear-in-corpus half of IVF, reused by the lazy path (ivf_topk)
    and the materialized index store (ivf_store.py)."""
    from .dedup import spread

    return spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        _to_double(F.col(vec_col)).alias("cv"),
        quantize(F.col(vec_col)).alias("cq"),
    ).withColumn("cell", _nearest_centroid(F.col("cq"), centroids)).drop("cq")


def topk_against_cells(c: DataFrame, queries: DataFrame,
                       centroids: list[tuple[int, list[int]]], k: int = 10,
                       nprobe: int = 2, vec_col: str = "embedding",
                       id_col: str = "vec_id") -> DataFrame:
    """Score queries against an already cell-assigned corpus ``c``
    ((neighbor_id, cv, cell) — from ``assign_cells`` or the materialized
    store). Broadcast the nprobe probe table; when ``c`` is a
    cell-partitioned table, the broadcast join on the partition column lets
    dynamic partition pruning skip every unprobed cell's files."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _to_double(F.col(vec_col)).alias("qv"),
        quantize(F.col(vec_col)).alias("qq"),
    )
    # nprobe nearest cells per query: rank the k integer centroid distances
    ids = F.lit([cid for cid, _ in centroids])
    probe = q.select(
        "query_id",
        "qv",
        F.explode(
            F.zip_with(
                ids,
                _int_scores(F.col("qq"), centroids),
                lambda i, d: F.struct(i.alias("cell"), d.alias("d")),
            )
        ).alias("pc"),
    ).select("query_id", "qv", F.col("pc.cell").alias("cell"), F.col("pc.d").alias("d"))
    wq = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("cell"))
    qn, cn = _norm_names(c.columns + ["query_id", "qv", "cell"])
    probe = (
        probe.withColumn("cr", F.row_number().over(wq))
        .filter(F.col("cr") <= nprobe)
        .select("query_id", "qv", "cell")
        .withColumn(qn, norm(F.col("qv")))
    )

    # per-ROW norms below the join: one fold per scored pair, not three
    scored = c.withColumn(cn, norm(F.col("cv"))).join(
        F.broadcast(probe),
        (c.cell == probe.cell) & (F.col("neighbor_id") != F.col("query_id")),
    ).select("query_id", "neighbor_id",
             cosine_hoisted(F.col("qv"), F.col("cv"), F.col(qn), F.col(cn)).alias("sim"))
    return _topk_merge(scored, k)


def scored_cells(c: DataFrame, queries: DataFrame,
                 centroids: list[tuple[int, list[int]]],
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """(query_id, neighbor_id, cell_rank, sim): each query scored against the
    whole cell-assigned corpus ``c``, every row tagged with the rank of the
    neighbor's cell in the query's centroid-distance order. One scoring pass
    serves EVERY nprobe point — filtering ``cell_rank <= nprobe`` afterwards
    equals probing that many cells — so an nprobe sweep (ann_ivf_recall_sweep)
    costs one corpus scan instead of one per sweep point. For a single-point
    query at scale, ``topk_against_cells`` is the right call: it prunes the
    probe table BEFORE the join and never scores unprobed cells."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _to_double(F.col(vec_col)).alias("qv"),
        quantize(F.col(vec_col)).alias("qq"),
    )
    ids = F.lit([cid for cid, _ in centroids])
    probe = q.select(
        "query_id",
        "qv",
        F.explode(
            F.zip_with(
                ids,
                _int_scores(F.col("qq"), centroids),
                lambda i, d: F.struct(i.alias("cell"), d.alias("d")),
            )
        ).alias("pc"),
    ).select("query_id", "qv", F.col("pc.cell").alias("cell"), F.col("pc.d").alias("d"))
    wq = Window.partitionBy("query_id").orderBy(F.asc("d"), F.asc("cell"))
    qn, cn = _norm_names(c.columns + ["query_id", "qv", "cell", "cell_rank"])
    probe = probe.withColumn("cell_rank", F.row_number().over(wq)).select(
        "query_id", "qv", "cell", "cell_rank"
    ).withColumn(qn, norm(F.col("qv")))
    # per-ROW norms below the join: one fold per scored pair, not three
    return c.withColumn(cn, norm(F.col("cv"))).join(
        F.broadcast(probe),
        (c.cell == probe.cell) & (F.col("neighbor_id") != F.col("query_id")),
    ).select(
        "query_id",
        "neighbor_id",
        "cell_rank",
        cosine_hoisted(F.col("qv"), F.col("cv"), F.col(qn), F.col(cn)).alias("sim"),
    )
