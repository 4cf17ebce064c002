"""Similarity search over embedding columns (``array<float>``).

Two tiers, per the training-data-pipeline mandate:

- :func:`cosine_topk` — brute-force baseline: broadcast the query side,
  dot product with native ``zip_with``/``aggregate`` exprs (JVM-side),
  window top-k. Exact; O(Q × N) but map-only over the corpus.
- :func:`lsh_cosine_topk` — scale path: random-hyperplane LSH. Deterministic
  hyperplanes (seeded), sign-bit signatures via one vectorized pandas UDF,
  multi-table banding, exact cosine re-rank within buckets. Approximate:
  recall depends on (planes_per_table, tables). Defaults (4 planes × 12
  tables) measure ~0.85 top-5 recall on the near-uniform synthetic
  embeddings; clustered real-world embeddings tolerate more planes (cheaper
  buckets). Near-dup detection at high thresholds uses more planes — the
  candidates there are near-identical and always collide.
- :func:`cosine_near_dup_pairs` — embedding near-duplicate detection
  (cos ≥ τ) via the same LSH buckets.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

EPS = 1e-12


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v) + F.lit(EPS)
    )


def _query_matrix(qp: pd.DataFrame) -> np.ndarray:
    """The collected query embeddings (``qvec``) as one float64 matrix. A
    NULL embedding, or one whose length differs from the most common query
    length, has no cosine to rank by: raise naming the offending query ids
    rather than failing inside ``np.stack``."""
    lens = [None if v is None else len(v) for v in qp["qvec"]]
    common = Counter(n for n in lens if n is not None).most_common(1)
    dim = common[0][0] if common else None
    bad = [q for q, n in zip(qp["query_id"], lens) if n is None or n != dim]
    if bad:
        raise ValueError(
            f"{len(bad)} query embedding(s) NULL or not of length {dim}; "
            f"query ids: {bad[:20]}"
        )
    return np.stack(qp["qvec"].to_numpy()).astype(np.float64)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """For each query vector: top-k corpus neighbors by cosine (excluding
    self-matches on equal ids). Output: query_id, neighbor_id, rank.

    Cosine values are computed in float64 but not emitted: cross-engine
    float reproducibility of sums is not guaranteed, ranks are.

    Execution: the query side is collected to the driver (the same
    "queries fit in one broadcast" contract the previous crossJoin(
    broadcast(q)) plan made) and the corpus streams through ONE
    ``mapInPandas`` stage that computes the whole scoring block as a numpy
    matmul and emits only its per-batch top-k per query — the earlier
    ``zip_with``/``aggregate`` dot product is a Catalyst higher-order
    expression that evaluates interpreted at ~µs/element (64 dims ×
    |corpus|×|queries| lambda steps dominated the bench's ann query), and
    it shipped every scored pair into the window. The per-batch cut uses
    the same (cos desc, id asc) total order as the final global window, so
    top-k of unioned per-batch top-ks is exactly the global top-k; rank
    ties at equal cosine stay id-deterministic. Corpus rows with a NULL
    embedding are skipped (the old plan gave them NULL cosine, which
    ``row_number`` sorts after every real neighbor — at k ≤ |corpus| they
    could only surface on degenerate all-NULL corpora). A NULL or
    wrong-length QUERY embedding raises ``ValueError`` naming its ids."""
    qp = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qvec"),
        )
        .toPandas()
    )
    # id columns keep their source types (generic operator contract)
    qid_type = queries.schema[query_id_col].dataType.simpleString()
    nid_type = corpus.schema[id_col].dataType.simpleString()
    qids = qp["query_id"].to_numpy()
    if len(qp) == 0:
        return corpus.sparkSession.createDataFrame(
            [], f"query_id {qid_type}, neighbor_id {nid_type}, rank int"
        )
    Q = _query_matrix(qp)
    qnorm = np.sqrt((Q * Q).sum(axis=1) + EPS)
    Qn = Q / qnorm[:, None]

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )

    def score(batches):
        for b in batches:
            vec = b["cvec"]
            keep = np.fromiter(
                (v is not None and len(v) for v in vec), dtype=bool, count=len(vec)
            )
            if not keep.any():
                continue
            nid = b["neighbor_id"].to_numpy()[keep]
            C = np.stack(vec[keep].to_numpy()).astype(np.float64)
            cn = np.sqrt((C * C).sum(axis=1) + EPS)
            S = (C / cn[:, None]) @ Qn.T  # (n, m) cosine block
            S[nid[:, None] == qids[None, :]] = -np.inf  # self-matches
            n = S.shape[0]
            kk = min(k, n)
            # exact per-batch top-k in (cos desc, id asc) order per query
            out_q, out_n, out_c = [], [], []
            order_ids = np.argsort(nid, kind="stable")
            S_sorted = S[order_ids]
            nid_sorted = nid[order_ids]
            # argsort on -cos with stable kind keeps id-ascending order
            # among equal cosines (rows pre-sorted by id)
            top = np.argsort(-S_sorted, axis=0, kind="stable")[:kk]  # (kk, m)
            for j in range(S.shape[1]):
                sel = top[:, j]
                cos_j = S_sorted[sel, j]
                fin = cos_j > -np.inf
                out_q.append(np.full(fin.sum(), qids[j]))
                out_n.append(nid_sorted[sel[fin]])
                out_c.append(cos_j[fin])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cos": np.concatenate(out_c),
                }
            )

    scored = c.mapInPandas(
        score, schema=f"query_id {qid_type}, neighbor_id {nid_type}, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _planes(dim: int, planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((planes, dim))


def make_bucket_udf(dim: int, planes_per_table: int, tables: int, seed: int = 42):
    """pandas UDF: embedding → array of per-table bucket ids (sign bits)."""
    mats = [
        _planes(dim, planes_per_table, seed + 1000 * t) for t in range(tables)
    ]

    @F.pandas_udf(ArrayType(LongType()))
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        arr = np.stack(vecs.to_numpy())
        out = []
        sigs = []
        for t, m in enumerate(mats):
            bits = (arr @ m.T) > 0  # (n, planes)
            vals = np.zeros(arr.shape[0], dtype=np.int64)
            for j in range(planes_per_table):
                vals |= bits[:, j].astype(np.int64) << j
            sigs.append(vals + (t << 48))  # table id in high bits
        stacked = np.stack(sigs, axis=1)
        return pd.Series(list(stacked))

    return bucket_udf


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    planes_per_table: int = 4,
    tables: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates = bucket collisions in any table,
    re-ranked by exact cosine."""
    bucket_udf = make_bucket_udf(dim, planes_per_table, tables, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("bkt", F.explode(bucket_udf(F.col("cvec"))))
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    ).withColumn("bkt", F.explode(bucket_udf(F.col("qvec"))))
    cands = (
        c.join(F.broadcast(q), "bkt")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "qvec", "neighbor_id", "cvec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cands = cands.withColumn(
        "cos",
        dot_col(F.col("cvec"), F.col("qvec")) / (norm_col(F.col("cvec")) * norm_col(F.col("qvec"))),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _train_centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    sample_step: int,
    iters: int,
) -> np.ndarray:
    """Deterministic spherical k-means on a strided id-hash sample (driver
    numpy): seed = first n_centroids sample vectors in id order, then
    ``iters`` Lloyd rounds with cosine assignment. No RNG anywhere."""
    samp = (
        corpus.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_step)) == 0)
        .select(F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v"))
        .orderBy("__id")
        .toPandas()
    )
    if len(samp) < n_centroids:
        # small corpus: the 1-in-sample_step stride can return fewer rows
        # than centroids (or none at all — np.stack raises on empty).
        # Degrade to the first n_centroids rows of the full corpus rather
        # than crashing; fewer rows than centroids → fewer centroids.
        samp = (
            corpus.select(
                F.col(id_col).alias("__id"),
                F.col(vec_col).cast("array<double>").alias("__v"),
            )
            .orderBy("__id")
            .limit(n_centroids)
            .toPandas()
        )
    if len(samp) == 0:
        raise ValueError("ivf_cosine_topk: corpus is empty")
    X = np.stack(samp["__v"].to_numpy())
    X = X / (np.linalg.norm(X, axis=1, keepdims=True) + EPS)
    C = X[:n_centroids].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(C.shape[0]):
            members = X[assign == c]
            if len(members):
                m = members.mean(axis=0)
                C[c] = m / (np.linalg.norm(m) + EPS)
    return C


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int = 64,
    nprobe: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_step: int = 7,
    iters: int = 5,
) -> DataFrame:
    """IVF approximate top-k: the scale path for corpora too large to
    broadcast. Corpus partitions into ``n_centroids`` inverted lists by
    nearest spherical-k-means centroid (one map-only pass); each query probes
    its ``nprobe`` nearest lists and exact-cosine re-ranks within them.
    Queries are the broadcast side — the corpus is never shuffled beyond the
    list assignment column. Recall grows with nprobe/n_centroids; a query's
    exact duplicate always lands in its top-probed list (identical vector →
    identical nearest centroid), so planted twins are found at nprobe ≥ 1.
    A NULL or wrong-length query embedding raises ``ValueError`` naming its
    ids."""
    C = _train_centroids(corpus, n_centroids, id_col, vec_col, sample_step, iters)

    @F.pandas_udf(LongType())
    def assign_udf(vecs: pd.Series) -> pd.Series:
        arr = np.stack(vecs.to_numpy())
        arr = arr / (np.linalg.norm(arr, axis=1, keepdims=True) + EPS)
        return pd.Series(np.argmax(arr @ C.T, axis=1).astype(np.int64))

    # re-rank executes like cosine_topk: queries (+ their probe lists) are
    # collected to the driver — the SAME size contract the previous
    # broadcast(q) made — and the corpus streams through one mapInPandas
    # stage that scores each batch as numpy matmuls per probed list and
    # emits only its per-batch top-k per query in the exact
    # (cos desc, id asc) total order, so the final window ranks a stream
    # bounded by batches×k×|Q| instead of every (corpus-in-list, query)
    # pair through the interpreted zip_with/aggregate dot (which made a
    # 10M-vector probe computationally unreachable).
    qid_type = queries.schema[id_col].dataType.simpleString()
    nid_type = corpus.schema[id_col].dataType.simpleString()
    qp = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qvec"),
    ).toPandas()
    if len(qp) == 0:
        return corpus.sparkSession.createDataFrame(
            [], f"query_id {qid_type}, neighbor_id {nid_type}, rank int"
        )
    qids = qp["query_id"].to_numpy()
    Q = _query_matrix(qp)
    # probe normalization matches assign_udf (linalg.norm + EPS), so a query
    # and its identical corpus twin pick the same nearest list; the re-rank
    # normalization below matches norm_col (sqrt(sumsq + EPS))
    Qp = Q / (np.linalg.norm(Q, axis=1, keepdims=True) + EPS)
    qsims = Qp @ C.T
    qprobe = np.argsort(-qsims, axis=1)[:, :nprobe].astype(np.int64)
    Qn = Q / np.sqrt((Q * Q).sum(axis=1, keepdims=True) + EPS)
    # per probed list: the queries probing it (mirrors the explode+equi-join)
    by_list: dict[int, np.ndarray] = {}
    for li in np.unique(qprobe):
        by_list[int(li)] = np.flatnonzero((qprobe == li).any(axis=1))

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    ).withColumn("__list", assign_udf(F.col("cvec")))

    def score(batches):
        for b in batches:
            vec = b["cvec"]
            keep = np.fromiter(
                (v is not None and len(v) for v in vec), dtype=bool, count=len(vec)
            )
            if not keep.any():
                continue
            nid = b["neighbor_id"].to_numpy()[keep]
            lists = b["__list"].to_numpy()[keep]
            Cm = np.stack(vec[keep].to_numpy()).astype(np.float64)
            cn = np.sqrt((Cm * Cm).sum(axis=1) + EPS)  # norm_col formula
            Cn = Cm / cn[:, None]
            order_ids = np.argsort(nid, kind="stable")
            out_q, out_n, out_c = [], [], []
            for li, qi in by_list.items():
                rows = order_ids[lists[order_ids] == li]
                if len(rows) == 0:
                    continue
                S = Cn[rows] @ Qn[qi].T  # (r, q) — rows pre-sorted by id
                S[nid[rows][:, None] == qids[qi][None, :]] = -np.inf
                kk = min(k, S.shape[0])
                top = np.argsort(-S, axis=0, kind="stable")[:kk]
                for j in range(S.shape[1]):
                    sel = top[:, j]
                    cos_j = S[sel, j]
                    fin = cos_j > -np.inf
                    out_q.append(np.full(int(fin.sum()), qids[qi[j]]))
                    out_n.append(nid[rows][sel[fin]])
                    out_c.append(cos_j[fin])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cos": np.concatenate(out_c),
                }
            )

    scored = c.mapInPandas(
        score, schema=f"query_id {qid_type}, neighbor_id {nid_type}, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float,
    dim: int,
    planes_per_table: int = 12,
    tables: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicates: pairs (a < b) with cosine ≥ threshold,
    candidates from LSH bucket collisions."""
    bucket_udf = make_bucket_udf(dim, planes_per_table, tables, seed)
    v = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).withColumn("bkt", F.explode(bucket_udf(F.col("vec"))))
    a = v.select(F.col("vid").alias("doc_a"), F.col("vec").alias("va"), "bkt")
    b = v.select(F.col("vid").alias("doc_b"), F.col("vec").alias("vb"), "bkt")
    cands = (
        a.join(b, "bkt")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    cands = cands.withColumn(
        "cos", dot_col(F.col("va"), F.col("vb")) / (norm_col(F.col("va")) * norm_col(F.col("vb")))
    )
    return cands.filter(F.col("cos") >= threshold).select("doc_a", "doc_b", "cos")
