"""Similarity search over an embedding column (``array<float>``).

- ``cosine_topk``: brute-force exact top-k — the baseline. Queries are
  broadcast (small side), the corpus streams; the dot product is a
  JVM-side ``F.zip_with`` + ``F.aggregate`` (no Python in the hot path);
  ranking is a window per query.
- ``lsh_topk``: the scale path — sign-random-projection (SRP) buckets
  from formula-derived hyperplanes (exact integer arithmetic: no stored
  model, no Python, SQL-oracle reproducible), each vector keyed by its
  sign-bit bucket; only same-bucket pairs are scored. At 100 TB this
  turns the quadratic scan into a bucket-equi join.
- ``ivf_topk``: IVF two-stage: a tiny coarse quantizer (pretrained
  centroid table, or driver-sample kmeans) inlined as JVM literals;
  map-side nearest-centroid assignment, nprobe buckets per query.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def with_cosine(df: DataFrame, a: str, b: str, out: str = "cosine") -> DataFrame:
    return df.withColumn(
        out, _dot(F.col(a), F.col(b)) / (_norm(F.col(a)) * _norm(F.col(b)))
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k by cosine: (query_id, rank, neighbor_id, cosine).
    Queries broadcast; corpus never shuffles until the final per-query
    window (partitioned by query id — k rows per query survive)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        )
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    pairs = q.crossJoin(c)
    if not include_self:
        pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn(
        "cosine", _dot(F.col("_qv"), F.col("_cv")) / (_norm(F.col("_qv")) * _norm(F.col("_cv")))
    ).drop("_qv", "_cv")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def infer_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimensionality: schema metadata (``{"dim": N}`` on the
    column, free) first, one-row probe job only as the fallback."""
    try:
        md = df.schema[vec_col].metadata
        if md and "dim" in md:
            return int(md["dim"])
    except (KeyError, TypeError):
        pass
    return len(df.select(vec_col).first()[0])


def _plane_component(b: int, dim: int, i):
    """Pseudo-random hyperplane component in [-0.5, 0.5): an integer
    Weyl-style sequence ((b*dim + i + 1) * 2654435761 mod 1000003) /
    1000003 - 0.5 — every product stays < 2^53 so the value is exact in
    double arithmetic and reproducible in ANY engine (the DuckDB oracle
    evaluates the identical formula)."""
    idx = (F.lit(b * dim) + i + 1).cast("long")
    return ((idx * F.lit(2654435761)) % F.lit(1000003)).cast("double") / F.lit(
        1000003.0
    ) - F.lit(0.5)


def srp_bucket_expr(vec_col, dim: int, nbits: int, plane_offset: int = 0):
    """Sign-random-projection bucket id — pure JVM codegen: per bit b,
    dot(vec, plane_b) with formula-derived plane components (no stored
    model, no Python, nothing to broadcast), bucket = sign bits packed
    into a long."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col

    def _proj(b: int):
        return lambda x, i: x.cast("double") * _plane_component(
            plane_offset + b, dim, i
        )

    bucket = F.lit(0).cast("long")
    for b in range(nbits):
        prods = F.transform(v, _proj(b))
        dot = F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)
        bucket = bucket + F.when(dot > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return bucket


def _bucket_join(q: DataFrame, c: DataFrame) -> DataFrame:
    """Bucket-equi join of the query side against the corpus. The query
    side is broadcast ONLY when its raw scan fits the byte budget (the
    intended dimension-sized query set); an over-budget or
    unestimable query side (e.g. ``lsh_topk(corpus, corpus)`` self
    search) takes a shuffled hash join instead of broadcasting the whole
    corpus — the same guard pattern as the spatial joins: the cap is a
    quarter of the library's one broadcast budget,
    ``index.pairing.BROADCAST_BYTES`` (64 MB by default), read at call
    time."""
    from ..index import pairing

    sz = pairing.scan_size_bytes(q)
    if sz is not None and 0 < sz <= pairing.BROADCAST_BYTES // 4:
        return F.broadcast(q).join(c, "_bucket")
    return q.hint("shuffle_hash").join(c, "_bucket")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nbits: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
) -> DataFrame:
    """Approximate top-k: score only same-SRP-bucket pairs.
    Recall < 1 by design; the exactness knob is ``nbits`` (fewer bits →
    bigger buckets → higher recall, more work). Bucketing is a JVM
    expression over deterministic formula hyperplanes, so the whole
    pipeline is a bucket-equi join + window — and SQL-oracle checkable."""
    if dim is None:
        dim = infer_dim(corpus, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("_bucket", srp_bucket_expr("_qv", dim, nbits))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).withColumn("_bucket", srp_bucket_expr("_cv", dim, nbits))
    pairs = _bucket_join(q, c)
    if not include_self:
        pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn(
        "cosine",
        _dot(F.col("_qv"), F.col("_cv")) / (_norm(F.col("_qv")) * _norm(F.col("_cv"))),
    ).drop("_qv", "_cv", "_bucket")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def _train_centroids(corpus: DataFrame, vec_col: str, n_centroids: int,
                     seed: int, sample: int = 4096, iters: int = 8) -> np.ndarray:
    """Deterministic mini-kmeans on a driver-side sample — the coarse
    quantizer of a classic IVF index. At 100 TB the sample is a bounded
    collect (the index 'training' step); assignment stays distributed.
    The sample takes the head of EVERY partition (sample_rows_spread),
    not ``limit(n)`` — a partition-ordered/clustered corpus would
    otherwise train the quantizer on one neighbourhood."""
    from ..operators.celljoin import sample_rows_spread

    rows = sample_rows_spread(corpus, vec_col, sample)
    mat = np.asarray([r[0] for r in rows if r[0] is not None], dtype=np.float64)
    rng = np.random.RandomState(seed)
    cent = mat[rng.choice(len(mat), size=min(n_centroids, len(mat)), replace=False)]
    for _ in range(iters):
        d = ((mat[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for k in range(len(cent)):
            members = mat[assign == k]
            if len(members):
                cent[k] = members.mean(axis=0)
    return cent


def nearest_centroids_expr(vec_col, cents: list, top: int):
    """``top`` nearest centroid ids by squared L2 — pure JVM codegen:
    one fold per centroid, argmin via sorted (distance, cid) structs.
    ``cents``: list of (cid, vector) with the centroid payload inlined
    as literals (the coarse quantizer is tiny by construction)."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    structs = []
    for cid, cv in cents:
        arr = F.array(*[F.lit(float(x)) for x in cv])
        d = F.aggregate(
            F.zip_with(
                v, arr, lambda x, c: (x.cast("double") - c) * (x.cast("double") - c)
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        structs.append(F.struct(d.alias("d"), F.lit(int(cid)).alias("cid")))
    ranked = F.array_sort(F.array(*structs))
    return F.transform(F.slice(ranked, 1, top), lambda s: s["cid"])


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
) -> DataFrame:
    """IVF-style approximate top-k: corpus rows are bucketed by nearest
    coarse centroid; each query scores only its ``nprobe`` nearest
    centroids' buckets. The scale path when SRP buckets are too blunt:
    recall is tunable via nprobe, work is ~nprobe/n_centroids of exact.

    ``centroids``: optional (id, vector) DataFrame acting as a
    pretrained coarse quantizer (the common production IVF setup — the
    quantizer is trained offline/sampled); when None, a deterministic
    mini-kmeans on a bounded driver sample trains one (sampled across
    ALL partitions — a head sample of a clustered corpus would train the
    quantizer on one neighbourhood). Either way the assignment runs
    distributed as a JVM expression (no Python, no shuffle: map-side
    nearest-centroid per row)."""
    if centroids is not None:
        rows = centroids.select(id_col, vec_col).collect()
        cents = [(int(r[0]), list(r[1])) for r in rows if r[1] is not None]
    else:
        cent = _train_centroids(corpus, vec_col, n_centroids, seed)
        cents = [(i, list(map(float, cent[i]))) for i in range(len(cent))]

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    ).withColumn(
        "_bucket", F.element_at(nearest_centroids_expr("_cv", cents, 1), 1)
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("_bucket", F.explode(nearest_centroids_expr("_qv", cents, nprobe)))
    pairs = _bucket_join(q, c)
    if not include_self:
        pairs = pairs.where(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.withColumn(
        "cosine",
        _dot(F.col("_qv"), F.col("_cv")) / (_norm(F.col("_qv")) * _norm(F.col("_cv"))),
    ).drop("_qv", "_cv", "_bucket")
    scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Symmetric per-vector integer quantization for embedding storage
    (float32 -> int8 cuts a 100-TB embedding store 4x; brute-force and
    IVF scans dot-product the int codes and rescale once per pair).

    Per vector: ``scale = max(|v_i|)``, ``q_i = floor(v_i * L / scale
    + 0.5)`` with ``L = 2^(bits-1) - 1`` (127 for int8); all-zero or
    empty vectors quantize to zeros with scale 0. ``floor(x + 0.5)`` is
    used instead of round() so every engine reproduces the exact same
    codes regardless of its round-half convention. Emits ``scale_ppm``
    (scale in parts-per-million, hash-stable) and the code vector —
    pure JVM array expressions, one projection, no shuffle, no Python.
    """
    levels = (1 << (bits - 1)) - 1
    v = F.col(vec_col)
    scale = F.aggregate(
        v, F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x.cast("double")))
    )
    out = df.withColumn("_scale", scale)
    q = F.transform(
        v,
        lambda x: F.when(
            F.col("_scale") > 0,
            F.floor(
                x.cast("double") * F.lit(float(levels)) / F.col("_scale")
                + F.lit(0.5)
            ).cast("int"),
        ).otherwise(F.lit(0)),
    )
    return out.select(
        id_col,
        F.floor(F.col("_scale") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("scale_ppm"),
        q.alias("q"),
    )
