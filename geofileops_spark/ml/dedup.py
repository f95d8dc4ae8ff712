"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Designed for the 100-TB case:

- exact dedup is one shuffle on a 128-bit content hash (md5), keep-first
  by a window — identical shape to delete_duplicate_geometries
  (geofileops ``_geoops_sql.py:164-249``), which is the same problem on
  WKB instead of text;
- n-gram Jaccard builds an inverted index (gram -> postings) and joins
  postings pairwise, so cost is bounded by posting-list length, with hot
  grams dropped (stopword grams behave like skewed join keys);
- MinHash+LSH: shingle -> K permutations' min -> B bands -> bucket join;
  only bucket-colliding pairs are verified with exact Jaccard;
- SimHash: 64-bit sign-aggregated token hash; near-dup candidates =
  equal 16-bit bands (4 rotations), verified by Hamming distance.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .. import cache as _cache
from ..text.analysis import normalize_text

WS_RE = r"\s+"


# ------------------------------------------------------------- exact dedup
def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per exact (normalized) content hash."""
    tagged = df.withColumn("_h", F.md5(normalize_text(F.col(text_col))))
    w = Window.partitionBy("_h").orderBy(F.col(id_col).asc())
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


# ------------------------------------------------------------ shingle prep
def word_ngrams(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(id, gram) distinct word n-grams per document (JVM-side)."""
    toks = F.split(F.trim(normalize_text(F.col(text_col))), WS_RE)
    # sliding window of n via transform over index sequence; guard short
    # docs (sequence(0, negative) would count DOWN in Spark)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        df.select(F.col(id_col).alias("id"), F.explode(grams).alias("gram"))
        .where(F.col("gram") != "")
        .distinct()
    )


# --------------------------------------------------- doc-level hash arrays
def release_dedup_caches() -> None:
    """Unpersist persisted intermediates (alias of
    :func:`geofileops_spark.release_caches` — the dedup doc-gram-hash
    tables register in the shared session cache registry)."""
    _cache.release_caches()


def doc_gram_hashes(
    df: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, _ghs array<long>) — per-doc DISTINCT word-n-gram xxhash64s,
    persisted. The tokenize -> explode -> distinct -> collect DAG is the
    dominant scan of every dedup pipeline; everything downstream (sizes,
    MinHash signatures, inverted index, exact verify) derives from this
    one cached table, so the raw text is scanned exactly once (the r2
    pipelines re-ran it 3-5x). ~8 bytes per gram cached vs the gram
    strings themselves."""
    grams = word_ngrams(df, n, text_col, id_col)
    doc = (
        grams.withColumn("_gh", F.xxhash64("gram"))
        .groupBy("id")
        .agg(F.collect_list("_gh").alias("_ghs"))
        .persist()
    )
    _cache.track(doc)
    return doc


# ------------------------------------------------------- n-gram Jaccard dup
def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_posting: int = 1000,
) -> DataFrame:
    """Pairs (id_a < id_b, jaccard) with word-n-gram Jaccard >= threshold.

    Inverted-index join: common-gram counts come from joining the
    (hashed) gram table with itself on gram — one shuffle on gram.
    ``max_posting`` drops ultra-common grams (skew guard; they contribute
    little to Jaccard but quadratic join work). Gram identity is the
    64-bit xxhash64 of the gram (as everywhere in this module): distinct
    grams per doc make counts on hashes equal to counts on strings
    modulo 2^-64 collisions.
    """
    doc = doc_gram_hashes(df, n, text_col, id_col)
    grams = doc.select("id", F.explode("_ghs").alias("gh"))
    sizes = doc.select("id", F.size("_ghs").alias("n_grams"))
    hot = (
        grams.groupBy("gh")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") > max_posting)
        .select("gh")
    )
    pruned = grams.join(F.broadcast(hot), "gh", "left_anti")
    a = pruned.select(F.col("id").alias("id_a"), "gh")
    b = pruned.select(F.col("id").alias("id_b"), "gh")
    common = (
        a.join(b, "gh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("nb"))
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ------------------------------------------------------------- MinHash LSH
def minhash_signatures(
    grams: DataFrame, num_perm: int = 64
) -> DataFrame:
    """(id, sig array<long>) — classic affine-permutation MinHash.

    The base 64-bit gram hash is computed JVM-side (``xxhash64`` inside
    whole-stage codegen, BEFORE the collect_list shuffle), so the only
    Python work left is the numpy affine-min over an int64 array — no
    per-gram Python loop, no string transfer into the UDF. ONE grouped-
    array UDF per doc — no num_perm-fold row explosion (the naive
    explode shape shuffles grams x perms rows; this shuffles hashes
    once)."""
    import numpy as np

    P = (1 << 61) - 1  # Mersenne prime
    rng = np.random.RandomState(0xC0FFEE)
    A = rng.randint(1, P, size=num_perm, dtype=np.int64).astype(np.uint64)
    B = rng.randint(0, P, size=num_perm, dtype=np.int64).astype(np.uint64)

    @pandas_udf(ArrayType(LongType()))
    def _sig(hash_lists: pd.Series) -> pd.Series:
        out = []
        for arr in hash_lists:
            if arr is None or len(arr) == 0:
                out.append(None)
                continue
            base = np.asarray(arr, dtype=np.int64).view(np.uint64)
            # (num_perm, n_grams) affine permutations mod p (uint64
            # wraparound is part of the deterministic hash), min per row
            vals = (A[:, None] * (base[None, :] % P) + B[:, None]) % P
            out.append([int(v) for v in vals.min(axis=1).astype(np.int64)])
        return pd.Series(out)

    if "_ghs" in grams.columns:
        doc_grams = grams  # pre-aggregated doc_gram_hashes table
    else:
        doc_grams = grams.withColumn("_gh", F.xxhash64("gram")).groupBy("id").agg(
            F.collect_list("_gh").alias("_ghs")
        )
    return doc_grams.select("id", _sig(F.col("_ghs")).alias("sig")).where(
        F.col("sig").isNotNull()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact
    word-n-gram Jaccard >= threshold. Output (id_a < id_b, jaccard)."""
    rows_per_band = num_perm // bands
    doc = doc_gram_hashes(df, n, text_col, id_col)
    sigs = minhash_signatures(doc, num_perm)
    banded = sigs.withColumn("band", F.explode(F.sequence(F.lit(0), F.lit(bands - 1))))
    banded = banded.withColumn(
        "band_key",
        F.xxhash64(
            F.col("band"),
            F.slice(F.col("sig"), F.col("band") * rows_per_band + 1, rows_per_band)
            .cast("array<string>")
            .cast("string"),
        ),
    ).select("id", "band", "band_key")
    l = banded.select(F.col("id").alias("id_a"), "band", "band_key")
    r = banded.select(F.col("id").alias("id_b"), "band", "band_key")
    cand = (
        l.join(r, ["band", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact verify on candidates only: join the candidate pair with both
    # docs' cached hash ARRAYS and intersect JVM-side — no gram-level
    # re-join, no extra shuffle over the exploded gram table
    a = doc.select(F.col("id").alias("id_a"), F.col("_ghs").alias("_ga"))
    b = doc.select(F.col("id").alias("id_b"), F.col("_ghs").alias("_gb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("common", F.size(F.array_intersect("_ga", "_gb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.size("_ga") + F.size("_gb") - F.col("common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ----------------------------------------------------------------- SimHash
def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", out_col: str = "simhash"
) -> DataFrame:
    """64-bit SimHash over whitespace tokens — 100% JVM codegen, zero
    Python: the 64-bit token hash is the first 16 hex chars of
    ``md5(token)`` (split into two 32-bit halves via ``conv``; md5 is
    available in every engine, so the fingerprint is oracle-
    reproducible), bit votes are 64 ``sum((half >> b) & 1)`` aggregates
    per doc, and the fingerprint folds the majority votes back into one
    int64. One explode + one shuffle on ``id_col``."""
    toks = df.select(
        F.col(id_col).alias("_sid"),
        F.explode(
            F.split(F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+")
        ).alias("_tok"),
    ).where(F.col("_tok") != "")
    hexed = toks.withColumn("_h", F.md5(F.col("_tok")))
    hexed = hexed.withColumn(
        "_hi", F.conv(F.substring("_h", 1, 8), 16, 10).cast("long")
    ).withColumn("_lo", F.conv(F.substring("_h", 9, 8), 16, 10).cast("long"))
    aggs = [F.count("*").alias("_n")]
    for b in range(32):
        aggs.append(
            F.sum(F.shiftright(F.col("_lo"), b).bitwiseAND(F.lit(1))).alias(f"_o{b}")
        )
        aggs.append(
            F.sum(F.shiftright(F.col("_hi"), b).bitwiseAND(F.lit(1))).alias(f"_o{b + 32}")
        )
    votes = hexed.groupBy("_sid").agg(*aggs)
    fp = None
    for b in range(64):
        bit = F.lit(-(1 << 63)) if b == 63 else F.lit(1 << b)
        term = F.when(2 * F.col(f"_o{b}") > F.col("_n"), bit).otherwise(F.lit(0))
        fp = term if fp is None else (fp + term)
    fps = votes.select(F.col("_sid"), fp.cast("long").alias(out_col))
    # docs with no tokens keep fingerprint 0
    return df.join(
        fps, on=df[id_col] == fps["_sid"], how="left"
    ).drop("_sid").withColumn(out_col, F.coalesce(F.col(out_col), F.lit(0)))


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit fingerprint into 4
    16-bit keys (pigeonhole: hamming<=3 pairs share at least one band),
    bucket-join, verify Hamming distance JVM-side (bit_count)."""
    fp = simhash(df.select(id_col, text_col), text_col, id_col).select(
        F.col(id_col).alias("id"), "simhash"
    )
    banded = fp.withColumn("band", F.explode(F.sequence(F.lit(0), F.lit(3))))
    banded = banded.withColumn(
        "band_key", F.expr("shiftrightunsigned(simhash, band * 16) & 65535")
    )
    l = banded.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "band_key")
    r = banded.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "band_key")
    cand = (
        l.join(r, ["band", "band_key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ------------------------------------------------- embedding near-dup
def embedding_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    nbits: int = 8,
    bands: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity — the vector
    twin of MinHash-LSH: ``bands`` independent sign-random-projection
    bucket keys per vector (formula hyperplanes, JVM codegen, zero
    Python — see similarity.srp_bucket_expr), candidates = any shared
    (band, bucket), verified with the exact JVM cosine. One shuffle on
    the bucket keys instead of the quadratic scan.

    Output: (id_a < id_b, cosine) for pairs with cosine >= threshold
    among banded candidates. The banding is deterministic and engine-
    reproducible, so the whole pipeline is SQL-oracle checkable.
    """
    from .similarity import _dot, _norm, srp_bucket_expr

    if dim is None:
        from .similarity import infer_dim

        dim = infer_dim(df, vec_col)
    keyed = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("_v"),
        F.posexplode(
            F.array(
                *[
                    srp_bucket_expr(vec_col, dim, nbits, plane_offset=b * nbits)
                    for b in range(bands)
                ]
            )
        ).alias("band", "bkey"),
    )
    l = keyed.select(F.col("id").alias("id_a"), F.col("_v").alias("_va"), "band", "bkey")
    r = keyed.select(F.col("id").alias("id_b"), F.col("_v").alias("_vb"), "band", "bkey")
    cand = (
        l.hint("shuffle_hash").join(r, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    scored = cand.withColumn(
        "cosine",
        _dot(F.col("_va"), F.col("_vb")) / (_norm(F.col("_va")) * _norm(F.col("_vb"))),
    )
    return scored.where(F.col("cosine") >= F.lit(threshold)).select(
        "id_a", "id_b", "cosine"
    )


# ------------------------------------------------- near-dup clustering
def dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 20,
) -> DataFrame:
    """Connected components over a dup-pair edge list: (id, cluster_id)
    with ``cluster_id`` = the MIN id in the component — the
    cluster-then-keep-canonical step after any pair generator in this
    module (ngram_jaccard_pairs / minhash_lsh_pairs / simhash_pairs /
    embedding_dedup_pairs).

    Plan: iterative min-label propagation WITH pointer doubling. Each
    round is one hash join of labels onto the symmetrized edge list plus
    one groupBy(min) (the standard large-scale CC shape), followed by a
    label-of-label shortcut join (pointer jumping) — so convergence is
    O(log n) rounds even for deep chain components, not O(diameter): a
    1000-node path converges in ~10 rounds instead of blowing past
    ``max_rounds``. Labels only ever decrease and only ever take node
    ids inside the component, so the fixpoint (no label moved) is the
    exact component-min labeling. The loop raises if ``max_rounds`` is
    hit while labels are still moving rather than returning a wrong
    clustering. Only ids that appear in ``pairs`` are returned;
    singletons are their own cluster by definition (callers left-join
    and coalesce to the doc's own id).
    """
    sym = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
    sym = _cache.track(sym.persist())
    labels_p = _cache.local_checkpoint(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    labels = labels_p
    for _ in range(max_rounds):
        nb_min = (
            sym.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("label").alias("_dl")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("_dl").alias("_nb"))
        )
        step1 = (
            labels.join(nb_min.withColumnRenamed("src", "id"), "id", "left")
            .select(
                "id",
                F.col("label").alias("_old"),
                F.least(
                    F.col("label"), F.coalesce(F.col("_nb"), F.col("label"))
                ).alias("_l1"),
            )
            .alias("s")
        )
        # pointer doubling: label <- label(label). Every _l1 value is a
        # node id present in the table, so the lookup always resolves.
        jump = step1.select(
            F.col("id").alias("_jid"), F.col("_l1").alias("_jl")
        ).alias("j")
        # localCheckpoint (not just persist): each round nests two more
        # self-joins over the previous round's frame — without lineage
        # truncation the logical plan grows exponentially and the driver
        # OOMs on plan analysis after ~10 rounds
        new_p = _cache.local_checkpoint(
            step1.join(jump, F.col("s._l1") == F.col("j._jid"), "left")
            .select(
                F.col("s.id").alias("id"),
                F.least(
                    F.col("s._l1"), F.coalesce(F.col("j._jl"), F.col("s._l1"))
                ).alias("label"),
                (
                    F.least(
                        F.col("s._l1"),
                        F.coalesce(F.col("j._jl"), F.col("s._l1")),
                    )
                    < F.col("s._old")
                ).alias("_moved"),
            )
        )
        moved = new_p.where(F.col("_moved")).limit(1).count()
        # the new round is materialized and no longer reads the old one
        _cache.release_checkpoint(labels_p)
        labels_p = new_p
        labels = new_p.drop("_moved")
        if moved == 0:
            sym.unpersist()
            return labels.select(F.col("id"), F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"dup_clusters did not converge in {max_rounds} rounds — "
        "component diameter exceeds the bound; raise max_rounds"
    )


def keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """One row per near-dup cluster: keep the MIN-id member of each
    component of ``pairs`` plus every unpaired row verbatim — the final
    collapse of a dedup pipeline (the doc-level twin of
    delete_duplicate_geometries' keep-first contract)."""
    comp = dup_clusters(pairs, id_a=id_a, id_b=id_b)
    drop = comp.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, on=id_col, how="left_anti")
