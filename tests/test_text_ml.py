"""Text-analysis / dedup / similarity / multimodal operators over the
driver testdata tables (documents, embeddings) at sf0.001."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from geofileops_spark.ml import dedup as DD
from geofileops_spark.ml import multimodal as MM
from geofileops_spark.ml import similarity as SIM
from geofileops_spark.text import analysis as TA

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_token_stats_matches_duckdb(docs):
    got = {
        r["doc_id"]: (r["n_chars"], r["n_tokens"])
        for r in TA.token_stats(docs).select("doc_id", "n_chars", "n_tokens").collect()
    }
    exp = {
        r[0]: (r[1], r[2])
        for r in duckdb.sql(
            f"""select doc_id, length(text),
                case when trim(text)='' then 0
                     else len(regexp_split_to_array(trim(text), '\\s+')) end
            from '{SF}/documents.parquet'"""
        ).fetchall()
    }
    assert got == exp


def test_fingerprint_md5_matches_duckdb(docs):
    got = {r["doc_id"]: r["fp"] for r in TA.fingerprint(docs).select("doc_id", "fp").collect()}
    exp = {
        r[0]: r[1]
        for r in duckdb.sql(
            f"""select doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
            from '{SF}/documents.parquet'"""
        ).fetchall()
    }
    assert got == exp


def test_lang_id_runs(docs):
    out = TA.lang_id(docs).groupBy("lang_pred").count().collect()
    assert sum(r["count"] for r in out) == docs.count()


def test_dedup_exact_with_planted_dups(spark, docs):
    # plant exact duplicates: copy of each doc with id + 10000
    dup = docs.withColumn("doc_id", F.col("doc_id") + 10000)
    both = docs.unionByName(dup)
    kept = DD.dedup_exact(both)
    assert kept.count() == docs.count()
    assert kept.agg(F.max("doc_id")).collect()[0][0] < 10000


def test_ngram_jaccard_finds_near_dups(spark, docs):
    # mutated copy: drop last word -> high Jaccard vs original
    base = docs.where(F.col("doc_id") < 50)
    mut = base.withColumn("doc_id", F.col("doc_id") + 10000).withColumn(
        "text", F.regexp_replace(F.col("text"), r"\s+\S+$", "")
    )
    both = base.unionByName(mut)
    pairs = DD.ngram_jaccard_pairs(both, n=3, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert {(i, i + 10000) for i in range(50) if (i,) } >= got or len(got) > 0
    # every original should pair with its mutation
    expected = {(i, i + 10000) for i in [r[0] for r in base.select("doc_id").collect()]}
    assert expected <= got


def test_minhash_lsh_finds_near_dups(spark, docs):
    base = docs.where(F.col("doc_id") < 50)
    mut = base.withColumn("doc_id", F.col("doc_id") + 10000).withColumn(
        "text", F.regexp_replace(F.col("text"), r"\s+\S+$", "")
    )
    both = base.unionByName(mut)
    pairs = DD.minhash_lsh_pairs(both, n=3, num_perm=64, bands=16, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expected = {(i, i + 10000) for i in [r[0] for r in base.select("doc_id").collect()]}
    # banding may drop a few, but on near-identical docs recall should be full
    assert len(expected - got) == 0


def test_simhash_pairs(spark, docs):
    base = docs.where(F.col("doc_id") < 30)
    dup = base.withColumn("doc_id", F.col("doc_id") + 10000)
    both = base.unionByName(dup)
    pairs = DD.simhash_pairs(both, max_hamming=0)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    expected = {(i, i + 10000) for i in [r[0] for r in base.select("doc_id").collect()]}
    assert expected <= got


def test_cosine_topk_self_is_nearest(spark, emb):
    queries = emb.where(F.col("vec_id") % 100 == 0)
    out = SIM.cosine_topk(queries, emb, k=3, include_self=True)
    top1 = {r["query_id"]: r["neighbor_id"] for r in out.where(F.col("rank") == 1).collect()}
    assert all(q == n for q, n in top1.items())
    counts = out.groupBy("query_id").count().collect()
    assert all(r["count"] == 3 for r in counts)


def test_lsh_topk_reasonable_recall(spark, emb):
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = SIM.cosine_topk(queries, emb, k=3)
    approx = SIM.lsh_topk(queries, emb, k=3, nbits=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # same-bucket recall on random data with 4 bits should find some overlap
    assert len(e & a) >= len(e) // 4


def test_multimodal_decode_plumbing(spark):
    media = MM.synth_media(spark, 64)
    decoded = MM.decode_images(media)
    rows = decoded.select("media_id", "width", "height", F.size("features").alias("d")).collect()
    assert len(rows) == 64
    assert all(r["width"] > 0 and r["height"] > 0 and r["d"] == 32 for r in rows)
    # determinism: same input -> same features
    f1 = decoded.select("features").first()[0]
    f2 = MM.decode_images(media).select("features").first()[0]
    assert f1 == f2


def test_frame_sample(spark):
    media = MM.synth_media(spark, 8, media_type="video")
    frames = MM.frame_sample(media, every_n=1)
    assert frames.count() >= 8
    assert frames.where(F.col("frame").isNull()).count() == 0
    # exact explode arithmetic: every blob yields ceil((len//256 or 1)/n)
    # frames at indices 0, n, 2n... and frame bytes are the blob slices
    media_rows = {r["media_id"]: bytes(r["media"]) for r in media.collect()}
    got = frames.select("media_id", "frame_idx", "frame").collect()
    import math

    expected_n = sum(
        math.ceil(max(1, len(b) // 256) / 3) for b in media_rows.values()
    )
    got3 = MM.frame_sample(media, every_n=3).collect()
    assert len(got3) == expected_n
    for r in got:
        blob = media_rows[r["media_id"]]
        assert bytes(r["frame"]) == blob[r["frame_idx"] * 256 : (r["frame_idx"] + 1) * 256]


def test_fake_decode_contract(spark, monkeypatch):
    """With FAKE_DECODE off, an unrecognized format must fail LOUDLY in
    the task — never silently keep serving byte-histogram fakes. (PNG/
    APNG/WAV blobs still decode for real; only the fallback is gated.)"""
    import pytest

    media = MM.synth_media(spark, 2)  # non-PNG blobs
    monkeypatch.setattr(MM, "FAKE_DECODE", False)
    with pytest.raises(Exception, match="NotImplementedError"):
        MM.decode_images(media).collect()
    with pytest.raises(Exception, match="NotImplementedError"):
        MM.frame_sample(media).collect()


def test_real_png_decode(spark, monkeypatch):
    """REAL codec path: synth PNGs decode to their closed-form dims and
    to the luminance histogram of the actual pixels — with the fake
    fallback disabled, so nothing here can be served by the stub."""
    import numpy as np

    from geofileops_spark.ml import codecs as C

    monkeypatch.setattr(MM, "FAKE_DECODE", False)
    media = MM.synth_png_media(spark, 40)
    rows = MM.decode_images(media, dim=16).select(
        "media_id", "width", "height", "features"
    ).collect()
    assert len(rows) == 40
    for r in rows:
        i = r["media_id"]
        exp = MM._synth_pixels(i)
        assert (r["width"], r["height"]) == (exp.shape[1], exp.shape[0])
        np.testing.assert_allclose(
            np.array(r["features"]), C.image_features(exp, 16), rtol=1e-5
        )


def test_real_apng_frame_sample(spark, monkeypatch):
    """REAL APNG path: sampled frames come back as standalone decodable
    PNGs carrying the true frame index and the true per-frame pixels."""
    import numpy as np

    from geofileops_spark.ml import codecs as C

    monkeypatch.setattr(MM, "FAKE_DECODE", False)
    media = MM.synth_apng_media(spark, 6, n_frames=7)
    frames = MM.frame_sample(media, every_n=3).collect()
    # 7 frames sampled every 3 -> indices 0,3,6 per blob
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == [0, 3, 6] for v in by_id.values())
    assert len(by_id) == 6
    for r in frames:
        base = MM._synth_pixels(r["media_id"]).astype(np.int64)
        exp = ((base + 11 * r["frame_idx"]) % 256).astype(np.uint8)
        got = C.decode_png(bytes(r["frame"]))
        assert np.array_equal(got, exp)


def test_real_wav_decode(spark):
    """REAL WAV path: rate/length/duration and RMS features match the
    closed-form synth signal."""
    import numpy as np

    from geofileops_spark.ml import codecs as C

    media = MM.synth_wav_media(spark, 14, rate=8000)
    rows = MM.decode_audio(media, dim=8).collect()
    assert len(rows) == 14
    for r in rows:
        i = r["media_id"]
        n_exp = 8000 // 2 + (i % 7) * 8000 // 8
        assert r["sample_rate"] == 8000
        assert r["n_samples"] == n_exp
        assert r["channels"] == 1
        assert abs(r["duration_s"] - n_exp / 8000) < 1e-6
        period = 20 + i % 30
        t = np.arange(n_exp, dtype=np.int64)
        sig = ((t % period) * (20000 // period) - 10000).astype(np.int16)
        np.testing.assert_allclose(
            np.array(r["features"]),
            C.audio_features(sig.reshape(-1, 1), 8),
            rtol=1e-5,
        )


def test_codec_roundtrips():
    """Pure codec invariants, no Spark: PNG all-filter decode, APNG
    split, WAV stereo roundtrip, strictness on malformed input."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from geofileops_spark.ml import codecs as C

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (11, 9, 3), dtype=np.uint8)
    assert np.array_equal(C.decode_png(C.encode_png(img)), img)
    gray = rng.integers(0, 256, (5, 17), dtype=np.uint8)
    assert np.array_equal(C.decode_png(C.encode_png(gray)), gray)

    # hand-filter every scanline with a different filter type, decode back
    h, w, ch = img.shape
    stride = w * ch
    flat = img.reshape(h, stride).astype(np.int64)
    raw = bytearray()
    for y, f in enumerate([0, 1, 2, 3, 4, 1, 2, 3, 4, 0, 4]):
        prev = flat[y - 1] if y > 0 else np.zeros(stride, dtype=np.int64)
        cur = flat[y]
        row = np.zeros(stride, dtype=np.int64)
        for x in range(stride):
            a = cur[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            row[x] = (cur[x] - pred) & 0xFF
        raw.append(f)
        raw += bytes(row.astype(np.uint8))
    assert np.array_equal(C._unfilter(bytes(raw), w, h, ch), img)

    frames = [((img.astype(np.int64) + 5 * i) % 256).astype(np.uint8) for i in range(3)]
    parts = C.apng_frames(C.encode_apng(frames))
    assert [p["frame_idx"] for p in parts] == [0, 1, 2]
    for p, fr in zip(parts, frames):
        assert np.array_equal(C.decode_png(p["png"]), fr)

    sig = (rng.integers(-30000, 30000, (500, 2))).astype(np.int16)
    rate, back = C.decode_wav(C.encode_wav(sig, 22050))
    assert rate == 22050 and np.array_equal(back, sig)

    with pytest.raises(ValueError):
        C.decode_png(b"nope")
    # corrupt a CRC byte -> strict failure
    good = bytearray(C.encode_png(gray))
    good[-1] ^= 0xFF
    with pytest.raises(ValueError):
        C.decode_png(bytes(good))
    with pytest.raises(ValueError):
        C.decode_wav(b"RIFFxxxxWAVE")


def test_ivf_topk_recall(spark, emb):
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = SIM.cosine_topk(queries, emb, k=5)
    approx = SIM.ivf_topk(queries, emb, k=5, n_centroids=8, nprobe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # probing half the centroids should recover a solid share of true top-5
    assert len(e & a) >= len(e) // 2
    counts = approx.groupBy("query_id").count().collect()
    assert all(r["count"] <= 5 for r in counts)


def test_dup_clusters_and_keep_canonical(spark):
    # path component {1,2,3} (diameter 2 forces >1 propagation round),
    # pair {10,11}, singleton 99 untouched
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = {
        r["id"]: r["cluster_id"]
        for r in DD.dup_clusters(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 10, 11, 99)],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in DD.keep_canonical(docs, pairs, id_col="doc_id").collect()
    )
    assert kept == [1, 10, 99]

    # empty edge list: nothing dropped
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert DD.dup_clusters(empty).count() == 0
    assert DD.keep_canonical(docs, empty, id_col="doc_id").count() == 6

    # long chain exceeding max_rounds raises instead of mis-clustering
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="converge"):
        DD.dup_clusters(chain, max_rounds=2)


# ------------------------------------------------------------ corpus ops
def test_stratified_sample_exact(spark, docs):
    from geofileops_spark.ml import corpus as CP

    out = CP.stratified_sample(docs, ["lang", "source"], quota=7).collect()
    sizes = docs.groupBy("lang", "source").count().collect()
    expect = {(r["lang"], r["source"]): min(7, r["count"]) for r in sizes}
    got: dict = {}
    for r in out:
        got[(r["lang"], r["source"])] = got.get((r["lang"], r["source"]), 0) + 1
    assert got == expect
    # exactly the quota smallest spread hashes per stratum (the naive oracle)
    naive = duckdb.sql(
        f"""SELECT doc_id FROM (
             SELECT doc_id, row_number() OVER (
               PARTITION BY lang, source
               ORDER BY (doc_id * 2654435761) % 2147483648, doc_id) AS rk
             FROM '{SF}/documents.parquet') WHERE rk <= 7"""
    ).fetchall()
    assert sorted(r["doc_id"] for r in out) == sorted(x[0] for x in naive)
    # determinism
    out2 = CP.stratified_sample(docs, ["lang", "source"], quota=7).collect()
    assert sorted(r["doc_id"] for r in out2) == sorted(r["doc_id"] for r in out)


def test_stratified_sample_small_stratum(spark):
    from geofileops_spark.ml import corpus as CP

    df = spark.createDataFrame(
        [(i, "a" if i < 3 else "b") for i in range(103)], "doc_id long, lang string"
    )
    out = CP.stratified_sample(df, ["lang"], quota=10)
    counts = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert counts == {"a": 3, "b": 10}


def test_segment_dedup(spark):
    from geofileops_spark.ml import corpus as CP

    docs = spark.createDataFrame(
        [
            (1, "a b c d w x y z"),      # segs: "a b c d", "w x y z"
            (2, "a b c d q q q q"),      # first seg duplicates doc 1
            (3, "w x y z"),              # whole doc is a dup segment
            (4, "q q q q tail"),         # dup of doc2's seg + short tail
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in CP.segment_dedup(docs, width=4).collect()}
    assert out[1]["text_dedup"] == "a b c d w x y z" and out[1]["n_kept"] == 2
    assert out[2]["text_dedup"] == "q q q q" and out[2]["n_kept"] == 1
    assert out[3]["text_dedup"] == "" and out[3]["n_kept"] == 0
    assert out[4]["text_dedup"] == "tail" and out[4]["n_segs"] == 2


def test_contamination_flag(spark, docs):
    from geofileops_spark.ml import corpus as CP

    ev = docs.where(F.col("doc_id") % 97 == 0)
    out = CP.contamination_flag(docs, ev, n=8, min_hits=1)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == docs.count()
    # every eval doc with >= 8 tokens is trivially contaminated by itself
    for r in ev.select("doc_id", "text").collect():
        if len(r["text"].split()) >= 8:
            assert rows[r["doc_id"]]["contaminated"], r["doc_id"]
    # oracle: duckdb n-gram overlap count
    naive = duckdb.sql(
        f"""WITH toks AS (
              SELECT doc_id, string_split(trim(text), ' ') AS t
              FROM '{SF}/documents.parquet'),
            grams AS (
              SELECT DISTINCT doc_id,
                     array_to_string(t[i + 1 : i + 8], ' ') AS g
              FROM toks, UNNEST(range(len(t) - 7)) AS u(i)
              WHERE len(t) >= 8),
            ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0)
            SELECT doc_id, count(*) AS hits
            FROM grams JOIN ev USING (g) GROUP BY doc_id"""
    ).fetchall()
    exp = {d: h for d, h in naive}
    for d, r in rows.items():
        assert r["hits"] == exp.get(d, 0), d


def test_dup_clusters_deep_chain_pointer_doubling(spark):
    # 1001-node path: diameter 1000 — plain min-propagation would need
    # ~1000 rounds; pointer doubling converges in O(log n) well inside
    # the default max_rounds=20
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1000)], "id_a long, id_b long"
    )
    comp = DD.dup_clusters(chain)
    labels = {r["id"]: r["cluster_id"] for r in comp.collect()}
    assert len(labels) == 1001
    assert set(labels.values()) == {0}


def test_dup_clusters_keeps_only_its_last_round_in_storage(spark):
    """Each round's local checkpoint is freed once the next round is
    materialized; the last one, which the result reads, is freed by
    release_caches()."""
    from geofileops_spark import cache

    def stored():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    cache.release_caches()
    before = stored()
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    comp = DD.dup_clusters(chain)
    assert len(stored() - before) == 1
    assert {r["cluster_id"] for r in comp.collect()} == {0}
    cache.release_caches()
    assert stored() == before


def test_ivf_centroid_training_spread(spark):
    # corpus clustered by partition: partition 0 holds ONLY cluster-A
    # vectors, partition 1 only cluster-B. A head-biased limit() sample
    # would train every centroid on cluster A; the spread sampler must
    # produce centroids from both clusters.
    import numpy as np

    from geofileops_spark.ml.similarity import _train_centroids

    rows_a = [([0.0 + 0.001 * i, 0.0],) for i in range(2000)]
    rows_b = [([100.0 + 0.001 * i, 100.0],) for i in range(2000)]
    a = spark.createDataFrame(rows_a, "v array<double>").repartition(1)
    b = spark.createDataFrame(rows_b, "v array<double>").repartition(1)
    corpus = a.union(b)  # partition-clustered by construction
    cents = _train_centroids(corpus, "v", n_centroids=4, seed=7, sample=256)
    xs = np.asarray(cents)[:, 0]
    assert (xs < 50).any() and (xs > 50).any()


def test_repetition_stats_closed_form(spark):
    from geofileops_spark.text.analysis import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "aa bb\naa bb\ncc dd ee\n\naa bb"),  # 4 lines (empties drop), 2 dup
            (2, ""),
            (3, "unique line only"),
        ],
        "id int, text string",
    )
    r = {row["id"]: row for row in repetition_stats(df).collect()}
    assert r[1]["n_lines"] == 4
    assert r[1]["dup_line_frac"] == 0.5
    # words: aa bb aa bb cc dd ee aa bb -> 9 words, 5 distinct
    assert r[1]["dup_word_frac"] == round(4 / 9, 6)
    assert r[1]["max_line_len"] == 8
    assert r[2]["n_lines"] == 0 and r[2]["dup_line_frac"] == 0.0
    assert r[2]["max_line_len"] == 0
    assert r[3]["n_lines"] == 1 and r[3]["dup_line_frac"] == 0.0


def test_redact_pii_closed_form(spark):
    from geofileops_spark.text.analysis import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@Foo-1.ORG or x@y.io, ip 10.0.42.7, call +32 475 11 22 33 now"),
            (2, "no pii here 1.2 3.4"),
            (3, "edge 999.999.999.999 and +1 (555) 123-4567!"),
        ],
        "id int, text string",
    )
    r = {row["id"]: row for row in redact_pii(df).collect()}
    assert (r[1]["n_emails"], r[1]["n_ips"], r[1]["n_phones"]) == (2, 1, 1)
    assert r[1]["redacted"] == "mail <EMAIL> or <EMAIL>, ip <IP>, call <PHONE> now"
    assert (r[2]["n_emails"], r[2]["n_ips"], r[2]["n_phones"]) == (0, 0, 0)
    assert r[2]["redacted"] == r[2]["text"]
    # the quad-dotted string redacts as an IP even out of 0-255 range
    # (curation-grade, not validation-grade) and the US form matches
    assert r[3]["redacted"] == "edge <IP> and <PHONE>!"


def test_url_host_rollup_closed_form(spark):
    from pyspark.sql import functions as F

    from geofileops_spark.text.analysis import host_rollup, url_host

    df = spark.createDataFrame(
        [
            (1, "https://www.Example.COM:8080/a/b?q=1#f", "abc"),
            (2, "http://sub.site.org/path", "defg"),
            (3, "not a url", "xy"),
            (4, "https://sub.site.org/other?x", "z"),
        ],
        "id int, url string, text string",
    )
    hosts = {
        r["id"]: r["h"]
        for r in df.select("id", url_host(F.col("url")).alias("h")).collect()
    }
    assert hosts == {1: "example.com", 2: "sub.site.org", 3: "", 4: "sub.site.org"}
    roll = {
        r["host"]: (r["n_docs"], r["sum_chars"]) for r in host_rollup(df).collect()
    }
    assert roll["sub.site.org"] == (2, 5)
    assert roll["example.com"] == (1, 3)
    assert roll[""] == (1, 2)


def test_repetition_and_pii_plans_are_jvm_only(spark):
    # scale contract: one projection, no Python workers, no shuffle
    from geofileops_spark.text.analysis import redact_pii, repetition_stats

    df = spark.createDataFrame([(1, "x y\nx y")], "id int, text string")
    for out in (repetition_stats(df), redact_pii(df)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "Exchange" not in plan


def test_chunk_documents_closed_form(spark):
    import pytest as _pytest

    from geofileops_spark.text.analysis import chunk_documents

    df = spark.createDataFrame(
        [(1, "abcdefghij" * 10), (2, "short"), (3, ""), (4, "x" * 41)],
        "doc_id int, text string",
    )
    rows = chunk_documents(df, 40, 10).collect()
    by = {}
    for r in rows:
        by.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk_text"]))
    for k in by:
        by[k].sort()
    full = "abcdefghij" * 10
    # len 100, stride 30 -> 3 chunks covering [0:40],[30:70],[60:100]
    assert [c for _, c in by[1]] == [full[0:40], full[30:70], full[60:100]]
    assert by[2] == [(0, "short")]
    assert by[3] == [(0, "")]  # empty doc -> one empty chunk, nothing dropped
    assert by[4] == [(0, "x" * 40), (1, "x" * 11)]
    # reconstruction invariant: drop each later chunk's overlap prefix
    assert by[1][0][1] + "".join(c[10:] for _, c in by[1][1:]) == full
    with _pytest.raises(ValueError):
        chunk_documents(df, 40, 40)
    plan = chunk_documents(df, 40, 10)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan


def test_gopher_quality_closed_form(spark):
    from geofileops_spark.text.analysis import gopher_quality

    df = spark.createDataFrame(
        [
            # clean: 11 words, mean len 4.0, 3 stopwords, all alpha
            (1, "the quick brown fox jumps over and beside of lazy dogs"),
            # all-bullet lines: bullet_frac 1.0, alpha 4/6, mean len < 3
            (2, "- aaa bbb\n- ccc ddd"),
            # ellipsis-terminated single line: symbol + ellipsis rules fire
            (3, "hello world ..."),
        ],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_quality(df, min_words=5).collect()}
    r1 = rows[1]
    assert r1["n_words"] == 11
    assert r1["mean_word_len"] == 4.0
    assert r1["symbol_ratio"] == 0.0
    assert r1["bullet_frac"] == 0.0
    assert r1["alpha_word_frac"] == 1.0
    assert r1["n_stopwords"] == 3  # the, and, of
    assert r1["keep"] is True
    r2 = rows[2]
    assert r2["bullet_frac"] == 1.0
    assert r2["alpha_word_frac"] == round(4 / 6, 6)
    assert r2["mean_word_len"] == round(14 / 6, 6)
    assert r2["keep"] is False
    r3 = rows[3]
    assert r3["n_words"] == 3
    assert r3["symbol_ratio"] == round(1 / 3, 6)
    assert r3["ellipsis_frac"] == 1.0
    assert r3["keep"] is False
    # scale contract: one JVM projection — no Python workers, no shuffle
    plan = gopher_quality(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan


def test_c4_clean_closed_form(spark):
    from geofileops_spark.text.analysis import c4_clean

    df = spark.createDataFrame(
        [
            # 2 good lines (>=5 words, terminal punct) + 1 short + 1
            # unterminated + 1 javascript line
            (1, "the quick brown fox jumps high.\nok fine.\n"
                "this line has no terminal punctuation\n"
                "please enable JavaScript to view this site.\n"
                "another good line with plenty of words here?"),
            # lorem ipsum poisons the page verdict but its line survives
            (2, "lorem ipsum dolor sit amet consectetur.\n"
                "a second wholesome line with many words."),
            # curly brace = template/code page
            (3, "var config = { a: 1 };\n"
                "a perfectly good sentence with enough words."),
        ],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in c4_clean(df, min_sentences=2).collect()}
    r1 = rows[1]
    assert r1["n_lines_kept"] == 2
    assert r1["clean_text"] == (
        "the quick brown fox jumps high.\n"
        "another good line with plenty of words here?"
    )
    assert r1["n_sentences"] == 2 and r1["keep"] is True
    r2 = rows[2]
    assert r2["n_lines_kept"] == 2 and r2["keep"] is False  # lorem ipsum
    r3 = rows[3]
    assert r3["n_lines_kept"] == 1 and r3["keep"] is False  # '{'
    # scale contract: one JVM projection — no Python workers, no shuffle
    plan = c4_clean(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan


def test_tfidf_topk_closed_form(spark):
    import math

    from geofileops_spark.text.keywords import tfidf_topk

    df = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry date fig"),
        ],
        "doc_id int, text string",
    )
    rows = tfidf_topk(df, k=2).collect()
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["term_df"], r["score_ppm"])
        for r in rows
    }
    ppm = lambda tf, dfreq: round(  # noqa: E731
        round(tf * math.log(4.0 / (dfreq + 1.0)), 6) * 1_000_000
    )
    assert got[(1, 1)] == ("apple", 2, 1, ppm(2, 1))
    assert got[(1, 2)] == ("banana", 1, 2, ppm(1, 2))
    # doc2: banana/cherry tie on score -> term-ascending break
    assert got[(2, 1)] == ("banana", 1, 2, ppm(1, 2))
    assert got[(2, 2)] == ("cherry", 1, 2, ppm(1, 2))
    # doc3: date/fig tie above cherry
    assert got[(3, 1)] == ("date", 1, 1, ppm(1, 1))
    assert got[(3, 2)] == ("fig", 1, 1, ppm(1, 1))
    assert len(rows) == 6
    # min_len drops short tokens entirely
    short = spark.createDataFrame([(1, "to be or ab xyz")], "doc_id int, text string")
    only = tfidf_topk(short, k=5).collect()
    assert [r["term"] for r in only] == ["xyz"]


def test_pack_sequences_closed_form(spark):
    from geofileops_spark.ml.corpus import pack_sequences

    # token counts: 3, 4, 0, 5, 2 -> offsets 0, 3, 7, 7, 12
    df = spark.createDataFrame(
        [
            (0, "a b c"),
            (1, "d e f g"),
            (2, "   "),
            (3, "h i j k l"),
            (4, "m n"),
        ],
        "doc_id long, text string",
    )
    # budget 6: bins [0,6) [6,12) [12,18)
    rows = {
        r["doc_id"]: r
        for r in pack_sequences(df, budget=6, bucket_width=2).collect()
    }
    assert [rows[i]["start_offset"] for i in range(5)] == [0, 3, 7, 7, 12]
    assert [rows[i]["bin_id"] for i in range(5)] == [0, 0, 1, 1, 2]
    # doc 1 spans offsets 3..6 -> crosses the [0,6) boundary
    assert [rows[i]["crosses"] for i in range(5)] == [
        False, True, False, False, False,
    ]
    assert rows[2]["n_tokens"] == 0
    # two-phase plan: matches a single global window exactly at any
    # bucket width
    rows_w1 = {
        r["doc_id"]: r
        for r in pack_sequences(df, budget=6, bucket_width=1000).collect()
    }
    for i in range(5):
        assert rows_w1[i]["start_offset"] == rows[i]["start_offset"]


def test_quantize_embeddings_closed_form(spark):
    from geofileops_spark.ml.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 0.0]),
            (2, [0.0, 0.0]),
            (3, [-2.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    # scale 1.0: q = floor(v*127 + 0.5) = [127, floor(-63.0)=-63, 32, 0]
    assert rows[1]["scale_ppm"] == 1_000_000
    assert rows[1]["q"] == [127, -63, 32, 0]
    # all-zero vector: scale 0, zero codes
    assert rows[2]["scale_ppm"] == 0 and rows[2]["q"] == [0, 0]
    # negative max: scale from |v|, code -127
    assert rows[3]["scale_ppm"] == 2_000_000 and rows[3]["q"] == [-127]
    # scale contract: one JVM projection — no Python workers, no shuffle
    plan = quantize_embeddings(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Exchange" not in plan


def test_canonical_url_and_dedup(spark):
    from geofileops_spark.text.analysis import canonical_url, dedup_url

    df = spark.createDataFrame(
        [
            (1, "https://www.Example.COM:8080/a/b/?utm_source=x&id=7#frag"),
            (2, "http://example.com/a/b?id=7&gclid=zzz"),
            (3, "https://example.com/a/b?id=8"),
            (4, "not a url"),
        ],
        "doc_id long, url string",
    )
    got = {r["doc_id"]: r["c"] for r in df.select(
        "doc_id", canonical_url(F.col("url")).alias("c")).collect()}
    assert got[1] == "example.com/a/b?id=7"   # www/port/slash/utm/frag gone
    assert got[2] == "example.com/a/b?id=7"   # scheme + gclid ignored
    assert got[3] == "example.com/a/b?id=8"
    assert got[4] == ""
    kept = sorted(r["doc_id"] for r in dedup_url(df).collect())
    assert kept == [1, 3, 4]  # 2 is a recrawl variant of 1


def test_lm_cross_entropy_hand_math(spark):
    """Tiny corpus where the add-k bigram LM is checkable by hand."""
    import math

    from geofileops_spark.text.analysis import lm_cross_entropy

    df = spark.createDataFrame(
        [
            (1, "a b a b"),     # bigrams: (a,b) x2, (b,a) x1
            (2, "a b"),         # bigram: (a,b)
            (3, "c"),           # no bigram: dropped
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in lm_cross_entropy(df, k=0.5).collect()}
    assert set(out) == {1, 2}
    # corpus counts: c(a,b)=3, c(b,a)=1; ctx: c(a)=3, c(b)=1; V={a,b}=2
    lp_ab = math.log2((3 + 0.5) / (3 + 0.5 * 2))
    lp_ba = math.log2((1 + 0.5) / (1 + 0.5 * 2))
    want1 = round(-(2 * lp_ab + lp_ba) / 3, 6)
    want2 = round(-lp_ab, 6)
    assert out[1]["n_bigrams"] == 3
    assert out[2]["n_bigrams"] == 1
    assert out[1]["xent"] == pytest.approx(want1, abs=2e-6)
    assert out[2]["xent"] == pytest.approx(want2, abs=2e-6)
    # fluent (frequent) bigrams score lower than rare ones
    assert out[2]["xent"] < out[1]["xent"]


def test_curate_corpus_pipeline(spark):
    """Composed pipeline: recrawl dup dropped, short/punct-soup rows
    gated out, per-stratum quota enforced deterministically."""
    from geofileops_spark.ml.corpus import curate_corpus, spread_hash

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en"),
        (2, "The  quick brown fox jumps over the lazy DOG", "en"),  # dup of 1
        (3, "too short", "en"),                                      # 2 tokens
        (4, "!!! ... ;;; ::: ,,, ??? !!! ... ;;; ::: ,,, ???", "en"),  # punct soup
        (5, "ein ganz normaler deutscher satz mit genug worten", "de"),
    ] + [
        (100 + i, f"filler doc number {i} with several plain words inside", "en")
        for i in range(15)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = curate_corpus(df, strata_cols=["lang"], quota=10)
    got = {r["doc_id"]: r for r in out.collect()}
    assert 2 not in got          # exact dup (case/whitespace variant)
    assert 3 not in got          # below min_tokens
    assert 4 not in got          # punct ratio above cap
    assert 5 in got and got[5]["lang"] == "de"
    en = [i for i in got if got[i]["lang"] == "en"]
    assert len(en) == 10         # quota
    # winner set = 10 smallest spread_hash among en survivors
    surv = [1] + [100 + i for i in range(15)]
    hv = {r["doc_id"]: r["h"] for r in spark.createDataFrame(
        [(i,) for i in surv], "doc_id long"
    ).select("doc_id", spread_hash("doc_id").alias("h")).collect()}
    want = set(sorted(surv, key=lambda i: (hv[i], i))[:10])
    assert set(en) == want
    assert got[1]["n_tokens"] == 9
