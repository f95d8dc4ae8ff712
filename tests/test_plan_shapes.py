"""Physical-plan shape regressions: the optimizations we rely on at
100 TB must be visible in the executed plan, not assumed.

Checks (via explain strings): parquet pushdown + column pruning reach
the scan; small spatial dims broadcast; the flagship PIP pipeline stays
map-side (no shuffle before the final rollup); whole-stage codegen wraps
the JVM parts of UDF pipelines.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pushdown_reaches_scan(spark):
    from geofileops_spark import geoops as gfo

    df = gfo.read_file(
        spark, f"{SF}/orders.parquet",
        columns=["o_orderkey", "o_totalprice"],
        where="o_totalprice > 100000", geom_col="none",
    )
    p = plan_of(df)
    assert "o_totalprice" in p and "PushedFilters" in p or "DataFilters" in p
    # column pruning: the scan must NOT read o_orderpriority / o_orderdate
    scan_line = [l for l in p.splitlines() if "FileScan" in l][0]
    assert "o_orderpriority" not in scan_line and "o_orderdate" not in scan_line


def test_join_by_location_broadcasts_small_side(spark):
    from geofileops_spark.operators.join import join_by_location
    from geofileops_spark.sources import tpch_geo as T

    out = join_by_location(
        T.cust_points(spark, SF), T.nation_boxes(spark, SF),
        "intersects is True", res=18,
    )
    # the probe emits finished rows: no attribute join, no shuffle
    p = plan_of(out)
    assert "MapInArrow" in p
    assert "BroadcastHashJoin" not in p and "Exchange" not in p


def test_flagship_pip_is_map_side(spark):
    """extract -> broadcast PIP join must be ONE stage: the only
    exchange allowed is the final 5-group rollup."""
    from geofileops_spark.operators.join import join_points_in_polygons
    from geofileops_spark.sources.pages import extract_points, synth_pages, synth_zones

    pages = synth_pages(spark, 2000, partitions=4)
    pts = extract_points(pages, res=12, with_geom=False)
    zones = synth_zones(spark).withColumnRenamed("fid", "zone_fid")
    j = join_points_in_polygons(pts, zones, "lon", "lat", "zone_fid")
    agg = j.groupBy("zone_fid").agg(F.count("*").alias("n"))
    p = plan_of(agg)
    # exactly one shuffle exchange (the rollup); no join exchange at all
    n_exchanges = p.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, p
    assert "SortMergeJoin" not in p


def test_equi_join_uses_hash_join(spark):
    from geofileops_spark.operators.join import join as equi_join
    from geofileops_spark.sources.tpch_geo import load

    j = equi_join(
        load(spark, SF, "orders"), load(spark, SF, "customer"),
        on=[("o_custkey", "c_custkey")],
    )
    p = plan_of(j)
    assert "HashJoin" in p  # broadcast or shuffled hash, never NLJ
    assert "CartesianProduct" not in p


def test_wholestage_codegen_present(spark):
    from geofileops_spark.sources.pages import extract_points, synth_pages

    pts = extract_points(synth_pages(spark, 1000, partitions=2), res=12, with_geom=False)
    p = plan_of(pts)
    # codegen spans show as *(N) markers in executedPlan.toString
    assert "*(" in p
    # with_geom=False: the whole extraction is JVM-side — no python eval
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_cell_join_never_broadcasts_implicitly(spark):
    """Catalyst sizes UDF+explode output from the scan estimate, so it
    would happily broadcast a huge exploded polygon cover; candidate_pairs
    must force a shuffled hash join."""
    from geofileops_spark.operators.celljoin import candidate_pairs
    from geofileops_spark.sources import tpch_geo as T

    pairs, _ = candidate_pairs(
        T.supp_boxes(spark, SF), T.nation_boxes(spark, SF), res=18
    )
    p = plan_of(pairs)
    assert "ShuffledHashJoin" in p


def test_dissolve_triggers_no_full_input_count(spark):
    """dissolve's merge-round planning must measure the per-cell PARTIAL
    result, never re-count the raw input (a full extra scan at 100 TB).
    Guard: the raw-input DataFrame object never receives a .count()."""
    from unittest import mock

    from geofileops_spark.operators.dissolve import dissolve
    from geofileops_spark.sources import tpch_geo as T

    layer = T.paired_left(spark, SF)
    seen = []
    orig = type(layer).count

    def spy(self):
        seen.append(self)
        return orig(self)

    with mock.patch.object(type(layer), "count", spy):
        dissolve(layer, ["fid"]).count()
    # counts happen on derived (post-union) frames and the final result,
    # never on the input layer object itself
    assert layer not in seen


def test_pip_rect_path_is_pure_jvm_bnlj(spark):
    """Rectangle zones: the PIP join must compile to a broadcast
    nested-loop join with ZERO Python evaluation anywhere in the plan
    (a Python UDF over every point saturates the Python workers above
    ~8 threads; the BNLJ shape keeps scaling)."""
    from geofileops_spark.functions.st import st_geomfromtext
    from geofileops_spark.operators.join import join_points_in_polygons

    pts = spark.range(1000).select(
        F.col("id").alias("pid"),
        (F.col("id") % 100).cast("double").alias("lon"),
        (F.col("id") % 50).cast("double").alias("lat"),
    )
    zones = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 50 0, 50 25, 0 25, 0 0))"),
         (2, "POLYGON ((50 25, 100 25, 100 50, 50 50, 50 25))")],
        "fid long, wkt string",
    ).withColumn("geom_wkb", st_geomfromtext(F.col("wkt"))).drop("wkt")
    out = join_points_in_polygons(pts, zones, poly_id_col="fid")
    p = plan_of(out)
    assert "BroadcastNestedLoopJoin" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    # and it still returns the exact BETWEEN-arithmetic answer
    n = out.count()
    expect = sum(
        1 for i in range(1000)
        if (0 <= i % 100 <= 50 and 0 <= i % 50 <= 25)
        or (50 <= i % 100 <= 100 and 25 <= i % 50 <= 50)
    )
    assert n == expect, (n, expect)


def test_pack_sequences_has_no_global_window_funnel(spark):
    """The running-offset plan must be the two-phase form: the per-row
    window partitions by _bucket (parallel across buckets); the only
    single-partition exchange feeds the tiny bucket-prefix aggregate,
    never the full input."""
    from geofileops_spark.ml.corpus import pack_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    p = plan_of(pack_sequences(docs, budget=256, bucket_width=64))
    win_lines = [l for l in p.splitlines() if "Window [" in l]
    # the full-input window (ordered by _ord) is PARTITIONED by _bucket
    big_window = [l for l in win_lines if "_ord" in l]
    assert big_window, win_lines
    assert all("windowspecdefinition(_bucket" in l for l in big_window), big_window
    # exactly one single-partition exchange, feeding the tiny
    # bucket-prefix window (itself behind a broadcast), never the scan
    assert p.count("Exchange SinglePartition") == 1, p[:2000]
    assert "BroadcastExchange" in p


def test_host_rollup_partial_aggregates(spark):
    """Domain rollup must map-side combine (partial_count / partial_sum
    before the exchange) so a 100-TB scan ships one row per (task,
    host), not one per document."""
    from geofileops_spark.text.analysis import host_rollup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text",
        F.concat(F.lit("https://www.h"), (F.col("doc_id") % 50).cast("string"),
                 F.lit(".example.com/p")).alias("url"),
    )
    p = plan_of(host_rollup(docs))
    assert "partial_count" in p or "partial count" in p.lower(), p[:2000]


def test_ann_query_broadcast_guarded(spark, monkeypatch):
    """lsh_topk broadcasts only a budget-sized query side; an
    over-budget query side (e.g. corpus-vs-corpus self search) must fall
    back to a shuffled join instead of broadcasting the corpus."""
    from geofileops_spark.ml import similarity as S
    from geofileops_spark.sources.tpch_geo import load

    emb = load(spark, SF, "embeddings")
    small_q = emb.where(F.col("vec_id") % 50 == 0)
    p_small = plan_of(S.lsh_topk(small_q, emb, k=3))
    assert "BroadcastHashJoin" in p_small

    # shrink the budget so the full corpus no longer fits
    from geofileops_spark.index import pairing

    monkeypatch.setattr(pairing, "BROADCAST_BYTES", 1)
    p_big = plan_of(S.lsh_topk(emb, emb, k=3, include_self=False))
    bucket_joins = [
        l for l in p_big.splitlines()
        if "Join" in l and "_bucket" in l
    ]
    assert bucket_joins, p_big
    assert all("Broadcast" not in l for l in bucket_joins), bucket_joins
