"""100-TB plan audit pins (SURVEY §4 / the "push down and prune" rubric):
predicate pushdown and column pruning must reach the parquet scan, the
flagship join must stay broadcast (no sort-merge), and these properties
must survive refactors -- so they are asserted on the physical plan, not
just eyeballed once."""

import pytest
from pyspark.sql import functions as F

from conftest import initial_tree

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _round_plans(executed_plans, action) -> list[str]:
    """The executed plan of every round an iterative operator ran: each
    round of spatial.iterate.fixpoint ends in one checkpoint execution."""
    plans = [p for desc, p in executed_plans(action)
             if desc.startswith("localCheckpoint")]
    assert plans, "the operator ran no checkpointed round"
    return plans


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection over the 5-column documents table must scan
    only those 2 columns."""
    from spatial.datapipe.textstats import token_count

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    plan = _plan(q)
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    # none of the unused columns may reach the scan
    for col in ("lang", "source", "n_chars"):
        assert f"{col}:" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_predicate_pushdown_reaches_scan(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = ev.where(F.col("value") > 50.0).select("event_id")
    plan = _plan(q)
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "GreaterThan(value,50.0)" in pushed
    assert "ReadSchema: struct<event_id:bigint,value:double>" in plan


def test_flagship_join_is_broadcast_not_sortmerge(spark):
    """The spatial join's candidate and refine joins must both broadcast
    (geometry-free cells + per-region geometry) -- a SortMergeJoin here
    means the probe side started shuffling, the round-1 scale-killer."""
    from spatial.ewkb import ewkb_decode
    from spatial.join import spatial_join
    from spatial.pipeline import enrich_pages
    from spatial.synth import synth_pages, synth_regions

    regions = synth_regions(spark).withColumn(
        "geom", ewkb_decode("geom_hex")).select("region_id", "geom")
    pages = enrich_pages(synth_pages(spark, 200), 12)
    out = spatial_join(pages, regions, x_col="lon", y_col="lat")
    plan = _plan(out)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def _bits(row) -> tuple:
    """Row values with doubles as their exact bit pattern (-0.0 != 0.0)."""
    return tuple(v.hex() if isinstance(v, float) else v for v in row)


def _fixture_frames(spark):
    """(frame, its Python fixture rows, DDL schema) for each fixed frame."""
    from spatial import gazetteer, synth
    from spatial.ewkb import encode_hex
    from spatial.geometry import linestring, multilinestring, polygon

    regions = [(i, city, encode_hex(polygon(rings, srid=4326)))
               for i, city, rings in synth.region_rings()]
    routes = [(rid, encode_hex(linestring(parts[0], srid=4326)
                               if len(parts) == 1
                               else multilinestring(parts, srid=4326)))
              for rid, parts in synth.route_lines()]
    return [
        (gazetteer.gazetteer_df(spark), gazetteer.CITIES, gazetteer.SCHEMA),
        (gazetteer.country_centroids_df(spark), gazetteer.country_centroids(),
         "cc_tld string, cc_lon double, cc_lat double"),
        (synth.synth_regions(spark), regions,
         "region_id bigint, name string, geom_hex string"),
        (synth.synth_routes(spark), routes, "route_id bigint, geom_hex string"),
        (synth.synth_cluster_points(spark), synth.cluster_points(),
         "point_id bigint, x double, y double"),
    ]


def test_fixture_frames_are_exact_local_relations(spark):
    """The fixed dimension/fixture frames are JVM local relations: they
    collect to exactly their Python rows (bit-equal doubles, same column
    types) and their scan is LocalTableScan -- not a PythonRDD
    (ExistingRDD), which would start a Python worker per task."""
    for df, rows, ddl in _fixture_frames(spark):
        want_types = [tuple(c.split()) for c in ddl.split(", ")]
        assert df.dtypes == want_types
        assert [_bits(r) for r in df.collect()] == [_bits(r) for r in rows]
        plan = _plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_local_frame_literal_round_trip(spark):
    """Spark SQL processes backslash escapes in string literals (DuckDB
    does not), so quotes and backslashes must survive local_frame; doubles
    round-trip bit-exactly, including -0.0 and subnormals."""
    from spatial.gazetteer import local_frame

    rows = [(1, "it's", -0.0, 5e-324),
            (-2, "C:\\new\\u0041 \\' \\\\", 0.1, -1.7976931348623157e308),
            (3, "line\nbreak\t\u00e9", 1e20, 118.2437),
            (4, None, None, 3.0)]
    df = local_frame(spark, rows, "id long, s string, x double, y double")
    assert df.dtypes == [("id", "bigint"), ("s", "string"),
                         ("x", "double"), ("y", "double")]
    assert [_bits(r) for r in df.collect()] == [_bits(r) for r in rows]


def test_enrich_pages_crosses_into_python_only_for_extract_text(spark):
    """The geocode's gazetteer and country-centroid broadcasts are local
    relations, so the enrichment plan's only Python evaluation is the one
    extract_text node."""
    from spatial.pipeline import enrich_pages
    from spatial.synth import synth_pages

    plan = _plan(enrich_pages(synth_pages(spark, 200), 12))
    assert "ExistingRDD" not in plan
    python_nodes = [ln for ln in plan.splitlines()
                    if "ArrowEvalPython" in ln or "BatchEvalPython" in ln]
    assert len(python_nodes) == 1 and "extract_text" in python_nodes[0], plan


def test_worker_tasks_do_not_reread_unchanged_zips(spark):
    """PySpark calls importlib.invalidate_caches() at the start of every
    task, which before Python 3.13 re-parses pyspark.zip once per
    zipimporter. Once a worker has imported spatial (spatial/_pyworker.py),
    that call re-reads no unchanged archive: the guard stamps the archives
    the task has just re-read, so even a worker's first task reads none."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def reads(v: pd.Series) -> pd.Series:
        import importlib
        import zipimport

        import spatial  # noqa: F401

        n = 0
        read_directory = zipimport._read_directory

        def counting(path):
            nonlocal n
            n += 1
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return pd.Series([n] * len(v))

    rows = spark.range(0, 8, 1, 8).select(reads("id").alias("n")).collect()
    assert [r.n for r in rows] == [0] * 8


def test_embedding_scan_prunes_to_used_columns(spark):
    from spatial.datapipe.similarity import cosine_topk_bruteforce
    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = cosine_topk_bruteforce(emb, np.zeros((1, 64)) + 1.0, k=3)
    plan = _plan(q)
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in plan


def test_incremental_dedup_broadcasts_batch_side(spark):
    """The incremental dedup candidate join must broadcast the (small)
    batch side -- a sort-merge join there means the corpus bucket table
    started shuffling against the batch, defeating the incremental
    design."""
    from spatial.datapipe.dedup import incremental_dup_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    batch = (docs.where(F.col("doc_id") % 5 == 0)
             .withColumn("doc_id", F.col("doc_id") + 1_000_000)
             .withColumn("text", F.concat(F.col("text"), F.lit(" t"))))
    out = incremental_dup_pairs(docs, batch, threshold=0.7,
                                num_perm=64, bands=16)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan


def test_zorder_and_pyramid_plans_are_pure_jvm(spark):
    """No Python evaluation anywhere in the z-order key or tile pyramid
    plans (whole-stage codegen end to end)."""
    from spatial.tiles import tile_pyramid
    from spatial.zorder import with_zkey

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "event_id",
        ((F.col("event_id") * 7919 % 36000).cast("double") / 100.0 - 180.0)
        .alias("lon"),
        ((F.col("event_id") * 104729 % 17000).cast("double") / 100.0 - 85.0)
        .alias("lat"))
    for q in (with_zkey(ev, "lon", "lat", 12),
              tile_pyramid(ev, "lon", "lat", base_zoom=6, min_zoom=4)):
        plan = _plan(q)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_repetition_signals_no_shuffle(spark):
    """The zero-shuffle claim on the real documents table: no Exchange in
    the physical plan."""
    from spatial.datapipe.textstats import repetition_signals

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(repetition_signals(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_bucketed_join_has_no_exchange(spark):
    """Both sides hash-bucketed+sorted on the join key: the sort-merge
    join must read bucket i vs bucket i directly -- zero Exchange, zero
    Sort in the physical plan (the write pre-paid the shuffle)."""
    from spatial.bucketing import bucketed_join, write_bucketed

    c = spark.read.parquet(f"{SF}/customer.parquet") \
        .select("c_custkey", "c_mktsegment")
    o = spark.read.parquet(f"{SF}/orders.parquet") \
        .select(F.col("o_custkey").alias("c_custkey"), "o_totalprice")
    write_bucketed(c, "sg_pa_customer", "c_custkey", 4,
                   path="/tmp/sg_plan_audit/customer")
    write_bucketed(o, "sg_pa_orders", "c_custkey", 4,
                   path="/tmp/sg_plan_audit/orders")
    j = bucketed_join(spark, "sg_pa_customer", "sg_pa_orders", "c_custkey")
    plan = _plan(j)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    # content identical to the plain join (layout never changes results)
    plain = c.join(o, "c_custkey")
    assert j.count() == plain.count()


def test_text_set_operators_are_pure_jvm(spark):
    """The round-3 text operators built on split/explode/window
    (set-similarity join, PMI collocations, inverted index) must stay
    whole-stage-codegen JVM: tokenization is F.split, never a Python UDF."""
    from spatial.datapipe.index import inverted_index
    from spatial.datapipe.setjoin import similarity_join
    from spatial.datapipe.textstats import pmi_bigrams

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    for q in (similarity_join(docs, 19, 20),
              pmi_bigrams(docs, k=10, min_count=3),
              inverted_index(docs, max_df=300, max_postings=8)):
        plan = _plan(q)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_polygon_join_plan_broadcast_and_geometry_free_candidates(spark):
    """polygon_join's scale claims, asserted on the physical plan: with a
    dim-sized right side (1) the candidate and geometry-attach joins
    broadcast -- no SortMergeJoin anywhere; (2) the candidate equi-join
    carries only (cell, id, bbox) -- the geometry struct must not appear
    below the candidate BroadcastExchange (it re-attaches by id after the
    canonical-corner dedup)."""
    from spatial.ewkb import ewkb_decode
    from spatial.overlay import polygon_join
    from spatial.synth import synth_regions

    A = synth_regions(spark).select(
        F.col("region_id").alias("region_a"),
        ewkb_decode("geom_hex").alias("geom"))
    B = synth_regions(spark, seed=202).select(
        F.col("region_id").alias("region_b"),
        ewkb_decode("geom_hex").alias("geom"))
    out = polygon_join(A, B, "region_a", "region_b")
    plan = _plan(out)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    # structure: one join keyed on the cover cell (geometry-free candidate
    # side carries the __b* bbox columns), geometry re-attached by separate
    # joins keyed on the region ids
    assert "BroadcastHashJoin [cell" in plan
    assert "__bminx" in plan
    assert ("BroadcastHashJoin [region_b" in plan
            or "BroadcastHashJoin [region_a" in plan)


def test_lm_score_and_union_area_plans(spark):
    """Round-4 operators stay on the fast path: lm_score is pure JVM (no
    Python UDF anywhere -- the LM is two count aggregates + integer
    arithmetic), and union_area's slab join is an EQUI join on
    (key, x-bucket) -- a BroadcastNestedLoopJoin/CartesianProduct here is
    the within-key quasi-cartesian that measured 110s at bench shape
    before the bucket term was added."""
    from spatial.datapipe.textstats import lm_score
    from spatial.overlay import union_area

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
                .select("doc_id", "text")
    plan = _plan(lm_score(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    rects = spark.range(2000).select(
        (F.col("id") % 4).alias("key"),
        (F.col("id") * 37 % 5000).alias("xmin"),
        (F.col("id") * 91 % 5000).alias("ymin"),
        (F.col("id") * 37 % 5000 + 40).alias("xmax"),
        (F.col("id") * 91 % 5000 + 40).alias("ymax"))
    plan = _plan(union_area(rects, "key"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_nearest_route_plan_broadcast_and_partial_agg(spark):
    """q_nearest_route's scale claims on the physical plan: the dim route
    set broadcasts (BroadcastNestedLoopJoin -- the deliberate brute-force
    plan for a 24-row build side; no shuffle of the probe side before the
    aggregate), and the argmin is a map-side-combinable min(struct(...)):
    a partial_min must appear BELOW the exchange, so only one combined row
    per event crosses the wire, not the 24x candidate stream."""
    import __spark_entry__ as entry_mod

    out = entry_mod.queries()["q_nearest_route"](spark, SF)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_min" in plan
    # exactly ONE exchange: the final aggregation by event_id
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert body.count("Exchange hashpartitioning") == 1


def test_spatialstats_plans_pure_jvm(spark):
    """Moran's I and LISA never cross into Python: the centered transform,
    rook join and sums are all JVM column programs."""
    import __spark_entry__ as entry_mod

    for q in ("q_morans_i", "q_local_moran"):
        plan = _plan(entry_mod.queries()[q](spark, SF))
        assert "BatchEvalPython" not in plan, q
        assert "ArrowEvalPython" not in plan, q
        assert "CartesianProduct" not in plan, q


def test_grid_areal_weights_plan_no_shuffle_before_kernel(spark):
    """grid_areal_weights is a projection + explode over the dim table:
    the only exchange in its plan is the window's partitionBy(region_id);
    the cover-cell explode and the clip kernel run shuffle-free."""
    import __spark_entry__ as entry_mod

    out = entry_mod.queries()["q_grid_areal_weights"](spark, SF)
    plan = _plan(out)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert body.count("Exchange hashpartitioning") == 1  # the window only


def test_line_buffer_and_binary_decode_plans(spark):
    """Round-5 operators stay on the fast path: line_buffer_corners'
    physical plan has exactly ONE exchange (the per-line window for the
    segment ordinal; the double explode and corner math are map-side),
    and the binary-WKB decode is a single ArrowEvalPython over the scan --
    no extra shuffle, no row-at-a-time Python."""
    import __spark_entry__ as entry_mod
    from spatial.ewkb import ewkb_decode

    out = entry_mod.queries()["q_line_buffer"](spark, SF)
    plan = _plan(out)
    assert "BatchEvalPython" not in plan
    body = plan.split("AdaptiveSparkPlan")[-1]
    assert body.count("Exchange hashpartitioning") == 1, body

    ev = spark.read.parquet(f"{SF}/events.parquet")
    wkb = ev.select(F.unhex(F.hex(F.col("event_id"))).alias("wkb"))  # shape only
    dec = wkb.select(ewkb_decode("wkb").alias("g")).select("g.gtype")
    plan = _plan(dec)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan.split("AdaptiveSparkPlan")[-1]


def test_session5_graph_and_classifier_plans(spark, executed_plans):
    """Session-5 operators stay on the fast path: every one is pure JVM
    (no Python eval anywhere); the hashed classifier has ZERO joins (the
    weight is an inline expression -- the trained-weights variant would
    add exactly one broadcast); HITS' gathers are map-side combinable
    (partial_sum before the exchange, in every round); the walk plan has no
    CartesianProduct/BroadcastNestedLoopJoin (each step is an EQUI join
    on (src, j))."""
    from spatial.datapipe.graph import (cocitation_pairs, hits,
                                        random_walks, synth_edges)
    from spatial.datapipe.textstats import hashed_linear_score

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
                .select("doc_id", "text")
    plan = _plan(hashed_linear_score(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan  # weight lookup is inline, not a join

    nodes = spark.range(500).select(F.col("id").alias("doc_id"))
    edges = synth_edges(nodes, n_nodes=500)
    plan = _plan(hits(nodes, edges))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for plan in _round_plans(executed_plans, lambda: hits(nodes, edges)):
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "partial_sum" in plan  # gathers combine map-side

    plan = _plan(random_walks(nodes, edges))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = _plan(cocitation_pairs(edges))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_session7_operator_plans(spark, executed_plans):
    """Session-7 operators stay on the fast path: the kmeans assignment
    is a broadcast nested loop over the k-row centroid side (the correct
    physical plan for a dim-sized build) with a map-side partial argmin;
    anchor_terms joins edges on an EQUI key (no cartesian) and stays pure
    JVM; the hausdorff pair join broadcasts the vertex dim; kcore's
    returned plan starts from the checkpointed (id, deg) state, and every
    round's plan reads the persisted edge cache and holds only that
    round's two semi-joins (the 2^rounds fix)."""
    import __spark_entry__ as entry_mod
    from spatial.datapipe.graph import anchor_terms, kcore, synth_edges

    plan = _plan(entry_mod.q_kmeans_clusters(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_min" in plan  # argmin combines map-side
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
                .select("doc_id", "text")
    edges = synth_edges(docs, n_nodes=500)
    plan = _plan(anchor_terms(docs, edges))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # (src, j) equi join

    plan = _plan(entry_mod.q_hausdorff_pairs(spark, SF))
    assert "CartesianProduct" not in plan  # pair join is broadcast
    assert "BroadcastNestedLoopJoin" in plan

    plan = _plan(kcore(edges))
    assert "ExistingRDD" in plan        # the final state enters checkpointed
    for plan in _round_plans(executed_plans, lambda: kcore(edges)):
        assert "InMemoryTableScan" in plan  # edge set enters from the cache
        # constant depth: each round holds only its own two semi-joins
        # (earlier rounds live behind the checkpoint boundary)
        assert initial_tree(plan).count("LeftSemi") == 2


def test_session8_operator_plans(spark, executed_plans):
    """Session-8 operators stay on the fast path: readability and the
    robots decision are pure-JVM zero-Exchange projections (robots adds
    exactly one BroadcastHashJoin for the per-host rule-array dim -- the
    page side never fans out, so there is no aggregate after the join);
    bbox relate is a broadcast nested loop over the dim-sized box set
    with the classification inline (no Python, no aggregate); label
    propagation's counts combine map-side in every round; cheapest-path's
    returned plan is constant-depth (the kcore checkpoint discipline:
    it starts from the checkpointed best-set RDD)."""
    import __spark_entry__ as entry_mod
    from spatial.datapipe.graph import cheapest_hops, label_prop, synth_edges

    plan = _plan(entry_mod.q_readability(spark, SF))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plan = _plan(entry_mod.q_robots_filter(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan       # rules dim broadcasts
    assert "CartesianProduct" not in plan
    # the decision is in-row: no aggregate anywhere after the join
    assert "HashAggregate" not in plan.split("BroadcastHashJoin")[0]

    plan = _plan(entry_mod.q_bbox_relate(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan  # dim-sized pair join
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" not in plan        # classification is inline

    nodes = spark.range(500).select(F.col("id").alias("doc_id"))
    edges = synth_edges(nodes, n_nodes=500)
    plan = _plan(label_prop(edges))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for plan in _round_plans(executed_plans, lambda: label_prop(edges)):
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "partial_count" in plan        # mode counts combine map-side
        assert "CartesianProduct" not in plan

    seeds = nodes.where(F.col("doc_id") % 97 == 0)
    plan = _plan(cheapest_hops(edges, seeds))
    assert "ExistingRDD" in plan              # best set enters checkpointed
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for plan in _round_plans(executed_plans,
                             lambda: cheapest_hops(edges, seeds)):
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_session9_operator_plans(spark):
    """Session-9 operators stay on the fast path: link prediction is a
    pure-JVM relational pipeline (wedge join + counts, no Python, no
    cartesian); BPE training's per-round pair count combines map-side and
    the encode join never moves documents through Python; the frontier
    schedule is exactly ONE host-partitioned window (one Exchange, no
    global single-partition sort); line merge's degree aggregate combines
    map-side and its CC labels enter checkpointed (constant plan depth)."""
    import __spark_entry__ as entry_mod
    from spatial.datapipe.bpe import apply_merges, word_freq
    from spatial.datapipe.graph import link_prediction, synth_edges

    nodes = spark.range(500).select(F.col("id").alias("doc_id"))
    edges = synth_edges(nodes, n_nodes=500)
    plan = _plan(link_prediction(edges))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan            # cn counts combine map-side

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    wf = word_freq(docs)
    plan = _plan(wf)
    assert "partial_count" in plan            # word counts combine map-side
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # encode path: a chain of replace columns is pure JVM, zero extra
    # shuffle beyond the word_freq aggregate itself
    enc = apply_merges(wf, [(1, "<e><r>", "<er>", 1)])
    assert _plan(enc).count("Exchange") == _plan(wf).count("Exchange")

    plan = _plan(entry_mod.q_crawl_frontier(spark, SF))
    assert plan.count("Exchange") == 1        # the (host) hash partition
    assert "SinglePartition" not in plan      # no global total order
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    plan = _plan(entry_mod.q_line_merge(spark, SF))
    assert "partial_count" in plan            # size agg combines map-side
    assert "ExistingRDD" in plan              # CC labels enter checkpointed
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the degree aggregate (ahead of the CC checkpoint) combines map-side:
    # pin it on the pair-generation sub-plan directly
    segs = spark.createDataFrame(
        [(1, 0, 0, 1, 0), (2, 1, 0, 2, 0)],
        "seg_id long, ax long, ay long, bx long, by long")
    from spatial.overlay import _LM_KEY
    ends = (segs.select(F.col("seg_id").alias("__s"),
                        (F.col("ax") * _LM_KEY + F.col("ay")).alias("__k"))
            .unionAll(segs.select(
                F.col("seg_id").alias("__s"),
                (F.col("bx") * _LM_KEY + F.col("by")).alias("__k"))))
    pair_plan = _plan(ends.groupBy("__k").agg(
        F.count("*").alias("__deg"), F.min("__s").alias("id_a"),
        F.max("__s").alias("id_b")))
    assert "partial_min" in pair_plan and "partial_count" in pair_plan


def test_session9b_operator_plans(spark):
    """PII scrub and mojibake signals are zero-Exchange pure-JVM
    projections (regex/length arithmetic in whole-stage codegen -- the
    linear-in-chars floor); personalized PageRank's returned plan is
    constant-depth (ranks enter from the per-round checkpoint)."""
    import __spark_entry__ as entry_mod
    from spatial.datapipe.graph import personalized_pagerank, synth_edges

    for q in (entry_mod.q_pii_scrub, entry_mod.q_mojibake):
        plan = _plan(q(spark, SF))
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    nodes = spark.range(300).select(F.col("id").alias("doc_id"))
    plan = _plan(personalized_pagerank(nodes, synth_edges(nodes,
                                                          n_nodes=300)))
    assert "ExistingRDD" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_session9c_operator_plans(spark):
    """URL-trap detection is a pure-JVM two-level combinable aggregate
    (no Python, partial counts map-side); the compass rollup is one
    (user) window Exchange + one 8-key combinable aggregate with the
    octant CASE inline (no Python, no SinglePartition)."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.q_url_traps(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan

    plan = _plan(entry_mod.q_compass_rose(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SinglePartition" not in plan
    assert "partial_count" in plan


def test_session9d_raster_plans(spark):
    """Focal slope is pure JVM with ONE Exchange (the stencil gather;
    partial sums map-side); zonal stats broadcasts the zone dim (no
    SortMergeJoin, no cartesian) and combines map-side."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.q_raster_slope(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan and "partial_sum" in plan

    plan = _plan(entry_mod.q_zonal_stats(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan    # range join on a 12-row dim
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan


def test_session9e_d8_plans(spark):
    """D8 direction is pure JVM (scatter + combinable min(struct) argmin,
    partial_min map-side, no Python); the accumulation's returned plan is
    constant-depth (accumulator enters from the per-round checkpoint)."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.q_d8_flow(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan

    plan = _plan(entry_mod.q_d8_accum(spark, SF))
    assert "ExistingRDD" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_session9f_ks_drift_plan(spark):
    """KS drift's cumulative window must consume the aggregated
    distinct-value SUMMARY, not raw rows: the plan shows the combinable
    per-value aggregate (partial_sum) feeding the Window, and no
    Python anywhere."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.q_ks_drift(spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_sum" in plan
    assert "Window" in plan
    # the Window's child chain contains the summary HashAggregate
    assert "HashAggregate" in plan.split("Window")[-1]
