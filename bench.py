"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total headline sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>, "pages_per_sec": <flagship>}

The flagship number (pages/sec through the full extract->geocode->tile->
spatial-join pipeline on a synthetic Common-Crawl-shaped pages table sized to
the sf) is the metric BASELINE.json defines; per-query timings localize
regressions. Protocol (BASELINE.md): fixed seed, one warm-up of the flagship
at small n, each timed section run twice with the min reported (first run
warms UDF pickling/parquet footers/codegen; this shared host shows up to 2x
co-tenant noise, so single-shot numbers conflate engine cost with load);
the flagship stays best-of-3. Round-over-round comparability comes from the
fixed seed + fixed plan.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def build_spark(cpus: int) -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("spatial-bench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        # see spatial/join.py: constraint propagation duplicates staged cell
        # expressions 357x into per-row predicates
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_benchmarks(spark: SparkSession, sf_dir: str, n_pages: int) -> dict:
    from spatial.ewkb import ewkb_decode
    from spatial.join import SpatialJoinPlan
    from spatial.pipeline import enrich_pages
    from spatial.synth import synth_pages, synth_regions
    from spatial.datapipe.dedup import minhash_dedup_pairs
    from spatial.datapipe.similarity import cosine_topk_bruteforce
    from spatial.datapipe.textstats import with_textstats
    import __spark_entry__ as entry_mod

    timings: dict[str, float] = {}

    def timed(name, fn):
        # best-of-2: the first run doubles as warm-up (UDF pickling, parquet
        # footer reads, codegen); the min is the steady-state number. This
        # shared host shows up to 2x run-to-run noise, so single-shot
        # timings conflate engine cost with co-tenant load.
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        t0 = time.perf_counter()
        fn()
        timings[name] = round(min(dt, time.perf_counter() - t0), 3)
        return out

    # ---- flagship: pages pipeline throughput --------------------------------
    regions = synth_regions(spark).withColumn(
        "geom", ewkb_decode("geom_hex")).select("region_id", "geom")
    plan = SpatialJoinPlan(regions)  # dim side prepared once (outside timing)

    # warm-up (JIT, Python workers, Arrow) on a small slice
    synth_pages(spark, 2000).count()
    warm = enrich_pages(synth_pages(spark, 2000), 12)
    plan.join(warm, x_col="lon", y_col="lat").count()

    pages = synth_pages(spark, n_pages).persist()
    n_rows = pages.count()  # generation is not part of the pipeline timing

    def flagship():
        enriched = enrich_pages(pages, 12)
        joined = plan.join(enriched, x_col="lon", y_col="lat")
        return joined.count()

    # this shared-host VM shows 2x run-to-run noise; best-of-3 for the
    # headline number (protocol recorded in BENCH/BASELINE.md)
    join_rows = flagship()
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        flagship()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    timings["flagship_pipeline"] = round(best, 3)
    pages_per_sec = round(n_rows / best, 1)

    # salted shuffle path: same join forced off the broadcast plan
    # (broadcast_threshold=0) with 8-way hot-cell salting -- the plan the
    # engine runs when the polygon side outgrows a broadcast. Row count must
    # match the broadcast plan exactly (salting is correctness-neutral).
    plan_salted = SpatialJoinPlan(regions, broadcast_threshold=0, salt_buckets=8)
    enriched_s = enrich_pages(pages, 12)
    salted_rows = plan_salted.join(
        enriched_s, x_col="lon", y_col="lat", salt_key="url").count()  # warm
    assert salted_rows == join_rows, (salted_rows, join_rows)
    timed("flagship_salted_shuffle",
          lambda: plan_salted.join(enrich_pages(pages, 12), x_col="lon",
                                   y_col="lat", salt_key="url").count())
    plan_salted.unpersist()
    pages.unpersist()

    # ---- operator benchmarks on the sf tables --------------------------------
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    timed("q1_pricing_summary",
          lambda: entry_mod.q1_pricing_summary(spark, sf_dir).collect())
    timed("tile_rollup",
          lambda: entry_mod.q_tile_rollup(spark, sf_dir).count())
    timed("s2_cell_rollup",
          lambda: entry_mod.q_s2_cell_rollup(spark, sf_dir).count())
    timed("ewkb_roundtrip",
          lambda: entry_mod.q_ewkb_roundtrip(spark, sf_dir).count())

    # polygon-corpus decode: exercises the grouped template decode path
    # (same-structure rows bulk-decoded with strided views, not per-row
    # Python). Ring with 8 vertices + SRID per event.
    x, y = entry_mod._lon(), entry_mod._lat()
    from spatial.geometry import GEOMETRY  # noqa: F401  (schema sanity)
    from spatial.ewkb import ewkb_encode
    ring_xs = F.array(*[x + F.lit(float(i % 3)) for i in range(7)], x)
    ring_ys = F.array(*[y + F.lit(float(i % 2)) for i in range(7)], y)
    poly = F.struct(
        F.lit(3).alias("gtype"), F.lit(4326).alias("srid"),
        F.lit(False).alias("has_z"), F.lit(False).alias("has_m"),
        ring_xs.alias("xs"), ring_ys.alias("ys"),
        F.lit(None).cast("array<double>").alias("zs"),
        F.lit(None).cast("array<double>").alias("ms"),
        F.array(F.lit(0), F.lit(8)).alias("ring_offsets"),
        F.array(F.lit(0), F.lit(1)).alias("part_offsets"),
    )
    poly_hex = ev.select(ewkb_encode(poly).alias("hex")).persist()
    poly_hex.count()
    timed("ewkb_decode_polygons",
          lambda: poly_hex.select(ewkb_decode("hex").alias("g"))
          .select(F.size("g.xs").alias("n")).agg(F.sum("n")).collect())
    poly_hex.unpersist()

    # heterogeneous-structure decode: two-ring polygons whose ring sizes
    # vary per row (incl. length-colliding splits of the same total), so
    # neither the point fast path nor the template group applies -- this
    # prices the two-pass mixed-structure decode (round-4: offset-table scan
    # + zero-copy coordinate views; was per-row Python before)
    n1 = (F.col("event_id") % 13 + 4).cast("int")
    n2 = (F.col("event_id") % 17 + 4).cast("int")
    base_xs = F.array(*[x + F.lit(float(i % 5)) for i in range(21)])
    base_ys = F.array(*[y + F.lit(float(i % 3)) for i in range(21)])

    def ring(arr, cnt):
        # cnt vertices + closing copy of the first
        return F.concat(F.slice(arr, 1, cnt), F.array(F.element_at(arr, 1)))

    mixed = F.struct(
        F.lit(3).alias("gtype"), F.lit(4326).alias("srid"),
        F.lit(False).alias("has_z"), F.lit(False).alias("has_m"),
        F.concat(ring(base_xs, n1), ring(base_xs, n2)).alias("xs"),
        F.concat(ring(base_ys, n1), ring(base_ys, n2)).alias("ys"),
        F.lit(None).cast("array<double>").alias("zs"),
        F.lit(None).cast("array<double>").alias("ms"),
        F.array(F.lit(0), n1 + 1, n1 + n2 + 2).alias("ring_offsets"),
        F.array(F.lit(0), F.lit(2)).alias("part_offsets"),
    )
    mixed_hex = ev.select(ewkb_encode(mixed).alias("hex")).persist()
    mixed_hex.count()
    timed("ewkb_decode_mixed",
          lambda: mixed_hex.select(ewkb_decode("hex").alias("g"))
          .select(F.size("g.xs").alias("n")).agg(F.sum("n")).collect())
    # raw-binary WKB twin at the SAME corpus (round 5): the BinaryType
    # decode path -- half the bytes through storage/Arrow vs hex. CPU cost
    # is near-identical by design (both wire forms share the vectorized
    # batch decode; fromhex is bulk C), so this entry prices the
    # byte-volume saving, which at 100 TB is the scan-bound term.
    mixed_wkb = mixed_hex.select(F.unhex(F.upper("hex")).alias("wkb")).persist()
    mixed_wkb.count()
    timed("ewkb_decode_binary",
          lambda: mixed_wkb.select(ewkb_decode("wkb").alias("g"))
          .select(F.size("g.xs").alias("n")).agg(F.sum("n")).collect())
    mixed_wkb.unpersist()
    mixed_hex.unpersist()
    timed("knn_grid", lambda: entry_mod.q_knn_grid(spark, sf_dir).count())

    # polygon x polygon overlay join at corpus scale (round 4): one hexagon
    # per event point vs one pentagon per shifted event point -- both sides
    # constructed pure-JVM (vertex offsets are plan constants), then the
    # cover-cells/corner-dedup/refine plan from spatial/overlay.py
    import math as _math

    from spatial.overlay import polygon_join

    def poly_around(cx, cy, n_verts, radius, rot):
        angs = [rot + 2.0 * _math.pi * k / n_verts for k in range(n_verts)]
        xs = F.array(*[cx + radius * _math.cos(a) for a in angs],
                     cx + radius * _math.cos(angs[0]))
        ys = F.array(*[cy + radius * _math.sin(a) for a in angs],
                     cy + radius * _math.sin(angs[0]))
        return F.struct(
            F.lit(3).alias("gtype"), F.lit(4326).alias("srid"),
            F.lit(False).alias("has_z"), F.lit(False).alias("has_m"),
            xs.alias("xs"), ys.alias("ys"),
            F.lit(None).cast("array<double>").alias("zs"),
            F.lit(None).cast("array<double>").alias("ms"),
            F.array(F.lit(0), F.lit(n_verts + 1)).alias("ring_offsets"),
            F.array(F.lit(0), F.lit(1)).alias("part_offsets"))

    ovl_a = ev.select(F.col("event_id").alias("left_id"),
                      poly_around(x, y, 6, 0.25, 0.0).alias("geom"))
    ovl_b = ev.select((F.col("event_id") + 1_000_000_000).alias("right_id"),
                      poly_around(x + F.lit(0.2), y, 5, 0.3, 0.3)
                      .alias("geom"))
    timed("polygon_overlay",
          lambda: polygon_join(ovl_a, ovl_b, "left_id", "right_id").count())

    # nearest-route assignment (round 4): every event point -> closest of
    # 48 broadcast routes by squared point-to-polyline distance, argmin as
    # one map-side-combinable min(struct) aggregate (q_nearest_route plan)
    from spatial.overlay import make_point_line_dist_sq
    from spatial.synth import synth_routes

    routes48 = synth_routes(spark, n=48).select(
        "route_id", ewkb_decode("geom_hex").alias("geom"))
    d2k = make_point_line_dist_sq()

    def nearest_route():
        scored = (ev.select("event_id", x.alias("__ex"), y.alias("__ey"))
                  .crossJoin(F.broadcast(routes48))
                  .select("event_id", "route_id",
                          d2k(F.col("__ex"), F.col("__ey"),
                              F.col("geom")).alias("d2")))
        return (scored.groupBy("event_id")
                .agg(F.min(F.struct("d2", "route_id")).alias("b"))
                .count())

    timed("nearest_route", nearest_route)
    # ST_Buffer point N-gon (round 5): pure-JVM vertex math + snap, one
    # Arrow crossing for the ewkb_encode sink -- zero-shuffle map stage
    timed("st_buffer",
          lambda: entry_mod.q_st_buffer(spark, sf_dir).count())
    timed("textstats", lambda: with_textstats(docs).count())
    timed("minhash_dedup",
          lambda: minhash_dedup_pairs(
              docs.select("doc_id", "text"), threshold=0.7,
              num_perm=64, bands=16).count())
    from spatial.datapipe.dedup import embedding_dup_pairs, simhash_pairs
    timed("simhash_dedup",
          lambda: simhash_pairs(docs.select("doc_id", "text"),
                                max_hamming=3).count())
    emb_d = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    timed("embedding_dups",
          lambda: embedding_dup_pairs(emb_d, threshold=0.99,
                                      n_planes=12, n_tables=6).count())
    rng = np.random.default_rng(42)
    dim = len(emb.select("embedding").first()[0])
    Q = rng.normal(size=(16, dim))
    timed("ann_bruteforce",
          lambda: cosine_topk_bruteforce(emb, Q, k=10).count())

    # round-3 pipeline operators: pairs -> connected components (the full
    # dedup resolve), shingle-containment decontamination, as-of join
    from spatial.asof import asof_join
    from spatial.datapipe.cluster import connected_components
    from spatial.datapipe.decontam import contamination_pairs

    d_txt = docs.select("doc_id", "text")
    timed("dedup_cluster_resolve",
          lambda: connected_components(
              minhash_dedup_pairs(d_txt, threshold=0.7,
                                  num_perm=64, bands=16)).count())
    train = (d_txt.where(F.col("doc_id") % 2 == 0)
             .withColumn("doc_id", F.col("doc_id") + 1_000_000)
             .withColumn("text", F.concat(F.col("text"),
                                          F.lit(" extra trailing tokens"))))
    timed("decontaminate",
          lambda: contamination_pairs(d_txt, train, threshold=0.8,
                                      shingle_k=8, max_df=100).count())
    clicks = ev.where(F.col("event_type") == "click") \
               .select("event_id", "user_id", "ts")
    buys = ev.where(F.col("event_type") == "purchase") \
             .select("event_id", "user_id", "ts", "value")
    timed("asof_join",
          lambda: asof_join(clicks, buys, on=["user_id"],
                            value_cols=["value"],
                            right_tiebreak="event_id").count())
    from spatial.intervals import interval_point_join
    cpts = clicks.select(F.col("event_id").alias("click_id"), "user_id",
                         F.unix_timestamp("ts").alias("click_ts_s"))
    ivls = buys.select(F.col("event_id").alias("purchase_id"),
                       F.col("user_id"),
                       (F.unix_timestamp("ts") - 1800).alias("lo_s"),
                       F.unix_timestamp("ts").alias("hi_s"))
    timed("interval_join",
          lambda: interval_point_join(cpts, ivls, on=["user_id"],
                                      point_ts="click_ts_s", lo="lo_s",
                                      hi="hi_s", bucket_s=1800).count())
    from spatial.datapipe.spandedup import (drop_duplicated_spans,
                                            winnow_fingerprints)
    timed("span_dedup_clean",
          lambda: drop_duplicated_spans(d_txt, window=24)
          .agg(F.sum("clean_len")).collect()[0][0])
    timed("winnow",
          lambda: winnow_fingerprints(d_txt, window=8, w=8)
          .agg(F.sum("n_fingerprints")).collect()[0][0])
    from spatial.datapipe.textstats import lm_score
    timed("lm_score",
          lambda: lm_score(d_txt)
          .agg(F.sum("nll_micro")).collect()[0][0])
    from spatial.datapipe.spandedup import drop_duplicated_paragraphs
    timed("paragraph_dedup",
          lambda: drop_duplicated_paragraphs(d_txt, words_per_para=10)
          .agg(F.sum("n_kept")).collect()[0][0])
    from spatial.datapipe.textstats import c4_line_filter, words
    structured = (d_txt.withColumn("__ts", words(F.col("text")))
                  .withColumn("text", F.expr(
                      "array_join(transform(sequence(0, "
                      "greatest(int((size(__ts) + 9) div 10), 1) - 1), "
                      "i -> concat(array_join(slice(__ts, i * 10 + 1, 10), "
                      "' '), '.')), '\n')")))
    timed("c4_filter",
          lambda: c4_line_filter(structured.select("doc_id", "text"))
          .agg(F.sum("n_kept_lines")).collect()[0][0])
    from spatial.datapipe.textstats import dsir_logratio
    timed("dsir_weights",
          lambda: dsir_logratio(
              d_txt.withColumn("is_target", F.col("doc_id") % 3 == 0))
          .agg(F.sum("logratio_micro")).collect()[0][0])
    from spatial.datapipe.similarity import quantize_int8
    emb_df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    timed("int8_quantize",
          lambda: quantize_int8(emb_df)
          .select(F.aggregate("codes", F.lit(0).cast("long"),
                              lambda a, c: a + c.cast("long")).alias("s"))
          .agg(F.sum("s")).collect()[0][0])
    from spatial.overlay import union_area
    # span scales with row count so local overlap DENSITY stays constant
    # (~7 active rects per slab, the bounded-density regime real bbox
    # corpora live in -- the sweep's work is O(n x density); a fixed span
    # would make density, hence total work, grow quadratically with sf)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    span = max(100000, (orders.count() // 15000) * 400000)
    kk = F.col("k")
    rects = (orders
             .select(F.col("o_orderkey").cast("long").alias("k"))
             .select((kk % 8).alias("key"),
                     ((kk * 48271) % span).alias("xmin"),
                     # ymin mixes k NONLINEARLY (k^2): both coords linear
                     # in k form a 1-D lattice mod span -> zero overlaps at
                     # large spans and the merge path idles; k^2 scatters
                     ((kk * kk * 69621) % span).alias("ymin"),
                     ((kk * 48271) % span + (kk * 16807) % 3000 + 1)
                     .alias("xmax"),
                     ((kk * kk * 69621) % span + (kk * 39916801) % 3000 + 1)
                     .alias("ymax")))
    timed("union_area",
          lambda: union_area(rects, "key")
          .agg(F.sum("union_area")).collect()[0][0])

    # layout-key head-to-head: the Morton interleave vs the staged Hilbert
    # quadrant walk (12 bit planes of CASE/shift arithmetic) over the same
    # points -- prices the locality upgrade's CPU cost at the write path
    from spatial.hilbert import with_hkey
    from spatial.zorder import with_zkey
    ev_pts = entry_mod._events(spark, sf_dir).select(
        entry_mod._lon().alias("lon"), entry_mod._lat().alias("lat"))
    timed("zorder_layout",
          lambda: with_zkey(ev_pts, "lon", "lat", level=12)
          .agg(F.sum(F.shiftright(F.col("zkey"), 16))).collect()[0][0])
    timed("hilbert_layout",
          lambda: with_hkey(ev_pts, "lon", "lat", level=12)
          .agg(F.sum(F.shiftright(F.col("hkey"), 16))).collect()[0][0])

    # round-5 additions: the deepest TPC-H join chain (6-way star, all
    # dims broadcast -- prices the relational join planner) and BM25
    # retrieval (tokenize/explode + integer scoring -- prices the text
    # hot path end to end)
    timed("tpch_q5_star",
          lambda: entry_mod.q5_local_supplier(spark, sf_dir).collect())
    timed("bm25_topk",
          lambda: entry_mod.q_bm25_topk(spark, sf_dir).collect())

    # round-5 session-5 additions: iterative link-graph dataflow (HITS --
    # 4 join+agg rounds over synthesized edges, prices the loop-shuffle
    # path beside dedup_cluster_resolve) and the hashed linear classifier
    # (explode unigrams+bigrams + md5 bucket hash + integer sums -- the
    # model-based-filter plan shape, heaviest per-token expression work)
    timed("hits",
          lambda: entry_mod.q_hits(spark, sf_dir).collect())
    timed("quality_classifier",
          lambda: entry_mod.q_quality_classifier(spark, sf_dir).collect())

    # round-5 session-6 additions: Ripley's K (the densest pair-count
    # fan-out in the registry -- n^2-proportional candidates through the
    # 3x3 grid probe, prices the pure-integer pair path at bench scale;
    # radii 1/2/4 degrees rather than the driver query's 16-degree tail,
    # whose ~62M true pairs at sf0.1 price the ANSWER, not the operator)
    # and multi-source BFS (3 frontier join rounds + min fold -- the
    # bounded-round graph-traversal shape beside HITS' fixed dataflow)
    from spatial.spatialstats import ripley_pair_counts
    ev_ints = entry_mod._events(spark, sf_dir).select(
        "event_id",
        ((F.col("event_id") * 7919) % 36000).alias("icx"),
        ((F.col("event_id") * 104729) % 17000).alias("icy"))
    timed("ripley_k",
          lambda: ripley_pair_counts(ev_ints, "event_id", "icx", "icy",
                                     radii=[100, 200, 400]).collect())
    timed("bfs_hops",
          lambda: entry_mod.q_bfs_hops(spark, sf_dir).collect())

    # round-5 session-7 additions: k-core (4 peel rounds x two semi-joins
    # + combinable degree count over the shrinking survivor set -- the
    # iterative-refinement shape beside bfs' frontier expansion),
    # anchor-text aggregation (doc-side token pick -> (src,j)-keyed edge
    # join -> combinable counts -> bounded top-k window -- the link+text
    # composite), and ST_ClusterKMeans over the event points (2 Lloyd
    # rounds: broadcast 8-row argmin + k-group sums per round -- the
    # centroid-iteration price point)
    timed("kcore",
          lambda: entry_mod.q_kcore(spark, sf_dir).collect())
    timed("anchor_text",
          lambda: entry_mod.q_anchor_text(spark, sf_dir).collect())
    timed("kmeans",
          lambda: entry_mod.q_kmeans_clusters(spark, sf_dir).collect())
    timed("readability",
          lambda: entry_mod.q_readability(spark, sf_dir).collect())
    timed("robots_filter",
          lambda: entry_mod.q_robots_filter(spark, sf_dir).collect())
    timed("label_prop",
          lambda: entry_mod.q_label_prop(spark, sf_dir).collect())
    timed("bbox_relate",
          lambda: entry_mod.q_bbox_relate(spark, sf_dir).collect())
    # session-9: BPE train+encode (the tokenizer-construction price
    # point: 6 vocabulary-summary rounds + the encode join), link
    # prediction (wedge generation + anti-join), ST_LineMerge (degree
    # gate + pointer-jumping CC over event-lattice chains)
    timed("bpe_tokens",
          lambda: entry_mod.q_bpe_tokens(spark, sf_dir).collect())
    timed("link_pred",
          lambda: entry_mod.q_link_pred(spark, sf_dir).collect())
    timed("line_merge",
          lambda: entry_mod.q_line_merge(spark, sf_dir).collect())
    timed("pii_scrub",
          lambda: entry_mod.q_pii_scrub(spark, sf_dir).collect())
    timed("ppr",
          lambda: entry_mod.q_ppr(spark, sf_dir).collect())

    total = round(sum(timings.values()), 3)
    return {
        "metric": ("spatial-join + tile-assignment pipeline throughput "
                   "(pages/sec) + headline operator suite"),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "pages_per_sec": pages_per_sec,
        "pipeline_pages": n_rows,
        "pipeline_join_rows": join_rows,
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_pages = int(os.environ.get("SPARK_GRAFT_PAGES",
                                 str(int(500_000 * max(_sf_of(sf_dir), 0.01) / 0.1))))
    spark = build_spark(cpus)
    try:
        result = run_benchmarks(spark, sf_dir, n_pages)
        result["cpus"] = cpus
        print(json.dumps(result))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
