"""E2E flagship pipeline: determinism, parallelism-invariance, kill/resume
byte-identity (FIXTURES.md §5, BASELINE.json input_hint invariants)."""

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from spatial.pipeline import (
    PipelineConfig,
    committed_batches,
    read_output,
    run_pipeline,
)
from spatial.synth import synth_pages, synth_regions
from spatial.textextract import extract_text_py

N_PAGES = 3000

GOLDEN_HTML = (b"<html><head><title>t</title><script>var x=1;</script>"
               b"<style>.a{}</style></head><body><h1>Doc &amp; 7</h1>"
               b"<p>hello  world</p><!-- c --></body></html>")
GOLDEN_TEXT = "t Doc & 7 hello world"


def test_extract_text_golden_pin():
    """The extraction function is golden-pinned: changing it breaks the
    byte-identity invariant and MUST fail here first."""
    assert extract_text_py(GOLDEN_HTML) == GOLDEN_TEXT
    assert extract_text_py(None) is None
    assert extract_text_py(b"") == ""
    # deterministic replacement for invalid utf-8
    assert extract_text_py(b"<p>a\xffb</p>") == "a�b"


JOIN_COLS = ["url", "region_id", "x", "y"]
TILE_COLS = ["url", "tile_z", "tile_x", "tile_y"]

# uninterrupted runs the read-only tests share
RUN_CONFIGS = {
    "plain": {},
    "clustered": {"cluster_cells": 4},
    "salted": {"broadcast_threshold": 0, "salt_buckets": 8},
}


def _run(spark, tmp, **kw):
    pages = synth_pages(spark, N_PAGES)
    regions = synth_regions(spark)
    cfg = PipelineConfig(out_dir=str(tmp), **kw)
    return run_pipeline(spark, pages, regions, cfg)


@pytest.fixture(scope="module")
def finished_run(spark, tmp_path_factory):
    """``finished_run(name)``: output dir of one uninterrupted run of
    ``RUN_CONFIGS[name]``, run on first use."""
    dirs = {}

    def get(name):
        if name not in dirs:
            dirs[name] = tmp_path_factory.mktemp(name)
            res = _run(spark, dirs[name], **RUN_CONFIGS[name])
            assert res["committed"] == [0, 1, 2, 3]
        return dirs[name]
    return get


def _table_hash(spark, out_dir, table, cols):
    df = read_output(spark, str(out_dir), table).select(*cols)
    rows = sorted(tuple(r) for r in df.collect())
    return hashlib.sha256(repr(rows).encode()).hexdigest(), len(rows)


def _n_cached(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_pipeline_end_to_end(spark, finished_run):
    out = finished_run("plain")
    h, n = _table_hash(spark, out, "join_out", JOIN_COLS)
    assert n > 0
    ht, nt = _table_hash(spark, out, "tile_assign", TILE_COLS)
    assert nt > 0
    # metrics exist with per-partition rows
    m = read_output(spark, str(out), "metrics")
    assert m.agg(F.sum("rows_out")).first()[0] == n


def test_kill_and_resume_byte_identical(spark, tmp_path, finished_run):
    want = _table_hash(spark, finished_run("plain"), "join_out", JOIN_COLS)

    # killed after batch 1, then resumed
    pages = synth_pages(spark, N_PAGES)
    regions = synth_regions(spark)
    cfg = PipelineConfig(out_dir=str(tmp_path / "resumed"))
    with pytest.raises(RuntimeError, match="simulated failure"):
        run_pipeline(spark, pages, regions, cfg, fail_after_batch=1)
    assert committed_batches(cfg.out_dir) == {0, 1}
    res = run_pipeline(spark, pages, regions, cfg)
    assert res["ran_batches"] == [2, 3]  # committed batches were skipped
    got = _table_hash(spark, tmp_path / "resumed", "join_out", JOIN_COLS)
    assert got == want


def test_crash_before_commit_reruns_batch_identically(spark, tmp_path,
                                                      finished_run, monkeypatch):
    """A crash after batch 1's parquet writes but before its manifest commit:
    the resume re-runs batch 1 over its overwritten directories, and the
    outputs hash identically to an uninterrupted run's."""
    import spatial.pipeline as pipeline

    commit = pipeline._commit_batch
    crashed = []

    def crash_once(out_dir, batch, stats):
        if batch == 1 and not crashed:
            crashed.append(batch)
            raise RuntimeError("crash before commit")
        commit(out_dir, batch, stats)

    monkeypatch.setattr(pipeline, "_commit_batch", crash_once)
    pages = synth_pages(spark, N_PAGES)
    regions = synth_regions(spark)
    cfg = PipelineConfig(out_dir=str(tmp_path / "crashed"))
    before = _n_cached(spark)
    with pytest.raises(RuntimeError, match="crash before commit"):
        run_pipeline(spark, pages, regions, cfg)
    # the failed batch left no cached blocks behind
    assert _n_cached(spark) == before
    assert committed_batches(cfg.out_dir) == {0}
    assert os.path.isdir(os.path.join(cfg.out_dir, "join_out", "batch=1"))
    res = run_pipeline(spark, pages, regions, cfg)
    assert res["ran_batches"] == [1, 2, 3]
    for table, cols in (("join_out", JOIN_COLS), ("tile_assign", TILE_COLS)):
        assert (_table_hash(spark, cfg.out_dir, table, cols)
                == _table_hash(spark, finished_run("plain"), table, cols))


def test_run_pipeline_releases_cached_frames(spark, tmp_path):
    """Neither a completed nor a killed call leaves cached blocks behind (the
    plan's build and geometry sides, the batch's enrichment and join)."""
    pages = synth_pages(spark, N_PAGES)
    regions = synth_regions(spark)
    before = _n_cached(spark)
    run_pipeline(spark, pages, regions,
                 PipelineConfig(out_dir=str(tmp_path / "done"), n_batches=2))
    assert _n_cached(spark) == before
    with pytest.raises(RuntimeError, match="simulated failure"):
        run_pipeline(spark, pages, regions,
                     PipelineConfig(out_dir=str(tmp_path / "killed"), n_batches=2),
                     fail_after_batch=0)
    assert _n_cached(spark) == before


@pytest.mark.parametrize("name", ["plain", "clustered", "salted"])
def test_manifest_counts_match_sinks(spark, finished_run, name):
    """The counts observed on the writes equal what each batch's sink
    directories hold when read back."""
    out = str(finished_run(name))
    for batch in range(4):
        with open(os.path.join(out, "_manifest", f"batch-{batch}.json")) as f:
            entry = json.load(f)

        def rows(table):
            return spark.read.parquet(
                os.path.join(out, table, f"batch={batch}")).count()

        assert entry["join_rows"] == rows("join_out")
        assert entry["tile_rows"] == rows("tile_assign")
        rows_out = spark.read.parquet(
            os.path.join(out, "metrics", f"batch={batch}")) \
            .agg(F.sum("rows_out")).first()[0]
        assert (rows_out or 0) == entry["join_rows"]
        by_source = entry["tile_rows_by_source"]
        assert sorted(by_source) == ["cctld", "city", "coords"]
        assert sum(by_source.values()) == entry["tile_rows"]
        if name == "salted":
            assert entry["hot_cells"] > 0
        else:
            assert entry["hot_cells"] == 0  # broadcast plan: nothing salted


def test_parallelism_invariance(spark, tmp_path):
    """Same outputs at different partition counts (sandbox proxy for the
    N-vs-4N-executor invariance required by the north rule)."""
    pages2 = synth_pages(spark, N_PAGES, partitions=2)
    pages8 = synth_pages(spark, N_PAGES, partitions=8)
    regions = synth_regions(spark)
    for name, p in [("p2", pages2), ("p8", pages8)]:
        run_pipeline(spark, p, regions, PipelineConfig(out_dir=str(tmp_path / name)))
    a = _table_hash(spark, tmp_path / "p2", "join_out", JOIN_COLS)
    b = _table_hash(spark, tmp_path / "p8", "join_out", JOIN_COLS)
    assert a == b


def test_join_out_matches_oracle(spark, finished_run):
    """join_out rows == pure-Python PIP oracle over the same synthetic rows."""
    import numpy as np

    from spatial.ewkb import decode_hex
    from spatial.kernels import pip_even_odd
    from spatial.pipeline import enrich_pages

    pages = synth_pages(spark, N_PAGES)
    regions = synth_regions(spark)
    got = {
        (r["url"], r["region_id"])
        for r in read_output(spark, str(finished_run("plain")), "join_out").collect()
    }
    located = enrich_pages(pages, 12).select("url", "lon", "lat").toPandas()
    want = set()
    for rid, _, ghex in regions.collect():
        g = decode_hex(ghex)
        inside = pip_even_odd(located.lon.to_numpy(), located.lat.to_numpy(),
                              g.xs, g.ys, g.ring_offsets)
        for u in located.url.to_numpy()[inside]:
            want.add((u, rid))
    assert got == want


def test_cluster_cells_output_identical_and_range_partitioned(spark, finished_run):
    """cluster_cells=N must not change the join_out row set, and each written
    parquet part file must own a cell interval disjoint from the others."""
    import glob

    import pyarrow.parquet as pq

    clustered = finished_run("clustered")
    h1, n1 = _table_hash(spark, finished_run("plain"), "join_out", JOIN_COLS)
    h2, n2 = _table_hash(spark, clustered, "join_out", JOIN_COLS)
    assert (h1, n1) == (h2, n2)

    # per-file cell min/max from parquet footers, per batch dir
    for bdir in sorted(glob.glob(str(clustered / "join_out" / "batch=*"))):
        spans = []
        for f in glob.glob(os.path.join(bdir, "*.parquet")):
            pf = pq.ParquetFile(f)
            ci = pf.schema_arrow.names.index("cell")
            md = pf.metadata
            stats = [md.row_group(i).column(ci).statistics
                     for i in range(md.num_row_groups)]
            spans.append((min(s.min for s in stats), max(s.max for s in stats)))
        assert len(spans) > 1  # clustering actually produced multiple files
        spans.sort()
        for (l1, u1), (l2, u2) in zip(spans, spans[1:]):
            assert u1 <= l2, (u1, l2)
