"""Near-duplicate cluster resolution: connected components over verified
dup pairs, canonical-representative selection, and the DuckDB oracle.

The dedup operators in :mod:`spatial.datapipe.dedup` emit verified PAIRS
(id_a, id_b).  A training-data pipeline needs one document kept per
connected component of that pair graph ("keep the canonical, drop the
rest"), which is a transitive closure -- not expressible as a bounded
composition of joins.  This module closes the dedup story:

    pairs -> connected_components -> (id, cluster_id = component min)
          -> dedup_assign          -> every doc labeled + keep flag

Algorithm: iterative min-label propagation WITH pointer jumping
(label(u) <- min over N(u) of label(v), then label(u) <- label(label(u))).
Plain propagation converges in O(diameter) rounds; the pointer-jump step
halves the remaining depth each round, giving O(log d) rounds overall --
the standard "hash-to-min" shape (Rastogi et al., "Finding Connected
Components in Map-Reduce in Logarithmic Rounds").

100 TB shape:
* Only (id, label) longs shuffle -- never document payloads.
* Each round is two shuffles (neighbor-min groupBy + pointer-jump join)
  plus ONE scalar action (the convergence count); the loop is
  :func:`spatial.iterate.fixpoint`, which checkpoints every round so the
  plan does not grow with rounds.
* Dup graphs from LSH are degree-bounded upstream (the bucket-size guard in
  dedup.py caps candidate fan-out), so no per-node hotspot; components are
  near-cliques with tiny diameter in practice (2-3 rounds end-to-end).

Reference scope note: haskell-postgis is a geometry codec library
(src/Database/Postgis/*.hs) with no dedup surface; this operator is part
of the training-data-pipeline mandate layered on top (SURVEY.md section 2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..iterate import checkpoint, fixpoint, persisted


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_rounds: int = 64) -> DataFrame:
    """(id, cluster_id) for every node appearing in ``pairs``; cluster_id is
    the minimum node id of the connected component (deterministic canonical
    label).  ``max_rounds`` is a safety bound -- with pointer jumping, real
    convergence is O(log diameter) and the loop exits on the first round
    with zero label changes."""
    e = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    with persisted(
            e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .where(F.col("u") != F.col("v")).distinct()) as edges:

        def step(state: DataFrame) -> DataFrame:
            labels = state.select("id", "label")
            # neighbor-min: tightest label visible across one hop
            nbr = (
                edges.join(labels.select(F.col("id").alias("v"),
                                         F.col("label").alias("vl")), "v")
                .groupBy("u").agg(F.min("vl").alias("nl"))
                .select(F.col("u").alias("id"), "nl")
            )
            prop = (
                labels.join(nbr, "id", "left")
                .select("id", F.least("label", "nl").alias("label"),
                        F.col("label").alias("old"))
            )
            # pointer jump: label(u) <- label(label(u))
            jump = prop.select(F.col("id").alias("jid"),
                               F.col("label").alias("jl"))
            return (
                prop.join(jump, prop["label"] == jump["jid"], "left")
                .select("id", F.least("label", "jl").alias("label"), "old")
            )

        labels = checkpoint(
            edges.select("u").distinct()
            .select(F.col("u").alias("id"), F.col("u").alias("label")))
        labels = fixpoint(
            labels, step, max_rounds,
            done=lambda s: s.where(F.col("label") < F.col("old")).count() == 0)
    return labels.select("id", F.col("label").alias("cluster_id"))


def dedup_assign(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                 src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Label every row of ``df`` with its dup-cluster id and a ``keep``
    flag: cluster_id = component min for clustered docs, own id for
    singletons; keep = (id == cluster_id) so exactly one doc survives per
    component.  The join against the (tiny relative to corpus) component
    map is broadcast-friendly; Spark's planner broadcasts it under
    autoBroadcastJoinThreshold, and AQE converts it at runtime otherwise."""
    cc = connected_components(pairs, src=src, dst=dst)
    return (
        df.join(cc.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(id_col)))
        .withColumn("keep", F.col(id_col) == F.col("cluster_id"))
    )


def connected_components_oracle_sql(pairs_sql: str,
                                    src: str = "id_a",
                                    dst: str = "id_b") -> str:
    """DuckDB oracle: transitive closure via WITH RECURSIVE -- from every
    node, propagate reachable labels along symmetrized edges (UNION dedups,
    so the recursion terminates), then MIN per node = component minimum.
    Semantics-identical to the engine's fixpoint by the same argument that
    proves label propagation correct (labels only take node-id values and
    the component min is reachable from every member)."""
    return f"""
WITH RECURSIVE __pairs AS MATERIALIZED (
  SELECT {src} AS pa, {dst} AS pb FROM ({pairs_sql}) __pin
),
__edges AS MATERIALIZED (
  SELECT pa AS u, pb AS v FROM __pairs WHERE pa <> pb
  UNION
  SELECT pb AS u, pa AS v FROM __pairs WHERE pa <> pb
),
__reach(id, lab) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM __edges) __n
  UNION
  SELECT e.v, r.lab FROM __reach r JOIN __edges e ON e.u = r.id
),
__cc AS (SELECT id, MIN(lab) AS cluster_id FROM __reach GROUP BY id)
"""


def leakage_free_split(df: DataFrame, pairs: DataFrame,
                       cuts: tuple[int, int] = (9000, 9500),
                       id_col: str = "doc_id") -> DataFrame:
    """Train/val/test split that can NEVER leak near-duplicates across
    splits: every near-dup component (from `pairs`, e.g. MinHash) is
    assigned ATOMICALLY -- the split is a pure hash of the component's
    cluster_id, so all members land together by construction (a plain
    per-doc hash split puts ~2*p*(1-p) of each dup pair across the
    boundary, the classic eval-contamination bug this operator exists to
    prevent; singletons hash on their own id = their cluster_id).

    `cuts` are permyriad thresholds on curation.sample_bucket(cluster_id):
    bucket < cuts[0] -> train, < cuts[1] -> val, else test (defaults
    90/5/5).  The bucket is the repo's deterministic two-round mix --
    partition/retry-stable, identical in SQL -- so splits are reproducible
    across runs, engines and cluster sizes.

    Scale shape: dedup_assign's component map is tiny relative to the
    corpus (broadcast join); the split adds ONE pure-JVM projection on top
    -- no extra shuffle, no floats, no text."""
    from .curation import sample_bucket

    lo, hi = cuts
    assigned = dedup_assign(df, pairs, id_col=id_col)
    b = sample_bucket(F.col("cluster_id"))
    return assigned.withColumn(
        "split",
        F.when(b < lo, F.lit("train"))
         .when(b < hi, F.lit("val"))
         .otherwise(F.lit("test")))


def leakage_free_split_oracle_sql(docs_cte: str, pairs_sql: str,
                                  cuts: tuple[int, int] = (9000, 9500),
                                  id_col: str = "doc_id") -> str:
    """DuckDB replay: the recursive-closure component map (shared
    connected_components oracle), LEFT JOIN onto the corpus with singleton
    coalesce, then the identical sample_bucket CASE on cluster_id."""
    from .curation import sample_bucket_sql

    lo, hi = cuts
    bucket = sample_bucket_sql("cluster_id")
    return connected_components_oracle_sql(pairs_sql) + f"""
, __docs AS (SELECT {id_col} AS id FROM ({docs_cte})),
__assigned AS (
  SELECT d.id, COALESCE(c.cluster_id, d.id) AS cluster_id
  FROM __docs d LEFT JOIN __cc c USING (id))
SELECT id AS {id_col}, cluster_id,
       CASE WHEN {bucket} < {lo} THEN 'train'
            WHEN {bucket} < {hi} THEN 'val'
            ELSE 'test' END AS split
FROM __assigned"""
