"""Distributed PageRank over a document link graph -- fixed-iteration,
bit-exact, under the driver's exact-oracle gate.

A web-scale corpus pipeline ranks pages by link authority (quality signal
for curation / sampling weights).  PageRank is the canonical iterative
dataflow: per round, every node's rank is scattered along its out-edges
and gathered by destination -- in Spark, one join (edge x rank) plus one
groupBy-sum per iteration, both shuffling only ``(node_id, double)`` pairs.

Bit-exactness construction (the repo float-parity policy demands every
oracle be IEEE-exactly reproducible; a float PageRank normally is NOT,
because float sums are order-dependent).  This implementation makes every
float operation EXACT, so aggregation order cannot matter:

* out-degrees are powers of two (2/4/8 by ``id % 3``), so each edge
  contribution ``rank / outdeg`` is an exact binary scaling;
* damping is 3/4: ``new = 1/4 + (3/4) * s`` multiplies by 3 (integer) and
  rescales by a power of two -- exact while operands stay in range;
* by induction every rank after iteration k is a multiple of 2^-5k (three
  bits from /8, two from *3/4), bounded by total mass N: with k=3
  iterations and N < 2^24 nodes the values need at most 24+15 < 53
  mantissa bits, so EVERY partial sum is exact and order-independent --
  Spark and DuckDB produce bit-identical doubles regardless of
  partitioning or aggregation order.

The edge list is synthesized deterministically from node ids (the same
``mix_hash`` both engines replay), so the whole operator -- graph
construction + 3 iterations -- is a closed-form SQL replay.

100 TB shape: ranks and edges shuffle as bare longs/doubles (payloads
never enter the loop); the gather is a map-side-combinable sum keyed by
destination; the loop is :func:`spatial.iterate.fixpoint`, which
checkpoints every round so the plan stays O(1) across iterations.  On a
real cluster, co-partitioning edges and ranks by the join key makes the
scatter shuffle-free after round one (edges are loop-invariant and cached;
ranks arrive already hash-partitioned by the previous gather).

Reference scope note: haskell-postgis is a geometry codec library; graph
analytics belong to the training-data-pipeline mandate (SURVEY.md
section 2.3) layered on the codec core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..iterate import fixpoint, persisted
from .curation import mix_hash, mix_hash_sql

DAMP_NUM, DAMP_DEN = 3, 4          # damping 3/4: dyadic-exact
_TELEPORT = 1.0 / DAMP_DEN         # (1 - d) = 1/4, exact
_MAX_OUTDEG = 8                    # outdeg in {2, 4, 8} = 2^(1 + id % 3)


def synth_edges(nodes: DataFrame, id_col: str = "doc_id",
                n_nodes: int | None = None) -> DataFrame:
    """Deterministic link graph over ``nodes``: node i emits
    ``2^(1 + i % 3)`` edges whose destinations are ``mix_hash(i*16 + j)
    mod N`` -- a pure function of the id, identically replayable in SQL.
    Self-loops and duplicate targets are legal (contribution weight is
    1/outdeg per EDGE, multiplicity included, on both sides)."""
    if n_nodes is None:
        n_nodes = nodes.count()          # bounded scalar action
    # F.shiftleft's Python signature wants an int shift; SQL takes a column
    deg = F.expr(f"CAST(shiftleft(1, CAST(1 + {id_col} % 3 AS INT)) AS BIGINT)")
    return (
        nodes.select(F.col(id_col).alias("src"), deg.alias("outdeg"))
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.lit(_MAX_OUTDEG - 1))))
        .where(F.col("j") < F.col("outdeg"))
        .withColumn("dst", F.pmod(mix_hash(F.col("src") * 16 + F.col("j")),
                                  F.lit(n_nodes)))
        .select("src", "j", "dst", "outdeg")
    )


def _rank_walk(nodes: DataFrame, edges: DataFrame, id_col: str,
               start, teleport, iterations: int) -> DataFrame:
    """(id, r) after ``iterations`` damped rounds from r = ``start``:
    r'(v) = teleport(v) + 3/4 * sum of r(u) / outdeg(u) over edges (u, v).
    ``start`` and ``teleport`` are Columns over ``id``."""
    ids = nodes.select(F.col(id_col).alias("id"))
    e = edges.select(F.col("src").alias("id"), "dst", "outdeg")

    def step(ranks: DataFrame) -> DataFrame:
        gathered = (
            e.join(ranks, "id")
            .select("dst", (F.col("r") / F.col("outdeg")).alias("c"))
            .groupBy("dst").agg(F.sum("c").alias("s"))
        )
        return (
            ids.join(gathered, ids["id"] == gathered["dst"], "left")
            .select(ids["id"],
                    (teleport
                     + F.lit(float(DAMP_NUM) / DAMP_DEN)
                     * F.coalesce(F.col("s"), F.lit(0.0))).alias("r"))
        )

    return fixpoint(ids.withColumn("r", start), step, iterations)


def pagerank(nodes: DataFrame, edges: DataFrame, id_col: str = "doc_id",
             iterations: int = 3) -> DataFrame:
    """Fixed-iteration PageRank; returns (id_col, pagerank).  Dangling
    nodes (no out-edges) simply leak mass, as in the classic formulation;
    the synthesized graph has none (every node has outdeg >= 2)."""
    ranks = _rank_walk(nodes, edges, id_col, F.lit(1.0), F.lit(_TELEPORT),
                       iterations)
    return ranks.select(F.col("id").alias(id_col),
                        F.col("r").alias("pagerank"))


def pagerank_docs(spark: SparkSession, sf_dir: str,
                  iterations: int = 3) -> DataFrame:
    """The driver query body: synthesize the link graph over ``documents``
    and rank it; output (doc_id, outdeg, pagerank)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    edges = synth_edges(docs, n_nodes=n)
    pr = pagerank(docs, edges, iterations=iterations)
    # outdeg is a pure function of the id: a column, not a self-join
    deg = F.expr("CAST(shiftleft(1, CAST(1 + doc_id % 3 AS INT)) AS BIGINT)")
    return pr.select("doc_id", deg.alias("outdeg"), "pagerank")


def pagerank_oracle_sql(iterations: int = 3) -> str:
    """The identical graph + iterations as chained DuckDB CTEs.  Every
    float value is a dyadic rational within exact range (see module
    docstring), so SUM order cannot change a bit."""
    dst = f"({mix_hash_sql('(d.doc_id * 16 + t.j)')}) % (SELECT n FROM __n)"
    ctes = [
        "__n AS (SELECT COUNT(*) AS n FROM documents)",
        f"""__edges AS MATERIALIZED (
  SELECT d.doc_id AS src, {dst} AS dst,
         CAST(1 << CAST(1 + d.doc_id % 3 AS INT) AS BIGINT) AS outdeg
  FROM documents d, (SELECT UNNEST(range({_MAX_OUTDEG})) AS j) t
  WHERE t.j < (1 << CAST(1 + d.doc_id % 3 AS INT)))""",
        "__r0 AS (SELECT doc_id AS id, CAST(1 AS DOUBLE) AS r FROM documents)",
    ]
    d_num = f"CAST({DAMP_NUM} AS DOUBLE) / {DAMP_DEN}"
    tele = f"CAST(1 AS DOUBLE) / {DAMP_DEN}"
    for k in range(1, iterations + 1):
        ctes.append(f"""__g{k} AS (
  SELECT e.dst AS id, SUM(r.r / e.outdeg) AS s
  FROM __edges e JOIN __r{k - 1} r ON e.src = r.id GROUP BY e.dst)""")
        ctes.append(f"""__r{k} AS (
  SELECT d.doc_id AS id,
         {tele} + {d_num} * COALESCE(g.s, CAST(0 AS DOUBLE)) AS r
  FROM documents d LEFT JOIN __g{k} g ON d.doc_id = g.id)""")
    cte_block = ",\n".join(ctes)
    return f"""
WITH {cte_block}
SELECT d.doc_id,
       CAST(1 << CAST(1 + d.doc_id % 3 AS INT) AS BIGINT) AS outdeg,
       r.r AS pagerank
FROM documents d JOIN __r{iterations} r ON d.doc_id = r.id"""


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set from a directed edge list: (a, b) with
    a < b, self-loops dropped, duplicates collapsed."""
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"))
        .distinct()
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over the undirected graph -- the classic
    link-farm / community-density signal: (node, n_triangles), nodes in at
    least one triangle.

    Plan: the canonical two-join enumeration over ID-ORIENTED edges --
    wedges a<b<c from E(a,b) JOIN E(b,c), closed by E(a,c). Orienting every
    edge low-id -> high-id means each triangle is generated EXACTLY once
    (no /3 correction, no dedup shuffle) and the wedge fan-out is bounded
    by out-degree, not total degree (on real graphs one orients by degree
    -- the id plays that role here since synth out-degrees are bounded by
    8). Only (long, long) edge rows shuffle; per-node counts are one
    explode + map-side-combined sum."""
    e = undirected_edges(edges)
    w = (e.alias("e1")
         .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
         .select(F.col("e1.a").alias("a"), F.col("e1.b").alias("b"),
                 F.col("e2.b").alias("c")))
    tri = (w.alias("w")
           .join(e.alias("e3"), (F.col("w.a") == F.col("e3.a"))
                 & (F.col("w.c") == F.col("e3.b"))))
    return (
        tri.select(F.explode(F.array("w.a", "w.b", "w.c")).alias("node"))
        .groupBy("node").agg(F.count("*").alias("n_triangles"))
    )


def synth_edges_sql(table: str = "documents", id_col: str = "doc_id") -> str:
    """The synth_edges graph as a DuckDB CTE body (same construction
    pagerank_oracle_sql inlines)."""
    dst = f"({mix_hash_sql(f'(d.{id_col} * 16 + t.j)')}) % (SELECT n FROM __n)"
    return f"""
  SELECT d.{id_col} AS src, t.j AS j, {dst} AS dst
  FROM {table} d, (SELECT UNNEST(range({_MAX_OUTDEG})) AS j) t
  WHERE t.j < (1 << CAST(1 + d.{id_col} % 3 AS INT))"""


def triangle_oracle_sql(table: str = "documents",
                        id_col: str = "doc_id") -> str:
    """The identical oriented enumeration in DuckDB SQL."""
    return f"""
WITH __n AS (SELECT COUNT(*) AS n FROM {table}),
__edges AS MATERIALIZED ({synth_edges_sql(table, id_col)}),
u AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM __edges WHERE src <> dst),
w AS (SELECT u1.a, u1.b, u2.b AS c
      FROM u u1 JOIN u u2 ON u1.b = u2.a),
t AS (SELECT w.a, w.b, w.c
      FROM w JOIN u u3 ON u3.a = w.a AND u3.b = w.c)
SELECT node, COUNT(*) AS n_triangles FROM (
  SELECT unnest([a, b, c]) AS node FROM t) __x
GROUP BY node"""


# ---------------------------------------------------------------------------
# HITS hubs & authorities -- unnormalized fixed-iteration, integer-exact
# ---------------------------------------------------------------------------

HITS_ITERATIONS = 2


def hits(nodes: DataFrame, edges: DataFrame, id_col: str = "doc_id",
         iterations: int = HITS_ITERATIONS) -> DataFrame:
    """Kleinberg HITS over the directed link graph, UNNORMALIZED so every
    score is an integer (a count of alternating in/out paths) and the
    oracle is BIGINT-exact -- the textbook per-round L2 normalization only
    rescales the ranking, it never reorders it, so dropping it preserves
    the signal while removing all float policy risk.

    Per round k: authority a_k(v) = sum of h_{k-1}(u) over edges (u, v)
    (multiplicity counted), then hub h_k(u) = sum of a_k(v) over (u, v).
    h_0 = 1 everywhere, so a_1 is exactly in-degree.  Magnitude bound:
    synth out-degrees are <= 8, so h_k <= 8 * max(a_k) and
    a_k <= max_indeg * max(h_{k-1}); with ``iterations=2`` and realistic
    in-degree skew the scores stay far below 2^63 even at 100 TB corpus
    sizes (and the bound is auditable per-round: max(a) * 8 * max_indeg).

    100 TB shape: identical to :func:`pagerank` -- the loop shuffles only
    (node_id, BIGINT) pairs, gathers are map-side-combinable sums, edges
    are loop-invariant (cache / co-partition them by the join key on a
    real cluster), and the authority vector is the loop state:
    a_k = authority(hub(a_{k-1})), checkpointed per round."""
    if iterations < 1:
        raise ValueError(f"hits requires iterations >= 1, got {iterations}")
    e = edges.select("src", "dst")

    def authority(h: DataFrame) -> DataFrame:
        return (e.join(h, e["src"] == h["id"])
                .groupBy("dst").agg(F.sum("h").alias("a")))

    def hub(a: DataFrame) -> DataFrame:
        return (e.join(a, "dst")
                .groupBy("src").agg(F.sum("a").alias("h"))
                .select(F.col("src").alias("id"), "h"))

    h0 = nodes.select(F.col(id_col).alias("id"),
                      F.lit(1).cast("bigint").alias("h"))
    a = fixpoint(authority(h0), lambda a: authority(hub(a)), iterations - 1)
    h = hub(a)
    ids = nodes.select(F.col(id_col).alias("id"))
    return (
        ids.join(h, "id", "left")
        .join(a.select(F.col("dst").alias("id"), "a"), "id", "left")
        .select(F.col("id").alias(id_col),
                F.coalesce(F.col("h"), F.lit(0)).cast("bigint").alias("hub"),
                F.coalesce(F.col("a"), F.lit(0)).cast("bigint")
                 .alias("authority"))
    )


def hits_docs(spark: SparkSession, sf_dir: str,
              iterations: int = HITS_ITERATIONS) -> DataFrame:
    """Driver query body: HITS over the synthesized document link graph;
    output (doc_id, hub, authority)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = synth_edges(docs, n_nodes=docs.count())
    return hits(docs, edges, iterations=iterations)


def hits_oracle_sql(iterations: int = HITS_ITERATIONS) -> str:
    """The identical graph + unnormalized iterations as chained CTEs.
    Every aggregate is CAST to BIGINT (DuckDB sums BIGINT into HUGEINT,
    which pandas renders float64 -- the q_cumulative_users lesson)."""
    if iterations < 1:
        raise ValueError(f"hits requires iterations >= 1, got {iterations}")
    ctes = [
        "__n AS (SELECT COUNT(*) AS n FROM documents)",
        f"__edges AS MATERIALIZED ({synth_edges_sql()})",
        """__h0 AS (SELECT doc_id AS id, CAST(1 AS BIGINT) AS h
  FROM documents)""",
    ]
    for k in range(1, iterations + 1):
        ctes.append(f"""__a{k} AS (
  SELECT e.dst AS id, CAST(SUM(h.h) AS BIGINT) AS a
  FROM __edges e JOIN __h{k - 1} h ON e.src = h.id GROUP BY e.dst)""")
        ctes.append(f"""__h{k} AS (
  SELECT e.src AS id, CAST(SUM(a.a) AS BIGINT) AS h
  FROM __edges e JOIN __a{k} a ON e.dst = a.id GROUP BY e.src)""")
    cte_block = ",\n".join(ctes)
    return f"""
WITH {cte_block}
SELECT d.doc_id,
       CAST(COALESCE(h.h, 0) AS BIGINT) AS hub,
       CAST(COALESCE(a.a, 0) AS BIGINT) AS authority
FROM documents d
LEFT JOIN __h{iterations} h ON d.doc_id = h.id
LEFT JOIN __a{iterations} a ON d.doc_id = a.id"""


# ---------------------------------------------------------------------------
# Co-citation similarity join -- integer cross-multiplied Jaccard
# ---------------------------------------------------------------------------

COCITE_MIN = 2          # pairs must share at least 2 citing pages
JACCARD_NUM, JACCARD_DEN = 1, 5   # keep pairs with jaccard > 1/5


def cocitation_pairs(edges: DataFrame) -> DataFrame:
    """Co-citation similarity over the link graph: two documents are
    similar when many pages cite both (Small 1973 -- the classic related-
    pages / near-duplicate-mirror signal on the web graph).  Returns
    (d1, d2, cocite, union_n) for pairs with ``cocite >= COCITE_MIN`` and
    Jaccard(citers(d1), citers(d2)) > 1/5, where
    union_n = indeg(d1) + indeg(d2) - cocite.  The Jaccard threshold is
    evaluated as the integer cross-multiplication
    ``cocite * JACCARD_DEN > union_n * JACCARD_NUM`` -- no division, no
    float policy exposure (the repo's textstats/setjoin discipline).

    100 TB shape: the pair generator fans out per CITING page, and the
    citer fan-out is structurally capped by out-degree (<= 8 here; real
    pipelines cap it explicitly, exactly like minhash's max_bucket Zipf
    guard), so candidates are <= C(8,2) = 28 per page -- linear in edges,
    never quadratic in documents.  Everything that shuffles is (long,
    long) pairs; in-degrees are one map-side-combinable count joined back
    by pair key."""
    u = edges.select("src", "dst").distinct()
    indeg = u.groupBy("dst").agg(F.count("*").alias("indeg"))
    pairs = (
        u.alias("e1").join(u.alias("e2"), "src")
        .where(F.col("e1.dst") < F.col("e2.dst"))
        .select(F.col("e1.dst").alias("d1"), F.col("e2.dst").alias("d2"))
        .groupBy("d1", "d2").agg(F.count("*").alias("cocite"))
        .where(F.col("cocite") >= COCITE_MIN)
    )
    return (
        pairs
        .join(indeg.select(F.col("dst").alias("d1"),
                           F.col("indeg").alias("i1")), "d1")
        .join(indeg.select(F.col("dst").alias("d2"),
                           F.col("indeg").alias("i2")), "d2")
        .withColumn("union_n",
                    (F.col("i1") + F.col("i2") - F.col("cocite")))
        .where(F.col("cocite") * JACCARD_DEN
               > F.col("union_n") * JACCARD_NUM)
        .select("d1", "d2", "cocite", "union_n")
    )


def cocitation_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query body: co-citation pairs over the synthesized link
    graph; output (d1, d2, cocite, union_n)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = synth_edges(docs, n_nodes=docs.count())
    return cocitation_pairs(edges)


def cocitation_oracle_sql() -> str:
    """The identical pair generation in DuckDB SQL -- COUNT(*) is already
    BIGINT; the in-degree sums are counts, not SUMs, so no HUGEINT."""
    return f"""
WITH __n AS (SELECT COUNT(*) AS n FROM documents),
__edges AS MATERIALIZED ({synth_edges_sql()}),
u AS (SELECT DISTINCT src, dst FROM __edges),
indeg AS (SELECT dst, COUNT(*) AS indeg FROM u GROUP BY dst),
p AS (SELECT e1.dst AS d1, e2.dst AS d2, COUNT(*) AS cocite
      FROM u e1 JOIN u e2 ON e1.src = e2.src AND e1.dst < e2.dst
      GROUP BY e1.dst, e2.dst
      HAVING COUNT(*) >= {COCITE_MIN})
SELECT p.d1, p.d2, p.cocite,
       i1.indeg + i2.indeg - p.cocite AS union_n
FROM p JOIN indeg i1 ON p.d1 = i1.dst
       JOIN indeg i2 ON p.d2 = i2.dst
WHERE p.cocite * {JACCARD_DEN}
      > (i1.indeg + i2.indeg - p.cocite) * {JACCARD_NUM}"""


# ---------------------------------------------------------------------------
# Deterministic random walks -- graph-neighborhood sampling, SQL-replayable
# ---------------------------------------------------------------------------

WALK_LENGTH = 3


def random_walks(nodes: DataFrame, edges: DataFrame, id_col: str = "doc_id",
                 length: int = WALK_LENGTH) -> DataFrame:
    """One fixed-length random walk per document over the link graph --
    the DeepWalk/node2vec sampling primitive that turns a web graph into
    training sequences (context windows for graph embeddings).  The walk
    is DERANDOMIZED: step k from node ``cur`` follows out-edge index
    ``mix_hash(cur * 16 + 8 + k) % outdeg(cur)`` -- a pure function of
    (node, step), so the full trajectory is identically replayable in SQL
    (hash inputs ``cur*16 + 8+k`` with k < 8 never collide with the edge
    synthesis's ``src*16 + j`` inputs, which use j < 8).

    Output: (doc_id, step1, .., step{length}) -- one row per start node,
    BIGINT node ids.  Every node has outdeg >= 2 in the synth graph, so
    walks never dead-end.

    100 TB shape: each step is ONE equi-join of the frontier (node_id,
    step-history longs) against the edge table keyed (src, j) -- the
    frontier never fans out (exactly one successor per row), so the work
    is length * |nodes| lookups; on a real cluster the edge table is
    hash-partitioned by src once and every step's shuffle moves only the
    frontier longs.  This is the standard distributed-walk layout
    (KnightKing / GraphSAGE samplers), minus the RNG state: deriving the
    choice from a counter hash is what makes resumed or re-partitioned
    runs byte-identical (the pipeline.py determinism discipline)."""
    if not 1 <= length <= 8:
        # k < 8 keeps the pick-hash inputs (cur*16 + 8+k) disjoint from
        # the edge synthesis's (src*16 + j, j < 8); beyond that the
        # domains collide and the uncorrelated-sampling property degrades
        raise ValueError(f"random_walks requires 1 <= length <= 8, "
                         f"got {length}")
    e = edges.select("src", "j", "dst")
    walk = nodes.select(F.col(id_col).alias(id_col),
                        F.col(id_col).alias("cur"))
    step_cols: list[str] = []
    for k in range(length):
        # F.shiftleft's Python signature wants an int shift; SQL takes a
        # column (the synth_edges workaround)
        outdeg = F.expr(
            "CAST(shiftleft(1, CAST(1 + cur % 3 AS INT)) AS BIGINT)")
        pick = F.pmod(mix_hash(F.col("cur") * 16 + 8 + k), outdeg)
        step = f"step{k + 1}"
        w = walk.withColumn("_pick", pick)
        walk = (
            w.join(e, (w["cur"] == e["src"]) & (w["_pick"] == e["j"]))
            .select(F.col(id_col), *step_cols,
                    F.col("dst").alias(step), F.col("dst").alias("cur"))
        )
        step_cols.append(step)
    return walk.select(id_col, *step_cols)


def random_walks_docs(spark: SparkSession, sf_dir: str,
                      length: int = WALK_LENGTH) -> DataFrame:
    """Driver query body: one deterministic walk per document."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = synth_edges(docs, n_nodes=docs.count())
    return random_walks(docs, edges, length=length)


def random_walks_oracle_sql(length: int = WALK_LENGTH) -> str:
    """The identical walk as ``length`` chained joins in DuckDB SQL."""
    if not 1 <= length <= 8:
        raise ValueError(f"random_walks requires 1 <= length <= 8, "
                         f"got {length}")
    ctes = [
        "__n AS (SELECT COUNT(*) AS n FROM documents)",
        f"__edges AS MATERIALIZED ({synth_edges_sql()})",
        "__w0 AS (SELECT doc_id, doc_id AS cur FROM documents)",
    ]
    for k in range(length):
        prev = ",\n         ".join(f"w.step{i}" for i in range(1, k + 1))
        prev = (prev + ",\n         ") if prev else ""
        outdeg = "(1 << CAST(1 + w.cur % 3 AS INT))"
        pick = mix_hash_sql(f"(w.cur * 16 + 8 + {k})")
        ctes.append(f"""__w{k + 1} AS (
  SELECT w.doc_id,
         {prev}e.dst AS step{k + 1}, e.dst AS cur
  FROM __w{k} w JOIN __edges e
    ON e.src = w.cur AND e.j = ({pick}) % {outdeg})""")
    cte_block = ",\n".join(ctes)
    steps = ", ".join(f"step{i}" for i in range(1, length + 1))
    return f"""
WITH {cte_block}
SELECT doc_id, {steps} FROM __w{length}"""


# ---------------------------------------------------------------------------
# Degree assortativity -- exact integer moment pieces (Newman 2002)
# ---------------------------------------------------------------------------

def assortativity_pieces(edges: DataFrame) -> DataFrame:
    """The exact BIGINT moment pieces of Newman's degree-assortativity
    coefficient over the undirected simple graph: one row
    (m, sum_jk, sum_j_plus_k, sum_j2_plus_k2) where for each undirected
    edge (a, b) with endpoint degrees j = deg(a), k = deg(b):

        r = [ S_jk/m - (S_jpk / 2m)^2 ] / [ S_j2pk2 / 2m - (S_jpk / 2m)^2 ]

    is left to the consumer -- the spatialstats.morans_i_pieces
    discipline: the statistic's divisions are float-fragile, its moment
    sums are order-free exact integers, so the engine emits the integers
    and stays bit-reproducible at any partitioning.  Assortativity is the
    link-farm / spam-cluster shape signal on web graphs (spam farms are
    strongly assortative; organic webs slightly disassortative).

    100 TB shape: degrees are one map-side-combinable count over the
    exploded endpoint stream; attaching (j, k) to edges is two equi-joins
    keyed by node id (bare longs); the final fold is a 1-row aggregate.
    Magnitude: sum of deg^2 products <= m * max_deg^2 -- bounded well
    inside BIGINT for any corpus whose max degree is capped (the synth
    graph's is 8-ish undirected; real pipelines cap super-nodes exactly
    like the minhash max_bucket guard)."""
    u = undirected_edges(edges)
    deg = (u.select(F.explode(F.array("a", "b")).alias("node"))
           .groupBy("node").agg(F.count("*").alias("deg")))
    jk = (u.join(deg.select(F.col("node").alias("a"),
                            F.col("deg").alias("j")), "a")
          .join(deg.select(F.col("node").alias("b"),
                           F.col("deg").alias("k")), "b"))
    return jk.agg(
        F.count("*").alias("m"),
        F.sum(F.col("j") * F.col("k")).alias("sum_jk"),
        F.sum(F.col("j") + F.col("k")).alias("sum_j_plus_k"),
        F.sum(F.col("j") * F.col("j")
              + F.col("k") * F.col("k")).alias("sum_j2_plus_k2"))


def assortativity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query body: assortativity pieces of the synthesized link
    graph over ``documents``."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = synth_edges(docs, n_nodes=docs.count())
    return assortativity_pieces(edges)


def assortativity_oracle_sql() -> str:
    """Identical construction in DuckDB SQL; sums CAST to BIGINT (the
    HUGEINT render guard)."""
    return f"""
WITH __n AS (SELECT COUNT(*) AS n FROM documents),
__edges AS MATERIALIZED ({synth_edges_sql()}),
u AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM __edges WHERE src <> dst),
deg AS (SELECT node, COUNT(*) AS deg FROM (
          SELECT unnest([a, b]) AS node FROM u) __x GROUP BY node)
SELECT CAST(COUNT(*) AS BIGINT) AS m,
       CAST(SUM(da.deg * db.deg) AS BIGINT) AS sum_jk,
       CAST(SUM(da.deg + db.deg) AS BIGINT) AS sum_j_plus_k,
       CAST(SUM(da.deg * da.deg + db.deg * db.deg) AS BIGINT)
           AS sum_j2_plus_k2
FROM u JOIN deg da ON u.a = da.node
       JOIN deg db ON u.b = db.node"""


# ---------------------------------------------------------------------------
# 1-hop neighborhood language mixing -- link-spam / farm signal
# ---------------------------------------------------------------------------

def neighbor_lang_mix(docs: DataFrame, edges: DataFrame,
                      id_col: str = "doc_id",
                      lang_col: str = "lang") -> DataFrame:
    """Per-document 1-hop outlink language profile: how many pages a doc
    links to (multiplicity counted -- each link is a vote), how many of
    them share the doc's own language, and how many distinct languages
    the neighborhood spans.  The classic link-farm / scraped-mirror
    signal on multilingual web graphs (farms link monolingually and
    densely; organic pages mix), and the label-propagation feature for
    language-ID smoothing.  Output: (doc_id, n_out, n_same, n_langs).

    100 TB shape: the edge stream joins two id-keyed dims (dst -> lang,
    src -> lang) shuffling only (long, short-string) pairs; the final
    per-src aggregate is map-side combinable (count + conditional count +
    distinct over a tiny lang domain -- Spark plans the distinct as a
    two-phase partial_count over (src, lang))."""
    langs = docs.select(F.col(id_col).alias("__id"),
                        F.col(lang_col).alias("__lang"))
    e = (edges.select("src", "dst")
         .join(langs.select(F.col("__id").alias("dst"),
                            F.col("__lang").alias("dst_lang")), "dst")
         .join(langs.select(F.col("__id").alias("src"),
                            F.col("__lang").alias("src_lang")), "src"))
    return (e.groupBy("src")
            .agg(F.count("*").alias("n_out"),
                 F.sum(F.when(F.col("dst_lang") == F.col("src_lang"), 1)
                       .otherwise(0)).alias("n_same"),
                 F.count_distinct("dst_lang").alias("n_langs"))
            .select(F.col("src").alias(id_col), "n_out",
                    F.col("n_same").cast("bigint").alias("n_same"),
                    "n_langs"))


def neighbor_lang_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query body over the synthesized link graph."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = synth_edges(docs, n_nodes=docs.count())
    return neighbor_lang_mix(docs, edges)


def neighbor_lang_mix_oracle_sql() -> str:
    """Identical joins + aggregate in DuckDB SQL (counts stay BIGINT; the
    conditional sum is CAST against the HUGEINT render)."""
    return f"""
WITH __n AS (SELECT COUNT(*) AS n FROM documents),
__edges AS MATERIALIZED ({synth_edges_sql()}),
e AS (SELECT s.doc_id AS src, dl.lang AS dst_lang, s.lang AS src_lang
      FROM __edges x
      JOIN documents dl ON x.dst = dl.doc_id
      JOIN documents s ON x.src = s.doc_id)
SELECT src AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_out,
       CAST(SUM(CASE WHEN dst_lang = src_lang THEN 1 ELSE 0 END)
            AS BIGINT) AS n_same,
       CAST(COUNT(DISTINCT dst_lang) AS BIGINT) AS n_langs
FROM e GROUP BY src"""


def bfs_hops(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
             id_col: str = "doc_id", max_hops: int = 3) -> DataFrame:
    """Multi-source BFS: minimum hop distance from the seed set within
    ``max_hops`` -- the k-hop reachability primitive behind crawl-frontier
    scheduling, seed-expansion corpus curation ("everything within 3
    clicks of a trusted set"), and contamination blast-radius queries.

    Exact by construction: hop labels are small BIGINTs, the final
    distance one MIN aggregate, so there is nothing to drift. Dataflow:
    FRONTIER iteration, not matrix power -- per round, only the rows
    discovered at hop k-1 join edges (never the whole reached set), new
    ids enter via a hop-min fold. Each round shuffles bare (id, hop)
    longs keyed by the join key; edges are loop-invariant (on a real
    cluster, co-partitioned by src and cached -- the pagerank argument,
    module docstring). Rounds = max_hops, a CONSTANT chosen by the
    caller, so the lineage is bounded and needs no checkpoint."""
    e = edges.select("src", "dst")
    reached = seeds.select(F.col(id_col).alias("id"),
                           F.lit(0).cast("long").alias("hops"))
    frontier = reached
    for k in range(1, int(max_hops) + 1):
        nxt = (frontier.join(e, frontier.id == e.src)
               .select(F.col("dst").alias("id"),
                       F.lit(k).cast("long").alias("hops"))
               .distinct())
        # new discoveries only: ids never seen in ANY earlier round
        frontier = nxt.join(reached.select("id"), "id", "left_anti")
        reached = reached.unionByName(frontier)
    return (reached.groupBy("id").agg(F.min("hops").alias("hops"))
            .select(F.col("id").alias(id_col), "hops"))


def bfs_hops_docs(spark: SparkSession, sf_dir: str,
                  max_hops: int = 3) -> DataFrame:
    """Driver query body: BFS over the deterministic document link graph
    from the seed set doc_id % 100 == 0."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = synth_edges(docs, n_nodes=docs.count())
    seeds = docs.where(F.col("doc_id") % 100 == 0).select("doc_id")
    return bfs_hops(docs, edges, seeds, max_hops=max_hops)


def bfs_hops_oracle_sql(max_hops: int = 3) -> str:
    """The identical BFS as chained DuckDB CTEs (the pagerank-oracle
    pattern): hop k = destinations of hop k-1, min-folded at the end --
    a level-synchronous replay of the same frontier semantics."""
    ctes = [
        "__n AS (SELECT COUNT(*) AS n FROM documents)",
        f"__edges AS MATERIALIZED ({synth_edges_sql()})",
        "__h0 AS (SELECT doc_id AS id, CAST(0 AS BIGINT) AS hops "
        "FROM documents WHERE doc_id % 100 = 0)",
    ]
    union = ["SELECT id, hops FROM __h0"]
    for k in range(1, int(max_hops) + 1):
        ctes.append(f"""__h{k} AS (
  SELECT DISTINCT e.dst AS id, CAST({k} AS BIGINT) AS hops
  FROM __edges e JOIN __h{k - 1} f ON e.src = f.id)""")
        union.append(f"SELECT id, hops FROM __h{k}")
    cte_block = ",\n".join(ctes)
    all_sql = "\nUNION ALL\n".join(union)
    return f"""
WITH {cte_block}
SELECT id AS doc_id, CAST(MIN(hops) AS BIGINT) AS hops
FROM ({all_sql}) GROUP BY id"""


# ---------------------------------------------------------------------------
# k-core decomposition -- bounded-round iterative peel
# ---------------------------------------------------------------------------

KCORE_K = 6
KCORE_ROUNDS = 4  # empirical fixpoint on the synth graph: 472->465->464->464


def kcore(edges: DataFrame, id_col: str = "doc_id", k: int = KCORE_K,
          rounds: int = KCORE_ROUNDS) -> DataFrame:
    """Bounded-round k-core peel over the UNDIRECTED simple graph of
    ``edges``: repeatedly drop nodes with fewer than ``k`` surviving
    neighbors.  The k-core is the standard dense-subgraph / spam-cluster
    detector on web graphs (link farms live in high cores; organic
    long-tail pages peel off in round one) and the classic iterative
    refinement beside BFS's frontier expansion: here the per-round state
    is the SURVIVOR set, monotonically shrinking.

    Exact by construction: degrees are BIGINT counts over the
    deduplicated undirected edge set, the survivor test an integer
    compare -- nothing to drift.  ``rounds`` is a CONSTANT (the bfs_hops
    discipline), so the dataflow is fixed and the oracle replays it as
    chained CTEs; a production fixpoint loop adds a convergence check
    (new_count == old_count, one scalar action per round) on the same
    dataflow.  Output: (id_col, deg) for nodes still alive after
    ``rounds`` peels, with deg = the surviving-neighbor count that round
    (>= k by construction).

    100 TB shape: each round is two id-keyed semi-joins (edge endpoint
    vs survivor set -- bare longs) + one map-side-combinable count; the
    edge set is loop-invariant (persisted once -- it feeds BOTH
    semi-joins of every round) and the survivor set only shrinks, so
    per-round shuffle bytes are bounded by round one's.  The (id, deg)
    state is checkpointed per round by :func:`spatial.iterate.fixpoint`:
    it is consumed TWICE per round, so an uncheckpointed plan doubles
    every round -- 2^rounds copies of round one by the end (measured
    19 s -> 8 s at 100k nodes for rounds=4).  No all-pairs, no driver
    state."""
    if rounds < 1:
        raise ValueError(f"kcore requires rounds >= 1, got {rounds}")
    def degrees(alive: DataFrame) -> DataFrame:
        return (alive.select(F.explode(F.array("a", "b")).alias("id"))
                .groupBy("id").agg(F.count("*").alias("deg")))

    with persisted(edges.select(F.least("src", "dst").alias("a"),
                                F.greatest("src", "dst").alias("b"))
                   .where(F.col("a") != F.col("b")).distinct()) as u:

        def step(state: DataFrame) -> DataFrame:
            surv = state.where(F.col("deg") >= k).select("id")
            return degrees(
                u.join(surv.select(F.col("id").alias("a")), "a", "semi")
                .join(surv.select(F.col("id").alias("b")), "b", "semi"))

        # round one peels against every node, so its degrees are the full
        # degrees; the later rounds run through the checkpointed loop
        state = fixpoint(degrees(u), step, int(rounds) - 1)
    return (state.where(F.col("deg") >= k)
            .select(F.col("id").alias(id_col),
                    F.col("deg").cast("bigint").alias("deg")))


def kcore_docs(spark: SparkSession, sf_dir: str, k: int = KCORE_K,
               rounds: int = KCORE_ROUNDS) -> DataFrame:
    """Driver query body: k-core of the deterministic document link
    graph."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = synth_edges(docs, n_nodes=docs.count())
    return kcore(edges, k=k, rounds=rounds)


def kcore_oracle_sql(k: int = KCORE_K, rounds: int = KCORE_ROUNDS) -> str:
    """The identical peel as chained DuckDB CTEs: s0 = all edge-incident
    nodes; round r computes degrees over edges with BOTH endpoints in
    s_{r-1} and keeps nodes with deg >= k."""
    ctes = [
        "__n AS (SELECT COUNT(*) AS n FROM documents)",
        f"__edges AS MATERIALIZED ({synth_edges_sql()})",
        """u AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM __edges WHERE src <> dst)""",
        "s0 AS (SELECT a AS id FROM u UNION SELECT b FROM u)",
    ]
    r = 0
    for r in range(1, int(rounds) + 1):
        ctes.append(f"""d{r} AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT unnest([a, b]) AS id FROM u
    WHERE a IN (SELECT id FROM s{r - 1})
      AND b IN (SELECT id FROM s{r - 1})) __x
  GROUP BY id)""")
        ctes.append(f"s{r} AS (SELECT id FROM d{r} WHERE deg >= {k})")
    cte_block = ",\n".join(ctes)
    return f"""
WITH {cte_block}
SELECT id AS doc_id, deg FROM d{r} WHERE deg >= {k}"""


# ---------------------------------------------------------------------------
# Anchor-text aggregation -- the classic web-corpus link+text operator
# ---------------------------------------------------------------------------

ANCHOR_TOPK = 3


def _anchor_pick(src_col, j_col):
    """Deterministic anchor-token index hash: DOUBLE mix decorrelates it
    from the edge synthesis, which consumes mix_hash(src*16 + j) for the
    destination (a single shared mix would make term index and dst
    correlated mod values).  Output of the inner mix is < P, so the +3
    offset stays ANSI-BIGINT-safe."""
    return mix_hash(mix_hash(src_col * 16 + j_col) + 3)


def anchor_terms(docs: DataFrame, edges: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 topk: int = ANCHOR_TOPK) -> DataFrame:
    """Anchor-text aggregation: each out-link carries one anchor term
    drawn deterministically from the SOURCE document's token stream; per
    TARGET document, the top-``topk`` inbound anchor terms by link count
    (ties broken by term ascending -- a total order, so ranks are
    deterministic).  This is the canonical web-corpus enrichment: anchor
    text is the highest-signal description of a page (used for retrieval
    training data, query-doc pairs, and page-quality features), and the
    aggregation -- group inbound edge text by target, keep the head -- is
    the exact shape of an anchor-text corpus build over a crawl.

    The anchor term for edge (src, j) is the source's token at index
    ``double_mix(src*16 + j) % ntokens(src)`` (tokens: lower-cased
    ``[a-z]+`` runs, the textstats idiom) -- a pure function of the edge
    id, so the whole operator replays exactly in SQL.  Token-free source
    docs contribute no anchors.  Output: (id_col, rnk, term, n_links).

    100 TB shape: the token array NEVER leaves the source doc's row --
    it collapses doc-side to at most outdeg<=8 short (src, j, term)
    rows before anything shuffles (text itself never fans out); the edge
    join is (src, j)-keyed; the per-(dst, term) count is map-side
    combinable; the top-k window runs over pre-aggregated counts with
    bounded per-dst cardinality."""
    toks = docs.select(
        F.col(id_col).alias("src"),
        F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z]+"),
                 lambda w: w != "").alias("__t"))
    outdeg = F.expr(
        "CAST(shiftleft(1, CAST(1 + src % 3 AS INT)) AS BIGINT)")
    anchors = (
        toks.where(F.size("__t") > 0)
        .withColumn("j", F.explode(F.sequence(F.lit(0),
                                              F.lit(_MAX_OUTDEG - 1))))
        .where(F.col("j") < outdeg)
        .select("src", "j",
                F.get(F.col("__t"),
                      F.pmod(_anchor_pick(F.col("src"), F.col("j")),
                             F.size("__t")).cast("int")).alias("term")))
    counts = (edges.select("src", "j", "dst")
              .join(anchors, ["src", "j"])
              .groupBy("dst", "term").agg(F.count("*").alias("n_links")))
    from pyspark.sql import Window
    w = (Window.partitionBy("dst")
         .orderBy(F.col("n_links").desc(), F.col("term").asc()))
    return (counts.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= topk)
            .select(F.col("dst").alias(id_col),
                    F.col("rnk").cast("int").alias("rnk"), "term",
                    F.col("n_links").cast("bigint").alias("n_links")))


def anchor_terms_docs(spark: SparkSession, sf_dir: str,
                      topk: int = ANCHOR_TOPK) -> DataFrame:
    """Driver query body: top anchor terms per document over the
    deterministic link graph."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = synth_edges(docs, n_nodes=docs.count())
    return anchor_terms(docs, edges, topk=topk)


def anchor_terms_oracle_sql(topk: int = ANCHOR_TOPK) -> str:
    """The identical pick + aggregate + ranked head in DuckDB SQL (list
    indexing is 1-based there; Spark's F.get is 0-based)."""
    pick = mix_hash_sql(f"({mix_hash_sql('(t.src * 16 + j.j)')}) + 3")
    return f"""
WITH __n AS (SELECT COUNT(*) AS n FROM documents),
__edges AS MATERIALIZED ({synth_edges_sql()}),
__toks AS (
  SELECT doc_id AS src,
         list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     w -> w <> '') AS ts
  FROM documents),
__anchor AS (
  SELECT t.src, j.j,
         ts[CAST(({pick}) % len(ts) AS BIGINT) + 1] AS term
  FROM __toks t, (SELECT UNNEST(range({_MAX_OUTDEG})) AS j) j
  WHERE len(ts) > 0 AND j.j < (1 << CAST(1 + t.src % 3 AS INT))),
__cnt AS (
  SELECT e.dst, a.term, CAST(COUNT(*) AS BIGINT) AS n_links
  FROM __edges e JOIN __anchor a ON e.src = a.src AND e.j = a.j
  GROUP BY e.dst, a.term),
__rk AS (
  SELECT dst, term, n_links,
         ROW_NUMBER() OVER (PARTITION BY dst
                            ORDER BY n_links DESC, term ASC) AS rnk
  FROM __cnt)
SELECT dst AS doc_id, CAST(rnk AS INT) AS rnk, term, n_links
FROM __rk WHERE rnk <= {topk}"""


# ---------------------------------------------------------------------------
# Label propagation -- deterministic community detection
# ---------------------------------------------------------------------------

LP_ROUNDS = 3


def label_prop(edges: DataFrame, id_col: str = "doc_id",
               rounds: int = LP_ROUNDS) -> DataFrame:
    """Fixed-round synchronous label propagation (Raghavan et al. 2007)
    over the UNDIRECTED simple graph of ``edges`` -- the standard
    community detector on web graphs (mirror clusters, link rings, and
    topic hubs converge onto one label; organic pages keep diverse
    labels).  Beside kcore's density peel and cluster.py's connectivity
    components, this is the third graph-refinement shape: per-round state
    is a LABELING, updated to the neighborhood mode.

    Determinism (the repo's exact-oracle gate): classic LPA breaks ties
    randomly; here the update is the TOTAL order (count DESC, label ASC)
    -- argmax as one map-side-combinable ``min(struct(-count, label))``,
    no randomness, no window over the corpus.  Labels start as node ids,
    so every value is an exact BIGINT and the whole run is replayable as
    chained CTEs.  Synchronous update (all nodes flip together from the
    round-(r-1) labeling) keeps the dataflow order-free -- asynchronous
    LPA would depend on visit order, which no distributed engine should
    promise.

    100 TB shape: per round ONE id-keyed equi-join of the symmetrized
    edge set against the (id, label) longs and ONE combinable count --
    bare-long shuffles bounded by the edge count, labels never fan out
    past the adjacency.  Edges are loop-invariant (persisted once);
    the labeling is checkpointed per round by
    :func:`spatial.iterate.fixpoint`, so each round's plan starts from
    the previous round's rows.  Output: (id_col, label)."""
    u = (edges.select(F.least("src", "dst").alias("a"),
                      F.greatest("src", "dst").alias("b"))
         .where(F.col("a") != F.col("b")).distinct())
    with persisted(u.select(F.col("a").alias("id"), F.col("b").alias("nb"))
                   .unionByName(u.select(F.col("b").alias("id"),
                                         F.col("a").alias("nb")))) as nbr:

        def step(labels: DataFrame) -> DataFrame:
            gathered = (nbr.join(labels.select(F.col("id").alias("nb"),
                                               "label"), "nb")
                        .groupBy("id", "label")
                        .agg(F.count("*").alias("cnt")))
            return (gathered
                    .groupBy("id")
                    .agg(F.min(F.struct((-F.col("cnt")).alias("nc"),
                                        F.col("label").alias("lb")))
                         .alias("m"))
                    .select("id", F.col("m.lb").alias("label")))

        labels = fixpoint(nbr.select("id").distinct()
                          .select("id", F.col("id").alias("label")),
                          step, rounds)
    return labels.select(F.col("id").alias(id_col),
                         F.col("label").cast("bigint").alias("label"))


def label_prop_docs(spark: SparkSession, sf_dir: str,
                    rounds: int = LP_ROUNDS) -> DataFrame:
    """Driver query body: label propagation over the deterministic
    document link graph."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = synth_edges(docs, n_nodes=docs.count())
    return label_prop(edges, rounds=rounds)


def label_prop_oracle_sql(rounds: int = LP_ROUNDS) -> str:
    """The identical synchronous rounds as chained DuckDB CTEs.  The
    Spark side's min(struct(-cnt, label)) argmax is replayed as the
    equivalent ROW_NUMBER total order (cnt DESC, label ASC) -- two plans,
    one answer."""
    ctes = [
        "__n AS (SELECT COUNT(*) AS n FROM documents)",
        f"__edges AS MATERIALIZED ({synth_edges_sql()})",
        """u AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM __edges WHERE src <> dst)""",
        """nbr AS MATERIALIZED (
  SELECT a AS id, b AS nb FROM u UNION ALL SELECT b, a FROM u)""",
        "l0 AS (SELECT DISTINCT id, id AS label FROM nbr)",
    ]
    r = 0
    for r in range(1, int(rounds) + 1):
        ctes.append(f"""c{r} AS (
  SELECT n.id, l.label, COUNT(*) AS cnt
  FROM nbr n JOIN l{r - 1} l ON l.id = n.nb
  GROUP BY n.id, l.label)""")
        ctes.append(f"""l{r} AS (
  SELECT id, label FROM (
    SELECT id, label,
           ROW_NUMBER() OVER (PARTITION BY id
                              ORDER BY cnt DESC, label ASC) AS rn
    FROM c{r}) __x WHERE rn = 1)""")
    cte_block = ",\n".join(ctes)
    return f"""
WITH {cte_block}
SELECT id AS doc_id, CAST(label AS BIGINT) AS label FROM l{r}"""


# ---------------------------------------------------------------------------
# Weighted bounded-hop cheapest path -- Bellman-Ford delta relaxation
# ---------------------------------------------------------------------------

SSSP_ROUNDS = 3
SSSP_SEED_MOD = 97  # seed set: doc_id % 97 == 0 (disjoint from BFS's %100)


def _edge_weight(src_col, j_col):
    """Deterministic positive edge weight 1..9: a DOUBLE-mix of (src, j)
    so the weight stream is decorrelated from the dst synthesis
    mix_hash(src*16 + j) (the anchor-text discipline -- a single mix
    would make weight a function of dst)."""
    return 1 + F.pmod(mix_hash(mix_hash(src_col * 16 + j_col) + 5),
                      F.lit(9))


def _edge_weight_sql(src_expr: str, j_expr: str) -> str:
    inner = mix_hash_sql(f"({src_expr} * 16 + {j_expr})")
    return f"(1 + {mix_hash_sql(f'({inner} + 5)')} % 9)"


def cheapest_hops(edges: DataFrame, seeds: DataFrame, id_col: str = "doc_id",
                  rounds: int = SSSP_ROUNDS) -> DataFrame:
    """Bounded-round single-source-set shortest path over the DIRECTED
    weighted link graph: minimum total weight from the seed set within
    ``rounds`` hops -- the weighted twin of bfs_hops (crawl scheduling
    where hops have costs, weighted contamination radius, cheapest
    citation chains).  Bellman-Ford with DELTA relaxation: per round only
    rows whose distance IMPROVED last round re-scatter along out-edges
    (a settled node with no improvement cannot improve a neighbor), so
    frontier size decays like BFS's while the answer stays exactly the
    round-``rounds`` matrix-power minimum.

    Exact: weights are small integers (1..9, a pure double-mix function
    of (src, j)), distances BIGINT sums, the merge a MIN -- nothing to
    drift.  The oracle replays the UNOPTIMIZED matrix-power form as
    chained CTEs: two different dataflows, provably the same rows.

    100 TB shape: per round one id-keyed equi-join (frontier x edges,
    bare longs) + two map-side-combinable MINs; edges loop-invariant
    (persisted).  The loop state is (id, dist, improved), checkpointed
    per round by :func:`spatial.iterate.fixpoint`; the frontier is its
    ``improved`` rows, so no round re-runs an earlier one.  Output:
    (id_col, dist) for nodes reachable in <= rounds hops."""
    with persisted(edges.select("src", "j", "dst").withColumn(
            "w", _edge_weight(F.col("src"), F.col("j")))) as e:

        def step(state: DataFrame) -> DataFrame:
            frontier = state.where("improved")
            cand = (frontier.join(e, frontier.id == e.src)
                    .groupBy(F.col("dst").alias("cid"))
                    .agg(F.min(F.col("dist") + F.col("w")).alias("cdist")))
            merged = (state.join(cand, state.id == cand.cid, "full_outer")
                      .select(F.coalesce("id", "cid").alias("id"),
                              F.col("dist").alias("odist"), F.col("cdist")))
            # improved = newly reached id, or strictly smaller distance
            # (Spark least() skips nulls, so the merge handles both outer
            # sides)
            return merged.select(
                "id", F.least("odist", "cdist").alias("dist"),
                (F.col("odist").isNull()
                 | (F.col("cdist") < F.col("odist"))).alias("improved"))

        best = fixpoint(seeds.select(F.col(id_col).alias("id"),
                                     F.lit(0).cast("long").alias("dist"),
                                     F.lit(True).alias("improved")),
                        step, rounds)
    return best.select(F.col("id").alias(id_col),
                       F.col("dist").cast("bigint").alias("dist"))


def cheapest_hops_docs(spark: SparkSession, sf_dir: str,
                       rounds: int = SSSP_ROUNDS) -> DataFrame:
    """Driver query body: cheapest weighted distance from the seed set
    doc_id % 97 == 0 over the deterministic weighted link graph."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = synth_edges(docs, n_nodes=docs.count())
    seeds = docs.where(F.col("doc_id") % SSSP_SEED_MOD == 0).select("doc_id")
    return cheapest_hops(edges, seeds, rounds=rounds)


def cheapest_hops_oracle_sql(rounds: int = SSSP_ROUNDS) -> str:
    """The same answer from a DIFFERENT dataflow: the unoptimized
    matrix-power Bellman-Ford as chained CTEs -- round r's candidates
    relax from the FULL round-(r-1) distance table (not the delta
    frontier), min-merged per round.  Equality with the delta plan is
    the classic BF invariant (a non-improved node cannot improve any
    neighbor it already relaxed)."""
    w = _edge_weight_sql("e.src", "e.j")
    ctes = [
        "__n AS (SELECT COUNT(*) AS n FROM documents)",
        f"__edges AS MATERIALIZED ({synth_edges_sql()})",
        f"""d0 AS (SELECT doc_id AS id, CAST(0 AS BIGINT) AS dist
  FROM documents WHERE doc_id % {SSSP_SEED_MOD} = 0)""",
    ]
    r = 0
    for r in range(1, int(rounds) + 1):
        ctes.append(f"""c{r} AS (
  SELECT e.dst AS id, MIN(d.dist + {w}) AS dist
  FROM __edges e JOIN d{r - 1} d ON e.src = d.id
  GROUP BY e.dst)""")
        ctes.append(f"""d{r} AS (
  SELECT id, MIN(dist) AS dist FROM (
    SELECT id, dist FROM d{r - 1}
    UNION ALL SELECT id, dist FROM c{r}) __m
  GROUP BY id)""")
    cte_block = ",\n".join(ctes)
    return f"""
WITH {cte_block}
SELECT id AS doc_id, CAST(dist AS BIGINT) AS dist FROM d{r}"""


# ---------------------------------------------------------------------------
# Link prediction -- common-neighbors / Jaccard pieces / preferential
# attachment over NON-edges (Liben-Nowell & Kleinberg 2003)
# ---------------------------------------------------------------------------

LINKPRED_MIN_CN = 2     # candidate pairs must share at least 2 neighbors


def link_prediction(edges: DataFrame) -> DataFrame:
    """Classic link-prediction scores over the UNDIRECTED link graph: for
    every non-adjacent pair (a, b) sharing >= LINKPRED_MIN_CN neighbors,
    the three textbook unsupervised predictors (Liben-Nowell & Kleinberg
    2003) -- common-neighbor count, Jaccard over neighbor sets, and
    preferential attachment -- the crawl-frontier prioritizer / related-
    page suggester / mirror-candidate generator on a web graph.  Every
    score is emitted as exact BIGINT pieces: ``cn``, ``union_n =
    deg_a + deg_b - cn`` (Jaccard = cn / union_n, division left to the
    consumer -- the cocitation/morans discipline) and ``pref_attach =
    deg_a * deg_b``.

    Distinct from :func:`cocitation_pairs` on two axes: neighbor sets are
    UNDIRECTED (cocitation intersects directed citer sets), and only
    NON-edges survive -- the whole point of link prediction is scoring
    pairs that are not yet linked, so existing edges are removed by an
    anti-join on the oriented pair key.

    100 TB shape: the wedge generator fans out per SHARED neighbor and is
    structurally capped by degree (synth degrees <= 16; real pipelines cap
    hub degrees first, exactly like minhash's max_bucket Zipf guard --
    dropping hubs only removes wedges every pair already agrees on), so
    candidates stay linear in edges, never quadratic in nodes.  Only
    (long, long) pairs shuffle; degrees are one map-side-combinable count
    joined back per side; the anti-join keys on the same oriented pair."""
    u = undirected_edges(edges)
    adj = (u.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
           .union(u.select(F.col("b").alias("node"), F.col("a").alias("nbr"))))
    deg = adj.groupBy("node").agg(F.count("*").alias("deg"))
    cand = (
        adj.alias("t1").join(adj.alias("t2"), "node")
        .where(F.col("t1.nbr") < F.col("t2.nbr"))
        .select(F.col("t1.nbr").alias("a"), F.col("t2.nbr").alias("b"))
        .groupBy("a", "b").agg(F.count("*").alias("cn"))
        .where(F.col("cn") >= LINKPRED_MIN_CN)
    )
    nonedge = cand.join(u, ["a", "b"], "left_anti")
    return (
        nonedge
        .join(deg.select(F.col("node").alias("a"),
                         F.col("deg").alias("deg_a")), "a")
        .join(deg.select(F.col("node").alias("b"),
                         F.col("deg").alias("deg_b")), "b")
        .select("a", "b", "cn", "deg_a", "deg_b",
                (F.col("deg_a") + F.col("deg_b") - F.col("cn"))
                .alias("union_n"),
                (F.col("deg_a") * F.col("deg_b")).alias("pref_attach"))
    )


def link_prediction_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query body: link-prediction scores over the synthesized
    document link graph."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = synth_edges(docs, n_nodes=docs.count())
    return link_prediction(edges)


def link_prediction_oracle_sql() -> str:
    """The identical wedge enumeration + anti-join in DuckDB SQL.  All
    outputs are COUNT/difference/product of BIGINTs (no SUM -> no HUGEINT
    rendering risk; the product of two degrees <= 16 is tiny)."""
    return f"""
WITH __n AS (SELECT COUNT(*) AS n FROM documents),
__edges AS MATERIALIZED ({synth_edges_sql()}),
u AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM __edges WHERE src <> dst),
adj AS (SELECT a AS node, b AS nbr FROM u
        UNION ALL SELECT b AS node, a AS nbr FROM u),
deg AS (SELECT node, COUNT(*) AS deg FROM adj GROUP BY node),
cand AS (SELECT t1.nbr AS a, t2.nbr AS b, COUNT(*) AS cn
         FROM adj t1 JOIN adj t2 ON t1.node = t2.node
                                AND t1.nbr < t2.nbr
         GROUP BY t1.nbr, t2.nbr
         HAVING COUNT(*) >= {LINKPRED_MIN_CN}),
nonedge AS (SELECT c.* FROM cand c
            WHERE NOT EXISTS (SELECT 1 FROM u
                              WHERE u.a = c.a AND u.b = c.b))
SELECT n.a, n.b, n.cn, da.deg AS deg_a, db.deg AS deg_b,
       da.deg + db.deg - n.cn AS union_n,
       da.deg * db.deg AS pref_attach
FROM nonedge n JOIN deg da ON n.a = da.node
               JOIN deg db ON n.b = db.node"""


# ---------------------------------------------------------------------------
# Personalized PageRank -- seed-teleport variant, same dyadic exactness
# ---------------------------------------------------------------------------

PPR_SEED_MOD = 97


def personalized_pagerank(nodes: DataFrame, edges: DataFrame,
                          id_col: str = "doc_id",
                          seed_mod: int = PPR_SEED_MOD,
                          iterations: int = 3) -> DataFrame:
    """Personalized PageRank: teleportation lands on the SEED SET (here
    ``id % seed_mod == 0``) instead of uniformly -- the related-pages /
    topic-conditioned authority measure (Haveliwala 2002; the "surf from
    my bookmarks" random walk).  UNNORMALIZED personalization: each seed
    receives teleport mass 1/4 (not 1/4/|S|) -- a global positive scaling
    of the standard PPR, so every ranking and ratio between nodes is
    unchanged while the 1/|S| division (NOT a dyadic rational) never
    happens, preserving the module's bit-exactness construction verbatim:
    outdegs are powers of two, damping 3/4, every value a bounded dyadic
    rational, so Spark and DuckDB agree bit-for-bit under any aggregation
    order.

    Same 100 TB shape as :func:`pagerank`: (long, double) shuffles,
    map-side-combinable gathers, loop-invariant edges, per-round
    checkpoint."""
    seed = F.when(F.col("id") % seed_mod == 0, F.lit(1.0)) \
            .otherwise(F.lit(0.0))
    ranks = _rank_walk(nodes, edges, id_col, seed, seed * F.lit(_TELEPORT),
                       iterations)
    return ranks.select(F.col("id").alias(id_col), F.col("r").alias("ppr"))


def personalized_pagerank_docs(spark: SparkSession, sf_dir: str,
                               iterations: int = 3) -> DataFrame:
    """Driver query body: PPR from the doc_id % 97 == 0 seed set over the
    synthesized link graph; only nodes with mass (reachable within
    ``iterations`` hops of a seed) are emitted -- the related-pages
    result set."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    edges = synth_edges(docs, n_nodes=n)
    ppr = personalized_pagerank(docs, edges, iterations=iterations)
    return ppr.where(F.col("ppr") > 0.0)


def personalized_pagerank_oracle_sql(iterations: int = 3,
                                     seed_mod: int = PPR_SEED_MOD) -> str:
    """The identical seeded iterations as chained CTEs; same dyadic-
    exactness argument as pagerank_oracle_sql."""
    dst = f"({mix_hash_sql('(d.doc_id * 16 + t.j)')}) % (SELECT n FROM __n)"
    seed = (f"(CASE WHEN d.doc_id % {seed_mod} = 0 "
            f"THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)")
    ctes = [
        "__n AS (SELECT COUNT(*) AS n FROM documents)",
        f"""__edges AS MATERIALIZED (
  SELECT d.doc_id AS src, {dst} AS dst,
         CAST(1 << CAST(1 + d.doc_id % 3 AS INT) AS BIGINT) AS outdeg
  FROM documents d, (SELECT UNNEST(range({_MAX_OUTDEG})) AS j) t
  WHERE t.j < (1 << CAST(1 + d.doc_id % 3 AS INT)))""",
        f"__r0 AS (SELECT doc_id AS id, {seed} AS r FROM documents d)",
    ]
    d_num = f"CAST({DAMP_NUM} AS DOUBLE) / {DAMP_DEN}"
    tele = f"CAST(1 AS DOUBLE) / {DAMP_DEN}"
    for k in range(1, iterations + 1):
        ctes.append(f"""__g{k} AS (
  SELECT e.dst AS id, SUM(r.r / e.outdeg) AS s
  FROM __edges e JOIN __r{k - 1} r ON e.src = r.id GROUP BY e.dst)""")
        ctes.append(f"""__r{k} AS (
  SELECT d.doc_id AS id,
         {seed} * {tele} + {d_num} * COALESCE(g.s, CAST(0 AS DOUBLE)) AS r
  FROM documents d LEFT JOIN __g{k} g ON d.doc_id = g.id)""")
    cte_block = ",\n".join(ctes)
    return f"""
WITH {cte_block}
SELECT id AS doc_id, r AS ppr FROM __r{iterations} WHERE r > 0.0e0"""
