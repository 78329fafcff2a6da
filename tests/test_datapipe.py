"""Dedup / similarity / textstats / multimodal over the driver-generated
documents + embeddings tables (TESTDATA.md) plus synthetic near-dups."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatial.datapipe.dedup import (
    embedding_dup_pairs,
    exact_dedup,
    exact_dup_groups,
    make_jaccard_udf,
    minhash_candidates,
    minhash_dedup_pairs,
    simhash_pairs,
)
from spatial.datapipe.multimodal import extract_features, synth_media
from spatial.datapipe.similarity import (
    assign_clusters,
    cosine_topk_bruteforce,
    ivf_topk,
    train_centroids,
)
from spatial.datapipe.textstats import with_textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """Docs with planted exact dups + near dups + distinct rows."""
    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep green forest to find food and water")
    rows = [
        (0, base), (1, base),                       # exact dup pair
        (2, base + " extra trailing clause here"),  # near dup of 0/1
        (3, base.replace("quick", "rapid")),        # near dup
        (4, "completely different text about spark query engines and "
            "columnar execution with arrow batches and vectorized kernels"),
        (5, "yet another unrelated document mentioning tiling geocoding "
            "and web mercator projections for map rendering pipelines"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(near_dup_docs):
    kept = exact_dedup(near_dup_docs)
    ids = {r["doc_id"] for r in kept.collect()}
    assert 0 in ids and 1 not in ids  # keeps lowest id of the dup group
    assert {2, 3, 4, 5} <= ids
    groups = exact_dup_groups(near_dup_docs).collect()
    assert len(groups) == 1 and groups[0]["n_dups"] == 2


def test_minhash_finds_near_dups(near_dup_docs):
    pairs = minhash_dedup_pairs(near_dup_docs, threshold=0.5,
                                num_perm=64, bands=16)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got          # exact dup: jaccard 1.0
    assert (0, 2) in got or (1, 2) in got
    # unrelated docs must not pair
    assert not any(4 in p or 5 in p for p in got)


def test_minhash_exact_dup_jaccard_one(near_dup_docs):
    jac = make_jaccard_udf(5)
    df = near_dup_docs.alias("a").join(near_dup_docs.alias("b"),
                                       F.col("a.doc_id") < F.col("b.doc_id"))
    row = (df.where((F.col("a.doc_id") == 0) & (F.col("b.doc_id") == 1))
           .select(jac(F.col("a.text"), F.col("b.text")).alias("j")).first())
    assert row["j"] == 1.0


def test_simhash_pairs(near_dup_docs):
    pairs = simhash_pairs(near_dup_docs, max_hamming=6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got
    assert not any((a in (4, 5)) ^ (b in (4, 5)) for a, b in got
                   if (a, b) != (4, 5))


def test_empty_docs_oracle_parity(spark):
    """Planted empty/null docs: engine and SQL oracle must agree (VERDICT r2
    task #5). The engine filters length==0/null at the pairs level; the
    oracle's shingle CTE naturally yields no rows for them -- without the
    filter every empty doc pairs with every other via the zero signature."""
    import duckdb

    from spatial.datapipe.dedup import (minhash_pairs_oracle_sql,
                                        simhash_pairs_oracle_sql)

    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep green forest to find food and water")
    rows = [(0, base), (1, base + " tail"), (2, ""), (3, None), (4, ""),
            (5, "tiny"),
            (6, "a wholly different text on columnar execution engines and "
                "vectorized arrow kernels for distributed queries")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vals = ", ".join(
        f"({i}, {'CAST(NULL AS VARCHAR)' if t is None else t.__repr__()})"
        for i, t in rows)
    cte = f"SELECT id, text FROM (VALUES {vals}) AS t(id, text)"
    con = duckdb.connect()

    eng = sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in
                 minhash_dedup_pairs(df, id_col="doc_id", threshold=0.7,
                                     num_perm=64, bands=16).collect())
    ora = sorted(con.sql(minhash_pairs_oracle_sql(
        cte, threshold=0.7, num_perm=64, bands=16)).fetchall())
    assert eng == ora
    assert eng, "the planted near-dup pair must survive"
    assert not any(a in (2, 3, 4) or b in (2, 3, 4) for a, b, _ in eng)

    eng2 = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in
                  simhash_pairs(df, id_col="doc_id").collect())
    ora2 = sorted(con.sql(simhash_pairs_oracle_sql(cte)).fetchall())
    assert eng2 == ora2
    assert not any(a in (2, 3, 4) or b in (2, 3, 4) for a, b, _ in eng2)


def test_lsh_candidates_subset_property(docs):
    """LSH candidates on real documents: every verified pair the full n^2
    Jaccard finds above 0.9 must be produced by the candidate generator."""
    sample = docs.limit(120).select("doc_id", "text")
    pdf = sample.toPandas()
    from spatial.datapipe.dedup import _hash_shingles

    sets = {r.doc_id: set(_hash_shingles(r.text, 5).tolist())
            for r in pdf.itertuples()}
    want = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            u = sets[a] | sets[b]
            if u and len(sets[a] & sets[b]) / len(u) >= 0.9:
                want.add((a, b))
    got = {(r["id_a"], r["id_b"])
           for r in minhash_dedup_pairs(sample, threshold=0.9,
                                        num_perm=128, bands=32).collect()}
    assert want <= got


def test_embedding_dup_pairs(spark):
    rng = np.random.default_rng(5)
    base = rng.normal(size=(40, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v.tolist()))
    # plant near-dups: 100..103 are tiny perturbations of 0..3
    for j in range(4):
        rows.append((100 + j, (base[j] + rng.normal(scale=0.01, size=16)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_dup_pairs(df, threshold=0.98, n_planes=12, n_tables=6)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert {(j, 100 + j) for j in range(4)} <= got


def test_similarity_bruteforce_vs_numpy(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas()
    V = np.asarray(pdf.embedding.tolist(), dtype=np.float64)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    rng = np.random.default_rng(9)
    Q = rng.normal(size=(5, V.shape[1]))
    got = cosine_topk_bruteforce(emb, Q, k=7)
    gm = {}
    for r in got.collect():
        gm.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"]))
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    S = V @ Qn.T
    for q in range(5):
        order = np.lexsort((pdf.vec_id.to_numpy(), -S[:, q]))[:7]
        want = [int(pdf.vec_id.iloc[i]) for i in order]
        assert [v for _, v in sorted(gm[q])] == want


def test_ivf_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    C = train_centroids(emb, n_clusters=8, sample_rows=500)
    clustered = assign_clusters(emb, C).persist()
    rng = np.random.default_rng(10)
    # queries near actual corpus points => well-inside clusters
    pdf = emb.limit(10).toPandas()
    Q = np.asarray(pdf.embedding.tolist(), dtype=np.float64) + rng.normal(
        scale=0.01, size=(10, len(pdf.embedding[0])))
    exact = cosine_topk_bruteforce(emb, Q, k=5)
    # synthetic embeddings are near-uniform (no real cluster structure), so
    # probe 6/8 clusters; real corpora cluster and need far fewer probes
    approx = ivf_topk(clustered, C, Q, k=5, nprobe=6)
    em, am = {}, {}
    for r in exact.collect():
        em.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in approx.collect():
        am.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(em[q] & am.get(q, set())) / len(em[q]) for q in em]
    assert np.mean(recalls) >= 0.8


def test_textstats(docs):
    out = with_textstats(docs).select(
        "doc_id", "n_tokens", "quality", "lang_pred", "fp64").limit(200).collect()
    assert all(r["n_tokens"] > 0 for r in out)
    assert all(0.0 <= r["quality"] <= 1.0 for r in out)
    assert all(r["fp64"] is not None for r in out)


def test_textstats_langid(spark):
    rows = [
        (1, "the cat sat on the mat and it was happy with the day"),
        (2, "der hund ist gross und das haus ist nicht klein von der stadt"),
        (3, "le chat est dans la maison et les enfants sont pour le jardin"),
        (4, "el perro es grande y la casa que es de los vecinos en madrid"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang_pred"] for r in with_textstats(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es"}


def test_textstats_stays_jvm_side(docs):
    plan = with_textstats(docs)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_multimodal_plumbing(spark):
    media = synth_media(spark, 60)
    feats = extract_features(media, fake_decode=True)
    rows = feats.collect()
    assert len(rows) == 60
    assert all(r["decode_ok"] for r in rows)
    assert all(len(r["feat"]) == 16 for r in rows)
    assert all(abs(sum(r["feat"]) - 1.0) < 1e-9 for r in rows)
    # determinism
    again = extract_features(media, fake_decode=True).collect()
    assert [r["feat"] for r in again] == [r["feat"] for r in rows]
    # compressed formats remain an explicit stub without fake=True
    with pytest.raises(NotImplementedError):
        from spatial.datapipe.multimodal import decode_image
        decode_image(b"xx", {"width": 4, "height": 4})


def test_multimodal_real_decode(spark):
    """ALL kinds decode for REAL (no codec lib, no fake flag): BMP images,
    AU01 PCM audio, VI01 frame-sequence video; undecodable payloads fail
    into decode_ok=false rows instead of killing the job."""
    media = synth_media(spark, 30)
    rows = extract_features(media, fake_decode=False).collect()
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r["kind"], []).append(r)
    for kind in ("image", "audio", "video"):
        assert all(r["decode_ok"] for r in by_kind[kind]), kind
        assert all(abs(sum(r["feat"]) - 1.0) < 1e-9 for r in by_kind[kind]), kind
    # garbage payload -> error row
    bad = spark.createDataFrame(
        [(99, "image", b"\x00garbage", {"mime": "x", "width": 4, "height": 4,
                                        "duration_ms": None})],
        "media_id long, kind string, payload binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int>")
    r = extract_features(bad, fake_decode=False).first()
    assert r["decode_ok"] is False and r["feat"] is None


def test_audio_video_containers_roundtrip():
    import numpy as np

    from spatial.datapipe.multimodal import (decode_audio, decode_bmp,
                                             decode_video_frames, encode_audio,
                                             encode_bmp, encode_video,
                                             frame_sample, resize_gray)
    rng = np.random.default_rng(3)
    s = rng.integers(-32768, 32768, 500).astype("<i2")
    back = decode_audio(encode_audio(s))
    assert len(back) == 500
    assert (back == (s.astype(np.float64) + 32768.0) / 256.0).all()
    frames = [encode_bmp(rng.integers(0, 256, (12, 12), dtype=np.uint8))
              for _ in range(5)]
    payload = encode_video(frames)
    got = decode_video_frames(payload)
    assert got == frames
    sampled = frame_sample(payload, 3)
    assert len(sampled) == 3 and all(f.shape == (8, 8) for f in sampled)
    # resize picks nearest-neighbor source pixels
    img = np.arange(16, dtype=np.float64).reshape(4, 4)
    rz = resize_gray(img, 2, 2)
    assert rz.shape == (2, 2) and rz[0, 0] == img[0, 0]


def test_bmp_roundtrip():
    import numpy as np

    from spatial.datapipe.multimodal import decode_bmp, encode_bmp
    rng = np.random.default_rng(7)
    for h, w in [(16, 16), (5, 7), (1, 3)]:  # odd widths exercise row padding
        gray = rng.integers(0, 256, (h, w), dtype=np.uint8)
        out = decode_bmp(encode_bmp(gray))
        assert out.shape == (h, w)
        # gray written to all 3 channels: luma(g,g,g) == g exactly
        assert (out == gray.astype(np.float64)).all()


def test_ppm_decode():
    import numpy as np

    from spatial.datapipe.multimodal import decode_ppm
    rng = np.random.default_rng(9)
    w, h = 6, 4
    rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    payload = b"P6\n# comment\n6 4\n255\n" + rgb.tobytes()
    out = decode_ppm(payload)
    expect = np.floor(0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1]
                      + 0.114 * rgb[:, :, 2] + 0.5)
    assert (out == expect).all()


def test_ivf_partition_pruning(spark, tmp_path):
    """IVF over cluster-partitioned storage: the nprobe IN-list reaches the
    scan as a PartitionFilter (reads nprobe/n_clusters of the files), and
    results equal IVF over the unpartitioned frame."""
    import numpy as np
    from pyspark.sql import functions as F

    from spatial.datapipe.similarity import (assign_clusters, ivf_topk,
                                             read_clustered, train_centroids,
                                             write_clustered)

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    C = train_centroids(emb, n_clusters=8, seed=42)
    clustered = assign_clusters(emb, C)
    store = str(tmp_path / "ivf_store")
    write_clustered(clustered, store)
    stored = read_clustered(spark, store)

    rng = np.random.default_rng(5)
    Q = rng.normal(size=(4, 64))
    got = ivf_topk(stored, C, Q, k=5, nprobe=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan.split("PartitionFilters")[1][:200]
    a = sorted((r["query_id"], r["rank"], r["vec_id"]) for r in got.collect())
    b = sorted((r["query_id"], r["rank"], r["vec_id"])
               for r in ivf_topk(clustered, C, Q, k=5, nprobe=2).collect())
    assert a == b


def test_top_ngrams(spark, docs):
    from spatial.datapipe.textstats import top_ngrams

    tiny = spark.createDataFrame(
        [(0, "the cat sat on the cat mat"), (1, "the cat sat"),
         (2, ""), (3, None), (4, "one")],
        "doc_id long, text string")
    out = top_ngrams(tiny, n=2, k=3).collect()
    assert [(r["ngram"], r["n_occurrences"], r["rank"]) for r in out] == [
        ("the cat", 3, 1), ("cat sat", 2, 2), ("cat mat", 1, 3)]
    # scale shape: global top-k must compile to TakeOrderedAndProject
    # (per-partition partial top-k), not a full sort of all distinct ngrams
    plan = top_ngrams(docs, n=2, k=20)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# -- round-3 curation / clustering / temporal operators ----------------------

def test_connected_components_hand_graph(spark):
    """Chain + separate pair + triangle: labels must be component minima,
    and a long chain must converge well inside max_rounds (pointer jumping
    gives O(log diameter))."""
    from spatial.datapipe.cluster import connected_components

    chain = [(i, i + 1) for i in range(100, 120)]          # diameter 20
    extra = [(5, 7), (7, 9), (9, 5), (1, 2)]               # triangle + pair
    pairs = spark.createDataFrame(chain + extra, ["id_a", "id_b"])
    got = {r["id"]: r["cluster_id"]
           for r in connected_components(pairs, max_rounds=10).collect()}
    for i in range(100, 121):
        assert got[i] == 100
    assert got[5] == got[7] == got[9] == 5
    assert got[1] == got[2] == 1


def test_dedup_assign_one_keep_per_cluster(spark, near_dup_docs):
    from spatial.datapipe.cluster import dedup_assign

    pairs = minhash_dedup_pairs(near_dup_docs, threshold=0.5)
    out = dedup_assign(near_dup_docs, pairs).collect()
    # every row labeled; exactly one keep per cluster; keeps are minima
    clusters = {}
    for r in out:
        clusters.setdefault(r["cluster_id"], []).append(r)
    for cid, members in clusters.items():
        keeps = [m for m in members if m["keep"]]
        assert len(keeps) == 1 and keeps[0]["doc_id"] == cid
        assert cid == min(m["doc_id"] for m in members)
    assert len(out) == near_dup_docs.count()


def test_asof_join_semantics(spark):
    """Inclusive match at equal ts, largest-tiebreak right row wins,
    no-prior-row -> null, tolerance nulls stale matches."""
    from datetime import datetime as dt

    from spatial.asof import asof_join

    right = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 10, 0, 0), 100, 1.0),
         (1, dt(2024, 1, 1, 10, 0, 0), 101, 2.0),   # same ts: 101 wins
         (1, dt(2024, 1, 1, 12, 0, 0), 102, 3.0),
         (2, dt(2024, 1, 1, 9, 0, 0), 200, 9.0)],
        ["user_id", "ts", "event_id", "value"])
    left = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 10, 0, 0), 1),    # equal ts -> inclusive, id 101
         (1, dt(2024, 1, 1, 11, 0, 0), 2),    # between -> id 101
         (1, dt(2024, 1, 1, 13, 0, 0), 3),    # after -> id 102
         (2, dt(2024, 1, 1, 8, 0, 0), 4),     # before any -> null
         (3, dt(2024, 1, 1, 8, 0, 0), 5)],    # no right rows -> null
        ["user_id", "ts", "lid"])
    out = {r["lid"]: r for r in
           asof_join(left, right, on=["user_id"],
                     value_cols=["event_id", "value"],
                     right_tiebreak="event_id").collect()}
    assert out[1]["asof_event_id"] == 101 and out[1]["asof_value"] == 2.0
    assert out[2]["asof_event_id"] == 101
    assert out[3]["asof_event_id"] == 102 and out[3]["asof_value"] == 3.0
    assert out[4]["asof_event_id"] is None
    assert out[5]["asof_event_id"] is None
    # tolerance: the 13:00 click is 1h after the 12:00 purchase; 30min tol
    tol = {r["lid"]: r for r in
           asof_join(left, right, on=["user_id"],
                     value_cols=["event_id"], right_tiebreak="event_id",
                     tolerance_s=1800).collect()}
    assert tol[1]["asof_event_id"] == 101      # 0s old: kept
    assert tol[3]["asof_event_id"] is None     # 3600s old: nulled


def test_pack_by_budget_properties(spark, docs):
    from spatial.datapipe.curation import pack_by_budget

    out = pack_by_budget(docs, budget=200).orderBy("lang", "doc_id").collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["lang"], []).append(r)
    for lang, rows in by_group.items():
        cum = 0
        for r in rows:
            assert r["shard_id"] == cum // 200   # exclusive-cumsum contract
            cum += r["n_tokens"]
        shard_ids = [r["shard_id"] for r in rows]
        assert shard_ids == sorted(shard_ids)    # monotone within group


def test_hash_sample_deterministic_and_nested(spark, docs):
    """The 10%% sample is a strict superset of the 5%% sample, and the
    sampled id set is invariant under repartitioning (pure function of id
    -- the property df.sample() does NOT have)."""
    from spatial.datapipe.curation import hash_sample

    ids5 = {r["doc_id"] for r in
            hash_sample(docs, {}, default_rate=500).select("doc_id").collect()}
    ids10 = {r["doc_id"] for r in
             hash_sample(docs, {}, default_rate=1000).select("doc_id").collect()}
    assert ids5 <= ids10 and len(ids10) > len(ids5) > 0
    again = {r["doc_id"] for r in
             hash_sample(docs.repartition(7), {}, default_rate=1000)
             .select("doc_id").collect()}
    assert again == ids10


def test_tfidf_topk_contract(spark, docs):
    from spatial.datapipe.textstats import tfidf_topk

    out = tfidf_topk(docs, k=3).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in per_doc.items():
        assert len(rows) <= 3
        assert sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1))
        for r in rows:
            num = r["tf"] * (2 * len(per_doc) - 2 * r["doc_freq"] + 1)
            assert r["score"] == num / (2 * r["doc_freq"] + 1)


def test_contamination_pairs_planted(spark):
    """Planted contamination: a benchmark doc embedded in a longer train
    page is caught by containment (would be missed by symmetric Jaccard at
    the same threshold); disjoint docs produce no pair; the max_df guard
    drops ubiquitous shingles from candidate generation."""
    from spatial.datapipe.decontam import contamination_pairs

    bench = ("which planet in our solar system has the most moons and "
             "what is its largest moon called by astronomers")
    test = spark.createDataFrame(
        [(1, bench),
         (2, "completely unrelated text about cooking pasta at home "
             "with garlic and olive oil for dinner tonight")],
        ["doc_id", "text"])
    train = spark.createDataFrame(
        [(10, "crawled page header junk " + bench + " crawled page "
              "footer junk with more boilerplate"),
         (11, "another page about gardening tips for spring flowers "
              "and vegetable beds in cold climates")],
        ["doc_id", "text"])
    out = contamination_pairs(test, train, threshold=0.8, shingle_k=8,
                              max_df=100).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["test_id"], r["train_id"]) == (1, 10)
    assert r["ratio"] >= 0.99  # fully embedded -> near-total containment
    # symmetric check: train doc is NOT >=80% contained in the test doc,
    # so direction matters (containment, not Jaccard)
    rev = contamination_pairs(
        train, test, threshold=0.8, shingle_k=8, max_df=100).collect()
    assert rev == []


def test_approx_distinct_sketch(spark):
    """Deterministic HLL: estimate within the raw-estimator error band,
    bit-identical across partitionings, and invariant under duplication
    (a sketch property no sampling-based estimator has)."""
    from pyspark.sql import functions as F

    from spatial.datapipe.sketches import approx_count_distinct

    n = 5000
    df = (spark.range(n)
          .select(F.lit("a").alias("g"), F.col("id").alias("v")))
    out = approx_count_distinct(df, "v", ["g"], p=8).collect()[0]
    assert abs(out["approx_distinct"] - n) / n < 0.2  # ~3 sigma at m=256
    out2 = approx_count_distinct(df.repartition(13), "v", ["g"],
                                 p=8).collect()[0]
    assert (out["harmonic_sum"], out["approx_distinct"]) == \
        (out2["harmonic_sum"], out2["approx_distinct"])
    out3 = approx_count_distinct(df.union(df), "v", ["g"], p=8).collect()[0]
    assert out3["harmonic_sum"] == out["harmonic_sum"]


def test_repetition_signals_hand_cases(spark):
    """Hand-checked Gopher-style repetition metrics, incl. the degenerate
    shapes (empty text, NULL text, fewer tokens than the gram width, an
    all-repeats doc) and the zero-shuffle plan claim."""
    from spatial.datapipe.textstats import repetition_signals

    tiny = spark.createDataFrame(
        [(0, "the cat sat the cat sat the cat sat"),
         (1, "a b c d e f g"),
         (2, "x x x x x x"),
         (3, ""), (4, None), (5, "one two"), (6, "one")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_signals(tiny).collect()}
    # doc 0: tokens 9x3 chars = 27; bigrams: "the cat"x3 (6 chars, the
    # separator space excluded), "cat sat"x3, "sat the"x2 -> top2 = 3*6
    assert got[0]["word_chars"] == 27
    assert got[0]["top2_char_frac"] == 18 / 27
    # trigrams: "the cat sat"x3 (9), "cat sat the"x2, "sat the cat"x2 ->
    # dup = 3*9 + 2*9 + 2*9 = 63 = all -> frac 1.0
    assert got[0]["dup3_char_frac"] == 1.0
    # doc 1: no repeats at all
    assert got[1]["top2_char_frac"] == 2 / 7  # every bigram once: 1*2 / 7
    assert got[1]["dup3_char_frac"] == 0.0
    # doc 2: "x x" occurs 5x (3 chars each, minus separator -> 2*... ) ->
    # top2 = 5 * 2 = 10 over 6 word chars (frac may exceed 1: overlapping
    # occurrences -- same as Gopher's definition, a filter signal not a
    # probability)
    assert got[2]["top2_char_frac"] == 10 / 6
    assert got[2]["dup3_char_frac"] == 1.0
    for d in (3, 4):
        assert got[d]["word_chars"] == 0
        assert got[d]["top2_char_frac"] == 0.0
        assert got[d]["dup3_char_frac"] == 0.0
    assert got[5]["top2_char_frac"] == (1 * 6) / 6  # single bigram "one two"
    assert got[6]["top2_char_frac"] == 0.0  # one token: no bigram
    # zero-shuffle claim: the physical plan must contain NO exchange
    plan = repetition_signals(tiny)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_incremental_dedup_equals_cross_slice(spark, near_dup_docs):
    """incremental_dup_pairs(corpus, batch) must equal the cross-corpus
    slice of full minhash_dedup_pairs over the union -- the identity the
    driver oracle also pins (same union bucket cap on both paths)."""
    from pyspark.sql import functions as F

    from spatial.datapipe.dedup import (incremental_dup_pairs,
                                        minhash_dedup_pairs)

    corpus = near_dup_docs
    batch = (corpus.where(F.col("doc_id") % 3 == 0)
             .withColumn("doc_id", F.col("doc_id") + 500_000)
             .withColumn("text", F.concat(F.col("text"), F.lit(" zz"))))
    inc = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
           incremental_dup_pairs(corpus, batch, threshold=0.6,
                                 num_perm=64, bands=16).collect()}
    full = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
            minhash_dedup_pairs(corpus.union(batch), threshold=0.6,
                                num_perm=64, bands=16).collect()
            if r["id_a"] < 500_000 <= r["id_b"]}
    assert inc == full
    assert len(inc) > 0  # planted mutations must actually fire


def test_cap_per_key_partition_invariant_and_exact(spark):
    """Two-stage capped top-k == single-window global rank, identical at
    different partition counts, incl. a hot key 100x the others."""
    from pyspark.sql import Window

    from spatial.datapipe.curation import cap_per_key, mix_hash

    rows = [(i, "hot" if i < 1000 else f"k{i % 7}") for i in range(1300)]
    base = spark.createDataFrame(rows, "doc_id long, key string")

    def run(df):
        return {(r["doc_id"], r["key"], r["rank"])
                for r in cap_per_key(df, "key", 4).collect()}

    got2 = run(base.repartition(2))
    got16 = run(base.repartition(16))
    assert got2 == got16
    w = Window.partitionBy("key").orderBy(mix_hash(F.col("doc_id")).asc(),
                                          F.col("doc_id").asc())
    want = {(r["doc_id"], r["key"], r["rank"]) for r in
            base.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= 4).collect()}
    assert got2 == want
    assert sum(1 for _, k, _ in want if k == "hot") == 4


def test_inverted_index_partition_invariant_and_capped(spark):
    """Two-stage posting cap == global rank; stats stay full counts even
    where the list truncates; max_df guard drops stopword terms."""
    from spatial.datapipe.index import inverted_index

    def wd(prefix, n):  # digit-free words: the tokenizer is [a-z]-only
        return prefix + "".join(chr(97 + int(c)) for c in str(n))

    rows = [(i, ("stop " * 3 + f"{wd('cyc', i % 5)} {wd('rare', i)}")
             if i % 2 == 0 else f"stop {wd('cyc', i % 5)}")
            for i in range(200)]
    base = spark.createDataFrame(rows, "doc_id long, text string")

    def run(df):
        return {r["term"]: (r["doc_freq"], r["n_occurrences"],
                            tuple(r["postings"]))
                for r in inverted_index(df, max_df=150,
                                        max_postings=8).collect()}

    got2 = run(base.repartition(2))
    got16 = run(base.repartition(16))
    assert got2 == got16
    assert "stop" not in got2                  # df=200 > max_df=150
    df_c0, n_occ_c0, post_c0 = got2[wd("cyc", 0)]
    assert df_c0 == 40 and n_occ_c0 == 40      # full counts kept
    assert len(post_c0) == 8                   # capped
    assert post_c0 == (0, 5, 10, 15, 20, 25, 30, 35)
    assert got2[wd("rare", 4)] == (1, 1, (4,))


def test_pmi_bigrams_partition_invariant(spark):
    """PMI ranking is bit-identical at different partition counts and the
    planted collocation wins rank 1."""
    from spatial.datapipe.textstats import pmi_bigrams

    rows = [(i, "alpha beta " + " ".join(f"w{(i * 7 + j) % 11}"
                                         for j in range(6)))
            for i in range(300)]
    base = spark.createDataFrame(rows, "doc_id long, text string")

    def run(df):
        return [(r["w1"], r["w2"], r["n_pair"], r["rank"], r["score"])
                for r in pmi_bigrams(df, k=10, min_count=3).collect()]

    got2 = run(base.repartition(2))
    got16 = run(base.repartition(16))
    assert got2 == got16
    assert (got2[0][0], got2[0][1]) == ("alpha", "beta")
    assert got2[0][3] == 1


def test_triangle_counts_hand_case(spark):
    """K4 minus one edge has exactly two triangles sharing an edge; counts
    per node follow; direction/duplicates/self-loops must not matter."""
    from spatial.datapipe.graph import triangle_counts

    edges = [(1, 2), (2, 1), (1, 3), (2, 3), (4, 1), (2, 4), (3, 3),
             (5, 6)]  # K4 minus (3,4); dup (1,2); self-loop (3,3)
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(e).collect()}
    # triangles: {1,2,3} and {1,2,4}
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}


def test_similarity_join_equals_bruteforce(spark):
    """Prefix-filtered join == brute-force all-pairs Jaccard (no false
    negatives), partition-invariant, and the prefix actually prunes."""
    import itertools

    from spatial.datapipe.setjoin import similarity_join

    words = [f"w{chr(97 + i)}{chr(97 + j)}" for i in range(8)
             for j in range(8)]
    rows = []
    for i in range(60):
        base = [words[(i * 3 + k) % 64] for k in range(12)]
        rows.append((i, " ".join(base)))
        if i % 10 == 0:  # plant a 11/13-overlap near-dup
            rows.append((1000 + i, " ".join(base[:11] + [words[(i + 40) % 64],
                                                         words[(i + 41) % 64]])))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r["id_a"], r["id_b"]): (r["n_inter"], r["n_union"])
           for r in similarity_join(df.repartition(7), 7, 10).collect()}
    # brute force in Python
    sets = {i: set(t.split()) for i, t in rows}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a] | sets[b])
        if inter / uni >= 0.7:
            want[(a, b)] = (inter, uni)
    assert got == want
    assert len(want) >= 6  # planted near-dups must fire


def test_image_ahash_scale_invariance(spark):
    """Exact copies and nearest-neighbor upscales hash identically; a
    genuinely different image does not; corrupt payloads yield null."""
    import numpy as np

    from spatial.datapipe.multimodal import (ahash_limbs, encode_bmp,
                                             image_ahash)

    rng = np.random.default_rng(7)
    a = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    b = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    up = np.repeat(np.repeat(a, 2, axis=0), 2, axis=1)
    meta = {"mime": "image/bmp", "width": 16, "height": 16,
            "duration_ms": None}
    rows = [(0, "image", encode_bmp(a), meta),
            (1, "image", encode_bmp(a), meta),          # exact copy
            (2, "image", encode_bmp(up), dict(meta, width=32, height=32)),
            (3, "image", encode_bmp(b), meta),
            (4, "image", b"garbage-not-a-bmp", meta)]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, "
              "meta struct<mime:string,width:int,height:int,duration_ms:int>")
    got = {r["media_id"]: (r["ahash_hi"], r["ahash_lo"], r["decode_ok"])
           for r in image_ahash(df).collect()}
    assert got[0] == got[1] == got[2]
    assert got[0][:2] != got[3][:2]
    assert got[4] == (None, None, False)
    assert got[0][:2] == ahash_limbs(a.astype(float))


def test_weighted_sample_monotone_and_stable(spark):
    """Kept set at weight w is a subset of the kept set at any w' >= w
    (nested samples by construction) and partition-invariant."""
    from spatial.datapipe.curation import weighted_sample

    base = spark.range(0, 5000).withColumnRenamed("id", "doc_id")

    def keep(df, w):
        return {r["doc_id"] for r in
                weighted_sample(df, F.lit(w)).collect()}

    k2000 = keep(base.repartition(3), 2000)
    k5000 = keep(base.repartition(11), 5000)
    assert k2000 <= k5000
    assert keep(base.repartition(16), 2000) == k2000
    # rates land near the nominal probabilities
    assert abs(len(k2000) / 5000 - 0.2) < 0.03
    assert abs(len(k5000) / 5000 - 0.5) < 0.03


def test_quantize_int8_properties_and_parity(spark):
    """INT8 quantization: codes bounded by 127, scale is the exact max
    |x|, dequantization error <= scale/254 per element (half a step),
    zero vectors quantize to zeros, and the DuckDB oracle replays the
    codes bit-exactly."""
    import duckdb

    from spatial.datapipe.similarity import (quantize_int8,
                                             quantize_int8_oracle_sql)

    rows = [(1, [0.5, -1.0, 0.25, 0.0]),
            (2, [3.0, 2.9999, -3.0, 1.5]),
            (3, [0.0, 0.0, 0.0, 0.0]),
            (4, [1e-5, -2e-5, 1.7e-5, -0.9e-5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["id"]: r for r in quantize_int8(df).collect()}
    for i, v in rows:
        import numpy as np
        vv = np.asarray(v, dtype=np.float32).astype(np.float64)
        scale = float(np.max(np.abs(vv)))
        r = got[i]
        assert r["scale"] == scale
        assert all(abs(c) <= 127 for c in r["codes"])
        if scale == 0.0:
            assert r["codes"] == [0, 0, 0, 0]
        else:
            deq = np.asarray(r["codes"], dtype=np.float64) * scale / 127.0
            assert np.max(np.abs(deq - vv)) <= scale / 254.0 * 1.0000001
    vals = ", ".join(
        "({}, [{}]::FLOAT[])".format(i, ",".join(repr(x) for x in v))
        for i, v in rows)
    cte = f"SELECT * FROM (VALUES {vals}) AS t(vec_id, embedding)"
    o = {r[0]: r for r in duckdb.connect().execute(
        quantize_int8_oracle_sql(cte)).fetchall()}
    for i, _v in rows:
        assert o[i][2] == got[i]["scale"]
        assert list(o[i][3]) == got[i]["codes"]


def test_hits_hand_case(spark):
    """Tiny 3-node graph, HITS scores computed by hand (2 unnormalized
    iterations): edges 1->2, 1->3, 2->3, 3->1.
    a1 = indeg = {1:1, 2:1, 3:2}; h1 = {1:3, 2:2, 3:1};
    a2 = {1:1, 2:3, 3:5};        h2 = {1:8, 2:5, 3:1}."""
    from spatial.datapipe.graph import hits

    nodes = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    e = spark.createDataFrame([(1, 2), (1, 3), (2, 3), (3, 1)],
                              "src long, dst long")
    got = {r["doc_id"]: (r["hub"], r["authority"])
           for r in hits(nodes, e, iterations=2).collect()}
    assert got == {1: (8, 1), 2: (5, 3), 3: (1, 5)}


def test_hits_multiplicity_and_isolated(spark):
    """Duplicate edges count with multiplicity; a node with no edges gets
    (0, 0) instead of dropping out."""
    from spatial.datapipe.graph import hits

    nodes = spark.createDataFrame([(1,), (2,), (9,)], "doc_id long")
    e = spark.createDataFrame([(1, 2), (1, 2)], "src long, dst long")
    got = {r["doc_id"]: (r["hub"], r["authority"])
           for r in hits(nodes, e, iterations=2).collect()}
    # a1(2) = 2 (two parallel edges), h1(1) = 4, a2(2) = 8, h2(1) = 16
    assert got == {1: (16, 0), 2: (0, 8), 9: (0, 0)}


def test_cocitation_hand_case(spark):
    """s1,s2 both cite {10,20}; s3 cites {10,30}: only (10,20) survives
    the cocite >= 2 gate, with union = 3 + 2 - 2 = 3 and Jaccard 2/3."""
    from spatial.datapipe.graph import cocitation_pairs

    e = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 10), (2, 20), (3, 10), (3, 30),
         (1, 10)],  # duplicate edge: must NOT double-count (DISTINCT)
        "src long, dst long")
    rows = cocitation_pairs(e).collect()
    assert [(r["d1"], r["d2"], r["cocite"], r["union_n"])
            for r in rows] == [(10, 20, 2, 3)]


def test_cocitation_jaccard_gate(spark):
    """A pair with cocite >= 2 but Jaccard <= 1/5 is rejected by the
    cross-multiplied filter: 12 citers total, 2 shared -> 2/12 < 1/5...
    union = 5 + 9 - 2 = 12, 2*5 = 10 <= 12*1."""
    from spatial.datapipe.graph import cocitation_pairs

    rows = []
    for s in range(1, 4):            # 3 shared citers of both 10 and 20
        rows += [(s, 10), (s, 20)]
    for s in range(4, 14):           # 10 citers of only 10
        rows.append((s, 10))
    # indeg(10)=13, indeg(20)=3, cocite=3, union=13: 3*5=15 > 13 -> keep
    e = spark.createDataFrame(rows, "src long, dst long")
    got = cocitation_pairs(e).collect()
    assert [(r["d1"], r["d2"], r["cocite"], r["union_n"])
            for r in got] == [(10, 20, 3, 13)]
    # now dilute: 15 extra citers of 10 -> union 28, 3*5=15 <= 28 -> drop
    rows += [(s, 10) for s in range(14, 29)]
    e2 = spark.createDataFrame(rows, "src long, dst long")
    assert cocitation_pairs(e2).count() == 0


def test_random_walks_pure_python_replay(spark):
    """The distributed walk equals a pure-Python replay of the same
    derandomized chain over the same synth graph (10 nodes, 3 steps)."""
    from spatial.datapipe.graph import random_walks, synth_edges

    P, M1, C1, M2 = 4294967291, 1597334677, 40503, 279470273

    def mix(x):
        return ((x % P) * M1 + C1) % P * M2 % P

    n = 10
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = synth_edges(nodes, n_nodes=n)
    got = {r["doc_id"]: (r["step1"], r["step2"], r["step3"])
           for r in random_walks(nodes, edges, length=3).collect()}
    expect = {}
    for i in range(n):
        cur, steps = i, []
        for k in range(3):
            outdeg = 1 << (1 + cur % 3)
            pick = mix(cur * 16 + 8 + k) % outdeg
            cur = mix(cur * 16 + pick) % n
            steps.append(cur)
        expect[i] = tuple(steps)
    assert got == expect
    assert len(got) == n  # exactly one walk per start node


def test_hashed_linear_score_pure_python_replay(spark):
    """The hashed classifier equals a pure-Python replay: identical
    tokenization, md5-prefix bucket, derandomized weights, integer sums."""
    import hashlib
    import re

    from spatial.datapipe.textstats import HASH_BUCKETS, hashed_linear_score

    P, M1, C1, M2 = 4294967291, 1597334677, 40503, 279470273

    def mix(x):
        return ((x % P) * M1 + C1) % P * M2 % P

    def weight(g):
        b = int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % HASH_BUCKETS
        return mix(b) % 2001 - 1000

    docs = [(1, "The spam ham, spam!"), (2, "ok"), (3, "123 456"),
            (4, "one two one two one")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_feats"], r["score"], r["label"])
           for r in hashed_linear_score(df).collect()}
    expect = {}
    for i, text in docs:
        toks = [t for t in re.split(r"[^a-z]+", text.lower()) if t]
        grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        if not grams:
            continue  # doc 3: no [a-z] tokens -> drops out
        s = sum(weight(g) for g in grams)
        expect[i] = (len(grams), s, 1 if s > 0 else 0)
    assert got == expect
    assert 3 not in got


def test_perplexity_sample_tiers_and_rates(spark):
    """Tier assignment and keep-gates equal a pure-Python replay built on
    the operator's own lm_score output: per-language NTILE(3) over
    (nll_per_bigram, doc_id), head kept whole / middle 50% / tail 10%."""
    from spatial.datapipe.textstats import lm_score, perplexity_sample

    P, M1, C1, M2 = 4294967291, 1597334677, 40503, 279470273

    def bucket(x):
        return (((x % P) * M1 + C1) % P * M2 % P) % 10000

    rows = []
    words = ["aa", "bb", "cc", "dd", "ee", "ff"]
    for i in range(30):
        lang = "en" if i % 2 == 0 else "de"
        # vary text so nll values spread deterministically
        txt = " ".join(words[(i + j) % (2 + i % 5)] for j in range(6))
        rows.append((i, lang, txt))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    lm = {r["doc_id"]: (r["nll_micro"], r["n_bigrams"])
          for r in lm_score(df).collect()}
    langof = {i: lang for i, lang, _ in rows}
    # python replay: per-lang ntile(3) over (nll_per_bigram, doc_id)
    expect = {}
    for lang in ("en", "de"):
        docs = sorted((lm[i][0] // lm[i][1], i)
                      for i in lm if langof[i] == lang)
        n = len(docs)
        for rank, (norm, i) in enumerate(docs):
            # SQL NTILE: first n % 3 tiers get ceil(n/3) rows
            big, rem = divmod(n, 3)
            tier = (rank // (big + 1) + 1 if rank < (big + 1) * rem
                    else rem + (rank - (big + 1) * rem) // big + 1)
            rate = {1: 10000, 2: 5000, 3: 1000}[tier]
            if bucket(i) < rate:
                expect[i] = (lang, norm, tier)
    got = {r["doc_id"]: (r["lang"], r["nll_per_bigram"], r["ppl_tier"])
           for r in perplexity_sample(df).collect()}
    assert got == expect


def test_assortativity_hand_case(spark):
    """Path graph 1-2-3 plus isolated edge 4-5: degrees {1:1, 2:2, 3:1,
    4:1, 5:1}; edges with (j,k): (1,2)->(1,2), (2,3)->(2,1), (4,5)->(1,1).
    m=3, sum_jk = 2+2+1 = 5, sum_j_plus_k = 3+3+2 = 8,
    sum_j2_plus_k2 = 5+5+2 = 12. Directions/dups/self-loops must not
    matter (undirected simple graph)."""
    from spatial.datapipe.graph import assortativity_pieces

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 2), (4, 5), (1, 1)],  # dup dir + self-loop
        "src long, dst long")
    row = assortativity_pieces(e).collect()[0]
    assert (row["m"], row["sum_jk"], row["sum_j_plus_k"],
            row["sum_j2_plus_k2"]) == (3, 5, 8, 12)


def test_neighbor_lang_mix_hand_case(spark):
    """Explicit tiny graph: doc 1 (en) links 2(en), 3(de), 3(de) again
    (multiplicity), doc 2 (en) links 1(en); doc 3 links nothing."""
    from spatial.datapipe.graph import neighbor_lang_mix

    docs = spark.createDataFrame([(1, "en"), (2, "en"), (3, "de")],
                                 "doc_id long, lang string")
    e = spark.createDataFrame([(1, 2), (1, 3), (1, 3), (2, 1)],
                              "src long, dst long")
    got = {r["doc_id"]: (r["n_out"], r["n_same"], r["n_langs"])
           for r in neighbor_lang_mix(docs, e).collect()}
    assert got == {1: (3, 1, 2), 2: (1, 1, 1)}


def test_title_editdist_blocked_pairs(spark):
    """Same-source equal-length near titles pair with the exact classic
    Levenshtein distance; different sources or lengths never pair."""
    from spatial.datapipe.dedup import title_editdist_pairs

    docs = spark.createDataFrame(
        [(1, "s1", "breaking news: floods hit town"),
         (2, "s1", "breaking news: floods hit city"),  # lev 4 (town/city)
         (3, "s2", "breaking news: floods hit town"),  # other source
         (4, "s1", "breaking news: floods hit towns"),  # other length
         (5, "s1", None)],
        "doc_id long, source string, text string")
    got = [(r["d1"], r["d2"], r["lev"])
           for r in title_editdist_pairs(docs, max_dist=20).collect()]
    assert got == [(1, 2, 4)]


def test_kcore_hand_graph(spark):
    """K4 + pendant chain: the chain cascades off round by round while
    the clique's mutual support survives; direction, duplicate edges and
    self-loops are ignored (undirected simple graph)."""
    from spatial.datapipe.graph import kcore

    # K4 on 0-3 (each deg 3), chain 3-4-5, plus self-loop + reverse-dup
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
         (3, 4), (4, 5), (5, 5), (1, 0)], "src long, dst long")
    got = {r["doc_id"]: r["deg"] for r in kcore(edges, k=3, rounds=3).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # k=2 cascade: round 1 peels 5 (deg 1), round 2 peels 4 (deg fell to
    # 1), round 3 reports the bare K4 degrees -- node 3 no longer sees 4
    got2 = {r["doc_id"]: r["deg"] for r in kcore(edges, k=2, rounds=3).collect()}
    assert got2 == {0: 3, 1: 3, 2: 3, 3: 3}
    # truncated at rounds=1 the cascade has not reached node 4 yet
    got3 = {r["doc_id"]: r["deg"] for r in kcore(edges, k=2, rounds=1).collect()}
    assert got3 == {0: 3, 1: 3, 2: 3, 3: 4, 4: 2}
    with pytest.raises(ValueError):
        kcore(edges, k=2, rounds=0)


def test_anchor_terms_pure_python_replay(spark):
    """Anchor picks replayed in pure Python over a tiny doc table: checks
    the double-mix token index, [a-z]+ tokenization, token-free-doc drop,
    per-target counting and the (count desc, term asc) ranking."""
    import re
    from collections import Counter

    from spatial.datapipe.graph import anchor_terms, synth_edges

    docs = [(0, "Alpha beta GAMMA!"), (1, "   "), (2, "delta42epsilon"),
            (3, "zeta"), (4, "eta theta eta")]
    n = len(docs)
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = [(r["doc_id"], r["rnk"], r["term"], r["n_links"])
           for r in anchor_terms(sdf, synth_edges(sdf, n_nodes=n),
                                 topk=2).collect()]

    P, M1, C1, M2 = 4294967291, 1597334677, 40503, 279470273

    def mix(x):
        return ((x % P) * M1 + C1) % P * M2 % P

    cnt: dict[int, Counter] = {}
    for i, text in docs:
        toks = [t for t in re.split(r"[^a-z]+", text.lower()) if t]
        if not toks:
            continue
        for j in range(1 << (1 + i % 3)):
            dst = mix(i * 16 + j) % n
            term = toks[mix(mix(i * 16 + j) + 3) % len(toks)]
            cnt.setdefault(dst, Counter())[term] += 1
    want = []
    for dst, c in cnt.items():
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
        for rk, (term, m) in enumerate(ranked, 1):
            want.append((dst, rk, term, m))
    assert sorted(got) == sorted(want)


def test_label_prop_hand_graph(spark):
    """Synchronous LPA with the (count desc, label asc) total order on a
    triangle (converges to the min id) plus a 3-path (the classic
    bipartite oscillation -- deterministic, hand-traced per round)."""
    from spatial.datapipe.graph import label_prop

    pairs = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {r["doc_id"]: r["label"]
           for r in label_prop(edges, rounds=3).collect()}
    # triangle: r1 {10:11, 11:10, 12:10}; r2 all->10; r3 holds
    # path: r1 {1:2, 2:1, 3:2}; r2 {1:1, 2:2, 3:1}; r3 {1:2, 2:1, 3:2}
    assert got == {1: 2, 2: 1, 3: 2, 10: 10, 11: 10, 12: 10}


def test_cheapest_hops_pure_python_replay(spark):
    """Delta-relaxation Bellman-Ford vs a pure-Python full relaxation of
    the same weighted graph: same weight double-mix, same rounds."""
    from spatial.datapipe.graph import (SSSP_SEED_MOD, cheapest_hops,
                                        synth_edges)

    n = 60
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    edges = synth_edges(docs, n_nodes=n)
    seeds = docs.where(F.col("doc_id") % SSSP_SEED_MOD == 0)
    got = {r["doc_id"]: r["dist"]
           for r in cheapest_hops(edges, seeds, rounds=3).collect()}

    P, M1, C1, M2 = 4294967291, 1597334677, 40503, 279470273

    def mix(x):
        return ((x % P) * M1 + C1) % P * M2 % P

    adj = []
    for i in range(n):
        for j in range(1 << (1 + i % 3)):
            adj.append((i, mix(i * 16 + j) % n,
                        1 + mix(mix(i * 16 + j) + 5) % 9))
    dist = {i: 0 for i in range(n) if i % SSSP_SEED_MOD == 0}
    for _ in range(3):
        nxt = dict(dist)
        for s, d, w in adj:
            if s in dist and (d not in nxt or dist[s] + w < nxt[d]):
                nxt[d] = dist[s] + w
        dist = nxt
    assert got == dist
    assert got[0] == 0 and all(v <= 27 for v in got.values())


def test_fk_pieces_hand_docs(spark):
    """Flesch-Kincaid pieces hand-computed: vowel-group syllables with
    the max(1, .) floor, newline sentences, the exact BIGINT polynomial
    39W^2 + 1180YS - 1559SW, and the blank-doc guard."""
    from spatial.datapipe.textstats import fk_pieces

    docs = [(0, "hello world.\nspark rocks."), (1, "xyz"),
            (2, "bcd fgh"), (3, "  \n ")]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_words"], r["n_sentences"], r["n_syllables"],
                         r["fk_num"])
           for r in fk_pieces(sdf).collect()}
    # doc 0: W=4 S=2 Y=2+1+1+1=5 -> 39*16 + 1180*10 - 1559*8 = -48
    # doc 1: y is a vowel: W=1 S=1 Y=1 -> 39 + 1180 - 1559 = -340
    # doc 2: consonant-only words floor at 1 syllable: W=2 S=1 Y=2 -> -602
    assert got == {0: (4, 2, 5, -48), 1: (1, 1, 1, -340),
                   2: (2, 1, 2, -602), 3: (0, 0, 0, 0)}


def test_robots_match_hand_rules(spark):
    """RFC 9309 precedence hand cases: longest prefix wins; allow beats
    disallow on equal length; rule_id breaks exact ties; no match =
    allowed with rule_id -1."""
    from spatial.datapipe.urls import robots_match

    rules = spark.createDataFrame(
        [("h1", "/", 0, 1), ("h1", "/a", 1, 2), ("h1", "/a/b", 0, 3),
         ("h1", "/c", 0, 4), ("h1", "/c", 1, 5),
         ("h1", "/d", 0, 6), ("h1", "/d", 0, 7)],
        "host string, prefix string, allow long, rule_id long")
    pages = spark.createDataFrame(
        [(1, "h1", "/a/x"), (2, "h1", "/a/b/z"), (3, "h1", "/c/d"),
         (4, "h1", "/x"), (5, "h2", "/a"), (6, "h1", "/d/e")],
        "doc_id long, host string, path string")
    got = {r["doc_id"]: (r["allowed"], r["rule_id"])
           for r in robots_match(pages, rules).collect()}
    assert got == {1: (1, 2), 2: (0, 3), 3: (1, 5), 4: (0, 1),
                   5: (1, -1), 6: (0, 6)}


def test_link_prediction_pure_python_replay(spark):
    """link_prediction vs a pure-Python set replay of the same synth
    graph: undirected neighbor sets, non-edge filter, cn/union/pref
    exact integers."""
    from spatial.datapipe.graph import (LINKPRED_MIN_CN, link_prediction,
                                        synth_edges)

    n = 80
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    got = {(r["a"], r["b"]): (r["cn"], r["deg_a"], r["deg_b"],
                              r["union_n"], r["pref_attach"])
           for r in link_prediction(synth_edges(docs, n_nodes=n)).collect()}

    P, M1, C1, M2 = 4294967291, 1597334677, 40503, 279470273

    def mix(x):
        return ((x % P) * M1 + C1) % P * M2 % P

    nbrs = {i: set() for i in range(n)}
    for i in range(n):
        for j in range(1 << (1 + i % 3)):
            d = mix(i * 16 + j) % n
            if d != i:
                nbrs[i].add(d)
                nbrs[d].add(i)
    want = {}
    for a in range(n):
        for b in range(a + 1, n):
            if b in nbrs[a]:
                continue
            cn = len(nbrs[a] & nbrs[b])
            if cn >= LINKPRED_MIN_CN:
                da, db = len(nbrs[a]), len(nbrs[b])
                want[(a, b)] = (cn, da, db, da + db - cn, da * db)
    assert got == want
    assert want, "fixture must produce candidate pairs"
    # spot-check the Jaccard pieces invariant: union >= cn always
    assert all(u >= c for c, _, _, u, _ in got.values())


def _bpe_replay(texts, n_merges):
    """Pure-Python BPE replay: same word split, same symbol strings, same
    (weight DESC, pair ASC) argmax, same str.replace merge semantics."""
    import re
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in re.split(r"[^a-z]+", t.lower()):
            if w:
                words[w] += 1
    sym = {w: "".join(f"<{c}>" for c in w) for w in words}
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = Counter()
        for w, c in words.items():
            s = sym[w].replace("><", "> <").split(" ")
            for i in range(len(s) - 1):
                pairs[s[i] + s[i + 1]] += c
        if not pairs:
            break
        pair = min(pairs, key=lambda p: (-pairs[p], p))
        merged = pair.replace("><", "")
        merges.append((rank, pair, merged, pairs[pair]))
        sym = {w: s.replace(pair, merged) for w, s in sym.items()}
    tokens = {w: s.count("<") for w, s in sym.items()}
    return merges, tokens


def test_bpe_train_encode_pure_python_replay(spark, tmp_path):
    """train_merges + encode_docs vs the pure-Python replay, including
    the overlap case ('aaa' with merge (a,a) -> greedy left-to-right)
    and tie-breaking by pair ASC."""
    from spatial.datapipe.bpe import (encode_docs, train_merges, word_freq)

    texts = ["banana bandana banana!", "An aaa AAA cabana;",
             "the theme there", "xy xy xy zz", ""]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    wf = word_freq(docs)
    merges = train_merges(wf, n_merges=5)
    want_merges, want_tokens = _bpe_replay(texts, 5)
    assert merges == want_merges

    enc = {r["doc_id"]: (r["n_words"], r["n_chars"], r["n_tokens"])
           for r in encode_docs(docs, merges).collect()}
    import re
    want_enc = {}
    for i, t in enumerate(texts):
        ws = [w for w in re.split(r"[^a-z]+", t.lower()) if w]
        if ws:
            want_enc[i] = (len(ws), sum(len(w) for w in ws),
                           sum(want_tokens[w] for w in ws))
    assert enc == want_enc
    # compression happened: tokens strictly below chars somewhere
    assert any(nt < nc for _, nc, nt in enc.values())


def test_bpe_overlap_semantics(spark):
    """'<a><a><a>' under merge (a, a) must become '<aa><a>' in every
    engine -- the non-overlapping left-to-right replace contract BPE's
    greedy scan relies on."""
    assert "<a><a><a>".replace("<a><a>", "<aa>") == "<aa><a>"
    row = (spark.sql("SELECT replace('<a><a><a>', '<a><a>', '<aa>') AS s")
           .collect()[0])
    assert row["s"] == "<aa><a>"
    import duckdb
    assert duckdb.sql(
        "SELECT replace('<a><a><a>', '<a><a>', '<aa>') AS s"
    ).fetchone()[0] == "<aa><a>"


def test_frontier_schedule_hand(spark):
    """Politeness waves: per-host priority order, fetch offsets at
    multiples of the host delay, hosts independent."""
    from spatial.datapipe.urls import frontier_schedule

    rows = [(1, "a", 10, 500), (2, "a", 30, 500), (3, "a", 30, 500),
            (4, "b", 5, 200)]
    df = spark.createDataFrame(
        rows, "doc_id long, host string, priority long, delay_ms long")
    got = {r["doc_id"]: (r["wave"], r["fetch_at_ms"])
           for r in frontier_schedule(df).collect()}
    # host a: priority DESC, id ASC -> 2, 3, 1; host b independent
    assert got == {2: (1, 0), 3: (2, 500), 1: (3, 1000), 4: (1, 0)}


def test_pii_scrub_hand(spark):
    """All three PII kinds detected and masked; clean doc certified by
    raw_len == scrubbed_len."""
    from spatial.datapipe.pii import pii_scrub

    rows = [(0, "mail bob.smith+x@sub.example.org now"),
            (1, "server at 10.0.255.7 rebooted"),
            (2, "call +15558675309 or +4412345678"),
            (3, "nothing sensitive here"),
            (4, "a@b.co and 1.2.3.4 and +1234567")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_emails"], r["n_ipv4"], r["n_phones"],
                         r["raw_len"], r["scrubbed_len"])
           for r in pii_scrub(df).collect()}
    assert got[0][:3] == (1, 0, 0)
    assert got[1][:3] == (0, 1, 0)
    assert got[2][:3] == (0, 0, 2)
    assert got[3][:3] == (0, 0, 0) and got[3][3] == got[3][4]
    assert got[4][:3] == (1, 1, 1)
    # masking shrank the text wherever PII was found
    assert got[0][4] < got[0][3] and got[2][4] < got[2][3]


def test_mojibake_signals_hand(spark):
    """Each damage kind counted; tab/newline are NOT control hits."""
    from spatial.datapipe.textstats import mojibake_signals

    rows = [(0, "cafÃ© niÃ±o"), (1, "lost � bytes �"),
            (2, "bell\x07 and esc\x1b"), (3, "clean\ttext\nok"),
            (4, "donâ€™t")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_double_enc"], r["n_replacement"],
                         r["n_ctrl"], r["is_clean"])
           for r in mojibake_signals(df).collect()}
    assert got[0] == (2, 0, 0, 0)
    assert got[1] == (0, 2, 0, 0)
    assert got[2] == (0, 0, 2, 0)
    assert got[3] == (0, 0, 0, 1)
    assert got[4] == (1, 0, 0, 0)   # the â lead of a€™


def test_personalized_pagerank_pure_python_replay(spark):
    """PPR vs an exact-Fraction replay of the same seeded iterations --
    every engine double must equal the true rational exactly (the
    dyadic-exactness claim)."""
    from fractions import Fraction

    from spatial.datapipe.graph import (PPR_SEED_MOD, personalized_pagerank,
                                        synth_edges)

    n = 120
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    edges = synth_edges(nodes, n_nodes=n)
    got = {r["doc_id"]: r["ppr"]
           for r in personalized_pagerank(nodes, edges).collect()}

    P, M1, C1, M2 = 4294967291, 1597334677, 40503, 279470273

    def mix(x):
        return ((x % P) * M1 + C1) % P * M2 % P

    outdeg = {i: 1 << (1 + i % 3) for i in range(n)}
    adj = [(i, mix(i * 16 + j) % n)
           for i in range(n) for j in range(outdeg[i])]
    seed = {i: Fraction(1) if i % PPR_SEED_MOD == 0 else Fraction(0)
            for i in range(n)}
    r = dict(seed)
    for _ in range(3):
        g = {i: Fraction(0) for i in range(n)}
        for s, d in adj:
            g[d] += r[s] / outdeg[s]
        r = {i: seed[i] * Fraction(1, 4) + Fraction(3, 4) * g[i]
             for i in range(n)}
    assert set(got) == set(r)
    for i, v in r.items():
        assert got[i] == float(v) and Fraction(got[i]) == v, i
    assert any(v > 0 for v in r.values()) and any(v == 0 for v in r.values())


def test_octant_classifier_exhaustive_vs_atan2(spark):
    """Every lattice vector in [-6,6]^2 \\ {0}: the shared integer CASE
    expression must equal floor(azimuth/45) with start-inclusive
    boundaries -- verified against transcendental atan2 (test-side only;
    the engines never call it)."""
    import math

    import duckdb

    from spatial.geodesy import octant_sql

    vecs = [(dx, dy) for dx in range(-6, 7) for dy in range(-6, 7)
            if (dx, dy) != (0, 0)]
    df = spark.createDataFrame(vecs, "dx long, dy long")
    got = {(r["dx"], r["dy"]): r["o"]
           for r in df.selectExpr("dx", "dy",
                                  octant_sql("dx", "dy") + " AS o")
           .collect()}
    duck = {(dx, dy): duckdb.sql(
        f"SELECT {octant_sql(str(dx), str(dy))} AS o").fetchone()[0]
        for dx, dy in vecs[:40]}  # spot-check the shared string in RE2 land
    for v, o in duck.items():
        assert got[v] == o, v
    for (dx, dy), o in got.items():
        az = math.degrees(math.atan2(dx, dy)) % 360.0
        assert o == int(az // 45), (dx, dy, az, o)
    # zero vector sentinel
    assert df.sparkSession.sql(
        f"SELECT {octant_sql('0', '0')} AS o").collect()[0]["o"] == -1


def test_url_trap_templates_hand(spark):
    """Calendar paths collapse to one exploding template; static pages
    stay below threshold; n_urls counts duplicates, n_distinct doesn't."""
    from spatial.datapipe.urls import url_trap_templates

    rows = ([("cal.com", f"/d/2021/{m}/{d}") for m in range(3)
             for d in range(4)]
            + [("ok.com", "/about"), ("ok.com", "/about"),
               ("ok.com", "/p/1")])
    df = spark.createDataFrame(rows, "host string, path string")
    got = {(r["host"], r["template"]): (r["n_urls"], r["n_distinct"],
                                        r["is_trap"])
           for r in url_trap_templates(df, threshold=10).collect()}
    assert got[("cal.com", "/d/N/N/N")] == (12, 12, 1)
    assert got[("ok.com", "/about")] == (2, 1, 0)
    assert got[("ok.com", "/p/N")] == (1, 1, 0)


def test_ks_drift_pure_python_replay(spark):
    """ks_drift vs a scipy-free exact replay: identical samples -> D=0;
    a known shift -> the exact max |cntA*m - cntB*n| and smallest
    argmax value."""
    from spatial.datapipe.drift import ks_drift

    A = [3, 5, 5, 8, 12, 12, 12, 20]
    B = [4, 5, 9, 9, 13, 25]

    def replay(xs, ys):
        pts = sorted(set(xs) | set(ys))
        n, m = len(xs), len(ys)
        best = None
        for t in pts:
            ca = sum(1 for x in xs if x <= t)
            cb = sum(1 for y in ys if y <= t)
            dn = abs(ca * m - cb * n)
            if best is None or dn > best[0]:
                best = (dn, t)
        return best + (n, m)

    a = spark.createDataFrame([(v,) for v in A], "v long")
    b = spark.createDataFrame([(v,) for v in B], "v long")
    r = ks_drift(a, b).collect()[0]
    assert (r["d_num"], r["at_value"], r["n_a"], r["n_b"]) == replay(A, B)
    # identical samples: zero drift, argmax at the smallest value
    r0 = ks_drift(a, a.select("v")).collect()[0]
    assert r0["d_num"] == 0 and r0["at_value"] == min(A)
