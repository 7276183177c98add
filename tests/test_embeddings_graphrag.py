"""Embedding seam, cosine/LSH top-k, GraphRAG batch operators."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from trustgraph_spark.constants import RDF_LABEL, TRUSTGRAPH_ENTITIES
from trustgraph_spark.operators.embeddings import (
    HashEmbedder,
    cosine_topk,
    embed_entity_contexts,
    lsh_topk,
)
from trustgraph_spark.operators.graphrag import (
    graph_rag_retrieve,
    hop_bfs,
    labels_dimension,
    resolve_labels,
    traversal_edges,
)

TRIPLES_DDL = (
    "collection string, g string, s string, p string, o string, "
    "otype string, dtype string, lang string"
)


def test_hash_embedder_deterministic():
    e = HashEmbedder(dim=32)
    v1 = e.embed(pd.Series(["machine learning rocks"]))
    v2 = e.embed(pd.Series(["machine learning rocks"]))
    assert np.allclose(v1, v2)
    assert abs(np.linalg.norm(v1[0]) - 1.0) < 1e-5


def test_embed_entity_contexts(spark):
    ec = spark.createDataFrame(
        [("default", "http://e/a", "machine learning", "c1")],
        "collection string, entity_uri string, context string, chunk_id string",
    )
    out = embed_entity_contexts(ec).collect()
    assert len(out) == 1
    assert len(out[0].vector) == 64


def test_cosine_topk_exact(spark):
    vecs = spark.createDataFrame(
        [
            ("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0]), ("d", [-1.0, 0.0]),
        ],
        "entity_uri string, vector array<float>",
    )
    q = spark.createDataFrame(
        [("q1", [1.0, 0.0])], "query_id string, query_vector array<float>"
    )
    top = cosine_topk(vecs, q, k=2).collect()
    ranked = sorted(top, key=lambda r: r.rank)
    assert [r.entity_uri for r in ranked] == ["a", "b"]
    assert ranked[0].score == pytest.approx(1.0)


def test_lsh_topk_finds_exact_match(spark):
    rng = np.random.RandomState(0)
    mat = rng.randn(100, 16).astype(float)
    rows = [(f"e{i}", [float(x) for x in mat[i]]) for i in range(100)]
    vecs = spark.createDataFrame(rows, "entity_uri string, vector array<float>")
    q = spark.createDataFrame(
        [("q0", [float(x) for x in mat[7]])], "query_id string, query_vector array<float>"
    )
    top = lsh_topk(vecs, q, k=3, dim=16, n_planes=6).collect()
    best = min(top, key=lambda r: r.rank)
    assert best.entity_uri == "e7"  # identical vector shares every bucket


def _graph(spark):
    e = TRUSTGRAPH_ENTITIES
    rows = [
        ("default", "", e + "a", e + "rel", e + "b", "u", "", ""),
        ("default", "", e + "b", e + "rel", e + "c", "u", "", ""),
        ("default", "", e + "c", e + "rel", e + "d", "u", "", ""),
        ("default", "", e + "a", RDF_LABEL, "Node A", "l", "", ""),
        ("default", "", e + "b", RDF_LABEL, "Node B", "l", "", ""),
        # rdfs-schema predicate must be skipped in traversal
        ("default", "", e + "a", "http://www.w3.org/2000/01/rdf-schema#seeAlso", e + "z", "u", "", ""),
        # named-graph edge must be ignored
        ("default", "urn:graph:source", e + "a", e + "rel", e + "x", "u", "", ""),
    ]
    return spark.createDataFrame(rows, TRIPLES_DDL)


def test_traversal_edges_filters(spark):
    t = traversal_edges(_graph(spark))
    ps = {r.p for r in t.collect()}
    assert all("rdf-schema" not in p for p in ps)
    assert t.where(F.col("o") == TRUSTGRAPH_ENTITIES + "x").count() == 0


def test_hop_bfs_two_hops(spark):
    e = TRUSTGRAPH_ENTITIES
    seeds = spark.createDataFrame([(e + "a",)], "entity string")
    out = hop_bfs(_graph(spark), seeds, max_hops=2)
    edges = {(r.s, r.o, r.hop) for r in out.collect()}
    assert (e + "a", e + "b", 1) in edges
    assert (e + "b", e + "c", 2) in edges
    # 3rd hop edge absent
    assert not any(o == e + "d" for (_, o, _) in edges)


def test_hop_bfs_label_edges_count_as_hop1(spark):
    e = TRUSTGRAPH_ENTITIES
    seeds = spark.createDataFrame([(e + "a",)], "entity string")
    out = hop_bfs(_graph(spark), seeds, max_hops=1)
    # label triple of a (rdf_label not in skip list? RDF_LABEL IS rdfs: -> skipped)
    ps = {r.p for r in out.collect()}
    assert RDF_LABEL not in ps


def test_resolve_labels(spark):
    g = _graph(spark)
    lab = labels_dimension(g)
    sel = traversal_edges(g).withColumn("hop", F.lit(1))
    out = resolve_labels(sel, lab)
    row = out.where(F.col("s") == TRUSTGRAPH_ENTITIES + "a").collect()[0]
    assert row.s_label == "Node A"
    assert row.o_label == "Node B"


def test_graph_rag_retrieve_end_to_end(spark):
    e = TRUSTGRAPH_ENTITIES
    g = _graph(spark)
    emb = spark.createDataFrame(
        [
            ("default", e + "a", [1.0, 0.0], "c1"),
            ("default", e + "c", [0.0, 1.0], "c1"),
        ],
        "collection string, entity_uri string, vector array<float>, chunk_id string",
    )
    q = spark.createDataFrame(
        [("q1", [1.0, 0.05])], "query_id string, query_vector array<float>"
    )
    out = graph_rag_retrieve(g, emb, q, entity_limit=1, max_hops=1, edge_limit=10)
    rows = out.collect()
    assert rows, "retrieval returned no edges"
    assert all(r.query_id == "q1" for r in rows)
    assert any(r.s == e + "a" and r.o == e + "b" for r in rows)


def test_retrieval_provenance(spark):
    import json

    from trustgraph_spark.constants import GRAPH_RETRIEVAL
    from trustgraph_spark.operators.graphrag import retrieval_provenance_triples

    e = TRUSTGRAPH_ENTITIES
    sel = spark.createDataFrame(
        [("q1", e + "a", e + "rel", e + "b", "u"), ("q1", e + "b", e + "rel", "lit", "l")],
        "query_id string, s string, p string, o string, otype string",
    )
    prov = retrieval_provenance_triples(sel).collect()
    assert all(r.g == GRAPH_RETRIEVAL for r in prov)
    star = [r for r in prov if r.otype == "t"]
    assert len(star) == 2
    doc = json.loads(star[0].o)
    assert set(doc.keys()) == {"s", "p", "o"}
    # one typed retrieval entity per query
    typed = [r for r in prov if r.otype == "u"]
    assert len(typed) == 1


def test_ivf_topk_recall(spark):
    from trustgraph_spark.operators.embeddings import (
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )

    rng = np.random.RandomState(1)
    mat = rng.randn(200, 16).astype(float)
    rows = [(f"e{i}", [float(x) for x in mat[i]]) for i in range(200)]
    vecs = spark.createDataFrame(rows, "entity_uri string, vector array<float>")
    cents = ivf_centroids(vecs, n_lists=8)
    assert len(cents) == 8
    assigned = ivf_assign(vecs, cents).cache()
    # every vector lands in exactly one list
    assert assigned.count() == 200
    assert assigned.where(F.col("list_id").isNull()).count() == 0

    q = spark.createDataFrame(
        [("q0", [float(x) for x in mat[13]])],
        "query_id string, query_vector array<float>",
    )
    # exact match must be found when probing enough lists
    top = ivf_topk(assigned, cents, q, k=3, nprobe=8).collect()
    best = min(top, key=lambda r: r.rank)
    assert best.entity_uri == "e13"
    assert best.score == pytest.approx(1.0)

    # recall vs exact top-5 with nprobe=4 should be decent
    exact = {r.entity_uri for r in cosine_topk(vecs, q, k=5).collect()}
    approx = {r.entity_uri for r in ivf_topk(assigned, cents, q, k=5, nprobe=4).collect()}
    assert len(exact & approx) >= 2


def test_hop_bfs_group_attribution(spark):
    e = TRUSTGRAPH_ENTITIES
    seeds = spark.createDataFrame(
        [("q1", e + "a"), ("q2", e + "d")], "query_id string, entity string"
    )
    out = hop_bfs(_graph(spark), seeds, max_hops=1, group_col="query_id")
    got = {(r.query_id, r.s, r.o) for r in out.collect()}
    # q1's hop-1: a->b forward; q2's hop-1: c->d reverse (d is the object)
    assert ("q1", e + "a", e + "b") in got
    assert ("q2", e + "c", e + "d") in got
    assert ("q1", e + "c", e + "d") not in got


def test_graph_rag_retrieve_two_hops(spark):
    # hop-2 edges (subject is a hop-1 node) must be attributed to the query
    e = TRUSTGRAPH_ENTITIES
    g = _graph(spark)
    emb = spark.createDataFrame(
        [("default", e + "a", [1.0, 0.0], "c1")],
        "collection string, entity_uri string, vector array<float>, chunk_id string",
    )
    q = spark.createDataFrame(
        [("q1", [1.0, 0.05])], "query_id string, query_vector array<float>"
    )
    out = graph_rag_retrieve(g, emb, q, entity_limit=1, max_hops=2, edge_limit=10)
    got = {(r.query_id, r.s, r.o, r.hop) for r in out.collect()}
    assert ("q1", e + "a", e + "b", 1) in got
    assert ("q1", e + "b", e + "c", 2) in got


def test_ivf_kmeans_refines_and_handles_empty_lists(spark):
    from trustgraph_spark.operators.embeddings import ivf_assign, ivf_kmeans

    rng = np.random.RandomState(7)
    # three tight clusters
    centers = rng.randn(3, 8) * 5
    mat = np.vstack([centers[i % 3] + rng.randn(8) * 0.05 for i in range(90)])
    vecs = spark.createDataFrame(
        [(f"e{i}", [float(x) for x in mat[i]]) for i in range(90)],
        "entity_uri string, vector array<float>",
    )
    cents = ivf_kmeans(vecs, n_lists=3, iters=4)
    assert len(cents) == 3 and all(len(c) == 8 for c in cents)
    assigned = ivf_assign(vecs, cents)
    # k-means on 3 tight clusters: each list holds exactly one cluster
    sizes = sorted(
        r["count"] for r in assigned.groupBy("list_id").count().collect()
    )
    assert sizes == [30, 30, 30]


def test_ivf_kmeans_fewer_rows_than_lists_degrades(spark):
    """Requesting more lists than training rows must degrade to the rows
    we have, not IndexError on the refine loop."""
    from trustgraph_spark.operators.embeddings import ivf_kmeans

    vecs = spark.createDataFrame(
        [(f"e{i}", [float(i), 1.0, 0.0, 0.0]) for i in range(5)],
        "entity_uri string, vector array<float>",
    )
    cents = ivf_kmeans(vecs, n_lists=16, iters=2)
    assert 1 <= len(cents) <= 5


def test_ivf_assign_tolerates_null_vectors(spark):
    """A null embedding becomes a zero vector (deterministic list), not a
    task-level np.stack crash."""
    from trustgraph_spark.operators.embeddings import ivf_assign

    vecs = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", None), ("c", [0.0, 1.0])],
        "entity_uri string, vector array<double>",
    )
    out = ivf_assign(vecs, [[1.0, 0.0], [0.0, 1.0]], vec_col="vector").collect()
    got = {r.entity_uri: r.list_id for r in out}
    assert got["a"] == 0 and got["c"] == 1 and got["b"] in (0, 1)


def test_ivf_partitioned_probe_prunes_partitions(spark, tmp_path):
    """The 100 TB shape: the assigned table written partitionBy(list_id);
    a probe join on list_id against a broadcast probe set scans only the
    probed partitions (dynamic partition pruning / partition filters)."""
    from trustgraph_spark.operators.embeddings import (
        ivf_assign,
        ivf_centroids,
        ivf_topk,
        ivf_write,
    )

    rng = np.random.RandomState(3)
    mat = rng.randn(200, 16)
    vecs = spark.createDataFrame(
        [(f"e{i}", [float(x) for x in mat[i]]) for i in range(200)],
        "entity_uri string, vector array<float>",
    )
    cents = ivf_centroids(vecs, n_lists=8)
    path = str(tmp_path / "ivf")
    ivf_write(ivf_assign(vecs, cents), path)
    assigned = spark.read.parquet(path)

    q = spark.createDataFrame(
        [("q0", [float(x) for x in mat[5]])],
        "query_id string, query_vector array<float>",
    )
    out = ivf_topk(assigned, cents, q, k=3, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [isnotnull(list_id" in plan
    # and the probe still finds the exact match
    best = min(out.collect(), key=lambda r: r.rank)
    assert best.entity_uri == "e5"


@pytest.mark.skipif(
    not __import__("os").path.exists("/root/testdata/sf0.1/embeddings.parquet"),
    reason="sf0.1 testdata not present",
)
def test_ivf_recall_sf01(spark):
    """Recall@10 >= 0.9 vs exact on the sf0.1 embeddings table with a
    k-means-trained quantizer. The synthetic embeddings are isotropic
    random (measured mean-norm ratio 0.04) — IVF's worst case, where
    neighbors are NOT concentrated in the query's nearest lists — so the
    0.9-recall point sits at a high probe fraction (nprobe=40/64; measured
    curve: 8->0.55, 16->0.73, 32->0.885, 40->0.94). On clustered real
    embeddings the same recall needs a small fraction — see
    test_ivf_kmeans_refines_and_handles_empty_lists where 1/3 of lists
    gives exact recall. What this test gates is the mechanism: trained
    quantizer + probe + in-list exact rerank against ground truth."""
    from trustgraph_spark.operators.embeddings import (
        cosine_topk,
        ivf_assign,
        ivf_kmeans,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").select(
        F.col("vec_id").cast("string").alias("entity_uri"),
        F.col("embedding").alias("vector"),
    ).cache()
    queries = emb.limit(20).select(
        F.col("entity_uri").alias("query_id"), F.col("vector").alias("query_vector")
    )
    cents = ivf_kmeans(emb, n_lists=64, iters=4)
    assigned = ivf_assign(emb, cents).cache()

    exact = cosine_topk(emb, queries, k=10).select("query_id", "entity_uri")
    approx = ivf_topk(assigned, cents, queries, k=10, nprobe=40).select(
        "query_id", "entity_uri"
    )
    n_exact = exact.count()
    n_hit = exact.join(approx, ["query_id", "entity_uri"], "left_semi").count()
    recall = n_hit / n_exact
    assert recall >= 0.9, f"recall {recall:.3f} < 0.9"


def test_hop_bfs_celebrity_node_guard(spark):
    """Hot-node pre-cap: a source with degree >> per_hop_limit still
    returns exactly the global (p, o) top-k (salted partial top-k is
    lossless), and the plan carries the salted pre-cap window ahead of
    the exact one."""
    import trustgraph_spark.operators.graphrag as gr

    celeb = "http://e/celeb"
    rows = [("", celeb, f"http://e/p{i % 7}", f"http://e/t{i:05d}", "u")
            for i in range(3000)]
    edges = spark.createDataFrame(rows, "g string, s string, p string, o string, otype string")
    seeds = spark.createDataFrame([(celeb,)], "entity string")

    out = gr.hop_bfs(edges, seeds, max_hops=1, per_hop_limit=30)
    got = sorted((r.p, r.o) for r in out.collect())
    exp = sorted((f"http://e/p{i % 7}", f"http://e/t{i:05d}")
                 for i in range(3000))
    exp = sorted(exp)[:30]
    assert got == exp
    # the pre-cap salt fan-out bounds any single sort partition to
    # ~degree/_PRECAP_SALTS rows (the salted exchange is asserted on the
    # plan in test_graphrag_parity)
    assert gr._PRECAP_SALTS >= 64
