"""hop_bfs and graph_rag_retrieve against an independent pure-Python BFS on
a seeded random graph, plus the Spark-job budget of one retrieval."""

import math
import random
from collections import defaultdict

import pytest

from trustgraph_spark.constants import RDF_LABEL, RDF_TYPE
from trustgraph_spark.operators.graphrag import graph_rag_retrieve, hop_bfs

TRIPLES_DDL = (
    "collection string, g string, s string, p string, o string, "
    "otype string, dtype string, lang string"
)
E = "http://e/"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
HUB = E + "hub"
LIMIT = 4  # per_hop_limit: the hub and several random nodes exceed it
NODES = [f"{E}n{i}" for i in range(30)]
SEEDS = [("q1", E + "n0"), ("q1", HUB), ("q2", E + "n5"), ("q2", E + "n0")]


def _rows() -> list[tuple]:
    rng = random.Random(7)
    rows = []

    def add(s, p, o, otype="u", g="", collection="c1"):
        rows.append((collection, g, s, p, o, otype, "", ""))

    for _ in range(90):
        add(rng.choice(NODES), f"{E}p{rng.randrange(3)}", rng.choice(NODES))
    for i in range(0, 30, 2):
        # literals shared by several subjects: reached, never expanded
        add(NODES[i], E + "name", f"lit {i % 4}", "l")
        add(NODES[i], RDF_TYPE, f"{E}Class{i % 3}")
    for i in range(12):
        add(HUB, f"{E}p{i % 3}", NODES[i])
        add(NODES[i + 10], E + "likes", HUB)
    add(NODES[3], E + "p0", NODES[3])  # self-loop
    # the same edges stored again by a second collection
    rows += [("c2", *r[1:]) for r in rows[:20]]
    # schema predicates are not traversed, named-graph edges neither
    add(NODES[0], RDFS + "seeAlso", NODES[20])
    add(NODES[5], OWL + "sameAs", NODES[21])
    add(NODES[0], E + "p0", NODES[22], g="urn:graph:source")
    # labels: two values for n1 (the minimum wins), none for odd nodes
    add(NODES[1], RDF_LABEL, "Beta", "l")
    add(NODES[1], RDF_LABEL, "Alpha", "l")
    for i in range(0, 30, 2):
        add(NODES[i], RDF_LABEL, f"Node {i}", "l")
    add(HUB, RDF_LABEL, "Hub", "l")
    add(E + "p0", RDF_LABEL, "p zero", "l")
    return rows


def _bfs_oracle(rows, seeds, max_hops, per_hop_limit):
    """(group, s, p, o, otype, hop) rows, and how many candidate edges were
    dropped because an earlier hop had selected them."""
    trav = {
        (s, p, o, ot)
        for _, g, s, p, o, ot, _, _ in rows
        if g == "" and (p == RDF_TYPE or not p.startswith((RDFS, OWL)))
    }
    incident = defaultdict(set)
    for e in trav:
        incident[e[0]].add(e)
        incident[e[2]].add(e)
    frontier = set(seeds)
    visited = set(frontier)
    seen: set = set()
    out, excluded = [], 0
    for hop in range(1, max_hops + 1):
        cand = {(grp, *e) for grp, node in frontier for e in incident[node]}
        fresh = {c for c in cand if c[:4] not in seen}
        excluded += len(cand) - len(fresh)
        by_source = defaultdict(list)
        for c in fresh:
            by_source[c[:2]].append(c)
        picked = [
            c
            for cs in by_source.values()
            for c in sorted(cs, key=lambda c: (c[2], c[3]))[:per_hop_limit]
        ]
        out += [(*c, hop) for c in picked]
        seen |= {c[:4] for c in picked}
        frontier = {(c[0], c[1]) for c in picked}
        frontier |= {(c[0], c[3]) for c in picked if c[3].startswith("http")}
        frontier -= visited
        visited |= frontier
        if not frontier:
            break
    return out, excluded


@pytest.fixture(scope="module")
def edges(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("parity") / "edges")
    spark.createDataFrame(_rows(), TRIPLES_DDL).write.parquet(path)
    return spark.read.parquet(path)


def test_fixture_covers_bfs_cases():
    """The random graph holds every case the parity tests rely on."""
    rows = _rows()
    assert len(rows) > len(set(r[1:] for r in rows))  # duplicate edges
    want, excluded = _bfs_oracle(rows, SEEDS, 2, LIMIT)
    hop1 = [w for w in want if w[5] == 1]
    seeds = {node for _, node in SEEDS}
    assert sum(1 for w in hop1 if w[:2] == ("q1", HUB)) == LIMIT  # hub capped
    assert any(w[3] in seeds and w[1] not in seeds for w in hop1)  # reverse edges
    assert any(w[4] == "l" for w in want)  # literal objects
    assert any(w[1] == w[3] for w in want)  # self-loop
    assert excluded > 0  # hop-1 edges that come up again at hop 2


@pytest.mark.parametrize("max_hops", [1, 2, 3])
def test_hop_bfs_matches_python_bfs(spark, edges, max_hops):
    seeds = spark.createDataFrame(SEEDS, "query_id string, entity string")
    got = hop_bfs(edges, seeds, max_hops=max_hops, per_hop_limit=LIMIT, group_col="query_id")
    got = sorted((r.query_id, r.s, r.p, r.o, r.otype, r.hop) for r in got.collect())
    want, _ = _bfs_oracle(_rows(), SEEDS, max_hops, LIMIT)
    assert got == sorted(want)


def test_hop_bfs_matches_python_bfs_ungrouped(spark, edges):
    seeds = spark.createDataFrame([(E + "n0",), (E + "n5",)], "entity string")
    got = hop_bfs(edges, seeds, max_hops=2, per_hop_limit=LIMIT)
    assert got.columns == ["s", "p", "o", "otype", "hop"]
    want, _ = _bfs_oracle(_rows(), [("", E + "n0"), ("", E + "n5")], 2, LIMIT)
    assert sorted(tuple(r) for r in got.collect()) == sorted(w[1:] for w in want)


def test_hop_bfs_no_seeds(spark, edges):
    seeds = spark.createDataFrame([], "entity string")
    assert hop_bfs(edges, seeds, max_hops=2).collect() == []


def _angle_vectors(spark):
    """Unit vectors at distinct angles: cosine top-k is the nearest angles."""
    ents = [*NODES, HUB]
    angle = {e: i * (math.pi / 2) / len(ents) for i, e in enumerate(ents)}
    emb = spark.createDataFrame(
        [("c1", e, [math.cos(a), math.sin(a)], "chunk") for e, a in angle.items()],
        "collection string, entity_uri string, vector array<float>, chunk_id string",
    )
    queries = {"q1": 0.0, "q2": math.pi / 2}
    q = spark.createDataFrame(
        [(qid, [math.cos(a), math.sin(a)]) for qid, a in queries.items()],
        "query_id string, query_vector array<float>",
    )
    return emb, q, angle, queries


def test_graph_rag_retrieve_cap_and_labels_match_python(spark, edges):
    emb, q, angle, queries = _angle_vectors(spark)
    entity_limit, edge_limit = 3, 7
    out = graph_rag_retrieve(
        edges, emb, q, entity_limit=entity_limit, max_hops=2,
        per_hop_limit=LIMIT, edge_limit=edge_limit,
    )
    got = sorted(
        (r.query_id, r.s, r.p, r.o, r.hop, r.s_label, r.p_label, r.o_label)
        for r in out.collect()
    )

    rows = _rows()
    seeds = [
        (qid, e)
        for qid, qa in queries.items()
        for e in sorted(angle, key=lambda e: (abs(angle[e] - qa), e))[:entity_limit]
    ]
    bfs, _ = _bfs_oracle(rows, seeds, 2, LIMIT)
    labels: dict = {}
    for _, _, s, p, o, _, _, _ in rows:
        if p == RDF_LABEL:
            labels[s] = min(o, labels.get(s, o))
    want = []
    for qid in queries:
        mine = sorted((w[5], w[1], w[2], w[3]) for w in bfs if w[0] == qid)
        assert len(mine) > edge_limit  # the cap cuts
        want += [
            (qid, s, p, o, hop, labels.get(s), labels.get(p), labels.get(o))
            for hop, s, p, o in mine[:edge_limit]
        ]
    assert got == sorted(want)
    values = {x for w in want for x in w[5:]}
    assert "Alpha" in values and None in values  # min label wins; unlabeled -> null


def test_graph_rag_retrieve_job_budget(spark, edges):
    """One retrieval (seeds, a collected first hop, then the lazy second
    hop, the cap and the labels) stays within its Spark-job budget."""
    emb, q, _, _ = _angle_vectors(spark)
    sc = spark.sparkContext
    group = "graph-rag-job-budget"
    sc.setJobGroup(group, "one graph_rag_retrieve call")
    try:
        rows = graph_rag_retrieve(edges, emb, q, entity_limit=3, per_hop_limit=LIMIT).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 18, jobs


def test_hop_bfs_one_exchange_feeds_dedup_and_precap(spark, edges):
    """Per hop, the salted repartition is the only shuffle ahead of the
    pre-cap window: the dedup reuses it, and only the exact per-source
    cap shuffles again."""
    seeds = spark.createDataFrame([(E + "n0",)], "entity string")
    plan = hop_bfs(edges, seeds, max_hops=1)._jdf.queryExecution().executedPlan().toString()
    shuffles = [line for line in plan.splitlines() if "Exchange hashpartitioning" in line]
    assert len(shuffles) == 2, plan
    assert any("_salt" in line and "REPARTITION_BY_COL" in line for line in shuffles), plan
