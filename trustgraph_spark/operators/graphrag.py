"""GraphRAG query-time dataflow as batch DataFrame programs (G2-G5,
SURVEY.md §2.7).

Reference: retrieval/graph_rag/graph_rag.py. The per-query async loop
(embed concepts -> vector match -> hop-and-filter BFS with label resolution
and rerank -> provenance trace) becomes a set of joins over the
materialized tables; the LRU label cache (:94-133) becomes a broadcast of
the labels dimension; the per-entity triple RPCs become one join per hop.

Reference defaults (graph_rag.py:139-151): entity_limit 50, triple_limit 30,
edge_limit 25, max_path_length 2, reranker cap 350.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..constants import RDF_LABEL, RDF_TYPE

# schema predicates skipped during traversal except rdf:type
# (graph_rag.py:45-52)
_SKIP_PREFIXES = (
    "http://www.w3.org/2000/01/rdf-schema#",
    "http://www.w3.org/2002/07/owl#",
)

#: salt fan-out for the hop_bfs hot-node pre-cap: a source with degree D
#: sorts in partitions of ~D/256 rows instead of one D-row partition
_PRECAP_SALTS = 256


def labels_dimension(edges: DataFrame) -> DataFrame:
    """(entity, label) dimension from rdfs:label edges — the broadcast
    replacement for the reference's LRU+TTL label cache (G4)."""
    return (
        edges.where(F.col("p") == RDF_LABEL)
        .groupBy(F.col("s").alias("entity"))
        .agg(F.min("o").alias("label"))
    )


def traversal_edges(edges: DataFrame) -> DataFrame:
    """Default-graph edges eligible for BFS traversal: schema predicates
    (rdfs:/owl:) are skipped except rdf:type (graph_rag.py:45-52)."""
    keep = (~F.col("p").startswith(_SKIP_PREFIXES[0])) & (
        ~F.col("p").startswith(_SKIP_PREFIXES[1])
    ) | (F.col("p") == RDF_TYPE)
    return edges.where((F.col("g") == "") & keep)


def _local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Driver-held rows as a LocalRelation (pandas through Arrow): scanning
    or broadcasting it starts no Python worker, unlike the RDD that
    ``createDataFrame(list)`` builds, which runs one in every task."""
    return spark.createDataFrame(pd.DataFrame.from_records(rows, columns=schema.names), schema)


def _hop_edges(
    trav: DataFrame,
    frontier: DataFrame,
    seen: DataFrame | None,
    grp: str,
    per_hop_limit: int,
    hop: int,
) -> DataFrame:
    """One BFS hop: the traversal edges incident to ``frontier`` (one scan;
    each edge is exploded per endpoint and probed against the broadcast
    frontier), minus the ``seen`` edges of earlier hops, deduped and
    capped at ``per_hop_limit`` per (group, source) in (p, o) order."""
    incident = (
        trav.select("*", F.explode(F.array("s", "o")).alias("node"))
        .join(F.broadcast(frontier), "node")
        .drop("node")
    )
    if seen is not None:
        incident = incident.join(F.broadcast(seen), [grp, "s", "p", "o"], "left_anti")
    # Hot-node guard: the exact window alone would sort EVERY
    # frontier-incident edge of a celebrity source in ONE partition — a
    # skew stall at web-scale degrees. A salted partial top-k first bounds
    # any single sort partition to ~degree/_PRECAP_SALTS rows; the exact
    # cap then sees at most _PRECAP_SALTS * per_hop_limit rows per source.
    # The global (p, o) top-k is contained in the union of per-salt
    # top-ks, so results are identical (asserted in test_embeddings_graphrag).
    # The salt is a function of (p, o), so deduping on every column after
    # the salted repartition is the plain edge dedup, and it shares that
    # one exchange with the pre-cap window.
    w_pre = Window.partitionBy(grp, "s", "_salt").orderBy("p", "o")
    w = Window.partitionBy(grp, "s").orderBy("p", "o")
    return (
        incident.withColumn("_salt", F.pmod(F.xxhash64("p", "o"), F.lit(_PRECAP_SALTS)))
        .repartition(grp, "s", "_salt")
        .distinct()
        .withColumn("rn", F.row_number().over(w_pre))
        .where(F.col("rn") <= per_hop_limit)
        .drop("rn", "_salt")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= per_hop_limit)
        .select("s", "p", "o", "otype", grp, F.lit(hop).alias("hop"))
    )


def hop_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 2,
    per_hop_limit: int = 30,
    seed_col: str = "entity",
    group_col: str | None = None,
) -> DataFrame:
    """Hop-and-filter BFS (G3): per hop, the traversal edges incident to
    the frontier on either endpoint, minus the edges selected at earlier
    hops, deduped and capped per source entity (the reference's
    per-entity triple_limit); the endpoints of the selected edges (objects
    only when they are URIs) minus the visited nodes form the next
    frontier.

    When ``group_col`` is given (e.g. query_id), the BFS runs per group:
    every frontier node carries the group of the seed that discovered it,
    so hop-N edges are attributed to the query whose traversal reached
    them (the reference accumulates triples per query, graph_rag.py
    hop_and_filter) — not just edges incident to the seed itself.

    The frontier is small (seed top-k times the per-hop cap), so the
    seeds, the frontier, the visited nodes and the selected edges of every
    hop but the last live on the driver. A hop is one scan of the edge
    table: each edge explodes per endpoint and probes the frontier,
    broadcast as a local relation (never an edge-table shuffle); the
    earlier hops' edges are removed by a broadcast anti join; one
    exchange on (group, source, salt) feeds both the dedup and the salted
    pre-cap window. Each hop but the last is collected to compute the next
    frontier; the last hop stays lazy and is unioned with the collected
    hops. Returns distinct selected edges with the hop number (and the
    group column when requested)."""
    spark = edges.sparkSession
    trav = traversal_edges(edges).select("s", "p", "o", "otype")

    grp = group_col or "_grp"
    if group_col is None:
        seeds = seeds.withColumn(grp, F.lit(""))
    start = seeds.select(F.col(grp), F.col(seed_col).alias("node"))
    node_schema = start.schema
    frontier = {tuple(r) for r in start.collect() if r.node is not None}
    visited = set(frontier)
    collected: list = []
    last = None
    out_schema = None
    for hop in range(1, max_hops + 1):
        if not frontier:
            break
        seen = None
        if collected:
            seen = _local_frame(spark, collected, out_schema).select(grp, "s", "p", "o")
        hop_edges = _hop_edges(
            trav, _local_frame(spark, list(frontier), node_schema), seen,
            grp, per_hop_limit, hop,
        )
        out_schema = hop_edges.schema
        if hop == max_hops:
            last = hop_edges
            break
        rows = hop_edges.collect()
        collected.extend(rows)
        # next frontier: both endpoints (objects only when URIs), minus visited
        frontier = set()
        for r in rows:
            frontier.add((r[grp], r.s))
            if r.o is not None and r.o.startswith("http"):
                frontier.add((r[grp], r.o))
        frontier -= visited
        visited |= frontier
    if out_schema is None:
        out_schema = _hop_edges(
            trav, _local_frame(spark, [], node_schema), None, grp, per_hop_limit, 0
        ).schema
    out = last
    if collected or last is None:
        done = _local_frame(spark, collected, out_schema)
        out = done if last is None else done.unionByName(last)
    return out.drop(grp) if group_col is None else out


def resolve_labels(selected: DataFrame, labels: DataFrame) -> DataFrame:
    """Attach s/p/o labels (G4). The labels dimension is corpus-sized (one
    row per labeled entity) — never broadcast it. Instead semi-join-reduce
    it by the key set of `selected` (a broadcast semi join: the tiny side
    is the keys) and broadcast the reduced dimension, bounded by |selected|
    keys, in place of the reference's LRU label cache. The s, p and o
    lookups join that one unchanged broadcast under three aliases, so
    Spark reuses a single exchange: the labels are scanned once. Unlabeled
    entities get a null label."""
    keys = selected.select(F.explode(F.array("s", "p", "o")).alias("entity"))
    lab = F.broadcast(labels.join(F.broadcast(keys), "entity", "left_semi"))
    out = selected
    for c in ("s", "p", "o"):
        side = lab.alias(f"_{c}")
        out = out.join(side, out[c] == F.col(f"_{c}.entity"), "left").select(
            *out.columns, F.col(f"_{c}.label").alias(f"{c}_label")
        )
    return out


def retrieval_provenance_triples(
    selected: DataFrame,
    query_id_col: str = "query_id",
    collection: str = "default",
) -> DataFrame:
    """G7 explainability emission: per query, a retrieval PROV entity in
    urn:graph:retrieval with one tg:selectedEdge RDF-star row per selected
    edge (reference graph_rag.py:667-868, provenance/triples.py:372-833).
    Deterministic retrieval URIs keyed on the query id."""
    from ..constants import GRAPH_RETRIEVAL, OTYPE_TRIPLE, OTYPE_URI, PROV_ENTITY, RDF_TYPE, TG
    from .provenance import quoted_triple_json

    base = selected.withColumn(
        "_ret_uri",
        F.concat(F.lit("urn:trustgraph:retrieval:"), F.sha2(F.col(query_id_col), 256)),
    )
    sel_rows = base.select(
        F.lit(collection).alias("collection"),
        F.lit(GRAPH_RETRIEVAL).alias("g"),
        F.col("_ret_uri").alias("s"),
        F.lit(TG + "selectedEdge").alias("p"),
        quoted_triple_json(F.col("s"), F.col("p"), F.col("o"), F.col("otype")).alias("o"),
        F.lit(OTYPE_TRIPLE).alias("otype"),
        F.lit("").alias("dtype"),
        F.lit("").alias("lang"),
    )
    typed = base.select("_ret_uri").distinct().select(
        F.lit(collection).alias("collection"),
        F.lit(GRAPH_RETRIEVAL).alias("g"),
        F.col("_ret_uri").alias("s"),
        F.lit(RDF_TYPE).alias("p"),
        F.lit(PROV_ENTITY).alias("o"),
        F.lit(OTYPE_URI).alias("otype"),
        F.lit("").alias("dtype"),
        F.lit("").alias("lang"),
    )
    return sel_rows.unionByName(typed)


def graph_rag_retrieve(
    edges: DataFrame,
    entity_embeddings: DataFrame,
    query_vectors: DataFrame,
    entity_limit: int = 50,
    max_hops: int = 2,
    per_hop_limit: int = 30,
    edge_limit: int = 25,
) -> DataFrame:
    """Full G2->G4 retrieval: seed entities by vector match, BFS expand,
    cap at edge_limit per query in (hop, s, p, o) order, then label-resolve
    the kept edges only (the cross-encoder rerank seam (V4) reduces to
    that deterministic order here; a real reranker plugs in as a pandas
    UDF on the labeled edges).

    The seeds, each hop but the last (see ``hop_bfs``) and the capped
    edges are collected to the driver as they are computed; the returned
    frame resolves the labels of the capped edges with one scan of the
    label edges."""
    from .embeddings import cosine_topk

    seeds = cosine_topk(
        entity_embeddings, query_vectors, k=entity_limit
    ).select(F.col("query_id"), F.col("entity_uri").alias("entity"), "score")

    # group-aware BFS: each hop edge carries the query whose frontier
    # discovered it, so hop-2 edges (subjects are hop-1 nodes) and reverse
    # edges (seed as object) are attributed correctly — not just s==seed
    selected = hop_bfs(
        edges, seeds, max_hops=max_hops, per_hop_limit=per_hop_limit,
        group_col="query_id",
    )
    # cap before labels: the (hop, s, p, o) order ignores labels and each
    # entity has one label, so only the kept edges need resolving
    w = Window.partitionBy("query_id").orderBy(F.asc("hop"), F.asc("s"), F.asc("p"), F.asc("o"))
    capped = (
        selected.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= edge_limit)
        .drop("rn")
    )
    capped = _local_frame(edges.sparkSession, capped.collect(), capped.schema)
    return resolve_labels(capped, labels_dimension(edges))
