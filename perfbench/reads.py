"""The read-path client: a seeded op mix over a built graph, and a
pure-Python oracle over the collected edges that judges every result.

The closed loop sends whole rounds (``ReadMix.round``: eight patterns, four
lookups, two SPARQL queries) of three op kinds, so every run sends the same
mix:

- ``lookup``: ``quads_for_entity`` (LIMIT 50) on a Zipf-chosen entity;
- ``pattern``: ``match_triples`` (LIMIT 100), cycling through all eight
  (s?, p?, o?) shapes, bound from an edge of a Zipf-chosen entity;
- ``sparql``: ``sparql_select`` with a two-pattern join SELECT (the
  labels of a Zipf-chosen subject's URI neighbours).

A ``graphrag`` op is one ``graph_rag_retrieve`` call (program defaults)
answering a batch of questions, each made of two Zipf-chosen entity labels.
"""

from __future__ import annotations

import random
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd

from trustgraph_spark.constants import DEFAULT_GRAPH, OTYPE_URI, RDF_LABEL
from trustgraph_spark.operators.embeddings import HashEmbedder
from trustgraph_spark.operators.graphrag import graph_rag_retrieve
from trustgraph_spark.operators.triples_query import match_triples, quads_for_entity
from trustgraph_spark.sparql import sparql_select

RETRIEVAL_BATCH = 4
SHAPES = [(s, p, o) for s in (0, 1) for p in (0, 1) for o in (0, 1)]
LOOKUP_LIMIT = 50
PATTERN_LIMIT = 100
# graph_rag_retrieve defaults, restated for the oracle
ENTITY_LIMIT, MAX_HOPS, EDGE_LIMIT = 50, 2, 25

EDGE_COLS = ["g", "s", "p", "o", "otype"]


@dataclass
class Op:
    kind: str
    arg: object
    rows: list | None = None
    error: str | None = None
    seconds: float = 0.0  # latency, as the client saw it

    @property
    def variant(self) -> str:
        """The pattern shape, e.g. ``s?o``; empty for the other kinds."""
        if self.kind != "pattern":
            return ""
        return "".join(t if v is not None else "?" for t, v in zip("spo", self.arg))


class GraphOracle:
    """Collected edges indexed by term, plus the collected entity vectors."""

    def __init__(self, edges: list[tuple], vectors: list[tuple[str, list[float]]]):
        self.edges = edges  # (g, s, p, o, otype)
        self.by = {k: {} for k in "gspo"}
        for row in edges:
            for i, k in enumerate("gspo"):
                self.by[k].setdefault(row[i], []).append(row)
        self.labels: dict[str, str] = {}
        for g, s, p, o, otype in edges:
            if p == RDF_LABEL and (s not in self.labels or o < self.labels[s]):
                self.labels[s] = o
        self.vec_ids = [u for u, _ in vectors]
        self.vecs = np.asarray([v for _, v in vectors], dtype=np.float64).reshape(
            len(vectors), -1
        )

    def entity_edges(self, e: str) -> list[tuple]:
        return self.by["s"].get(e, [])

    # --- expected results -------------------------------------------------

    def lookup(self, e: str) -> Counter:
        out: Counter = Counter()
        for role, k in (("S", "s"), ("P", "p"), ("O", "o"), ("G", "g")):
            for row in self.by[k].get(e, []):
                out[(role, *row)] += 1
        return out

    def pattern(self, s, p, o) -> Counter:
        if s is not None:
            cand = self.by["s"].get(s, [])
        elif o is not None:
            cand = self.by["o"].get(o, [])
        elif p is not None:
            cand = self.by["p"].get(p, [])
        else:
            cand = self.edges
        return Counter(
            r for r in cand
            if (s is None or r[1] == s) and (p is None or r[2] == p) and (o is None or r[3] == o)
        )

    def sparql(self, e: str) -> Counter:
        out: Counter = Counter()
        for r in self.by["s"].get(e, []):
            if r[0] != DEFAULT_GRAPH or r[4] != OTYPE_URI:
                continue
            for lab in self.by["s"].get(r[3], []):
                if lab[0] == DEFAULT_GRAPH and lab[2] == RDF_LABEL:
                    out[(r[3], lab[3])] += 1
        return out

    def seeds(self, qvec: np.ndarray) -> set[str]:
        """Entities the vector match may select: the top ENTITY_LIMIT by
        cosine, ties at the cut-off included."""
        if not len(self.vec_ids):
            return set()
        n = np.linalg.norm(self.vecs, axis=1) * np.linalg.norm(qvec)
        score = np.where(n > 0, self.vecs @ qvec / np.where(n > 0, n, 1), 0.0)
        best: dict[str, float] = {}
        for u, sc in zip(self.vec_ids, score):
            best[u] = max(best.get(u, -2.0), float(sc))
        ranked = sorted(best.values(), reverse=True)
        cut = ranked[min(ENTITY_LIMIT, len(ranked)) - 1] - 1e-9
        return {u for u, sc in best.items() if sc >= cut}


@dataclass
class ReadMix:
    """Seeded op generator over the hot entities of a built graph."""

    oracle: GraphOracle
    hot: list[str]
    seed: int

    def __post_init__(self):
        self.rng = random.Random(self.seed)
        self.picks = dict.fromkeys(("lookup", "pattern", "sparql", "graphrag"), 0)

    def _entity(self, kind: str) -> str:
        """Zipf(1) over popularity rank, drawn as a low-discrepancy
        sequence: rank r = floor((n+1)^u) for u stepping by the golden
        ratio, so every run of a kind hits the same spread of ranks and
        the op latencies do not depend on a lucky draw of hot entities."""
        u = (self.picks[kind] * 0.6180339887498949 + 0.5) % 1.0
        self.picks[kind] += 1
        r = int((len(self.hot) + 1) ** u)
        return self.hot[min(r, len(self.hot)) - 1]

    def round(self) -> list[Op]:
        """One round of the closed loop: every pattern shape once, half as
        many lookups, and a quarter as many SPARQL queries, interleaved."""
        ops = []
        for j, shape in enumerate(SHAPES):
            if j % 2:
                ops.append(Op("lookup", self._entity("lookup")))
            row = self.rng.choice(self.oracle.entity_edges(self._entity("pattern")))
            ops.append(Op("pattern", tuple(v if b else None for v, b in zip(row[1:4], shape))))
            if j % 4 == 3:
                ops.append(Op("sparql", self._entity("sparql")))
        return ops

    def retrieval(self) -> Op:
        questions = []
        for q in range(RETRIEVAL_BATCH):
            pair = (self._entity("graphrag"), self._entity("graphrag"))
            questions.append((f"q{q}", " ".join(self.oracle.labels.get(x, x) for x in pair)))
        return Op("graphrag", questions)


def sparql_text(e: str) -> str:
    return f"SELECT ?o ?l WHERE {{ <{e}> ?p ?o . ?o <{RDF_LABEL}> ?l }}"


class Reader:
    """Builds the program's DataFrame for an op. ``frame`` returns the plan;
    the caller collects it, so plan and execution can be timed apart."""

    def __init__(self, spark, edges, quads, embeddings, embedder: HashEmbedder):
        self.spark = spark
        self.edges = edges
        self.quads = quads
        self.embeddings = embeddings
        self.embedder = embedder

    def query_vectors(self, questions: list[tuple[str, str]]):
        vecs = self.embedder.embed(pd.Series([text for _, text in questions]))
        return self.spark.createDataFrame(
            [(qid, [float(x) for x in v]) for (qid, _), v in zip(questions, vecs)],
            "query_id string, query_vector array<float>",
        )

    def frame(self, op: Op):
        if op.kind == "lookup":
            return quads_for_entity(self.quads, op.arg, limit=LOOKUP_LIMIT).select(
                "role", *EDGE_COLS
            )
        if op.kind == "pattern":
            s, p, o = op.arg
            return match_triples(self.edges, s=s, p=p, o=o, limit=PATTERN_LIMIT).select(
                *EDGE_COLS
            )
        if op.kind == "sparql":
            return sparql_select(self.edges, sparql_text(op.arg))
        return graph_rag_retrieve(self.edges, self.embeddings, self.query_vectors(op.arg)).select(
            "query_id", "s", "p", "o", "hop", "s_label", "p_label", "o_label"
        )


def check(op: Op, oracle: GraphOracle, embedder: HashEmbedder) -> str | None:
    """None when the op's rows agree with the oracle, else the reason."""
    if op.error:
        return op.error
    rows = [tuple(r) for r in op.rows]
    if op.kind in ("lookup", "pattern"):
        if op.kind == "lookup":
            want, limit = oracle.lookup(op.arg), LOOKUP_LIMIT
        else:
            want, limit = oracle.pattern(*op.arg), PATTERN_LIMIT
        got = Counter(rows)
        if got - want:
            return f"{op.kind} {op.arg}: rows not in the graph"
        if len(rows) != min(limit, sum(want.values())):
            return f"{op.kind} {op.arg}: {len(rows)} rows, want {min(limit, sum(want.values()))}"
        return None
    if op.kind == "sparql":
        if Counter(rows) != oracle.sparql(op.arg):
            return f"sparql {op.arg}: solutions differ"
        return None
    texts = dict(op.arg)
    by_query: dict[str, list] = {}
    for qid, *row in rows:
        by_query.setdefault(qid, []).append(row)
    if set(by_query) - set(texts):
        return "graphrag: rows for unknown questions"
    for qid, text in op.arg:
        vec = embedder.embed(pd.Series([text]))[0].astype(np.float64)
        seeds = oracle.seeds(vec)
        got = by_query.get(qid, [])
        # every seed has a skos:definition edge to traverse
        if not got or len(got) > EDGE_LIMIT:
            return f"graphrag {qid}: {len(got)} rows, want 1 to {EDGE_LIMIT}"
        for s, p, o, hop, sl, pl, ol in got:
            if not any(r[0] == DEFAULT_GRAPH and r[2] == p and r[3] == o
                       for r in oracle.by["s"].get(s, [])):
                return f"graphrag {qid}: edge not in the graph"
            if not 1 <= hop <= MAX_HOPS or (hop == 1 and s not in seeds and o not in seeds):
                return f"graphrag {qid}: hop {hop} edge not reached from a seed"
            if (sl, pl, ol) != tuple(oracle.labels.get(x) for x in (s, p, o)):
                return f"graphrag {qid}: labels differ"
    return None
