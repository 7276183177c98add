"""KG build + graph query benchmark.

    python3 perfbench/run.py --workload build_planted --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout. One run:

1. set-up: session start (JVM and Python workers) and seeded corpus
   generation;
2. build: one cold ``Pipeline.run`` with ``PipelineConfig`` defaults into a
   fresh warehouse and the build checks; traced runs add a resume rerun,
   which must skip every stage;
3. reads: entity embeddings and a warm-up round (both counted as set-up),
   then a closed loop with one client sending whole rounds of the read mix
   of ``reads.py`` for ``--seconds`` seconds, in two halves with one
   GraphRAG retrieval between them. Every op is checked against a
   pure-Python oracle over the collected edges.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
around the calls into the program and prints the per-layer metrics. The
last line of stdout is one JSON object; the readable report goes to stderr.
A wrong result counts as a failed op.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Corpus sizes. Every run pays a JVM start, a cold build and a cold
# GraphRAG call; the sizes keep a whole run near a minute on 4 cores.
WORKLOADS = {
    "build_planted": ("planted", {"n_convs": 60, "turns_per_conv": 20, "hot_factor": 100}),
    "build_linked": ("linked", {"n_convs": 400, "turns_per_conv": 20, "n_names": 20000,
                                "variant_share": 0.3}),
}

# warehouse table (one per pipeline stage) -> the layer that produces it
STAGE_LAYER = {
    "chunks": "chunking",
    "extractions": "extract",
    "content_triples": "extract",
    "entity_contexts": "extract",
    "provenance_triples": "provenance",
    "canonical_mapping": "linking",
    "edges": "materialize.edges",
    "quads_by_entity": "materialize.quads",
    "nodes": "materialize.nodes",
}


def ms(seconds: float) -> float:
    return seconds * 1000.0


def scan_rows(df) -> int | None:
    """Rows the file scans of an executed query produced, from Spark's
    numOutputRows scan metrics; None when the plan exposes none."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    total, found = 0, False
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        metrics = leaf.metrics()
        if "Scan" in leaf.nodeName() and metrics.contains("numOutputRows"):
            total += metrics.apply("numOutputRows").value()
            found = True
    return total if found else None


class Run:
    def __init__(self, args, host: dict, work: str):
        self.args = args
        self.host = host
        self.work = work
        self.gen_name, self.gen_params = WORKLOADS[args.workload]
        self.tracer = None
        if args.trace:
            from spans import Tracer

            self.tracer = Tracer()
        self.failures: list[str] = []
        self.attempted = 0
        self.phases: dict[str, float] = {}  # wall seconds per phase
        self.steal: dict[str, float] = {}  # host steal share per phase, for the report

    @contextlib.contextmanager
    def phase(self, name: str):
        from host import cpu_ticks

        t0, (all0, steal0) = time.perf_counter(), cpu_ticks()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0
            all1, steal1 = cpu_ticks()
            self.steal[name] = (steal1 - steal0) / max(1, all1 - all0)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext({})

    def op(self, error: str | None) -> None:
        self.attempted += 1
        if error:
            self.failures.append(error)

    # --- phases ----------------------------------------------------------

    def setup(self) -> None:
        import gen
        from host import spark_conf
        from trustgraph_spark.session import get_spark

        with self.phase("session"), self.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench", cores=self.host["cores"],
                extra_conf=spark_conf(self.work),
            )
            # the first job starts the Python workers that later UDFs reuse
            n = self.host["cores"]
            self.spark.range(4 * n, numPartitions=n).mapInPandas(
                lambda it: it, "id long").count()

        with self.phase("generate"), self.span("generate"):
            make = getattr(gen, f"{self.gen_name}_corpus")
            self.corpus = make(self.args.seed, **self.gen_params)
            self.transcripts = self.corpus.dataframe(self.spark)
        # the oracle, outside set-up: it is the benchmark's work
        with self.phase("oracle"):
            self.golden = self.corpus.golden()
            self.expected_map = gen.expected_mapping(self.golden)
            self.expected_edges = gen.canonicalize(self.golden, self.expected_map)

    def build(self, sampler) -> None:
        from host import dir_bytes, table_bytes
        from trustgraph_spark.pipeline import Pipeline, PipelineConfig

        self.wh = os.path.join(self.work, "warehouse")
        root = self.tracer.root("pipeline.run") if self.tracer else contextlib.nullcontext()
        self.pipe = Pipeline(self.spark, PipelineConfig(warehouse=self.wh))
        with sampler, root, self.phase("build"):
            self.out = self.pipe.run(self.transcripts, run_id="bench")
        self.stored_bytes = dir_bytes(self.wh)
        self.table_bytes = table_bytes(self.wh)

    def check_build(self) -> None:
        from trustgraph_spark.operators.materialize import write_amplification_check
        from trustgraph_spark.pipeline import Warehouse

        wh = Warehouse(self.spark, self.wh)
        golden, errors = self.golden, []
        content = {tuple(r) for r in
                   wh.read("content_triples").select("s", "p", "o", "otype").collect()}
        tp = len(content & golden)
        if tp != len(content) or tp != len(golden):
            errors.append(f"content triples P={tp}/{len(content)} R={tp}/{len(golden)}")
        self.edge_rows = [tuple(r) for r in
                          self.out["edges"].select("g", "s", "p", "o", "otype").collect()]
        graph = {r[1:] for r in self.edge_rows if r[0] == ""}
        tp = len(graph & self.expected_edges)
        if tp != len(graph) or tp != len(self.expected_edges):
            errors.append(f"default-graph quads P={tp}/{len(graph)} "
                          f"R={tp}/{len(self.expected_edges)}")
        mapping = {tuple(r) for r in
                   wh.read("canonical_mapping").select("uri", "canonical_uri").collect()}
        if mapping != set(self.expected_map.items()):
            errors.append(f"canonical mapping: {len(mapping)} rows, "
                          f"want {len(self.expected_map)}")
        amp = write_amplification_check(self.out["edges"], self.out["quads_by_entity"])
        if not amp["ok"]:
            errors.append(f"write amplification {amp}")
        self.op("; ".join(errors) or None)
        self.counts = {"content": len(content), "edges": len(self.edge_rows),
                       "quads": amp["actual"], "mapping": len(mapping)}

    def resume(self) -> None:
        from trustgraph_spark.pipeline import Pipeline, PipelineConfig

        with self.phase("resume"), self.span("pipeline.resume"):
            pipe = Pipeline(self.spark, PipelineConfig(warehouse=self.wh))
            pipe.run(self.transcripts, run_id="bench-resume")
        ran = [k for k, v in pipe.metrics.items() if not v.get("skipped")]
        self.op(f"resume reran stages {ran}" if ran else None)

    def reads(self, sampler) -> None:
        from pyspark import StorageLevel
        from reads import GraphOracle, Reader, ReadMix, check
        from trustgraph_spark.operators.embeddings import HashEmbedder, embed_entity_contexts
        from trustgraph_spark.uris import to_uri_py

        with self.phase("embed"), self.span("embeddings"):
            emb = embed_entity_contexts(self.out["entity_contexts"]).persist(
                StorageLevel.MEMORY_AND_DISK)
            emb.count()
        vectors = [(r.entity_uri, list(r.vector))
                   for r in emb.select("entity_uri", "vector").collect()]
        oracle = GraphOracle(self.edge_rows, vectors)
        hot = (self.expected_map.get(u, u) for u in map(to_uri_py, self.corpus.hot_entities))
        hot = [u for u in dict.fromkeys(hot) if oracle.entity_edges(u)]
        embedder = HashEmbedder()
        reader = Reader(self.spark, self.out["edges"], self.out["quads_by_entity"], emb, embedder)
        mix = ReadMix(oracle, hot, self.args.seed)
        with self.phase("warm-up"):
            for op in ReadMix(oracle, hot, self.args.seed + 1).round():
                reader.frame(op).collect()

        # The loop sends whole rounds, in two windows of --seconds/2 with the
        # retrieval between them, so a host slowdown of a few seconds hits
        # half the rounds, not all of them. Every latency metric is a median
        # over rounds of the round's mean latency of its kind: each round
        # holds the same mix of pattern shapes, so a round's mean does not
        # depend on which shapes a median of single ops lands between.
        # Retrievals are not warmed, nor looped: one call costs more than the
        # loop. This is the first retrieval after the build.
        self.ops, self.rounds = [], []
        with sampler, self.phase("reads"):
            for window in range(2):
                deadline = time.perf_counter() + self.args.seconds / 2
                while time.perf_counter() < deadline:
                    # traced runs trace every other round: the untraced
                    # rounds, the same mix, give the tracing overhead
                    traced = self.tracer is not None and len(self.rounds) % 2 == 0
                    t0 = time.perf_counter()
                    lat: dict[str, list[float]] = {}
                    for op in mix.round():
                        self._send(reader, op, traced)
                        lat.setdefault(op.kind, []).append(op.seconds)
                    self.rounds.append(
                        {"wall": time.perf_counter() - t0, "traced": traced, "lat": lat})
                if window == 0:
                    self.retrieval = mix.retrieval()
                    self._send(reader, self.retrieval, self.tracer is not None)
        with self.phase("verify"):
            for op in self.ops:
                self.op(check(op, oracle, embedder))
        if self.tracer:
            self._graphrag_replay(reader, self.retrieval)

    def _send(self, reader, op, traced: bool) -> None:
        t0 = time.perf_counter()
        try:
            op.rows = self._traced_op(reader, op) if traced else reader.frame(op).collect()
        except Exception as e:  # counted as a failed op, the run goes on
            op.error = f"{op.kind}: {type(e).__name__}: {e}"
        op.seconds = time.perf_counter() - t0
        self.ops.append(op)

    def round_ms(self, kind: str, traced: bool | None = None) -> float | None:
        """Median over loop rounds of the round's mean latency of ``kind``;
        ``traced`` picks traced or untraced rounds only."""
        means = [statistics.fmean(r["lat"][kind]) for r in self.rounds
                 if traced is None or r["traced"] == traced]
        return ms(statistics.median(means)) if means else None

    # --- traced-run only -----------------------------------------------------

    def _traced_op(self, reader, op):
        layer = "triples_query" if op.kind in ("lookup", "pattern") else op.kind
        if op.kind == "sparql":
            from reads import sparql_text
            from trustgraph_spark.sparql import parse_sparql

            with self.span("sparql.parse"):
                parse_sparql(sparql_text(op.arg))
        with self.span(f"{layer}.plan"):
            df = reader.frame(op)
            df._jdf.queryExecution().executedPlan()
        with self.tracer.span(f"{layer}.exec") as counts:
            rows = df.collect()
            counts["rows"] = len(rows)
        if layer == "triples_query":
            scanned = scan_rows(df)
            if scanned is not None:
                counts["scanned"] = scanned
        return rows

    def _graphrag_replay(self, reader, op) -> None:
        """graph_rag_retrieve's steps called one at a time, each on the
        collected output of the step before, to split its time."""
        from reads import ENTITY_LIMIT, MAX_HOPS
        from trustgraph_spark.operators.embeddings import cosine_topk
        from trustgraph_spark.operators.graphrag import hop_bfs, labels_dimension, resolve_labels

        q = reader.query_vectors(op.arg)
        with self.span("graphrag.seed"):
            seeds = cosine_topk(reader.embeddings, q, k=ENTITY_LIMIT).collect()
        seeds = self.spark.createDataFrame(
            [(r.query_id, r.entity_uri) for r in seeds], "query_id string, entity string")
        with self.span("graphrag.bfs"):
            bfs = hop_bfs(reader.edges, seeds, max_hops=MAX_HOPS, group_col="query_id")
            selected = bfs.collect()
        selected = self.spark.createDataFrame(selected, bfs.schema)
        with self.span("graphrag.labels"):
            resolve_labels(selected, labels_dimension(reader.edges)).collect()

    def linking_replay(self) -> dict:
        """The linking flow replayed stage by stage on the content triples,
        with the row count each stage produces."""
        from trustgraph_spark.operators.linking import (
            blocking_keys, candidate_pairs, connected_components, entity_mentions, match_edges)
        from trustgraph_spark.pipeline import PipelineConfig, Warehouse

        threshold = PipelineConfig(warehouse=self.wh).linking_threshold
        content = Warehouse(self.spark, self.wh).read("content_triples")
        rows = {}

        def stage(name, df):
            with self.tracer.span(f"linking.{name}") as counts:
                df = df.localCheckpoint()
                counts["rows"] = rows[name] = df.count()
            return df

        with self.tracer.span("linking.replay"):
            mentions = stage("entity_mentions", entity_mentions(content))
            blocked = stage("blocking_keys", blocking_keys(mentions))
            pairs = stage("candidate_pairs", candidate_pairs(blocked))
            matched = stage("match_edges", match_edges(pairs, threshold=threshold))
            if rows["match_edges"]:
                stage("connected_components", connected_components(matched, "src", "dst"))
        return rows

    def layer_counts(self) -> None:
        from trustgraph_spark.pipeline import Warehouse

        rows = {stage: m["rows"] for stage, m in self.pipe.metrics.items()}
        self.counts["chunks"] = rows["chunks"]
        self.counts["provenance"] = rows["provenance_triples"]
        self.counts["chunks_with_fact"] = (
            Warehouse(self.spark, self.wh).read("content_triples")
            .select("chunk_id").distinct().count())

    # --- results -------------------------------------------------------------

    def setup_s(self) -> float:
        return sum(self.phases[p] for p in ("session", "generate", "embed", "warm-up"))

    def end_to_end(self) -> dict:
        rates = [sum(map(len, r["lat"].values())) / r["wall"] for r in self.rounds]
        return {
            "build_turns_per_s": (self.corpus.turns / self.phases["build"], "1/s"),
            "stored_bytes_per_input_byte": (self.stored_bytes / self.corpus.text_bytes, "ratio"),
            "lookup_ms": (self.round_ms("lookup"), "ms"),
            "pattern_ms": (self.round_ms("pattern"), "ms"),
            "sparql_ms": (self.round_ms("sparql"), "ms"),
            "graphrag_ms": (ms(self.retrieval.seconds), "ms"),
            "query_ops_per_s": (statistics.median(rates), "1/s"),
            "setup_s": (self.setup_s(), "s"),
            "peak_rss_mb": (self.peak_rss / (1 << 20), "MiB"),
        }

    def per_layer(self, link: dict) -> dict:
        t, c = self.tracer, self.counts

        # A stage's busy time is the wall Pipeline.metrics records for it:
        # build, commit, re-read and lineage. The stage's Warehouse.write
        # span alone misses work a builder does eagerly before the commit,
        # such as linking's connected-components fixpoint.
        stage_s = {stage: m["wall_sec"] for stage, m in self.pipe.metrics.items()}

        def busy(layer):
            return sum(stage_s[s] for s, l in STAGE_LAYER.items() if l == layer)

        def med(name, key=None):
            vals = [s["counts"][key] if key else ms(s["end"] - s["start"])
                    for s in t.named(name) if key is None or key in s["counts"]]
            return statistics.median(vals) if vals else 0.0

        out = {"session.start_s": (self.phases["session"], "s")}
        for layer in ("chunking", "extract", "provenance", "linking"):
            out[f"{layer}.busy_s"] = (busy(layer), "s")
        out["extract.yield_ratio"] = (c["chunks_with_fact"] / c["chunks"], "ratio")
        out["extract.triples_per_chunk"] = (c["content"] / c["chunks"], "ratio")
        out["provenance.rows_per_content_triple"] = (c["provenance"] / c["content"], "ratio")
        cand, matched = link["candidate_pairs"], link["match_edges"]
        out["linking.candidate_pairs"] = (cand, "count")
        out["linking.matched_pairs"] = (matched, "count")
        out["linking.match_ratio"] = (matched / cand if cand else 0.0, "ratio")
        out["linking.mapping_rows"] = (c["mapping"], "count")
        for part in ("edges", "quads", "nodes"):
            out[f"materialize.{part}_busy_s"] = (busy(f"materialize.{part}"), "s")
        out["materialize.dedup_ratio"] = (c["edges"] / (c["content"] + c["provenance"]), "ratio")
        out["materialize.role_rows_per_edge"] = (c["quads"] / c["edges"], "ratio")
        out["pipeline.wall_s"] = (t.busy("pipeline.run"), "s")
        out["pipeline.stage_sum_s"] = (sum(stage_s.values()), "s")
        out["pipeline.resume_s"] = (self.phases["resume"], "s")
        for table in STAGE_LAYER:
            out[f"pipeline.bytes_written.{table}"] = (self.table_bytes.get(table, 0), "B")
        out["triples_query.plan_ms"] = (med("triples_query.plan"), "ms")
        out["triples_query.exec_ms"] = (med("triples_query.exec"), "ms")
        out["triples_query.rows_returned"] = (med("triples_query.exec", "rows"), "count")
        scanned = [s["counts"]["scanned"] / max(1, s["counts"]["rows"])
                   for s in t.named("triples_query.exec") if "scanned" in s["counts"]]
        out["triples_query.rows_scanned_per_row"] = (
            statistics.median(scanned) if scanned else 0.0, "ratio")
        out["sparql.parse_ms"] = (med("sparql.parse"), "ms")
        out["sparql.exec_ms"] = (med("sparql.exec"), "ms")
        out["embeddings.busy_s"] = (self.phases["embed"], "s")
        out["graphrag.seed_ms"] = (med("graphrag.seed"), "ms")
        out["graphrag.bfs_ms"] = (med("graphrag.bfs"), "ms")
        out["graphrag.labels_ms"] = (med("graphrag.labels"), "ms")
        out["graphrag.edges_per_query"] = (
            med("graphrag.exec", "rows") / len(self.retrieval.arg), "count")
        # per loop kind, traced over untraced round latency, summed
        lat = {True: 0.0, False: 0.0}
        for kind in ("lookup", "pattern", "sparql"):
            split = {flag: self.round_ms(kind, flag) for flag in lat}
            if None not in split.values():
                for flag, v in split.items():
                    lat[flag] += v
        out["trace.overhead_pct"] = (
            100.0 * (lat[True] / lat[False] - 1.0) if lat[False] else 0.0, "%")
        return out


@contextlib.contextmanager
def traced_writes(tracer):
    """Span every warehouse commit (one per pipeline stage), on the thread
    that makes it, so the overlap of parallel stages is kept."""
    from trustgraph_spark.pipeline import Warehouse

    write = Warehouse.write

    def wrapper(self, df, table, partition_by=None):
        with tracer.span(f"write:{table}"):
            return write(self, df, table, partition_by=partition_by)

    Warehouse.write = wrapper
    try:
        yield
    finally:
        Warehouse.write = write


def stop_session(spark) -> None:
    """Stop the session and wait for the driver JVM, and so its Python
    workers, to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def execute(args, host: dict, work: str) -> dict:
    from host import RssSampler

    run = Run(args, host, work)
    sampler = RssSampler()
    try:
        run.setup()
        if run.tracer:
            with traced_writes(run.tracer):
                run.build(sampler)
        else:
            run.build(sampler)
        with run.phase("check"):
            run.check_build()
        if run.tracer:
            run.resume()
        run.reads(sampler)
        run.peak_rss = sampler.peak
        if run.tracer:
            with run.phase("layer replays"):
                run.layer_counts()
                link = run.linking_replay()
            metrics = run.per_layer(link)
        else:
            metrics = run.end_to_end()
    finally:
        if hasattr(run, "spark"):
            with run.phase("stop"):
                stop_session(run.spark)

    log = sys.stderr
    print(f"workload {args.workload}  seed {args.seed}  host {host}", file=log)
    print(f"corpus: {run.corpus.turns} turns, {run.corpus.text_bytes} text bytes, "
          f"{len(run.golden)} golden triples, {len(run.expected_map)} merged URIs",
          file=log)
    if run.tracer:
        print(run.tracer.report(), file=log)
        spans = os.path.join(ROOT, ".perfbench_work", "spans")
        os.makedirs(spans, exist_ok=True)
        run.tracer.write(os.path.join(spans, f"{args.workload}-seed{args.seed}.json"))
    for name, (value, unit) in metrics.items():
        print(f"  {name:<40} {value:>14.4f} {unit}", file=log)
    print("phases (s, host steal share): " + ", ".join(
        f"{k} {v:.2f} ({run.steal[k]:.0%})" for k, v in run.phases.items()), file=log)
    print(f"read loop: {len(run.rounds)} rounds, walls (s) "
          f"{[round(r['wall'], 2) for r in run.rounds]}", file=log)
    print("op latencies (kind, shape, ms): " + json.dumps(
        [(op.kind, op.variant, round(ms(op.seconds), 1)) for op in run.ops]), file=log)
    print(f"failed ops: {len(run.failures)}/{run.attempted}", file=log)
    for f in run.failures[:10]:
        print(f"  FAILED {f}", file=log)
    return {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "trustgraph_spark")):
        print(f"no trustgraph_spark package under {ROOT}: run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)  # after this directory
    from host import configure

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    host = configure(ROOT, work)
    try:
        result = execute(args, host, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
