"""The benchmark's three workloads.

Each workload function drives the engine's public functions on seeded
inputs from :mod:`gen`, times one kind of operation for ``seconds`` after
an untimed warm-up, and checks every result against :mod:`check`. It
returns a :class:`Run`. The engine sees only the generated inputs.

Why these three (each stresses a different layer):

- ``graphdb_mixed``: the reference's own surface (add / modify / BFS /
  DFS) from one closed-loop client, as the reference's single client and
  load balancer send it. Every request is small (n <= 100), so its time is
  per-job overhead: planning, scheduling, Python workers, parquet commit.
- ``graph_analytics``: connected components, 10-iteration PageRank and BFS
  over one R-MAT graph: the superstep loops on the large-state side, where
  shuffle bytes and executor time grow with the input.
- ``corpus_ingest``: near-duplicate detection and a keyed-store MERGE of
  one micro-batch against a fixed history, then entity clusters over all
  pairs: writes beside reads, and the small-state min-label loop whose
  superstep count is set by the planted chain length.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import check
import gen
from distributed_graph_database_simulation_spark.operators import (
    graph_analytics,
    graph_traversal,
    linkage,
)
from distributed_graph_database_simulation_spark.sources.graph_store import GraphStore
from distributed_graph_database_simulation_spark.sources.keyed_store import KeyedParquetStore
from distributed_graph_database_simulation_spark.streaming import ingest


class Run:
    """What one workload run measured and checked."""

    def __init__(self):
        self.ops: list[tuple[str, float]] = []  # (kind, seconds), timed ops only
        self.parts: dict[str, list[float]] = {}  # sub-timings of timed ops
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.warmup_s = 0.0
        self.loop_s = 0.0  # wall time of the timed loop, state resets excluded
        self.reset_s = 0.0  # benchmark-only state resets inside the timed loop
        self.properties: dict = {}
        # Last result of each check kind: (check function, engine result,
        # reference arguments). The self-test corrupts these.
        self.last: dict[str, tuple] = {}

    def checked(self, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.extend(errs[:2])

    def check(self, name: str, fn, got, *want) -> None:
        self.last[name] = (fn, got, want)
        self.checked(fn(got, *want))

    def attempt(self, fn, *args) -> None:
        """Run one operation; an exception counts as a failed operation."""
        try:
            fn(*args)
        except Exception:  # one failed request must not end the run
            self.attempted += 1
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))

    def part(self, name: str, seconds: float) -> None:
        self.parts.setdefault(name, []).append(seconds)


def _timed_loop(run: Run, seconds: float, op, tracer) -> None:
    """Start operations until ``seconds`` have passed (at least one), and
    record the loop's wall time less the benchmark's own state resets. Spans
    from here on are the timed ones the per-layer metrics summarise."""
    tracer.phase = "timed"
    t0 = time.perf_counter()
    deadline = t0 + seconds
    op()
    while time.perf_counter() < deadline:
        op()
    run.loop_s = time.perf_counter() - t0 - run.reset_s


def _count_files(*dirs: str) -> int:
    return sum(len([f for f in os.listdir(d) if f.endswith(".parquet")])
               for d in dirs if os.path.isdir(d))


# -- graphdb_mixed -------------------------------------------------------------

def graphdb_mixed(spark, seed: int, seconds: float, tracer, workdir: str,
                  n_initial: int = 5, warm_reads: int = 3) -> Run:
    run = Run()
    store = GraphStore(spark, os.path.join(workdir, "graphdb"))
    requests = gen.GraphDbRequests(seed, n_initial)
    model: dict[int, tuple[int, set]] = {}
    sizes: dict[int, int] = {}
    run.properties = requests.properties()

    def write(op: str, gid: int, n: int, edges: set) -> None:
        t0 = time.perf_counter()
        df = spark.createDataFrame(sorted(edges), "src INT, dst INT")
        with tracer.span("graph_store.write") as sp:
            getattr(store, f"{op}_graph")(gid, n, df)
        elapsed = time.perf_counter() - t0
        model[gid], sizes[gid] = (n, edges), n
        if tracer.enabled:
            sp["files_written"] = _count_files(
                f"{store.edges_path}/graph_id={gid}", f"{store.graphs_path}/graph_id={gid}")
        run.checked([])
        run.ops.append(("write", elapsed))

    def read(op: str, gid: int, start: int) -> None:
        fn = graph_traversal.bfs_levels_small if op == "bfs" else graph_traversal.dfs_leaves
        t0 = time.perf_counter()
        with tracer.span(f"graph_traversal.{fn.__name__}"):
            rows = fn(spark, store.edges(gid), [(gid, start)]).collect()
        elapsed = time.perf_counter() - t0
        edges = model[gid][1]
        if op == "bfs":
            run.check("bfs level", check.check_bfs, {r.vertex: r.level for r in rows}, edges, start)
        else:
            run.check("dfs leaf set", check.check_dfs, {r.vertex for r in rows}, edges, start)
        run.ops.append(("read", elapsed))

    def request() -> None:
        op = requests.next(sizes)
        run.attempt(write if op[0] in ("add", "modify") else read, *op)

    t0 = time.perf_counter()
    for gid, (n, edges) in requests.initial.items():
        run.attempt(write, "add", gid, n, edges)
    for _ in range(warm_reads):
        request()
    run.warmup_s = time.perf_counter() - t0
    run.ops.clear()

    _timed_loop(run, seconds, request, tracer)

    # Every graph reads back as its last write.
    edges_by_graph: dict[int, set] = {}
    for r in store.edges().collect():
        edges_by_graph.setdefault(r.graph_id, set()).add((r.src, r.dst))
    got = {r.graph_id: (r.n, edges_by_graph.get(r.graph_id, set()))
           for r in store.graphs().collect()}
    run.check("stored graph", check.check_graphs, got, model)
    run.properties["graphs"] = len(model)
    run.properties["vertices"] = sum(n for n, _ in model.values())
    run.properties["edges"] = sum(len(e) for _, e in model.values())
    run.properties["max_degree"] = max(
        (max(Counter([s for s, _ in e] + [d for _, d in e]).values(), default=0)
         for _, e in model.values()), default=0)
    return run


# -- graph_analytics -----------------------------------------------------------

RMAT_SCALE = 13
RMAT_EDGE_FACTOR = 8
PAGERANK_ITERATIONS = 10
BFS_START = 0
# Untimed rounds: after only one, the first timed round ran about 20% slower
# than the later ones.
WARM_ROUNDS = 2


def graph_analytics_run(spark, seed: int, seconds: float, tracer, workdir: str,
                        scale: int = RMAT_SCALE, edge_factor: int = RMAT_EDGE_FACTOR) -> Run:
    run = Run()
    n, edges, run.properties = gen.rmat_edges(seed, scale, edge_factor)
    edges_path = os.path.join(workdir, "rmat_edges")
    graphs_path = os.path.join(workdir, "rmat_graphs")
    pdf = pd.DataFrame({"graph_id": 0, "src": edges[:, 0], "dst": edges[:, 1]}).astype("int32")
    spark.createDataFrame(pdf).write.parquet(edges_path)
    spark.createDataFrame([(0, n)], "graph_id INT, n INT").write.parquet(graphs_path)
    want_cc = check.components(n, edges)
    want_pr = check.pagerank(n, edges, PAGERANK_ITERATIONS)
    want_bfs = check.bfs_levels(edges.tolist(), BFS_START)
    run.properties["components"] = int(len(np.unique(want_cc)))
    run.properties["bfs_depth"] = max(want_bfs.values())

    def by_vertex(pdf: pd.DataFrame, col: str) -> np.ndarray:
        pdf = pdf.sort_values("vertex")
        if len(pdf) != n or not (pdf["vertex"].to_numpy() == np.arange(n)).all():
            return np.full(n, -1)
        return pdf[col].to_numpy()

    def analysis_round() -> None:
        e = spark.read.parquet(edges_path)
        g = spark.read.parquet(graphs_path)
        t0 = time.perf_counter()
        with tracer.span("graph_analytics.connected_components"):
            cc = graph_analytics.connected_components(spark, g, e).toPandas()
        t1 = time.perf_counter()
        with tracer.span("graph_analytics.pagerank"):
            pr = graph_analytics.pagerank(spark, g, e, iterations=PAGERANK_ITERATIONS).toPandas()
        t2 = time.perf_counter()
        with tracer.span("graph_traversal.bfs_levels"):
            bfs = graph_traversal.bfs_levels(spark, e, [(0, BFS_START)]).toPandas()
        t3 = time.perf_counter()
        run.check("component label", check.check_labels, by_vertex(cc, "component"), want_cc)
        run.check("pagerank value", check.check_pagerank, by_vertex(pr, "rank"), want_pr)
        run.check("bfs level", check.check_levels,
                  dict(zip(bfs["vertex"].tolist(), bfs["level"].tolist())), want_bfs)
        run.ops.append(("round", t3 - t0))
        run.part("cc_s", t1 - t0)
        run.part("pagerank_s", t2 - t1)
        run.part("bfs_s", t3 - t2)

    t0 = time.perf_counter()
    for _ in range(WARM_ROUNDS):
        run.attempt(analysis_round)
    run.warmup_s = time.perf_counter() - t0
    run.ops.clear()
    run.parts.clear()

    _timed_loop(run, seconds, lambda: run.attempt(analysis_round), tracer)
    return run


# -- corpus_ingest -------------------------------------------------------------

# A batch's time is mostly per-job overhead: 200 documents keep three to
# five timed batches in a 12-second run.
BATCH_DOCS = 200
CHAINS = 4
CHAIN_LEN = 8
DUP_SHARE = 0.1
REVISIONS = 20
# Batches ingested (untimed) before the timed batch; the last is replayed.
HISTORY_BATCHES = 2
CATALOG_BUCKETS = 16
CATALOG_SCHEMA = "doc_id BIGINT, version INT, n_words INT, source STRING"


def corpus_ingest(spark, seed: int, seconds: float, tracer, workdir: str,
                  batch_docs: int = BATCH_DOCS, chains: int = CHAINS,
                  chain_len: int = CHAIN_LEN) -> Run:
    """Warm-up ingests HISTORY_BATCHES batches and replays the last one, as
    a stream replays a batch after a failure. Every timed operation then
    ingests the same next batch into that history. Before each one the
    benchmark, untimed, drops that batch's partitions from the dedup store
    and the pair set and restores the catalog, so every timed batch meets
    the same state however many batches fit in the run."""
    run = Run()
    corpus = gen.Corpus(seed, batch_docs, chains, chain_len, DUP_SHARE, REVISIONS)
    batches = [corpus.next_batch() for _ in range(HISTORY_BATCHES + 1)]
    live = HISTORY_BATCHES  # batch id of the timed batch
    store_path = os.path.join(workdir, "dedup_store")
    pairs_path = os.path.join(workdir, "pairs")
    catalog_path = os.path.join(workdir, "catalog")
    catalog_snapshot = os.path.join(workdir, "catalog_history")
    catalog = KeyedParquetStore(spark, catalog_path, "doc_id",
                                n_buckets=CATALOG_BUCKETS, version_col="version")

    # Exact models of batches 0..b, each applied once: pairs, planted
    # pairs, latest-wins catalog.
    shingles: dict[int, frozenset] = {}
    index: dict[str, list[int]] = {}  # shingle -> docs
    exact_pairs: set[tuple[int, int]] = set()
    pairs_upto, planted_upto, store_upto = [], [], []
    for b, (docs, _) in enumerate(batches):
        for doc_id, text in docs:
            sh = check.shingles(text)
            for d in {d for s in sh for d in index.get(s, ())}:
                if check.jaccard(sh, shingles[d]) >= check.JACCARD_T:
                    exact_pairs.add((d, doc_id))
            shingles[doc_id] = sh
            for s in sh:
                index.setdefault(s, []).append(doc_id)
        last_id = max(d for d, _ in docs)
        pairs_upto.append(set(exact_pairs))
        planted_upto.append({p for p in corpus.planted if p[1] <= last_id})
        store_upto.append(check.latest_wins([r for _, rows in batches[:b + 1] for r in rows]))

    def micro_batch(batch_id: int) -> None:
        docs, rows = batches[batch_id]
        docs_df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
        rows_df = spark.createDataFrame(rows, CATALOG_SCHEMA)
        t0 = time.perf_counter()
        with tracer.span("ingest.dedup_ingest_batch") as sp:
            ingest.dedup_ingest_batch(spark, docs_df, batch_id, store_path, pairs_path)
        t1 = time.perf_counter()
        with tracer.span("keyed_store.upsert") as up:
            stats = catalog.upsert(rows_df, only_if_newer=True)
        t2 = time.perf_counter()
        with tracer.span("linkage.entity_clusters_df"):
            pairs = spark.read.parquet(pairs_path).select(
                F.col("doc_a").alias("rec_a"), F.col("doc_b").alias("rec_b"))
            clusters = linkage.entity_clusters_df(spark, pairs).toPandas()
        t3 = time.perf_counter()
        if tracer.enabled:
            import pyarrow.parquet as pq

            part = f"{pairs_path}/batch_id={batch_id}"
            sp["pairs_out"] = sum(pq.read_metadata(f"{part}/{f}").num_rows
                                  for f in os.listdir(part) if f.endswith(".parquet"))
            up["buckets_touched"] = stats["buckets_touched"]
            # Rows written per batch row: the MERGE rewrites every row of
            # each bucket the batch touches.
            up["write_amp"] = up["output_records"] / len(rows)
        got = dict(zip(clusters["rec_id"].tolist(), clusters["entity_id"].tolist()))
        run.check("cluster label", check.check_clusters, got, pairs_upto[batch_id])
        run.ops.append(("batch", t3 - t0))
        run.part("batch_s", t2 - t0)
        run.part("cluster_s", t3 - t2)

    def check_outputs(last: int) -> None:
        """Pairs and catalog equal the models of batches 0..last."""
        got_pairs = [(r.doc_a, r.doc_b, r.jaccard) for r in spark.read.parquet(pairs_path).collect()]
        run.check("near-duplicate pair", check.check_pairs, got_pairs, shingles, planted_upto[last])
        got_store = {r.doc_id: (r.doc_id, r.version, r.n_words, r.source)
                     for r in catalog.read().collect()}
        run.check("keyed-store row", check.check_store, got_store, store_upto[last])

    def restore_history() -> None:
        t = time.perf_counter()
        for name in store_tables:
            spark.sql(f"ALTER TABLE {name} DROP IF EXISTS PARTITION (batch_id={live})")
        for d in (f"{store_path}/bands", f"{store_path}/shingles", pairs_path):
            shutil.rmtree(f"{d}/batch_id={live}", ignore_errors=True)
        shutil.rmtree(catalog_path)
        shutil.copytree(catalog_snapshot, catalog_path)
        run.reset_s += time.perf_counter() - t

    def timed_batch() -> None:
        restore_history()
        run.attempt(micro_batch, live)

    # Warm-up: the history, the replay, and one batch of the timed kind (the
    # first timed-kind batch ran about 10% slower than the later ones).
    t0 = time.perf_counter()
    for b in range(HISTORY_BATCHES):
        run.attempt(micro_batch, b)
    run.attempt(micro_batch, HISTORY_BATCHES - 1)
    check_outputs(HISTORY_BATCHES - 1)  # the replay changed nothing
    shutil.copytree(catalog_path, catalog_snapshot)
    store_tables = [t.name for t in spark.catalog.listTables()
                    if t.name.startswith(("dgds_bands_", "dgds_shingles_"))]
    timed_batch()
    run.warmup_s = time.perf_counter() - t0
    run.ops.clear()
    run.parts.clear()
    run.reset_s = 0.0

    _timed_loop(run, seconds, timed_batch, tracer)

    check_outputs(live)
    run.properties.update(corpus.properties())
    run.properties["history_batches"] = HISTORY_BATCHES
    run.properties["history_pairs"] = len(pairs_upto[live - 1])
    run.properties["pairs"] = len(exact_pairs)
    return run


WORKLOADS = {
    "graphdb_mixed": graphdb_mixed,
    "graph_analytics": graph_analytics_run,
    "corpus_ingest": corpus_ingest,
}

# Spans per workload, in output order.
SPANS = {
    "graphdb_mixed": ("graph_store.write", "graph_traversal.bfs_levels_small",
                      "graph_traversal.dfs_leaves"),
    "graph_analytics": ("graph_analytics.connected_components", "graph_analytics.pagerank",
                        "graph_traversal.bfs_levels"),
    "corpus_ingest": ("ingest.dedup_ingest_batch", "keyed_store.upsert",
                      "linkage.entity_clusters_df"),
}
# Span counters read from outside the engine (files, returned stats).
SPAN_COUNTERS = {
    "graph_store.write": ("files_written",),
    "keyed_store.upsert": ("buckets_touched", "write_amp"),
    "ingest.dedup_ingest_batch": ("pairs_out",),
}


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0
