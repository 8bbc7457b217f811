"""Seeded input generators for the three benchmark workloads.

Every generator takes the seed as an argument and returns plain Python /
numpy data; the engine only ever sees what these produce. Each generator
also returns the input properties a later optimisation may depend on, so a
run records them next to its timings.
"""

from __future__ import annotations

import random

import numpy as np

# -- graphdb_mixed ---------------------------------------------------------

# The reference's limits: at most 20 graph files, n <= 100 vertices each.
MAX_GRAPHS = 20
MAX_N = 100
MIN_N = 20
# Request mix of the single closed-loop client: every block of MIX_BLOCK
# requests holds WRITES_PER_BLOCK writes in seeded order, and reads
# alternate BFS and DFS, so every seed sends the same mix. Read skew: a read
# targets the graph written last with READ_LAST_WRITTEN, otherwise a graph
# drawn from a Zipf(ZIPF_S) rank over the graph ids.
# These values are assumptions: the reference client is interactive and
# has no request mix. Reads are the majority so the median latency stays
# inside the read distribution even if writes get much faster or slower.
# Every request on graphs this small costs about the same per-job overhead,
# so the end-to-end figures depend little on the values: 5 writes in 10
# with uniform reads moved the median latency by about 4%, less than the
# run-to-run spread.
MIX_BLOCK = 10
WRITES_PER_BLOCK = 3
READ_LAST_WRITTEN = 0.25
ZIPF_S = 1.2


def random_graph(rng: random.Random) -> tuple[int, set[tuple[int, int]]]:
    """A directed graph in the reference's regime: n in [MIN_N, MAX_N], an
    average out-degree of 1-4 (so BFS depth and DFS leaf sets vary)."""
    n = rng.randint(MIN_N, MAX_N)
    m = rng.randint(n, 4 * n)
    edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
    return n, edges


class GraphDbRequests:
    """Endless seeded request stream for one closed-loop client.

    ``initial`` graphs are loaded before timing. Each ``next()`` is one of
    ("add" | "modify", gid, n, edges) or ("bfs" | "dfs", gid, start). An
    add creates a new graph id until MAX_GRAPHS exist; afterwards every
    write is a modify (the reference truncates and rewrites the file).
    """

    def __init__(self, seed: int, n_initial: int):
        self.rng = random.Random(seed * 7919 + 1)
        self.initial = {gid: random_graph(self.rng) for gid in range(n_initial)}
        self.n_graphs = n_initial
        self.last_written = n_initial - 1
        weights = [1.0 / (r + 1) ** ZIPF_S for r in range(MAX_GRAPHS)]
        # Hot ranks map to a seeded permutation of the ids.
        ids = list(range(MAX_GRAPHS))
        self.rng.shuffle(ids)
        self._rank_ids, self._weights = ids, weights
        self._block: list[bool] = []  # True = write
        self._reads = 0

    def _pick(self) -> int:
        while True:
            gid = self.rng.choices(self._rank_ids, self._weights)[0]
            if gid < self.n_graphs:
                return gid

    def next(self, sizes: dict[int, int]) -> tuple:
        rng = self.rng
        if not self._block:
            self._block = [True] * WRITES_PER_BLOCK + [False] * (MIX_BLOCK - WRITES_PER_BLOCK)
            rng.shuffle(self._block)
        if self._block.pop():
            n, edges = random_graph(rng)
            if self.n_graphs < MAX_GRAPHS and rng.random() < 0.5:
                gid, op = self.n_graphs, "add"
                self.n_graphs += 1
            else:
                gid, op = self._pick(), "modify"
            self.last_written = gid
            return (op, gid, n, edges)
        gid = self.last_written if rng.random() < READ_LAST_WRITTEN else self._pick()
        self._reads += 1
        return ("bfs" if self._reads % 2 else "dfs", gid, rng.randrange(sizes[gid]))

    @staticmethod
    def properties() -> dict:
        return {
            "max_graphs": MAX_GRAPHS,
            "n_range": [MIN_N, MAX_N],
            "write_share": WRITES_PER_BLOCK / MIX_BLOCK,
            "read_last_written_share": READ_LAST_WRITTEN,
            "zipf_s": ZIPF_S,
        }


# -- graph_analytics -------------------------------------------------------

RMAT_ABC = (0.57, 0.19, 0.19)


def rmat_edges(seed: int, scale: int, edge_factor: int,
               abc: tuple[float, float, float] = RMAT_ABC) -> tuple[int, np.ndarray, dict]:
    """Directed R-MAT graph on 2**scale vertices (Chakrabarti et al. 2004).

    Returns (n, edges as an (m, 2) int32 array, properties). Duplicate edges
    and self-loops are dropped so every reference implementation sees the
    same simple graph. Vertex ids are not permuted: vertex 0 is the hub, so
    BFS from 0 and the min-label loop both start from the densest corner.
    """
    a, b, c = abc
    n = 1 << scale
    m = edge_factor * n
    rng = np.random.default_rng(seed)
    r = rng.random((m, scale))
    # Quadrant per bit: [0,a) top-left, [a,a+b) top-right, [a+b,a+b+c)
    # bottom-left, rest bottom-right.
    src_bit = r >= a + b
    dst_bit = ((r >= a) & (r < a + b)) | (r >= a + b + c)
    weights = (1 << np.arange(scale - 1, -1, -1)).astype(np.int64)
    src = src_bit.astype(np.int64) @ weights
    dst = dst_bit.astype(np.int64) @ weights
    keep = src != dst
    key = np.unique(src[keep] * n + dst[keep])
    edges = np.stack([key // n, key % n], axis=1).astype(np.int32)
    out_deg = np.bincount(edges[:, 0], minlength=n)
    in_deg = np.bincount(edges[:, 1], minlength=n)
    props = {
        "scale": scale,
        "edge_factor": edge_factor,
        "rmat_abc": list(abc),
        "vertices": n,
        "edges": int(len(edges)),
        "max_out_degree": int(out_deg.max()),
        "max_degree": int((out_deg + in_deg).max()),
        "isolated_vertices": int(((out_deg + in_deg) == 0).sum()),
    }
    return n, edges, props


# -- corpus_ingest ---------------------------------------------------------

WORDS_PER_DOC = 60
# A near-duplicate edit rewrites one BLOCK-word run at one of these starts.
# With 3-word shingles a one-block edit changes BLOCK+2 = 14 of the 58
# shingles (Jaccard 44/72 = 0.61), two edits at different starts change 28
# (30/86 = 0.35): consecutive chain members are pairs, members two or more
# edits apart are not. The starts are BLOCK+2 apart so no shingle spans two
# blocks.
BLOCK = 12
BLOCK_STARTS = (2, 16, 30, 44)
VOCAB = 40_000


def _word(rng: random.Random) -> str:
    return f"w{rng.randrange(VOCAB)}"


def _edit(rng: random.Random, words: list[str], start: int) -> list[str]:
    out = list(words)
    out[start:start + BLOCK] = [_word(rng) for _ in range(BLOCK)]
    return out


class Corpus:
    """Seeded micro-batches of documents with planted near-duplicates.

    Each batch holds ``batch_docs`` documents:
      - ``chains`` chains of ``chain_len`` documents, A1≈A2≈...≈AL with
        Ai≉Aj for |i-j| >= 2; ids rise along the chain, so the min-label
        loop needs chain_len supersteps to carry the head's label to the
        tail;
      - a ``dup_share`` of near-duplicates (one edit) of random documents
        from earlier batches, which pair across batches through the store;
      - fresh random documents for the rest (pairwise Jaccard ~0).
    ``catalog`` rows (doc_id, version, n_words, source) go to the keyed
    store; each batch also revises ``revisions`` earlier documents with the
    batch's version, so latest-wins has stored rows to beat.
    """

    def __init__(self, seed: int, batch_docs: int, chains: int, chain_len: int,
                 dup_share: float, revisions: int):
        self.rng = random.Random(seed * 104729 + 3)
        self.batch_docs, self.chains, self.chain_len = batch_docs, chains, chain_len
        self.dup_share, self.revisions = dup_share, revisions
        self.words: dict[int, list[str]] = {}
        self.planted: set[tuple[int, int]] = set()
        self.next_id = 0
        self.n_batches = 0

    def _new(self, words: list[str]) -> int:
        doc_id = self.next_id
        self.next_id += 1
        self.words[doc_id] = words
        return doc_id

    def next_batch(self) -> tuple[list[tuple[int, str]], list[tuple]]:
        rng = self.rng
        earlier = list(self.words)
        ids: list[int] = []
        for _ in range(self.chains):
            prev_id = self._new([_word(rng) for _ in range(WORDS_PER_DOC)])
            ids.append(prev_id)
            for i in range(1, self.chain_len):
                start = BLOCK_STARTS[i % len(BLOCK_STARTS)]
                doc_id = self._new(_edit(rng, self.words[prev_id], start))
                self.planted.add((prev_id, doc_id))
                ids.append(doc_id)
                prev_id = doc_id
        n_dups = int(self.batch_docs * self.dup_share) if earlier else 0
        for _ in range(n_dups):
            src = rng.choice(earlier)
            doc_id = self._new(_edit(rng, self.words[src], rng.choice(BLOCK_STARTS)))
            self.planted.add((src, doc_id))
            ids.append(doc_id)
        while len(ids) < self.batch_docs:
            ids.append(self._new([_word(rng) for _ in range(WORDS_PER_DOC)]))
        version = self.n_batches
        self.n_batches += 1
        docs = [(d, " ".join(self.words[d])) for d in ids]
        revised = rng.sample(earlier, min(self.revisions, len(earlier)))
        catalog = [(d, version, WORDS_PER_DOC, f"b{version}") for d in ids]
        catalog += [(d, version, WORDS_PER_DOC, f"rev{version}") for d in revised]
        return docs, catalog

    def properties(self) -> dict:
        return {
            "batch_docs": self.batch_docs,
            "chains_per_batch": self.chains,
            "chain_len": self.chain_len,
            "near_dup_share": round(
                len(self.planted) / max(1, len(self.words)), 4),
            "revisions_per_batch": self.revisions,
            "words_per_doc": WORDS_PER_DOC,
            "vocab": VOCAB,
        }
