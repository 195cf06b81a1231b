"""Seeded workloads: input generators, one timed pass each, output checks.

Every generator is a pure function of ``(seed, sizes)``: the same seed gives
the same tables, and the engine receives only those tables.  Each workload
knows its ground truth, so a pass is checked for exact expected counts, a
pairwise F1 against the truth, and an order-insensitive fingerprint of its
output.

Engine entry points are looked up through their modules at call time
(``pipeline.run_pipeline``, not a name bound at import), so the traced run's
span wrappers see every call.  Sizes and the reason for each workload are
listed in README.md next to this file.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------- results


@dataclass
class PassResult:
    """What one timed pass produced, collected to the driver."""

    wall_s: float
    pairs: int  # pairs the pass decided (see each workload)
    matched: int
    assignment: dict  # item -> cluster label, the pass's final clustering
    fingerprint: str
    batch_s: list = field(default_factory=list)  # per micro-batch wall
    cpu_s: float = 0.0  # CPU seconds of driver, JVM and workers in the pass
    steal_share: float = 0.0  # share of the machine's CPU time the host stole
    extra: dict = field(default_factory=dict)


@dataclass
class Check:
    ok: bool
    f1: float
    problems: list


def fingerprint(rows) -> str:
    """Order-insensitive digest of an iterable of tuples."""
    h = hashlib.sha256()
    for row in sorted(repr(tuple(r)) for r in rows):
        h.update(row.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def pair_f1(assignment: dict, truth: dict) -> float:
    """Pairwise F1 of a clustering against the true classes.

    Computed from cluster-size contingency counts, so it is exact for any
    size.  When neither side has a positive pair (every item a singleton in
    both) the clusterings agree exactly and F1 is 1.0.
    """
    cells: dict = {}
    pred: dict = {}
    true: dict = {}
    for item, label in truth.items():
        p = assignment.get(item, ("singleton", item))
        cells[(p, label)] = cells.get((p, label), 0) + 1
        pred[p] = pred.get(p, 0) + 1
        true[label] = true.get(label, 0) + 1

    def comb(n):
        return n * (n - 1) // 2

    tp = sum(comb(n) for n in cells.values())
    pp = sum(comb(n) for n in pred.values())
    tt = sum(comb(n) for n in true.values())
    if pp == 0 and tt == 0:
        return 1.0
    if tp == 0:
        return 0.0
    p, r = tp / pp, tp / tt
    return 2 * p * r / (p + r)


def _clustered_pairs(assignment: dict) -> int:
    sizes: dict = {}
    for label in assignment.values():
        sizes[label] = sizes.get(label, 0) + 1
    return sum(n * (n - 1) // 2 for n in sizes.values())


def _collect_assignment(df, item: str, label: str) -> dict:
    return {r[item]: r[label] for r in df.select(item, label).collect()}


def _edge_summary(edges, truth: dict) -> tuple[int, int, int, str]:
    """(pairs, matched, cross-group matched, fingerprint) of a scored-edge
    frame, from one collect."""
    rows = edges.select(
        "left_id", "right_id", "matched", "kind", "rule"
    ).collect()
    matched = [r for r in rows if r["matched"]]
    cross = sum(1 for r in matched if truth[r["left_id"]] != truth[r["right_id"]])
    fp = fingerprint(
        (r["left_id"], r["right_id"], r["matched"], r["kind"], r["rule"])
        for r in rows
    )
    return len(rows), len(matched), cross, fp


# ---------------------------------------------------------------- base


class Workload:
    """One seeded input set and the pass that runs it through the engine."""

    name = ""
    WARMUP_PASSES = 1
    TIMED_PASSES = 1  # at least this many timed passes per run

    def __init__(self, seed: int):
        self.seed = seed

    def generate(self, spark) -> None:
        """Build and materialise the inputs (part of set-up)."""
        raise NotImplementedError

    def run_pass(self, spark, pass_dir: str) -> PassResult:
        """One timed pass, from materialised input to collected output."""
        raise NotImplementedError

    def check(self, result: PassResult) -> Check:
        raise NotImplementedError

    def sizes(self) -> dict:
        raise NotImplementedError


def _materialise(df):
    return df.localCheckpoint(eager=True)


# ---------------------------------------------------------------- ER


class _TranscriptWorkload(Workload):
    """Shared pieces of the three entity-resolution workloads."""

    def _result(self, wall, edges, assignment, **kw) -> PassResult:
        """Summarise the scored edges outside the timed region."""
        pairs, matched, cross, efp = _edge_summary(edges, self.truth)
        return PassResult(
            wall, pairs, matched, assignment,
            fingerprint([(efp,)] + sorted(assignment.items())),
            extra={"cross_group_matches": cross, **kw.pop("extra", {})}, **kw,
        )

    def _check_clusters(self, result: PassResult, want_components: int) -> Check:
        problems = []
        f1 = pair_f1(result.assignment, self.truth)
        labels = {result.assignment.get(c) for c in self.truth}
        if set(result.assignment) != set(self.truth):
            problems.append("assignment does not cover exactly the input ids")
        if len(labels) != want_components:
            problems.append(f"{len(labels)} components, expected {want_components}")
        if f1 < 0.99:
            problems.append(f"pairwise F1 {f1:.4f} < 0.99")
        return Check(not problems, f1, problems)


class ErRepeat(_TranscriptWorkload):
    """A few fixture name variants repeated over many conversations, run
    durably (``run_dir``) through ``run_pipeline``: dense pair explosion,
    large clusters, checkpoint and audit writes, few distinct UDF rows."""

    name = "er_repeat"
    N_CONVS = 300
    TURNS = 4

    def sizes(self):
        return {"conversations": self.N_CONVS, "turns_per_conversation": self.TURNS}

    def generate(self, spark):
        from osm_wikidata_spark.sources import transcripts

        tr, truth = transcripts.synth_transcripts(
            spark, self.N_CONVS, self.TURNS, seed=self.seed
        )
        self.transcripts = _materialise(tr)
        self.truth = {r["conv_id"]: r["group_id"] for r in truth.collect()}
        self.n_groups = len(set(self.truth.values()))

    def run_pass(self, spark, pass_dir):
        from osm_wikidata_spark.plans import checkpoint, pipeline

        run_dir = os.path.join(pass_dir, "run")
        # a reused run_dir would let stage() skip every stage and time nothing
        if checkpoint.completed_stages(run_dir):
            raise RuntimeError(f"{run_dir} already holds completed stages")
        t0 = time.perf_counter()
        out = pipeline.run_pipeline(spark, self.transcripts, run_dir=run_dir)
        assignment = _collect_assignment(out["components"], "conv_id", "component")
        wall = time.perf_counter() - t0
        return self._result(wall, out["edges"], assignment)

    def check(self, result):
        # the generator's groups never match across (tests/test_generator.py)
        c = self._check_clusters(result, self.n_groups)
        if result.extra["cross_group_matches"]:
            c.problems.append(
                f"{result.extra['cross_group_matches']} cross-group matched edges"
            )
        c.ok = not c.problems
        return c


class ErUnique(_TranscriptWorkload):
    """Every conversation mentions a unique name (the scaling_bench shape,
    seeded): the cascade scores every candidate pair, nothing matches, and
    clustering is trivial.  In-memory (``run_dir=None``)."""

    name = "er_unique"
    N_CONVS = 600
    BLOCK = 30  # conversations per shared 'blockNN' token

    def sizes(self):
        return {"conversations": self.N_CONVS, "block_size": self.BLOCK}

    def generate(self, spark):
        from pyspark.sql import functions as F

        rng = random.Random(self.seed)
        n = self.N_CONVS
        perm = list(range(n))
        rng.shuffle(perm)
        base = rng.randrange(10_000, 90_000) * 10
        # block of conversation i = its rank in a seeded permutation, so
        # every block holds exactly BLOCK conversations
        rows = [
            (f"conv-{i:07d}", f'About "Block{perm[i] % (n // self.BLOCK)} Office'
             f' Number {base + i}" today.')
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "conv_id string, text string")
        self.transcripts = _materialise(
            df.select(
                "conv_id", F.lit(0).alias("turn_idx"), F.lit("user").alias("role"),
                "text", F.lit(None).cast("string").alias("tool"),
                F.timestamp_seconds(F.lit(1700000000)).alias("ts"),
            )
        )
        self.truth = {r[0]: r[0] for r in rows}
        self.expected_pairs = (n // self.BLOCK) * self.BLOCK * (self.BLOCK - 1) // 2

    def run_pass(self, spark, pass_dir):
        from osm_wikidata_spark.plans import pipeline

        t0 = time.perf_counter()
        # the cap drops the 'office'/'number'/acronym keys every
        # conversation shares; only the per-block key survives
        out = pipeline.run_pipeline(
            spark, self.transcripts, run_dir=None,
            max_block_size=2 * self.BLOCK,
        )
        assignment = _collect_assignment(out["components"], "conv_id", "component")
        wall = time.perf_counter() - t0
        return self._result(wall, out["edges"], assignment)

    def check(self, result):
        c = self._check_clusters(result, self.N_CONVS)
        if result.matched != 0:
            c.problems.append(f"{result.matched} matched edges, expected 0")
        if result.pairs != self.expected_pairs:
            c.problems.append(
                f"{result.pairs} candidate pairs, expected {self.expected_pairs}"
            )
        c.ok = not c.problems
        return c


class ErIngest(ErRepeat):
    """The er_repeat corpus folded in micro-batches through
    ``incremental_edges_batch`` into a fresh state directory; the chain
    bound makes the last batch of every pass compact."""

    name = "er_ingest"
    N_CONVS = 300
    BATCHES = 2
    COMPACT_EVERY = 1  # commit 1 appends a delta, commit 2 compacts

    def sizes(self):
        return {
            "conversations": self.N_CONVS, "turns_per_conversation": self.TURNS,
            "batches": self.BATCHES, "compact_every": self.COMPACT_EVERY,
        }

    def generate(self, spark):
        from pyspark.sql import functions as F

        super().generate(spark)
        ids = sorted(self.truth)
        random.Random(self.seed).shuffle(ids)
        self.batches = []
        for b in range(self.BATCHES):
            members = ids[b::self.BATCHES]
            self.batches.append(_materialise(
                self.transcripts.filter(F.col("conv_id").isin(members))
            ))

    def run_pass(self, spark, pass_dir):
        from osm_wikidata_spark.streaming import incremental

        state = os.path.join(pass_dir, "state")
        if incremental.current_generation(state) is not None:
            raise RuntimeError(f"{state} already holds a generation")
        batch_s, edges = [], []
        t0 = time.perf_counter()
        for batch in self.batches:
            tb = time.perf_counter()
            # the returned edges are already materialised (eager checkpoint)
            edges.append(incremental.incremental_edges_batch(
                spark, batch, state, compact_every=self.COMPACT_EVERY
            ))
            batch_s.append(time.perf_counter() - tb)
        assignment = _collect_assignment(
            spark.read.parquet(incremental.assignments_path(state)),
            "node", "component",
        )
        wall = time.perf_counter() - t0
        all_edges = edges[0]
        for e in edges[1:]:
            all_edges = all_edges.unionByName(e)
        return self._result(
            wall, all_edges, assignment, batch_s=batch_s,
            extra={"chain_len": len(incremental._chain(state))},
        )

    def check(self, result):
        c = super().check(result)
        if result.extra["chain_len"] != 1:
            c.problems.append(
                f"chain of {result.extra['chain_len']} after the compacting batch"
            )
        c.ok = not c.problems
        return c


# ---------------------------------------------------------------- dedup


class DedupDocs(Workload):
    """Near-duplicate document families (unique vocabulary per family, so
    minhash work is never memoised) plus family embeddings, run through
    minhash -> components, simhash -> components and semdedup."""

    name = "dedup_docs"
    # the pass after the cold one is still 2-19% slower than the next (JIT
    # progress); timing two passes halves its weight in the median
    TIMED_PASSES = 2
    N_FAMILIES = 100
    FAMILY = 3
    WORDS = 200
    DIM = 16
    CELLS = 8

    def sizes(self):
        return {
            "documents": self.N_FAMILIES * self.FAMILY,
            "family_size": self.FAMILY, "words_per_doc": self.WORDS,
            "embedding_dim": self.DIM, "semdedup_cells": self.CELLS,
        }

    def generate(self, spark):
        rng = np.random.default_rng(self.seed)
        cb = rng.normal(size=(self.CELLS, self.DIM))
        docs, vecs, truth = [], [], {}
        vocab_base = int(rng.integers(1, 10**6)) * 1000
        for fam in range(self.N_FAMILIES):
            words = [f"w{vocab_base + fam}x{i}" for i in range(self.WORDS)]
            members = self._family_vectors(rng, cb)
            for v in range(self.FAMILY):
                doc_id = int(fam * self.FAMILY + v)
                # variant 1 appends a word, variant 2 prepends one: near
                # duplicates that differ from variant 0 in one shingle
                text = " ".join(
                    (["lead"] if v == 2 else []) + words + (["extra"] if v == 1 else [])
                )
                docs.append((doc_id, text))
                vecs.append((doc_id, [float(x) for x in members[v]]))
                truth[doc_id] = fam
        order = rng.permutation(len(docs))
        self.docs = _materialise(spark.createDataFrame(
            [docs[i] for i in order], "doc_id long, text string"))
        self.vectors = _materialise(spark.createDataFrame(
            [vecs[i] for i in order], "vec_id long, embedding array<float>"))
        self.centroids = [[float(x) for x in c] for c in cb]
        self.truth = truth

    def _family_vectors(self, rng, cb):
        """A family's embeddings: one random direction plus small noise,
        redrawn until every member falls in the same semdedup cell (the
        operator only compares vectors within a cell, by design)."""
        while True:
            base = rng.normal(size=self.DIM)
            members = (base + rng.normal(scale=1e-3, size=(self.FAMILY, self.DIM)))
            members = members.astype(np.float32)
            m = members.astype(np.float64)
            sims = (m @ cb.T) / (
                np.linalg.norm(m, axis=1)[:, None] * np.linalg.norm(cb, axis=1)[None, :]
            )
            if len(set(sims.argmax(axis=1).tolist())) == 1:
                return members

    def run_pass(self, spark, pass_dir):
        from osm_wikidata_spark.operators import dedup, similarity

        t0 = time.perf_counter()
        mappings = {
            "minhash": dedup.near_dup_clusters(dedup.minhash_lsh_pairs(self.docs)),
            "simhash": dedup.near_dup_clusters(dedup.simhash_near_dups(self.docs)),
            "semdedup": similarity.semdedup(self.vectors, self.centroids),
        }
        assignments = {
            k: _collect_assignment(m, "doc_id", "canonical_id")
            for k, m in mappings.items()
        }
        wall = time.perf_counter() - t0
        self.assignments = assignments
        fp = fingerprint(
            (k, d, c) for k, a in assignments.items() for d, c in a.items()
        )
        # pairs: near-duplicate pairs the three operators resolve
        pairs = sum(_clustered_pairs(a) for a in assignments.values())
        return PassResult(wall, pairs, pairs, assignments["semdedup"], fp)

    def check(self, result):
        """Exact counts where the operator is exact for these inputs (every
        family is one semdedup cell and one minhash bucket); SimHash is
        approximate by design (a one-word edit can flip more than
        ``max_hamming`` bits), so it must cluster at least 99% of the
        documents.  No operator may merge two families."""
        problems, f1s = [], []
        n_docs = len(self.truth)
        for k, a in self.assignments.items():
            f1 = pair_f1(a, self.truth)
            f1s.append(f1)
            families: dict = {}
            for doc, label in a.items():
                families.setdefault(label, set()).add(self.truth[doc])
            merged = sum(1 for fams in families.values() if len(fams) > 1)
            if merged:
                problems.append(f"{k}: {merged} clusters merge families")
            want = n_docs if k != "simhash" else int(0.99 * n_docs)
            if len(a) < want or len(a) > n_docs:
                problems.append(f"{k}: {len(a)} docs clustered, expected {want}")
            if k != "simhash" and len(families) != self.N_FAMILIES:
                problems.append(
                    f"{k}: {len(families)} clusters, expected {self.N_FAMILIES}")
            if f1 < 0.99:
                problems.append(f"{k}: pairwise F1 {f1:.4f} < 0.99")
        return Check(not problems, min(f1s), problems)


WORKLOADS = {w.name: w for w in (ErRepeat, ErUnique, ErIngest, DedupDocs)}
