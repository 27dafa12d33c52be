"""The benchmark's workloads: each is one closed-loop client issuing one kind
of op against the program, with every op's output checked.

A workload object is built on a live session and its run's temp root, and
exposes:

* ``setup()``            builds the inputs from the seed; returns the
                         timed set-up components (seconds);
* ``op(k)``              the timed call into the program;
* ``check(k, out)``      the op's output check (untimed);
* ``final_check()``      one whole-state check after the loop (untimed);
* ``triples``            the distinct triples of the graph the op produces
                         or expands over (``triples_per_s`` numerator);
* ``trace(tracer)``      wraps the program calls this workload exercises;
* ``layers(tracer, walls, outs)`` the workload's per-layer metrics, per op;
* ``TRACED_NONZERO``     per-layer metrics a traced run must find above 0.

``k`` counts warm-up and timed ops together.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
from collections import defaultdict

import numpy as np


def make_corpus(spark, cfg, tmp: str) -> tuple[str, float]:
    """Generate the seeded corpus into a fresh dir (never reused across
    runs); returns (path, seconds)."""
    from knowledge_nexus_spark.datagen import generate_documents

    path = os.path.join(tmp, "corpus")
    t0 = time.perf_counter()
    generate_documents(spark, cfg).write.parquet(path)
    return path, time.perf_counter() - t0


def set_hash(df, cols: list[str]) -> tuple[int, int]:
    """Order-independent (row count, hash sum) of a frame's rows."""
    from pyspark.sql import functions as F

    h = F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(2147483647))
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


class Ingest:
    """``pipeline.run_pipeline(with_chunks=True)`` — the CLI batch path —
    over a seeded corpus with hub docs, stale duplicates and dangling
    links, into a fresh workdir per op."""

    N_DOCS = 2000
    # per-layer metrics a traced op always moves; zero means the event log
    # or a span was not found
    TRACED_NONZERO = ("spark.jobs", "python.sent_mb", "functions.render_s")
    WARMUPS = 3  # op walls level off after the third op on a fresh JVM
    STAGES = {  # StageCheckpointer stage name -> layer span name
        "s1_documents": "operators.graphops.dedup_s",
        "s2_triples_raw": "functions.extract_s",
        "s3_nodes": "functions.render_s",
        "s4_chunks": "operators.chunking_s",
        "s6_edges": "operators.graphops.edges_s",
    }

    def __init__(self, spark, seed: int, tmp: str) -> None:
        from knowledge_nexus_spark.datagen import CorpusConfig

        self.spark, self.tmp = spark, tmp
        self.cfg = CorpusConfig(n_docs=self.N_DOCS, seed=seed)
        self.reference = None  # (workdir, output hashes) of the first op
        self.triples = 0

    def setup(self) -> dict:
        self.corpus, corpus_s = make_corpus(self.spark, self.cfg, self.tmp)
        return {"datagen.corpus_s": corpus_s, "setup.state_s": 0.0}

    def op(self, k: int):
        from knowledge_nexus_spark.pipeline import PipelineConfig, run_pipeline

        workdir = os.path.join(self.tmp, f"run{k}")
        docs = self.spark.read.parquet(self.corpus)
        ck, _nodes, _edges, _chunks = run_pipeline(
            self.spark, docs, workdir, PipelineConfig(with_chunks=True)
        )
        return workdir, ck.metrics

    def _hashes(self, workdir: str):
        read = self.spark.read.parquet
        return (
            set_hash(read(f"{workdir}/s6_edges"), ["subj", "pred", "obj", "context"]),
            set_hash(read(f"{workdir}/s4_chunks"), ["page_id", "sequence", "content", "embedding"]),
        )

    def check(self, k: int, out) -> bool:
        workdir, _metrics = out
        got = self._hashes(workdir)
        if self.reference is None:
            self.reference = (workdir, got)
            self.triples = got[0][0]
            return got[0][0] > 0 and got[1][0] > 0
        shutil.rmtree(workdir)
        return got == self.reference[1]

    def final_check(self) -> bool:
        """The first op's non-chunk edge set equals the pure-Python oracle
        on the same seeded corpus."""
        from knowledge_nexus_spark.datagen import generate_documents_local
        from knowledge_nexus_spark.oracle import run_oracle

        edges = self.spark.read.parquet(f"{self.reference[0]}/s6_edges")
        got = {
            tuple(r)
            for r in edges.filter("pred <> 'HAS_CHUNK'")
            .select("subj", "pred", "obj", "context")
            .collect()
        }
        want = {
            (s, p, o, c or "")
            for (s, p, o, c) in run_oracle(generate_documents_local(self.cfg)).edge_set
        }
        return got == want

    def trace(self, tracer) -> None:
        from knowledge_nexus_spark.storage.checkpoint import StageCheckpointer

        tracer.wrap(
            StageCheckpointer, "load_or_compute",
            lambda _self, name, *a, **kw: self.STAGES.get(name),
        )

    def layers(self, tracer, walls: list[float], outs: list) -> dict:
        n = len(walls)
        out = {m: tracer.per_op(n, m) for m in self.STAGES.values()}
        out["pipeline.self_s"] = [
            w - sum(out[m][i] for m in self.STAGES.values()) for i, w in enumerate(walls)
        ]
        for key, stage in (
            ("pipeline.triples_raw", "s2_triples_raw"),
            ("pipeline.edges", "s6_edges"),
            ("pipeline.chunks", "s4_chunks"),
        ):
            out[key] = [float(o[1][stage]["row_count"]) if o else 0.0 for o in outs]
        return out


class Retrieve:
    """``queries.retrieve`` over the committed tables of a ``run_pipeline``
    graph, read from storage on each op; each op runs one query from a
    seeded list built from the corpus vocabulary. The list holds a fixed
    mix: queries whose seeds (hop 0) include a page at most one hop from
    the hub doc, so the 2-hop expansion runs through it, and queries whose
    seeds do not. It is short enough that every query repeats within a run,
    so each repeat is checked to be identical, and each query's seeds are
    checked once against a numpy brute-force top-k over the chunk table."""

    N_DOCS = 1000
    TRACED_NONZERO = ("spark.jobs", "queries.k_hop_s")
    # driver-side JIT keeps shortening this op for ~20 ops; six warm-ups
    # take the steepest part out of the timed region
    WARMUPS = 6
    NEAR_HUB = 2  # queries whose 2-hop expansion runs through the hub
    OFF_HUB = 2  # queries whose expansion does not
    TOP_K = 5

    def __init__(self, spark, seed: int, tmp: str) -> None:
        from knowledge_nexus_spark.datagen import CorpusConfig

        self.spark, self.tmp, self.seed = spark, tmp, seed
        self.cfg = CorpusConfig(n_docs=self.N_DOCS, seed=seed)
        self.graph = os.path.join(tmp, "graph")
        self.seen: dict[str, tuple] = {}

    def setup(self) -> dict:
        from knowledge_nexus_spark.pipeline import PipelineConfig, run_pipeline

        corpus, corpus_s = make_corpus(self.spark, self.cfg, self.tmp)
        t0 = time.perf_counter()
        run_pipeline(
            self.spark, self.spark.read.parquet(corpus), self.graph,
            PipelineConfig(with_chunks=True),
        )
        state_s = time.perf_counter() - t0
        # everything below is for the checks and the query choice: untimed
        read = self.spark.read.parquet
        rows = read(f"{self.graph}/s4_chunks").select("page_id", "sequence", "embedding").collect()
        self.chunk_pages = [r["page_id"] for r in rows]
        self.chunk_vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)
        self.adjacent = defaultdict(set)
        edges = read(f"{self.graph}/s6_edges").filter("pred <> 'HAS_CHUNK'")
        for subj, obj in edges.select("subj", "obj").collect():
            self.adjacent[subj].add(obj)
            self.adjacent[obj].add(subj)
        self.triples = edges.count()
        self._choose_queries()
        return {"datagen.corpus_s": corpus_s, "setup.state_s": state_s}

    def _choose_queries(self) -> None:
        """Take 3-word queries from the seeded candidate stream until the
        list holds NEAR_HUB queries with a seed page at most one hop from
        the hub and OFF_HUB queries without one; record each query's
        brute-force seeds and the size of its 2-hop expansion."""
        from knowledge_nexus_spark.datagen import WORDS, doc_uuid

        hub = next(n for n in self.adjacent if n.replace("-", "") == doc_uuid(0))
        near_hub = self.adjacent[hub] | {hub}
        rng = random.Random(self.seed)
        want = {True: self.NEAR_HUB, False: self.OFF_HUB}
        self.queries, self.seeds, self.visited = [], {}, {}
        for tried in range(1, 10_001):
            query = " ".join(rng.sample(WORDS, 3))
            if query in self.seeds:
                continue
            seeds = self._brute_force_seeds(query)
            if seeds is None or not want[bool(seeds & near_hub)]:
                continue
            want[bool(seeds & near_hub)] -= 1
            self.queries.append(query)
            self.seeds[query] = seeds
            self.visited[query] = len(self._two_hops(seeds))
            if not any(want.values()):
                print(f"retrieve: {tried} candidate queries for {self.queries}, 2-hop "
                      f"sizes {[self.visited[q] for q in self.queries]}", file=sys.stderr)
                return
        raise RuntimeError(f"query mix not found in the candidate stream: {want}")

    def _two_hops(self, seeds: set[str]) -> set[str]:
        """Nodes within two undirected hops of the seeds (what k_hop returns)."""
        visited, frontier = set(seeds), set(seeds)
        for _ in range(2):
            frontier = {b for a in frontier for b in self.adjacent[a]} - visited
            visited |= frontier
        return visited

    def op(self, k: int):
        from knowledge_nexus_spark.queries import retrieve

        read = self.spark.read.parquet
        query = self.queries[k % len(self.queries)]
        res = retrieve(
            read(f"{self.graph}/s3_nodes"), read(f"{self.graph}/s6_edges"),
            read(f"{self.graph}/s4_chunks"), query, top_k=self.TOP_K,
        )
        return query, tuple(map(tuple, res["nodes"].collect())), tuple(
            sorted(map(tuple, res["edges"].collect()))
        )

    def _brute_force_seeds(self, query: str) -> set[str] | None:
        """Pages of the top-k chunks by cosine; None when the k-th and
        (k+1)-th scores tie within float rounding (either answer is right)."""
        from knowledge_nexus_spark.functions.embed import embed_text_py

        q = np.asarray(embed_text_py(query, self.chunk_vecs.shape[1]), dtype=np.float64)
        denom = np.linalg.norm(self.chunk_vecs, axis=1) * np.linalg.norm(q)
        scores = np.where(denom > 0, self.chunk_vecs @ q / np.where(denom > 0, denom, 1), 0.0)
        order = np.argsort(-scores, kind="stable")[: self.TOP_K + 1]
        if len(order) > self.TOP_K and abs(
            scores[order[self.TOP_K - 1]] - scores[order[self.TOP_K]]
        ) < 1e-9:
            return None
        return {self.chunk_pages[j] for j in order[: self.TOP_K]}

    def check(self, k: int, out) -> bool:
        query, nodes, edges = out
        if query in self.seen:
            return self.seen[query] == (nodes, edges)
        self.seen[query] = (nodes, edges)
        return {row[0] for row in nodes if row[4] == 0} == self.seeds[query]

    def final_check(self) -> bool:
        return True  # every op is checked in check()

    def trace(self, tracer) -> None:
        from knowledge_nexus_spark import queries

        tracer.wrap(queries, "k_hop", lambda *a, **kw: "queries.k_hop_s")

    def layers(self, tracer, walls: list[float], outs: list) -> dict:
        k_hop = tracer.per_op(len(walls), "queries.k_hop_s")
        return {
            "queries.k_hop_s": k_hop,
            "queries.self_s": [w - h for w, h in zip(walls, k_hop)],
            "queries.visited_nodes": [float(self.visited[o[0]]) if o else 0.0 for o in outs],
            "queries.result_nodes": [float(len(o[1])) if o else 0.0 for o in outs],
            "queries.result_edges": [float(len(o[2])) if o else 0.0 for o in outs],
        }


WORKLOADS = {"ingest": Ingest, "retrieve": Retrieve}
