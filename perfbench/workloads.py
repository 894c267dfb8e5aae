"""The three workloads: seeded inputs, references and one pass of calls
into ``alp_spark``'s public API.

A workload is built once per run (``prepare``: inputs and reference
answers, outside every timed span) and then yields a fresh list of
operations for every pass. Each operation returns its answer already
collected to the driver, so its span is time to a result the checker
can read.
"""

from __future__ import annotations

import glob
import os
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow.parquet as pq

import gen
import reference as ref

#: vertices, edges and algorithm parameters per workload (see README.md)
LATENCY = {"n": 2_000, "m": 32_000, "trail": 0, "pr_iters": 2, "lp_seeds": 200,
           "lp_max_iterations": 2, "hits_iters": 2}
BULK = {"n": 6_000, "m": 96_000, "trail": 8, "pr_iters": 2, "csr_iters": 4,
        "csr_checkpoint_every": 2, "spmv_calls": 1}
INGEST = {"pages": 10_000, "out_links": 16, "minhash_docs": 400, "minhash_hashes": 8}


@dataclass
class Op:
    """One call into a layer. ``run`` returns (answer, supersteps);
    ``check`` returns (ok, reason)."""

    layer: str
    name: str
    run: Callable[[], tuple[object, int]]
    check: Callable[[object], tuple[bool, str]]
    edges_per_superstep: int = 0


@dataclass
class Workload:
    name: str
    work: str  # working directory inside the checkout
    n: int = 0  # vertices (pages) touched per superstep
    facts: dict = field(default_factory=dict)  # sizes reported with the run

    def prepare(self, seed: int) -> None:
        raise NotImplementedError

    def ops(self, spark, ckpt) -> list[Op]:
        raise NotImplementedError

    def after_pass(self, spark) -> None:
        """Drop what a pass wrote to disk (checkpoints, tables)."""

    def pages_per_pass(self, supersteps: float) -> float:
        """Pages (vertices) processed in one pass: every superstep of a
        graph algorithm updates all ``n`` vertices."""
        return supersteps * self.n

    @property
    def warehouse(self) -> str:
        return os.path.join(self.work, "warehouse")


def _ranks(df, n: int) -> np.ndarray:
    """(id, val) frame -> dense float vector (absent ids are 0)."""
    pdf = df.toPandas()
    out = np.zeros(n)
    out[pdf.iloc[:, 0].to_numpy(dtype=np.int64)] = pdf.iloc[:, 1].to_numpy(dtype=np.float64)
    return out


def _labels(df, n: int, col: str) -> np.ndarray:
    pdf = df.select("id", col).toPandas()
    out = np.full(n, -1, dtype=np.int64)
    out[pdf["id"].to_numpy(dtype=np.int64)] = pdf[col].to_numpy(dtype=np.int64)
    return out


def _check_vector(x, want, iters=None, want_iters=None, atol=1e-9):
    if iters != want_iters:
        return False, f"{iters} iterations, reference {want_iters}"
    if not ref.close(x, want, atol):
        return False, f"max |diff| {float(np.max(np.abs(x - want))):.3g} > {atol}"
    return True, ""


class GraphWorkload(Workload):
    """Shared input handling of the two graph workloads: the benchmark
    writes its edge tables once, and every call reads them afresh, so no
    cached input is shared between calls or passes."""

    sizes: dict = {}

    def prepare(self, seed: int) -> None:
        s = self.sizes
        self.g = gen.graph(seed, s["n"], s["m"], s["trail"])
        self.n = s["n"]
        self.paths = {
            "edges": os.path.join(self.work, "edges.parquet"),
            "sym": os.path.join(self.work, "sym.parquet"),
        }
        gen.write_edges(self.paths["edges"], self.g.edges)
        gen.write_edges(self.paths["sym"], self.g.sym)
        self.facts = {"vertices": self.n, "edges": len(self.g.edges),
                      "sym_edges": len(self.g.sym)}

    def read(self, spark, name: str):
        return spark.read.parquet(self.paths[name])

    def pagerank_op(self, spark) -> Op:
        from alp_spark.algorithms import simple_pagerank

        s, n = self.sizes, self.n

        def run():
            r = simple_pagerank(spark, self.read(spark, "edges"), n,
                                conv=0.0, max_iter=s["pr_iters"])
            return (_ranks(r.ranks, n), r.iterations), r.iterations

        want, want_it = self.ref["pagerank"]
        return Op("algorithms", "pagerank", run,
                  lambda a: _check_vector(a[0], want, a[1], want_it),
                  len(self.g.edges))


class GraphLatency(GraphWorkload):
    sizes = LATENCY

    def prepare(self, seed: int) -> None:
        super().prepare(seed)
        s, g = self.sizes, self.g
        y = gen.seed_labels(seed, g.n)
        self.paths["weighted"] = os.path.join(self.work, "weighted.parquet")
        self.paths["y"] = os.path.join(self.work, "y.parquet")
        gen.write_edges(self.paths["weighted"], g.sym, val=1.0)
        gen.write_vector(self.paths["y"], y)
        self.ref = {
            "pagerank": ref.pagerank(g.edges, g.n, 0.85, 0.0, s["pr_iters"]),
            "cc": ref.components(g.sym, g.n),
            "label_prop": ref.label_propagation(g.sym, g.n, y, s["lp_seeds"],
                                                s["lp_max_iterations"]),
            "hits": ref.hits(g.edges, g.n, s["hits_iters"]),
        }

    def ops(self, spark, ckpt) -> list[Op]:
        from alp_spark.algorithms import connected_components, hits, label_propagation

        s, n, m, ms = self.sizes, self.n, len(self.g.edges), len(self.g.sym)

        def cc():
            r = connected_components(spark, self.read(spark, "sym"), n)
            return _labels(r.state, n, "state"), r.rounds

        def lp():
            r = label_propagation(spark, self.read(spark, "weighted"), self.read(spark, "y"),
                                  n, s["lp_seeds"], max_iterations=s["lp_max_iterations"])
            steps = r.iterations if r.converged else r.iterations - 1
            return (_ranks(r.labels, n), r.iterations), steps

        def hi():
            r = hits(spark, self.read(spark, "edges"), n, iters=s["hits_iters"])
            return (_ranks(r.auth, n), _ranks(r.hubs, n)), r.rounds

        lp_want, lp_it = self.ref["label_prop"]
        auth, hubs = self.ref["hits"]
        return [
            self.pagerank_op(spark),
            Op("pregel", "cc", cc,
               lambda a: (ref.same_partition(a, self.ref["cc"]), "partition differs"), ms),
            Op("algorithms", "label_prop", lp,
               lambda a: _check_vector(a[0], lp_want, a[1], lp_it, atol=0.0), ms),
            Op("algorithms", "hits", hi,
               lambda a: _check_vector(np.concatenate(a), np.concatenate([auth, hubs])),
               2 * m),
        ]


class GraphBulk(GraphWorkload):
    sizes = BULK

    def prepare(self, seed: int) -> None:
        super().prepare(seed)
        s, g = self.sizes, self.g
        self.x = np.random.default_rng([seed, 5]).random(g.n)
        self.ref = {
            "pagerank": ref.pagerank(g.edges, g.n, 0.85, 0.0, s["pr_iters"]),
            "pagerank_csr": ref.pagerank(g.edges, g.n, 0.85, 0.0, s["csr_iters"]),
            "fastsv": ref.components(g.sym, g.n),
            "triangles": ref.triangles(g.sym),
            "spmv": np.bincount(g.edges[:, 1], weights=self.x[g.edges[:, 0]], minlength=g.n),
        }
        self.csr = None

    def ops(self, spark, ckpt) -> list[Op]:
        from alp_spark.algorithms import fastsv_components, simple_pagerank_csr, triangle_count
        from alp_spark.plans.csr_blocks import build_csr_blocks, spmv_dense

        s, n, m, ms = self.sizes, self.n, len(self.g.edges), len(self.g.sym)

        def pr_csr():
            r = simple_pagerank_csr(spark, self.read(spark, "edges"), n, conv=0.0,
                                    max_iter=s["csr_iters"], checkpointer=ckpt(),
                                    checkpoint_every=s["csr_checkpoint_every"])
            return (_ranks(r.ranks, n), r.iterations), r.iterations

        def fastsv():
            r = fastsv_components(spark, self.read(spark, "sym"), n)
            return _labels(r.labels, n, "label"), r.rounds

        def tri():
            return triangle_count(self.read(spark, "sym")).total, 1

        def csr_build():
            self.csr = build_csr_blocks(spark, self.read(spark, "edges"), n)
            return self.csr.n_edges, 0

        def spmv():
            ys = [spmv_dense(spark, self.csr, self.x, combine="plus")
                  for _ in range(s["spmv_calls"])]
            return ys, len(ys)

        want_csr, want_csr_it = self.ref["pagerank_csr"]
        return [
            self.pagerank_op(spark),
            Op("algorithms", "pagerank_csr", pr_csr,
               lambda a: _check_vector(a[0], want_csr, a[1], want_csr_it), m),
            Op("algorithms", "fastsv", fastsv,
               lambda a: (ref.same_partition(a, self.ref["fastsv"]), "partition differs"), ms),
            Op("algorithms", "triangles", tri,
               lambda a: (a == self.ref["triangles"],
                          f"{a} triangles, reference {self.ref['triangles']}"), ms),
            Op("plans", "csr_build", csr_build,
               lambda a: (a == m, f"{a} packed edges, want {m}")),
            Op("plans", "spmv", spmv,
               lambda ys: (all(ref.close(y, self.ref["spmv"], 1e-9) for y in ys),
                           "SpMV differs from reference"), m),
        ]

    def after_pass(self, spark) -> None:
        if self.csr is not None:
            self.csr.unpersist()
            self.csr = None


class CrawlIngest(Workload):
    sizes = INGEST
    table = "perfbench_edges"

    def prepare(self, seed: int) -> None:
        s = self.sizes
        self.p = gen.pages(seed, s["pages"], os.path.join(self.work, "pages.parquet"),
                           s["out_links"])
        self.n = self.p.n
        texts = [self.p.text[gen.page_url(i)] for i in range(self.p.n)]
        ids = np.arange(self.p.n, dtype=np.int64)
        self.ref = {
            "dedup": ref.exact_dedup(ids, texts),
            "minhash": ref.minhash(texts[: s["minhash_docs"]], s["minhash_hashes"]),
        }
        self.facts = {"pages": self.p.n, "anchors": self.p.n_links,
                      "edges": len(self.p.edges),
                      "dup_groups": sum(1 for _, c in self.ref["dedup"].values() if c > 1)}

    def ops(self, spark, ckpt) -> list[Op]:
        from pyspark.sql import functions as F

        from alp_spark.pipeline import exact_dedup, minhash_signatures
        from alp_spark.sources import build_edge_table, extract_text_udf, write_bucketed

        st: dict = {}

        def read():
            st["pages"] = spark.read.parquet(self.p.path).persist()
            return st["pages"].count(), 1

        def extract():
            st["text"] = st["pages"].select(
                "url", extract_text_udf(F.col("html")).alias("text")).persist()
            pdf = st["text"].toPandas()
            return dict(zip(pdf["url"], pdf["text"])), 1

        def edge_table():
            edges, _ = build_edge_table(st["pages"])  # its persisted id map goes at reset
            st["edges"] = edges.persist()
            pdf = st["edges"].toPandas()
            return set(zip(pdf["src"].tolist(), pdf["dst"].tolist())), 1

        def write():
            write_bucketed(st["edges"], self.table, n_buckets=4)
            files = glob.glob(os.path.join(self.warehouse, self.table, "*.parquet"))
            return sum(pq.ParquetFile(f).metadata.num_rows for f in files), 1

        def docs():
            return st["text"].select(
                F.regexp_extract("url", r"/(\d+)\.html$", 1).cast("long").alias("doc_id"),
                "text")

        def dedup():
            pdf = exact_dedup(docs()).toPandas()
            return {h: (int(k), int(c)) for h, k, c in
                    zip(pdf["text_hash"], pdf["keep_id"], pdf["n_dupes"])}, 1

        def minhash():
            sample = docs().where(F.col("doc_id") < self.sizes["minhash_docs"])
            pdf = minhash_signatures(sample, num_hashes=self.sizes["minhash_hashes"]).toPandas()
            pdf = pdf.sort_values("doc_id")
            return (pdf["doc_id"].to_numpy(),
                    pdf[[f"sig{j}" for j in range(self.sizes["minhash_hashes"])]].to_numpy()), 1

        n, golden = self.p.n, self.p
        e = len(golden.edges)
        return [
            Op("sources", "read", read, lambda a: (a == n, f"{a} pages, want {n}")),
            Op("sources", "extract_text", extract,
               lambda a: (a == golden.text, "extracted text differs from golden text")),
            Op("sources", "edge_table", edge_table,
               lambda a: (a == golden.edges, f"{len(a)} edges, golden {e}"), e),
            Op("sources", "write", write, lambda a: (a == e, f"{a} rows written, want {e}")),
            Op("pipeline", "exact_dedup", dedup,
               lambda a: (a == self.ref["dedup"], "dedup groups differ")),
            Op("pipeline", "minhash", minhash,
               lambda a: (np.array_equal(a[0], np.arange(self.sizes["minhash_docs"]))
                          and np.array_equal(a[1], self.ref["minhash"]),
                          "signatures differ")),
        ]

    def after_pass(self, spark) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {self.table}")

    def pages_per_pass(self, supersteps: float) -> float:
        return self.n


WORKLOADS = {"crawl-ingest": CrawlIngest, "graph-bulk": GraphBulk, "graph-latency": GraphLatency}


def build(name: str, work: str, seed: int) -> tuple[Workload, float]:
    """Instantiate and prepare a workload; returns it with the seconds
    spent generating inputs and reference answers."""
    t0 = time.perf_counter()
    wl = WORKLOADS[name](name=name, work=work)
    wl.prepare(seed)
    return wl, time.perf_counter() - t0
