"""The benchmark's workloads: inputs, one pass, and the independent
answer each pass is checked against.

A pass is what one client asks of the engine: it calls the program's
public functions on the generated files and brings the result back.
Each pass is a list of `Call`s so that the traced run can time every
public call on its own; the untraced run executes the same calls back
to back.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import gen

# Input sizes. "full" is what the benchmark measures; "tiny" is for the
# self-test and the first warm-up pass. Sizes keep one run (JVM start,
# inputs, warm-up, the measured window and the check) near a minute on
# 4 cores, since a comparison takes dozens of runs. Most of a pass is
# per-job and per-plan cost, which larger inputs would not shrink.
SIZES = {
    "full": {
        "chi2_topterms": dict(n_docs=20_000, vocab=50_000),
        "graph_fixpoint": dict(n_nodes=4_000, mean_degree=4.0, n_chains=8, chain_len=50),
        "curate_corpus": dict(n_docs=6_000, vocab=20_000, cluster_frac=0.2),
    },
    "tiny": {
        "chi2_topterms": dict(n_docs=600, vocab=500),
        "graph_fixpoint": dict(n_nodes=200, mean_degree=3.0, n_chains=2, chain_len=20),
        "curate_corpus": dict(n_docs=300, vocab=2_000, cluster_frac=0.2),
    },
}


@dataclass
class Call:
    """One public call of a pass. `build` returns the DataFrame the
    program hands back (the driver-side build happens inside it), and
    `collect`, when set, turns it into the Python value the client
    keeps. A sink call instead writes the DataFrame of call `sink_of`
    to `out_path`."""

    name: str
    build: Callable[[], Any]
    collect: Callable[[Any], Any] | None = None
    sink_of: str | None = None
    out_path: str | None = None


def digest(value: Any) -> str:
    """Fingerprint of a pass output; the collectors sort rows wherever
    row order is not part of the program's contract."""
    return hashlib.sha256(repr(value).encode()).hexdigest()


class Workload:
    name: str
    input_tables: tuple[str, ...]

    def __init__(self, spark, root: str, seed: int, scale: str, n_files: int):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.size = SIZES[scale][self.name]
        self.n_files = n_files
        self.rows = 0

    def generate(self) -> None:
        raise NotImplementedError

    def scan(self, table: str):
        raise NotImplementedError

    def calls(self) -> list[Call]:
        raise NotImplementedError

    def output(self, results: list[Any]) -> Any:
        """The pass output the check compares, from the calls' results."""
        raise NotImplementedError

    def expected(self) -> Any:
        raise NotImplementedError

    def run_pass(self) -> Any:
        results = []
        for call in self.calls():
            df = call.build()
            results.append(call.collect(df) if call.collect else None)
        return self.output(results)


class Chi2TopTerms(Workload):
    """The paper's computation: top-75 χ² terms per category plus the
    merged dictionary line, over a Zipfian review corpus."""

    name = "chi2_topterms"
    input_tables = ("documents",)

    def generate(self):
        self.rows = gen.review_corpus(self.root, self.seed, n_files=self.n_files, **self.size)

    def scan(self, table):
        from mapreduce_chisquare_spark.sources.readers import scan_parquet

        return scan_parquet(self.spark, self.root, table)

    def calls(self):
        from mapreduce_chisquare_spark.plans.chisquare import chi_square_report
        from mapreduce_chisquare_spark.sources.readers import reviews_from_documents

        return [
            Call(
                "chi_square_report",
                lambda: chi_square_report(reviews_from_documents(self.scan("documents"))),
                lambda df: [r.line for r in df.collect()],
            )
        ]

    def output(self, results):
        return results[0]

    def expected(self):
        from mapreduce_chisquare_spark.plans.registry_text import (
            SQL_FORMAT_REPORT,
            SQL_MERGED_DICT,
        )

        con = _duckdb(self.root, "documents")
        lines = [r[0] for r in con.execute(SQL_FORMAT_REPORT).fetchall()]
        lines += [r[0] for r in con.execute(SQL_MERGED_DICT).fetchall()]
        con.close()
        return lines


class GraphFixpoint(Workload):
    """Fixed-point graph analytics: integer PageRank and large-star /
    small-star connected components over a power-law link graph."""

    name = "graph_fixpoint"
    input_tables = ("edges",)

    def generate(self):
        self.rows = gen.power_law_graph(self.root, self.seed, n_files=self.n_files, **self.size)

    def scan(self, table):
        return self.spark.read.schema("src BIGINT, dst BIGINT").parquet(f"{self.root}/{table}.parquet")

    def calls(self):
        from mapreduce_chisquare_spark.operators.graph import (
            connected_components_star,
            pagerank,
        )

        return [
            Call(
                "pagerank",
                lambda: pagerank(self.scan("edges")),
                lambda df: sorted((r.node, r.rank_fp) for r in df.collect()),
            ),
            Call(
                "connected_components_star",
                lambda: connected_components_star(self.scan("edges")),
                lambda df: sorted((r.node, r.component_id) for r in df.collect()),
            ),
        ]

    def output(self, results):
        return results

    def expected(self):
        import pyarrow.parquet as pq

        t = pq.read_table(f"{self.root}/edges.parquet")
        edges = list(zip(t["src"].to_pylist(), t["dst"].to_pylist()))
        return [reference_pagerank(edges), reference_components(edges)]


class CurateCorpus(Workload):
    """Corpus curation: MinHash near-duplicate removal written back as
    parquet, then exact dedup of canonicalized page URLs."""

    name = "curate_corpus"
    input_tables = ("documents", "pages")

    def generate(self):
        self.rows, self.url_groups = gen.curation_corpus(
            self.root, self.seed, n_files=self.n_files, **self.size
        )

    def scan(self, table):
        if table == "documents":
            from mapreduce_chisquare_spark.sources.readers import scan_parquet

            return scan_parquet(self.spark, self.root, table)
        return self.spark.read.schema("doc_id BIGINT, url STRING").parquet(f"{self.root}/{table}.parquet")

    def calls(self):
        from mapreduce_chisquare_spark.operators.curation import dedup_url_groups
        from mapreduce_chisquare_spark.operators.dedup import dedup_corpus
        from mapreduce_chisquare_spark.sources.sinks import write_parquet

        survivors_path = f"{self.root}/out/survivors.parquet"
        state = {}

        def build_dedup():
            state["survivors"] = dedup_corpus(self.scan("documents"))
            return state["survivors"]

        return [
            Call("dedup_corpus", build_dedup),
            Call(
                "write_parquet",
                lambda: write_parquet(state["survivors"], survivors_path),
                sink_of="dedup_corpus",
                out_path=survivors_path,
            ),
            Call(
                "dedup_url_groups",
                lambda: dedup_url_groups(self.scan("pages")),
                lambda df: sorted((r.canon_url, r.n_dups, r.keep_id) for r in df.collect()),
            ),
        ]

    def output(self, results):
        import pyarrow.parquet as pq

        kept = pq.read_table(f"{self.root}/out/survivors.parquet", columns=["doc_id"])
        return [sorted(kept["doc_id"].to_pylist()), results[2]]

    def expected(self):
        import pyarrow.parquet as pq

        t = pq.read_table(f"{self.root}/documents.parquet", columns=["doc_id", "text"])
        docs = list(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
        return [reference_dedup(docs), sorted(self.url_groups)]

    def expected_sql(self) -> list[int]:
        """Survivors by the registry's DuckDB twin of the same pipeline.
        Its recursive closure re-derives the MinHash pairs each round,
        which takes minutes at full size, so only the self-test uses it
        (at tiny size) to certify `reference_dedup`."""
        from mapreduce_chisquare_spark.plans.ext_analytics_ext import (
            SQL_PIPELINE_DEDUP_CORPUS,
        )

        con = _duckdb(self.root, "documents")
        kept = sorted(r[0] for r in con.execute(SQL_PIPELINE_DEDUP_CORPUS).fetchall())
        con.close()
        return kept


WORKLOADS = {w.name: w for w in (Chi2TopTerms, GraphFixpoint, CurateCorpus)}


def _duckdb(root: str, *tables: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{root}/{t}.parquet/*.parquet')"
        )
    return con


def reference_pagerank(edges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Exact integer PageRank in plain Python, restating the contract
    in operators.graph.pagerank: distinct edges, r0 = SCALE div N, and
    ITERATIONS rounds of r'(v) = base + (85 * (in(v) + dang)) div 100."""
    from mapreduce_chisquare_spark.operators.graph import (
        PR_DAMP_DEN,
        PR_DAMP_NUM,
        PR_ITERATIONS,
        PR_SCALE,
    )

    e = sorted(set(edges))
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    n = len(nodes)
    outdeg: dict[int, int] = {}
    for u, _ in e:
        outdeg[u] = outdeg.get(u, 0) + 1
    base = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // (PR_DAMP_DEN * n)
    r = {v: PR_SCALE // n for v in nodes}
    for _ in range(PR_ITERATIONS):
        incoming = dict.fromkeys(nodes, 0)
        for u, v in e:
            incoming[v] += r[u] // outdeg[u]
        dang = sum(r[v] for v in nodes if v not in outdeg) // n
        r = {v: base + (PR_DAMP_NUM * (incoming[v] + dang)) // PR_DAMP_DEN for v in nodes}
    return sorted(r.items())


def reference_components(edges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Union-find components over the non-self-loop edges, each labelled
    by its smallest node; nodes seen only in self loops are absent."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        if u == v:
            continue
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        a, b = find(u), find(v)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return sorted((x, find(x)) for x in parent)


def reference_dedup(docs: list[tuple[int, str]]) -> list[int]:
    """Survivor doc_ids of operators.dedup.dedup_corpus, restated in
    Python: distinct 3-word shingles, MinHash over the md5 prefix with
    the engine's universal-hash family, banded buckets kept when they
    hold 2..MAX_BUCKET docs, union-find over the candidate pairs, and
    every component member but the smallest id dropped."""
    import re

    import numpy as np

    from mapreduce_chisquare_spark.constants import DELIM_REGEX
    from mapreduce_chisquare_spark.operators.dedup import (
        MAX_BUCKET,
        NUM_BANDS,
        NUM_HASHES,
        SHINGLE_N,
        hash_params,
    )

    delim = re.compile(DELIM_REGEX)
    owner, base = [], []
    for doc_id, text in docs:
        words = [w for w in delim.split(text.lower()) if w]
        grams = {" ".join(words[i : i + SHINGLE_N]) for i in range(len(words) - SHINGLE_N + 1)}
        for g in grams:
            owner.append(doc_id)
            base.append(int(hashlib.md5(g.encode()).hexdigest()[:8], 16))
    owner_a, base_a = np.array(owner, np.int64), np.array(base, np.int64)
    order = np.argsort(owner_a, kind="stable")
    owner_a, base_a = owner_a[order], base_a[order]
    ids, starts = np.unique(owner_a, return_index=True)
    sig = np.stack(
        [np.minimum.reduceat((a * base_a + b) % 2**31, starts) for a, b in hash_params(NUM_HASHES)],
        axis=1,
    )
    rows = NUM_HASHES // NUM_BANDS
    buckets: dict[tuple, list[int]] = {}
    for i, doc_id in enumerate(ids.tolist()):
        for band in range(NUM_BANDS):
            key = (band, *sig[i, band * rows : (band + 1) * rows].tolist())
            buckets.setdefault(key, []).append(doc_id)
    pairs = [
        (members[0], m)
        for members in buckets.values()
        if 2 <= len(members) <= MAX_BUCKET
        for m in members[1:]
    ]
    dropped = {node for node, root in reference_components(pairs) if node != root}
    return sorted(d for d, _ in docs if d not in dropped)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
