"""The retrieval agent's tool mix as one closed-loop client over a
committed graph, and an independent pyarrow/pandas recomputation of
every call's result from the committed parquet."""

from __future__ import annotations

import math
import os
import random
import sys
import time
from typing import Callable, NamedTuple

import numpy as np
import pyarrow.parquet as pq

from legal_knowledge_graph_spark.functions.parse import reshape_toc_json
from legal_knowledge_graph_spark.operators import query as Q
from legal_knowledge_graph_spark.operators.summarize import embed_texts_np

TOOLS = [
    "search_corpus",
    "corpus_toc",
    "search_children_l1",
    "search_children_l2",
    "search_neighbors",
    "resolve_response",
    "lookup_by_id",
]


def _text(summary, content) -> str:
    # summary_else_content; Spark's trim strips ASCII spaces only
    summary = summary if isinstance(summary, str) else ""
    content = content if isinstance(content, str) else ""
    return summary if summary.strip(" ") else content


def _score(vec, qv: list[float]) -> float:
    """The cosine of operators.query.cosine, folded left to right in
    the same types: float*double products, float*float squares."""
    dot = 0.0
    for x, y in zip(vec, qv):
        dot += float(x) * y
    na = 0.0
    for x in vec:
        na += float(np.float32(x) * np.float32(x))
    nq = 0.0
    for y in qv:
        nq += y * y
    den = math.sqrt(na) * math.sqrt(nq)
    return dot / (1.0 if den == 0 else den)


class Reference:
    """The committed nodes/edges/pages parquet, read with pyarrow."""

    def __init__(self, graph_dir: str, pages_path: str):
        self.nodes = pq.read_table(os.path.join(graph_dir, "nodes")).to_pandas()
        self.edges = pq.read_table(
            os.path.join(graph_dir, "edges"), columns=["src_id", "dst_id", "type"]
        ).to_pandas()
        pages = pq.read_table(pages_path, columns=["url", "text"]).to_pandas()
        self.page_text = dict(zip(pages["url"], pages["text"]))
        self.by_id = self.nodes.set_index("node_id", drop=False)

    def children(self, parent: int) -> list[int]:
        e = self.edges
        return sorted(e.loc[(e["type"] == "CHILD") & (e["src_id"] == parent), "dst_id"])

    def search_corpus(self):
        c = self.nodes[self.nodes["label"] == "Corpus"].sort_values("name")
        return list(zip(c["node_id"], c["name"]))

    def corpus_toc(self, cid: int):
        c = self.nodes[(self.nodes["label"] == "Corpus") & (self.nodes["node_id"] == cid)]
        return [(i, reshape_toc_json(t)) for i, t in zip(c["node_id"], c["toc_json"])]

    def search_children(self, parent: int, qv: list[float], k: int = Q.DEFAULT_TOP_K):
        rows = []
        for nid in self.children(parent):
            r = self.by_id.loc[nid]
            if r["vector"] is None:
                continue
            s = _score(r["vector"], qv)
            if s > Q.DEFAULT_THRESHOLD:
                rows.append((-s, nid, r["name"], _text(r["summary"], r["content"]), s))
        rows.sort(key=lambda x: (x[0], x[1]))
        return [(nid, name, text, s) for _, nid, name, text, s in rows[:k]]

    def search_neighbors(self, cid: int):
        e = self.edges[self.edges["type"] == "NEXT"]
        ids = set(e.loc[e["src_id"] == cid, "dst_id"]) | set(e.loc[e["dst_id"] == cid, "src_id"])
        return sorted(
            (i, self.by_id.loc[i, "name"], _text(self.by_id.loc[i, "summary"], self.by_id.loc[i, "content"]))
            for i in ids
        )

    def resolve_response(self, ids: list[int]):
        out = []
        for i in ids:
            r = self.by_id.loc[i]
            text = self.page_text.get(r["url"])
            if text is None or not isinstance(r["content"], str):
                continue
            loc = text.find(r["content"])
            if loc >= 0:
                out.append((i, r["name"], r["url"], loc, loc + len(r["content"]), r["content"]))
        return sorted(out)

    def lookup_by_id(self, ids: list[int]):
        return sorted((i, self.by_id.loc[i, "label"], self.by_id.loc[i, "name"]) for i in ids)


class Call(NamedTuple):
    tool: str
    query: Callable  # (nodes, edges, pages) -> DataFrame
    cols: tuple  # result columns compared, in this order
    ordered: bool  # the tool's row order is part of its result
    want: Callable  # () -> the recomputed rows


def _same(tool: str, got: list, want: list) -> bool:
    if not tool.startswith("search_children"):
        return got == want
    return len(got) == len(want) and all(
        g[:3] == w[:3] and abs(g[3] - w[3]) <= 1e-9 for g, w in zip(got, want)
    )


def plan_calls(ref: Reference, seed: int, rounds: int) -> list[Call]:
    """A seeded sequence of agent sessions, one round of the tool mix
    each: list corpora, read one corpus's TOC, descend two CHILD levels
    with query vectors embedded from chunk text in the graph, expand the
    chosen section's NEXT neighbours, then resolve and look up what was
    found."""
    rng = random.Random(f"querymix:{seed}")
    corpora = [cid for cid, _ in ref.search_corpus()]

    def qvec(nid: int) -> list[float]:
        r = ref.by_id.loc[nid]
        return [float(x) for x in embed_texts_np([_text(r["summary"], r["content"])])[0]]

    def session(cid: int, art: int, sec: int) -> list[Call]:
        qa, qs = qvec(art), qvec(sec)
        kids = ("node_id", "name", "text", "score")
        return [
            Call("search_corpus", lambda n, e, p: Q.search_corpus(n),
                 ("contract_id", "contract_name"), True, ref.search_corpus),
            Call("corpus_toc", lambda n, e, p: Q.reshape_toc(Q.get_corpus_toc(n, cid)),
                 ("node_id", "components_json"), True, lambda: ref.corpus_toc(cid)),
            Call("search_children_l1", lambda n, e, p: Q.search_children(n, e, cid, qa),
                 kids, True, lambda: ref.search_children(cid, qa)),
            Call("search_children_l2", lambda n, e, p: Q.search_children(n, e, art, qs),
                 kids, True, lambda: ref.search_children(art, qs)),
            Call("search_neighbors", lambda n, e, p: Q.search_neighbors(n, e, sec),
                 ("node_id", "name", "text"), False, lambda: ref.search_neighbors(sec)),
            Call("resolve_response", lambda n, e, p: Q.resolve_response(n, p, [art, sec]),
                 ("node_id", "name", "file_path", "span_start", "span_end", "content"), False,
                 lambda: ref.resolve_response([art, sec])),
            Call("lookup_by_id", lambda n, e, p: Q.lookup_by_id(n, [cid, art, sec]),
                 ("node_id", "label", "name"), False, lambda: ref.lookup_by_id([cid, art, sec])),
        ]

    calls = []
    for _ in range(rounds):
        cid = corpora[rng.randrange(len(corpora))]
        arts = ref.children(cid)
        art = arts[rng.randrange(len(arts))]
        secs = ref.children(art)
        calls += session(cid, art, secs[rng.randrange(len(secs))])
    return calls


def run_client(spark, graph_dir: str, pages_path: str, seed: int, seconds: float, group):
    """Issue the planned calls back to back, whole rounds of the tool
    mix, until ``seconds`` have passed; then check every result.

    Returns (calls, failures): calls is a list of
    (tool, wall_ms, job_group) and failures the number of calls that
    raised or whose result differed from the recomputation.
    ``group(name)`` gives a context manager that tags a call's jobs."""
    ref = Reference(graph_dir, pages_path)
    nodes = spark.read.parquet(os.path.join(graph_dir, "nodes"))
    edges = spark.read.parquet(os.path.join(graph_dir, "edges"))
    pages = spark.read.parquet(pages_path)
    plan = plan_calls(ref, seed, rounds=16)
    calls, results = [], []
    start = time.perf_counter()
    for i, call in enumerate(plan):
        if i % len(TOOLS) == 0 and i and time.perf_counter() - start >= seconds:
            break
        name = f"query.{call.tool}.{i}"
        t = time.perf_counter()
        try:
            with group(name):
                rows = call.query(nodes, edges, pages).collect()
        except Exception as exc:  # a failed call is counted, not fatal
            print(f"query call {name} failed: {exc!r}", file=sys.stderr, flush=True)
            rows = None
        calls.append((call.tool, (time.perf_counter() - t) * 1000.0, name))
        results.append((call, rows))
    failures = 0
    for call, rows in results:
        if rows is None:
            failures += 1
            continue
        got = [tuple(r[c] for c in call.cols) for r in rows]
        want = call.want()
        if not want or not _same(call.tool, got if call.ordered else sorted(got), want):
            print(f"query check {call.tool} failed: got {got[:3]} want {want[:3]}", file=sys.stderr, flush=True)
            failures += 1
    return calls, failures


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]

