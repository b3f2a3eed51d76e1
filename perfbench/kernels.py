"""The pipeline's Python kernels timed on local batches of datagen
pages, with no SparkSession: alignment, embedding, summarization and
the Arrow -> pandas conversion every pandas-UDF batch pays."""

from __future__ import annotations

import re
import statistics
import time

import pyarrow as pa

from legal_knowledge_graph_spark.datagen import page_record
from legal_knowledge_graph_spark.operators.align import align_many
from legal_knowledge_graph_spark.operators.chunker import BOUNDARY_TOKENS
from legal_knowledge_graph_spark.operators.summarize import embed_texts_np, summarize_text

_TOKEN_RE = re.compile(r"\S+")


def _boundaries(seg: str) -> tuple[str, str]:
    toks = [(m.start(), m.end()) for m in _TOKEN_RE.finditer(seg)]
    head, tail = toks[:BOUNDARY_TOKENS], toks[-BOUNDARY_TOKENS:]
    return seg[head[0][0] : head[-1][1]], seg[tail[0][0] : tail[-1][1]]


def _us_per_unit(fn, units: int, min_s: float = 0.3) -> float:
    """Median microseconds per unit over repeats of ``fn`` lasting at
    least ``min_s`` in total (and at least three repeats)."""
    samples = []
    start = time.perf_counter()
    while len(samples) < 3 or time.perf_counter() - start < min_s:
        t = time.perf_counter()
        fn()
        samples.append((time.perf_counter() - t) * 1e6 / units)
    return statistics.median(samples)


def kernel_metrics(seed: int, n_pages: int) -> tuple[dict, bool]:
    """Returns (metrics, aligned_ok): aligned_ok is whether align_many
    recovered every planted section span."""
    recs = [page_record(i, seed) for i in range(n_pages)]
    docs, texts = [], []
    for r in recs:
        body = r["text"][r["body_start"] :]
        spans = [(s, e) for _, _, depth, _, s, e in r["chunks"] if depth == 2]
        docs.append((body, [_boundaries(body[s:e]) for s, e in spans], spans))
        texts += [body[s:e] for s, e in spans]
    aligned_ok = all(align_many(body, sents) == spans for body, sents, spans in docs)
    table = pa.table(
        {
            "url": [r["url"] for r in recs],
            "html": [r["html"] for r in recs],
            "text": [r["text"] for r in recs],
            "lang": [r["lang"] for r in recs],
        }
    )
    metrics = {
        "kernel.align.us_per_doc": _us_per_unit(
            lambda: [align_many(body, sents) for body, sents, _ in docs], len(docs)
        ),
        "kernel.embed.us_per_text": _us_per_unit(lambda: embed_texts_np(texts), len(texts)),
        "kernel.summarize.us_per_text": _us_per_unit(
            lambda: [summarize_text(t) for t in texts], len(texts)
        ),
        "kernel.arrow_to_pandas.us_per_row": _us_per_unit(table.to_pandas, table.num_rows),
    }
    return metrics, aligned_ok
