"""The benchmark's workloads. Each takes a ``Run`` (seed, seconds,
trace flag, work directory, memory sampler) and fills in its metrics
and correctness checks; every input is generated from the seed.

A run sets up (launches the JVM, starts a session, writes the input),
runs the operation once untimed (the cold, JIT-bound first call), and
times warm repeats of it for ``--seconds`` seconds, reporting the
median repeat. It then sets up ``SETUPS - 1`` more times (a new session
in the same JVM, the input written anew) and reports the median
set-up. Its traced run repeats the operation in the same JVM for
the per-layer numbers."""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

import pandas as pd

from pyspark.sql import functions as F

from legal_knowledge_graph_spark.datagen import alias_table, generate_pages, page_record, surface_forms
from legal_knowledge_graph_spark.functions.text import normalize_surface
from legal_knowledge_graph_spark.operators.cc import connected_components
from legal_knowledge_graph_spark.operators.linking import (
    DEFAULT_RATIO_THRESHOLD,
    candidate_pairs,
    link_entities,
    score_pairs,
)
from legal_knowledge_graph_spark.pipeline import STAGES, run_pipeline

import harness
import kernels
import querymix
import tracing

BUILD_PAGES = 1000
LINK_ENTITIES = 6000
LINK_WARMUP_ENTITIES = 300
MENTIONS_PER_ENTITY = 5
HEAD_SHARE = 0.20  # head-entity share of mentions, as in datagen
TABLES = ("triples", "nodes", "edges")
PR_GATE = 0.95
SETUPS = 3  # set-ups per run; setup_s is their median


class Run:
    def __init__(self, seed: int, seconds: float, trace: bool, tiny: bool):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tiny = tiny
        self.cores = harness.host_cores()
        self.work = os.path.join(harness.WORK, f"run-{os.getpid()}")
        self.events = os.path.join(self.work, "events")
        self.rss: harness.RssSampler | None = None
        self.spark = None  # the live session; run.py stops it
        self.setups: list[float] = []
        self.ops = 0
        self.checks: list[tuple[str, bool]] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.named: dict[str, tuple[float, str]] = {}
        self.t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"[{time.perf_counter() - self.t0:7.2f}s] {msg}", file=sys.stderr, flush=True)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok)))
        if not ok:
            print(f"check failed: {name} {detail}", file=sys.stderr, flush=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _restart(run: Run, spark, traced: bool):
    """Same JVM, new SparkContext; the event log on if ``traced``. The
    trace overhead compares an operation run first in an untraced
    context with the same operation run first in a traced one."""
    spark.stop()
    return harness.start_spark(run.cores, event_dir=run.events if traced else None)


def _set_up(run: Run, make_input, rep: int = 0) -> tuple:
    """One set-up: a session (the first launches the JVM, later ones
    start a new session in it) and the run's input, written by
    ``make_input(spark, rep) -> path``. Returns the session (stopped by
    run.py through ``run.spark``, also on failure) and the path."""
    t = time.perf_counter()
    if run.spark is None:
        run.spark = harness.start_spark(run.cores)
    else:
        run.spark = _restart(run, run.spark, traced=False)
    path = make_input(run.spark, rep)
    run.setups.append(time.perf_counter() - t)
    return run.spark, path


def _repeat_set_up(run: Run, make_input, count: int) -> None:
    """Set up ``count - 1`` more times once the run's work is done, and
    report the median of all ``count`` set-ups as ``setup_s``. The
    first set-up also launches the JVM and runs cold, so the median is
    that of set-ups in a JVM whose JIT has warmed up."""
    for rep in range(1, count):
        _set_up(run, make_input, rep)
    run.log("set-ups " + " ".join(f"{x:.2f}s" for x in run.setups))
    run.e2e["setup_s"] = statistics.median(run.setups)
    run.named["setup_first_s"] = (run.setups[0], "s")


def _timed(run: Run, once) -> list[float]:
    """Warm repeats ``once(i) -> seconds`` until ``run.seconds`` have
    passed (at least one); peak memory is sampled over them."""
    run.rss.reset()
    secs: list[float] = []
    start = time.perf_counter()
    while not secs or time.perf_counter() - start < run.seconds:
        secs.append(once(len(secs)))
    run.e2e["peak_rss_mb"] = run.rss.peak_mb()
    run.named["repeats"] = (len(secs), "count")
    return secs


# ---------------------------------------------------------------- build


def _golden_surface_ids(spark) -> dict[str, str]:
    """normalized surface -> golden entity id, normalized by the engine's
    own normalize_surface (as tests/test_pipeline.py does)."""
    df = spark.createDataFrame(alias_table(), ["surface", "gid"])
    return {
        r["sn"]: r["gid"]
        for r in df.select(normalize_surface(F.col("surface")).alias("sn"), "gid").distinct().collect()
    }


def _pr(got: set, want: set) -> tuple[float, float]:
    tp = len(got & want)
    return tp / max(len(got), 1), tp / max(len(want), 1)


def _quality(run: Run, spark, out: dict, n_pages: int) -> tuple[float, float]:
    """Triple and chunk precision/recall against the datagen goldens;
    returns the triple pair."""
    recs = [page_record(i, run.seed) for i in range(n_pages)]
    gmap = _golden_surface_ids(spark)
    want_t = {(r["url"], s, p, o) for r in recs for s, p, o, _, _ in r["triples"]}
    got_t = {
        (r["url"], gmap.get(r["subj"], r["subj"]), r["pred"], gmap.get(r["obj"], r["obj"]))
        for r in out["triples"].select("url", "subj", "pred", "obj").collect()
    }
    cols = ["url", "path_key", "parent_path", "depth", "sibling_order", "span_start", "span_end"]
    want_c = {(r["url"], *c) for r in recs for c in r["chunks"]}
    got_c = {tuple(r) for r in out["chunks"].select(*cols).collect()}
    tp, tr = _pr(got_t, want_t)
    cp, cr = _pr(got_c, want_c)
    run.check("triple_precision", tp >= PR_GATE, f"{tp:.4f}")
    run.check("triple_recall", tr >= PR_GATE, f"{tr:.4f}")
    run.check("chunk_precision", cp >= PR_GATE, f"{cp:.4f}")
    run.check("chunk_recall", cr >= PR_GATE, f"{cr:.4f}")
    return tp, tr


def _fresh_leg(run: Run, spark, pages, tag: str, ref_fp: dict | None, tracer_sc=None) -> dict:
    """One fresh run_pipeline; its fingerprints must match those of an
    earlier run on the same pages, if there was one."""
    wd = run.path(tag)
    run.ops += 1
    with tracing.StageTracer(tracer_sc, "fresh:") if tracer_sc else nullcontext() as tracer:
        t = time.perf_counter()
        out = run_pipeline(spark, pages, wd)
        fresh_s = time.perf_counter() - t
    run.log(f"{tag}: fresh leg {fresh_s:.2f}s")
    fp = {name: harness.fingerprint(out[name]) for name in TABLES}
    for name in TABLES if ref_fp else ():
        run.check(f"fingerprint.{name}.repeat", fp[name] == ref_fp[name], f"{fp[name]} != {ref_fp[name]}")
    return {
        "fresh_s": fresh_s,
        "n_triples": fp["triples"][1],
        "out": out,
        "fp": fp,
        "wd": wd,
        "spans": tracer.spans if tracer_sc else {},
    }


def _resume_leg(run: Run, spark, pages, leg: dict, tracer_sc) -> float:
    """Resume onto a fresh leg's workdir with the nodes and edges stages
    removed (a crash after chunks_summarized); the resumed tables must
    fingerprint like the fresh ones."""
    for stage in ("nodes", "edges"):
        shutil.rmtree(os.path.join(leg["wd"], stage))
    run.ops += 1
    with tracing.StageTracer(tracer_sc, "resume:") if tracer_sc else nullcontext():
        t = time.perf_counter()
        resumed = run_pipeline(spark, pages, leg["wd"])
        resume_s = time.perf_counter() - t
    run.log(f"resume leg {resume_s:.2f}s")
    for name in TABLES:
        got = harness.fingerprint(resumed[name])
        run.check(f"fingerprint.{name}.resume", got == leg["fp"][name], f"{got} != {leg['fp'][name]}")
    return resume_s


def build(run: Run) -> None:
    n_pages = 40 if run.tiny else BUILD_PAGES

    def make_pages(spark, rep: int) -> str:
        path = run.path(f"pages{rep}")
        generate_pages(spark, n_pages, seed=run.seed).write.parquet(path)
        return path

    spark, pages_path = _set_up(run, make_pages)
    pages = spark.read.parquet(pages_path)
    first = _fresh_leg(run, spark, pages, "first", None)
    run.named["cold_op_s"] = (first["fresh_s"], "s")

    if not run.trace:
        legs = []

        def once(i: int) -> float:
            legs.append(_fresh_leg(run, spark, pages, f"warm{i}", first["fp"]))
            return legs[-1]["fresh_s"]

        secs = _timed(run, once)
        run.e2e["items_per_s"] = first["n_triples"] / statistics.median(secs)
        run.e2e["precision"], run.e2e["recall"] = _quality(run, spark, legs[-1]["out"], n_pages)
        run.named.update(
            {
                "triples_per_s": (run.e2e["items_per_s"], "1/s"),
                "triple_precision": (run.e2e["precision"], "ratio"),
                "triple_recall": (run.e2e["recall"], "ratio"),
                "triples": (first["n_triples"], "count"),
            }
        )
        _repeat_set_up(run, make_pages, SETUPS)
        return

    spark = run.spark = _restart(run, spark, traced=False)
    untraced_s = _resume_leg(run, spark, spark.read.parquet(pages_path), first, None)
    spark = run.spark = _restart(run, spark, traced=True)
    sc = spark.sparkContext
    pages = spark.read.parquet(pages_path)
    resume_s = _resume_leg(run, spark, pages, first, sc)
    leg = _fresh_leg(run, spark, pages, "traced", first["fp"], tracer_sc=sc)
    _quality(run, spark, leg["out"], n_pages)
    calls, failures = querymix.run_client(
        spark, leg["wd"], pages_path, run.seed, run.seconds, group=lambda g: tracing.job_group(sc, g)
    )
    run.log(f"{len(calls)} query calls")
    run.ops += len(calls)
    run.check("query.results", failures == 0, f"{failures} of {len(calls)} calls")
    kmetrics, aligned = kernels.kernel_metrics(run.seed, 8 if run.tiny else 64)
    run.check("kernel.align.spans", aligned)
    spark.stop()  # closes the event log
    events = tracing.read_event_log(run.events)
    run.layer.update(tracing.stage_metrics(leg["spans"], events, "fresh:", STAGES, run.cores))
    run.layer["pipeline.resume_s"] = resume_s
    run.layer.update(kmetrics)
    run.layer.update(_query_layer(calls, events))
    run.layer["trace.overhead_pct"] = (resume_s / untraced_s - 1.0) * 100.0


def _query_layer(calls, events) -> dict:
    ms = [c[1] for c in calls]
    out = {"query.p50_ms": statistics.median(ms), "query.p90_ms": querymix.percentile(ms, 0.9)}
    for tool in querymix.TOOLS:
        mine = [c for c in calls if c[0] == tool]
        out[f"query.{tool}.p50_ms"] = statistics.median(c[1] for c in mine)
        out[f"query.{tool}.rows_read"] = statistics.median(
            events[c[2]]["records_read"] if c[2] in events else 0 for c in mine
        )
    return out


# ----------------------------------------------------------------- link


def _mentions(n_entities: int, seed: int) -> pd.DataFrame:
    """MENTIONS_PER_ENTITY mentions per entity on average, drawn from the
    five datagen surface forms; ENT0 is the head at HEAD_SHARE."""
    rng = random.Random(f"link:{seed}")
    forms = [surface_forms(k) for k in range(n_entities)]
    rows = []
    for i in range(n_entities * MENTIONS_PER_ENTITY):
        k = 0 if rng.random() < HEAD_SHARE else rng.randrange(1, n_entities)
        rows.append((f"https://ex{i % 7}.test/doc/{i // 8}", forms[k][rng.randrange(5)], k))
    return pd.DataFrame(rows, columns=["url", "surface", "k"])


def _pairwise_pr(pred: list, gold: list) -> tuple[float, float]:
    """Pairwise same-cluster precision/recall of two labelings."""

    def pairs(counts) -> int:
        return sum(n * (n - 1) // 2 for n in counts)

    df = pd.DataFrame({"p": pred, "g": gold})
    tp = pairs(df.groupby(["p", "g"]).size())
    pp = pairs(df.groupby("p").size())
    gp = pairs(df.groupby("g").size())
    return (tp / pp if pp else 1.0), (tp / gp if gp else 1.0)


def _link_call(run: Run, spark, mentions, tag: str) -> tuple[float, tuple]:
    path = run.path(tag)
    run.ops += 1
    t = time.perf_counter()
    link_entities(mentions).write.parquet(path)
    secs = time.perf_counter() - t
    return secs, harness.fingerprint(spark.read.parquet(path))


def _link_quality(run: Run, spark, mentions_pdf: pd.DataFrame, tag: str) -> tuple[float, float]:
    """Pairwise P/R over distinct normalized surfaces against the golden
    entity k, plus a completeness check: every mentioned surface is
    mapped exactly once."""
    sdf = spark.createDataFrame(mentions_pdf[["surface", "k"]].drop_duplicates())
    want = {
        r["sn"]: r["k"]
        for r in sdf.select(normalize_surface(F.col("surface")).alias("sn"), "k").distinct().collect()
        if r["sn"]
    }
    got = spark.read.parquet(run.path(tag)).select("surface_norm", "canonical_id").collect()
    names = [r["surface_norm"] for r in got]
    run.check("link.complete", len(names) == len(set(names)) and set(names) == set(want))
    return _pairwise_pr([r["canonical_id"] for r in got], [want.get(r["surface_norm"], -1) for r in got])


def link(run: Run) -> None:
    n_entities = 600 if run.tiny else LINK_ENTITIES
    mentions_pdf = None

    def make_mentions(spark, rep: int) -> str:
        nonlocal mentions_pdf
        mentions_pdf = _mentions(n_entities, run.seed)
        path = run.path(f"mentions{rep}")
        spark.createDataFrame(mentions_pdf[["url", "surface"]]).write.parquet(path)
        return path

    spark, mentions_path = _set_up(run, make_mentions)
    mentions = spark.read.parquet(mentions_path)

    if not run.trace:
        # the cold first call runs on a small table: most of its cost
        # is JIT and code generation, which do not grow with the input
        warmup_path = run.path("warmup-mentions")
        warmup_pdf = _mentions(LINK_WARMUP_ENTITIES, run.seed)
        spark.createDataFrame(warmup_pdf[["url", "surface"]]).write.parquet(warmup_path)
        cold_s, _ = _link_call(run, spark, spark.read.parquet(warmup_path), "warmup")
        run.named["cold_op_s"] = (cold_s, "s")
        run.log(f"warm-up link call {cold_s:.2f}s")
        fps = []

        def once(i: int) -> float:
            secs, fp = _link_call(run, spark, mentions, f"warm{i}")
            fps.append(fp)
            if i:  # the traced run always compares full-size calls
                run.check("fingerprint.canonical_map.repeat", fp == fps[0], f"{fp} != {fps[0]}")
            run.log(f"link call {secs:.2f}s")
            return secs

        secs = _timed(run, once)
        last = f"warm{len(secs) - 1}"
        n = len(mentions_pdf)
        run.e2e["items_per_s"] = n / statistics.median(secs)
        p, r = _link_quality(run, spark, mentions_pdf, last)
        run.e2e["precision"], run.e2e["recall"] = p, r
        run.named.update(
            {
                "mentions_per_s": (run.e2e["items_per_s"], "1/s"),
                "link_precision": (p, "ratio"),
                "link_recall": (r, "ratio"),
                "mentions": (n, "count"),
                "entities": (n_entities, "count"),
                "clusters": (_clusters(spark, run.path(last)), "count"),
            }
        )
        _repeat_set_up(run, make_mentions, SETUPS)
        return

    first_s, ref_fp = _link_call(run, spark, mentions, "first")
    run.log(f"link call {first_s:.2f}s")
    spark = run.spark = _restart(run, spark, traced=False)
    untraced_s, fp = _link_call(run, spark, spark.read.parquet(mentions_path), "untraced")
    run.check("fingerprint.canonical_map.repeat", fp == ref_fp, f"{fp} != {ref_fp}")
    spark = run.spark = _restart(run, spark, traced=True)
    mentions = spark.read.parquet(mentions_path)
    sc = spark.sparkContext
    with tracing.job_group(sc, "link.call"):
        traced_s, fp = _link_call(run, spark, mentions, "traced")
    run.check("fingerprint.canonical_map.repeat", fp == ref_fp, f"{fp} != {ref_fp}")
    run.layer.update(_link_layers(sc, mentions))
    run.layer["trace.overhead_pct"] = (traced_s / untraced_s - 1.0) * 100.0


def _clusters(spark, path: str) -> int:
    return spark.read.parquet(path).select("canonical_id").distinct().count()


def _link_layers(sc, mentions) -> dict:
    """link_entities' three public steps timed one by one on the same
    input: LSH candidate pairs, fuzzy scoring, connected components."""
    import inspect

    out = {}
    surfaces = (
        mentions.select(normalize_surface(F.col("surface")).alias("surface_norm"))
        .where(F.length("surface_norm") > 0)
        .distinct()
        .localCheckpoint()
    )
    dropped: dict = {}
    with tracing.job_group(sc, "linking.candidate_pairs"):
        t = time.perf_counter()
        pairs = candidate_pairs(surfaces, metrics=dropped).localCheckpoint()
        n_pairs = pairs.count()
        out["linking.candidate_pairs.s"] = time.perf_counter() - t
    with tracing.job_group(sc, "linking.score_pairs"):
        t = time.perf_counter()
        scored = score_pairs(pairs, threshold=DEFAULT_RATIO_THRESHOLD).localCheckpoint()
        accepted = scored.count()
        out["linking.score_pairs.s"] = time.perf_counter() - t
    sid = surfaces.select("surface_norm", F.xxhash64("surface_norm").alias("sid"))
    edges = (
        scored.join(sid.toDF("left", "src"), "left")
        .join(sid.toDF("right", "dst"), "right")
        .select("src", "dst")
        .localCheckpoint()
    )
    n_edges = edges.count()
    with tracing.job_group(sc, "cc"):
        t = time.perf_counter()
        connected_components(edges).localCheckpoint().count()
        out["cc.s"] = time.perf_counter() - t
    cap = inspect.signature(connected_components).parameters["driver_cap"].default
    out.update(
        {
            "linking.candidate_pairs.pairs": n_pairs,
            "linking.dropped_buckets": dropped["dropped_buckets"],
            "linking.dropped_rows": dropped["dropped_rows"],
            "linking.score_pairs.accepted": accepted,
            "linking.accept_ratio": accepted / max(n_pairs, 1),
            "cc.edges": n_edges,
            "cc.driver_path": 1 if n_edges <= cap else 0,
        }
    )
    return out


WORKLOADS = {"build": build, "link": link}
