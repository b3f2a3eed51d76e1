"""spark-kg benchmark: seeded workloads against the public API, with
their correctness checks, printing every metric by name with its unit.

    python3 perfbench/run.py --workload build --seed 1 --seconds 5 --trace 0
    python3 perfbench/selfcheck.py      # tiny sizes, every workload

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. Two lines before it give the host (cores, MemTotal,
code identity, versions, a per-core CPU sample taken before the
workload) and the workload's metrics under their own names.

A run sets up, runs the operation once untimed (the cold first call in
a new JVM, bound by JIT and code generation; its time is printed as
``cold_op_s``), and times warm repeats of it for ``--seconds`` seconds,
at least one, reporting the median repeat. Then it sets up again a few
times and reports the median set-up. ``--seconds`` also bounds the
query client of the traced ``build`` run.

Workloads (why each exists):

- ``build``: a fresh ``run_pipeline`` over seeded ``generate_pages``. It
  exercises all 9 stages, the Python kernels, the shuffles and the
  bucketed writes. Its traced run adds a resume onto the same workdir
  with the ``nodes`` and ``edges`` stages removed (a crash after
  ``chunks_summarized``), and drives the retrieval agent's tool mix
  (``operators/query.py``) over the committed graph.
- ``link``: ``link_entities`` over a seeded mentions table drawn from
  ``datagen.surface_forms`` with a head entity at 20% of mentions:
  linking at entity-vocabulary scale, which ``build`` only sees as a
  small fixed cost. Kernel and write changes bypass it. Its untimed
  cold first call runs on a 300-entity table, which costs less than a
  full-size one.

End-to-end metrics (every workload reports each):

- ``setup_s``: the median of 3 set-ups, each a session start and the
  input's generation. The first launches the JVM; the others, made
  after the timed repeats, start a new session in it.
- ``items_per_s``: triples/s of the median warm fresh pipeline run
  (``build``); mentions/s through the median warm ``link_entities``
  call (``link``).
- ``precision``/``recall``: triples against ``page_record`` goldens
  (``build``); pairwise same-cluster agreement of distinct normalized
  surfaces against the golden entity (``link``).
- ``peak_rss_mb``: resident memory of the whole process tree (driver,
  JVM, Python workers; statm, so pages a forked worker shares count
  once per process) during the timed repeats.
- ``success_rate``: 1 - failed/attempted over operations and checks;
  ``error_rate`` is the result's ``failed``/``attempted``.

Per-layer metrics (``--trace 1``), and the end-to-end metric each should
move. They come from warm operations in the traced run; a layer a
workload does not exercise reports 0.

- ``stage.<name>.{wall_s, plan_s, task_s, serial_s, jobs, skew,
  shuffle_mb, spill_mb}`` for the 9 pipeline stages (``build``).
  ``plan_s`` is time in the stage thunk, ``task_s`` summed executor run
  time, ``serial_s`` = wall_s - task_s/cores, ``skew`` max/median task
  time of the stage's busiest Spark stage. ``serial_s``, ``plan_s`` and
  ``jobs`` should move ``items_per_s`` on build; ``task_s`` of chunks,
  chunks_summarized and nodes should move ``items_per_s`` on build, not
  on link; nodes/edges ``shuffle_mb``/``skew`` should move
  ``items_per_s`` and ``pipeline.resume_s`` on build.
- ``lineage.flush_s`` should move ``pipeline.resume_s`` and
  ``items_per_s`` on build.
- ``linking.candidate_pairs.{s, pairs}``, ``linking.dropped_buckets``,
  ``linking.dropped_rows``, ``linking.score_pairs.{s, accepted}``,
  ``linking.accept_ratio`` should move ``items_per_s`` and ``recall`` on
  link, and nothing on build. ``cc.{s, edges, driver_path}`` should move
  ``items_per_s`` on link.
- ``kernel.align.us_per_doc``, ``kernel.embed.us_per_text``,
  ``kernel.summarize.us_per_text``, ``kernel.arrow_to_pandas.us_per_row``
  (local batches, no Spark) should move ``items_per_s`` on build and
  nothing on link.
- ``query.p50_ms``/``query.p90_ms`` and ``query.<tool>.{p50_ms,
  rows_read}`` (rows from the event log) over the committed graph;
  a storage-layout change that speeds writes but slows lookups shows
  here while ``items_per_s`` rises.
- ``pipeline.resume_s``: the traced resume leg (``build``).
- ``trace.overhead_pct``: the same operation (resume leg; link call)
  run first in a traced SparkContext against first in an untraced one,
  in the same JVM.
"""

from __future__ import annotations

import argparse
import shutil
import signal
import sys
import traceback

import harness

E2E = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "precision": "ratio",
    "recall": "ratio",
    "peak_rss_mb": "MB",
    "success_rate": "ratio",
}

_STAGE_FIELDS = {
    "wall_s": "s",
    "plan_s": "s",
    "task_s": "s",
    "serial_s": "s",
    "jobs": "count",
    "skew": "ratio",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
}


def per_layer_units(stages: list[str], tools: list[str]) -> dict[str, str]:
    units = {f"stage.{s}.{f}": u for s in stages for f, u in _STAGE_FIELDS.items()}
    units.update(
        {
            "lineage.flush_s": "s",
            "pipeline.resume_s": "s",
            "linking.candidate_pairs.s": "s",
            "linking.candidate_pairs.pairs": "count",
            "linking.dropped_buckets": "count",
            "linking.dropped_rows": "count",
            "linking.score_pairs.s": "s",
            "linking.score_pairs.accepted": "count",
            "linking.accept_ratio": "ratio",
            "cc.s": "s",
            "cc.edges": "count",
            "cc.driver_path": "flag",
            "kernel.align.us_per_doc": "us",
            "kernel.embed.us_per_text": "us",
            "kernel.summarize.us_per_text": "us",
            "kernel.arrow_to_pandas.us_per_row": "us",
            "query.p50_ms": "ms",
            "query.p90_ms": "ms",
        }
    )
    for t in tools:
        units[f"query.{t}.p50_ms"] = "ms"
        units[f"query.{t}.rows_read"] = "count"
    units["trace.overhead_pct"] = "%"
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["build", "link"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], required=True)
    p.add_argument("--tiny", action="store_true", help="self-check sizes")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    shutil.rmtree(harness.WORK, ignore_errors=True)
    harness.prepare_environment()
    # imports the package under test; fails (exit 1, no result) where
    # only the benchmark's own files exist
    import querymix
    import workloads
    from legal_knowledge_graph_spark.pipeline import STAGES

    run = workloads.Run(args.seed, args.seconds, bool(args.trace), args.tiny)
    host = harness.host_block(run.cores, harness.cpu_probe(run.cores))
    # a terminated run still stops its JVM and Python workers (set after
    # the probe: its forked pool workers must keep the default action)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        with harness.RssSampler() as rss:
            run.rss = rss
            workloads.WORKLOADS[args.workload](run)
    finally:
        harness.stop_spark(run.spark)
        shutil.rmtree(harness.WORK, ignore_errors=True)

    failed = sum(1 for _, ok in run.checks if not ok)
    attempted = run.ops + len(run.checks)
    if args.trace:
        units = per_layer_units(STAGES, querymix.TOOLS)
        values = {name: run.layer.get(name, 0) for name in units}
    else:
        units = E2E
        run.e2e["success_rate"] = 1.0 - failed / attempted
        values = run.e2e
    harness.emit({"host": host})
    harness.emit({"workload": args.workload, "named": {k: {"value": v, "unit": u} for k, (v, u) in run.named.items()}})
    harness.emit(
        {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
        }
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
