"""Scaling-efficiency evidence for the north rule.

The rule requires throughput scaling efficiency >= 0.8 from N to 4N
executors; this sandbox has one machine, so the sanctioned proxy is
the same end-to-end job at two parallelism levels (local[N] vs
local[4N]) on the same input. Each level runs in a FRESH SparkSession
configured exactly like a cluster submit (shuffle partitions scaled
with cores).

Prints one JSON line:
  {"n_cores": ..., "n4_cores": ..., "t_n_sec": ..., "t_4n_sec": ...,
   "tp_n": ..., "tp_4n": ..., "efficiency": tp_4n / (4 * tp_n),
   "n_pages": ..., "triples": ...}

Record the output in BASELINE.md per round.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _host_probe(concurrency: int) -> float:
    """Mean sec/task of the fixed pure-CPU workload at ``concurrency``
    simultaneous processes (barrier-started) — see bench_cpuprobe.py."""
    import multiprocessing as mp

    from bench_cpuprobe import _init, _work

    barrier = mp.Barrier(concurrency)
    with mp.Pool(concurrency, initializer=_init, initargs=(barrier,)) as p:
        times = p.map(_work, range(concurrency), chunksize=1)
    return round(sum(times) / len(times), 3)


def run_once(cores: int, pages_path: str, n_expected: int) -> tuple[float, int, tuple]:
    from legal_knowledge_graph_spark.functions.ids import content_fingerprint
    from legal_knowledge_graph_spark.pipeline import run_pipeline
    from legal_knowledge_graph_spark.session import get_spark

    spark = get_spark(app_name=f"lkg-scaling-{cores}", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix=f"lkg_scale_{cores}_")
    try:
        pages = spark.read.parquet(pages_path)
        t0 = time.time()
        out = run_pipeline(spark, pages, os.path.join(work, "kg"))
        n_triples = out["triples"].count()
        out["edges"].count()
        dt = time.time() - t0
        # content fingerprints (outside the timed window): non-cancelling
        # sum+count of xxhash64 over sorted-column rows, per table
        fps = []
        for name in ("triples", "nodes", "edges"):
            t = out[name]
            r = t.agg(*content_fingerprint(*sorted(t.columns))).first()
            fps.append((name, int(r["fingerprint"]), int(r["row_count"])))
        return dt, n_triples, tuple(fps)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def main() -> None:
    n = int(os.environ.get("SPARK_GRAFT_SCALE_N", "8"))
    n_pages = int(os.environ.get("SPARK_GRAFT_SCALE_PAGES", "4000"))

    from legal_knowledge_graph_spark.datagen import generate_pages
    from legal_knowledge_graph_spark.session import get_spark

    setup = get_spark(app_name="lkg-scaling-setup", cores=8)
    setup.sparkContext.setLogLevel("ERROR")
    pages_dir = tempfile.mkdtemp(prefix="lkg_scale_pages_")
    pages_path = os.path.join(pages_dir, "pages")
    generate_pages(setup, n_pages).write.mode("overwrite").parquet(pages_path)
    setup.stop()

    reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "1"))
    try:
        # min over reps per leg: the efficiency metric is a RATIO of
        # two wall-clock numbers measured minutes apart on a shared VM
        # (±20% noise band, BASELINE.md) — the per-leg minimum is the
        # best estimate of the machine-limited time, and the raw reps
        # are emitted for auditability.
        runs_n, runs_4n = [], []
        probes_n, probes_4n = [], []
        trip_n = trip_4n = None
        fp_n = fp_4n = None
        for _ in range(reps):
            probes_n.append(_host_probe(n))
            t, trips, fp = run_once(n, pages_path, n_pages)
            runs_n.append(round(t, 2))
            assert trip_n in (None, trips) and fp_n in (None, fp)
            trip_n, fp_n = trips, fp
            probes_4n.append(_host_probe(4 * n))
            t, trips, fp = run_once(4 * n, pages_path, n_pages)
            runs_4n.append(round(t, 2))
            assert trip_4n in (None, trips) and fp_4n in (None, fp)
            trip_4n, fp_4n = trips, fp
        i_n = runs_n.index(min(runs_n))
        i_4n = runs_4n.index(min(runs_4n))
        t_n, t_4n = runs_n[i_n], runs_4n[i_4n]
        assert trip_n == trip_4n, "parallelism changed the result!"
        assert fp_n == fp_4n, f"content fingerprints diverged: {fp_n} != {fp_4n}"
        tp_n, tp_4n = trip_n / t_n, trip_4n / t_4n
        print(
            json.dumps(
                {
                    "n_cores": n,
                    "n4_cores": 4 * n,
                    "n_pages": n_pages,
                    "triples": trip_n,
                    "t_n_sec": round(t_n, 2),
                    "t_4n_sec": round(t_4n, 2),
                    "tp_n": round(tp_n, 2),
                    "tp_4n": round(tp_4n, 2),
                    "efficiency": round(tp_4n / (4 * tp_n), 3),
                    "runs": {"t_n": runs_n, "t_4n": runs_4n},
                    # contemporaneous host per-core throughput samples
                    # (sec/task at each leg's concurrency, taken right
                    # before the leg): the host's all-core penalty is
                    # intermittent, so the ceiling that bounds what a
                    # perfectly scaling program could measure must be
                    # sampled alongside the legs (see bench_cpuprobe.py
                    # and BASELINE.md round-3 scaling notes)
                    "host_probe": {"at_n": probes_n, "at_4n": probes_4n},
                    # per-rep (probe, wallclock) pairings for audit —
                    # no free choice of numerator/denominator rep
                    "leg_pairs": {
                        "at_n": list(zip(probes_n, runs_n)),
                        "at_4n": list(zip(probes_4n, runs_4n)),
                    },
                    # the ceiling is the probe ratio from the SAME reps
                    # whose wall-clocks define the efficiency (the min
                    # rep per leg) — a ceiling assembled from the
                    # fastest low-concurrency probe and slowest
                    # high-concurrency probe across DIFFERENT reps
                    # would overstate the host penalty by construction
                    "host_ceiling": round(probes_n[i_n] / probes_4n[i_4n], 3),
                    # median-based alternative, robust to a single
                    # noisy probe sample (true median — even rep counts
                    # average the two middle elements)
                    "host_ceiling_median": round(
                        statistics.median(probes_n) / statistics.median(probes_4n),
                        3,
                    ),
                    "efficiency_engine": round(
                        (tp_4n / (4 * tp_n)) / (probes_n[i_n] / probes_4n[i_4n]),
                        3,
                    ),
                }
            )
        )
    finally:
        shutil.rmtree(pages_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
