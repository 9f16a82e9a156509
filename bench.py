"""Contract benchmark: runs every ``__spark_entry__.queries()`` entry at
$SPARK_GRAFT_SF_DIR (the sf0.1 test data by default) on
local[$SPARK_GRAFT_CPUS], $SPARK_GRAFT_BENCH_REPEATS times each (default 5),
and prints ONE JSON summary line last.

Each query is executed to completion JVM-side via the noop sink (no
result collection polluting the measurement), and each repeat runs
inside a ``perfbench.spans.Tracer`` span, so every query carries its Spark
counters (jobs, tasks, executor run ms, shuffle and spill bytes) next to its
wall time.  Wall time on a shared box swings by tens of percent; the
counters do not, so they are the regression signal.

Protocol, per query:

- a scrub first: ``reset_fitted()`` releases the contract's fit-once
  registry, ``spark.catalog.clearCache()`` evicts cached blocks a previous
  query leaked, and an explicit JVM GC collects the predecessor's heap
  garbage — so no query pays another query's shadow, and repeat 1 rebuilds
  every fitted artifact it uses (the cold run);
- the repeats then run CONSECUTIVELY with no scrub between them, so a
  query's own persists and registry entries warm its later repeats; the
  median measures the steady state, the first repeat the cold lineage;
- query order is seeded-shuffled, so residual adjacency effects are not
  tied to the ``queries()`` dict order.

See BENCH_NOTES.md for the experiments behind the protocol.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO_DIR)

import __spark_entry__ as E  # noqa: E402
from perfbench.spans import COUNTERS, Tracer  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5"))

    from entitymatchingmodel_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir, cpus)
    per_query = run_queries(spark, sf_dir, E.queries(), repeats)
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    detail, summary = report(per_query, sf, cpus, repeats)
    # Readers parse the LAST stdout line from a captured tail, which the
    # full detail once outran (BENCH_r07.json "parsed": null): print the
    # detail first, then the compact summary that points at the side file.
    print(json.dumps(detail))
    print(json.dumps(summary))


def warm_up(spark, sf_dir: str, cpus: int) -> None:
    """Warm JVM/codegen/parquet-footer caches and the Python worker pool so
    the first measured query is not charged session start-up."""
    for t in ("part", "lineitem", "documents", "embeddings", "orders", "customer"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(f"{sf_dir}/events.parquet").count()
    (
        spark.range(cpus * 4)
        .repartition(cpus)
        .mapInPandas(lambda it: it, "id long")
        .write.format("noop").mode("overwrite").save()
    )


def run_queries(spark, sf_dir: str, qs: dict, repeats: int) -> dict:
    """Run each query ``repeats`` times behind one scrub; returns, per query
    in ``qs`` order, the median and cold wall seconds plus the median of each
    Spark counter over the repeats and the cold repeat's ``jobs``."""
    tracer = Tracer(spark.sparkContext)
    jvm_system = spark.sparkContext._jvm.System
    order = list(qs)
    random.Random(5).shuffle(order)
    out: dict[str, dict] = {}
    for name in order:
        E.reset_fitted()
        spark.catalog.clearCache()
        jvm_system.gc()
        runs = []
        for _ in range(repeats):
            with tracer.span(name) as s:
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(s)
        entry = {
            "median_s": round(statistics.median(s.end - s.start for s in runs), 3),
            "cold_s": round(runs[0].end - runs[0].start, 3),
            "cold_jobs": runs[0].counters["jobs"],
        }
        for c in COUNTERS:
            entry[c] = statistics.median_low(s.counters[c] for s in runs)
        out[name] = entry
    E.reset_fitted()
    return {name: out[name] for name in qs}


def write_detail(detail: dict, directory: str, cpus: int) -> str:
    """Write ``detail`` to the first free BENCH_DETAIL_run{k:03d}_c{cpus}.json
    in ``directory`` and return its path; no run overwrites another's."""
    k = 0
    while True:
        path = os.path.join(directory, f"BENCH_DETAIL_run{k:03d}_c{cpus}.json")
        try:
            with open(path, "x") as f:
                json.dump(detail, f, indent=1, sort_keys=True)
            return path
        except FileExistsError:
            k += 1


def report(per_query: dict, sf: float, cpus: int, repeats: int,
           directory: str = REPO_DIR) -> tuple[dict, dict]:
    """Build the detail record, write it once, and return it with the
    summary line, whose ``queries_file`` names the file written."""
    total = round(sum(q["median_s"] for q in per_query.values()), 3)
    detail = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": {n: q["median_s"] for n, q in per_query.items()},
        "queries_cold": {n: q["cold_s"] for n, q in per_query.items()},
        "queries_counters": {
            n: {c: q[c] for c in (*COUNTERS, "cold_jobs")}
            for n, q in per_query.items()
        },
        "repeats": repeats,
        "cpus": cpus,
        "sf": sf,
    }
    summary = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(per_query),
        "queries_file": write_detail(detail, directory, cpus),
    }
    return detail, summary


if __name__ == "__main__":
    main()
