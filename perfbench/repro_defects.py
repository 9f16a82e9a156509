"""Reproduce the known defects listed in perfbench/KNOWN_DEFECTS.md.

Run from the repository root::

    python3 perfbench/repro_defects.py sni
    python3 perfbench/repro_defects.py aggregation

``sni`` fits an SNI-only matcher on ``N_NAMES`` seeded synthetic GT names
and transforms as many names ``REPEATS`` times, with adaptive query
execution (AQE) on (the package default) and then off, printing the SNI
pair count of each call and how many pairs differ from the plain-Python
reference.  ``aggregation``
runs the account-aggregation layer on names that have an account column
but no frequency column.
"""

from __future__ import annotations

import argparse
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
NAMES_SCHEMA = "name string, id long, account string"
N_NAMES = 2000
REPEATS = 3


def session():
    os.environ["PYTHONPATH"] = str(ROOT)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    from entitymatchingmodel_spark import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark("repro", master=f"local[{cpus}]", shuffle_partitions=cpus,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def repro_sni(spark) -> None:
    import gen
    import reference as ref
    from entitymatchingmodel_spark import SparkEntityMatching

    data = gen.generate(gen.Spec(n_gt=N_NAMES, n_names=N_NAMES), seed=1)
    gt = spark.createDataFrame(data.gt, "name string, id long")
    names = spark.createDataFrame([r[:3] for r in data.names], NAMES_SCHEMA)
    for aqe in ("true", "false"):
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        model = SparkEntityMatching(indexers=[{"type": "sni", "window_length": 3}])
        model.fit(gt)
        g = model.gt_.select("gt_uid", "gt_preprocessed").toArrow()
        gt_keys = list(zip(g["gt_uid"].to_pylist(), g["gt_preprocessed"].to_pylist()))
        for _ in range(REPEATS):
            out = model.transform(names).toArrow()
            keys = dict(zip(out["uid"].to_pylist(), out["preprocessed"].to_pylist()))
            got = {(u, g): r for u, g, r in zip(out["uid"].to_pylist(), out["gt_uid"].to_pylist(),
                                                out["rank_0"].to_pylist()) if r is not None}
            want = ref.sni_pairs(keys, gt_keys, w=1)
            print(f"AQE {aqe}: {len(got)} SNI pairs, reference {len(want)}, "
                  f"differing pairs {len(set(got.items()) ^ set(want.items()))}")
        model.unpersist()
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def repro_aggregation(spark) -> None:
    import gen
    from entitymatchingmodel_spark import SparkEntityMatching

    data = gen.generate(gen.Spec(n_gt=50, n_names=50), seed=1)
    gt = spark.createDataFrame(data.gt, "name string, id long")
    names = spark.createDataFrame([r[:3] for r in data.names], NAMES_SCHEMA)
    model = SparkEntityMatching(aggregation_layer=True).fit(gt)
    try:
        model.transform(names).collect()
    except Exception as e:  # the defect: an AnalysisException on the frequency column
        print(f"aggregation_layer=True without a frequency column raised "
              f"{type(e).__name__}: {str(e).splitlines()[0]}")
    else:
        print("aggregation_layer=True without a frequency column ran (defect fixed)")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("defect", choices=("sni", "aggregation"))
    args = p.parse_args()
    sys.path[:0] = [str(ROOT), str(Path(__file__).resolve().parent)]
    spark = session()
    try:
        if args.defect == "sni":
            repro_sni(spark)
        else:
            repro_aggregation(spark)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
