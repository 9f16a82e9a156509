"""SNI ``global_rank`` gives every distinct key its exact sorted position.

The input mirrors the SNI transform's: names unioned with a persisted GT
key table (a cached relation under the union stops AQE from reusing the
range exchange across the row-number and the partition-count branches).
The range partitioner samples each input partition with a seed tied to the
evaluation, so two evaluations of the exchange may cut the keys at
different bounds; row numbers and offsets read from two evaluations then
disagree, giving duplicated and gapped ranks.  Below about 2400 keys per
input partition (at 8 shuffle partitions) the sampler takes every row and
the bounds cannot differ, so this test ranks 3000.
"""

import random

from pyspark.sql import functions as F

from entitymatchingmodel_spark.operators.sni_indexer import global_rank

N_KEYS = 3000


def test_global_rank_exact_with_aqe_on_shuffled_input(spark):
    rng = random.Random(7)
    keys = [f"name {rng.getrandbits(40):012x} {i}" for i in range(N_KEYS)]
    rows = [(k,) for k in keys for _ in range(rng.randint(1, 2))]
    rng.shuffle(rows)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    gt = spark.createDataFrame([(k,) for k in keys[: N_KEYS // 2]], "k string").persist()
    try:
        names = spark.createDataFrame(rows, "k string").repartition(8, F.rand(3))
        want = {k: i for i, k in enumerate(sorted(keys))}
        for _ in range(3):
            ranks, local = global_rank(names.union(gt), "k")
            try:
                got = {r["k"]: r["srank"] for r in ranks.collect()}
            finally:
                local.unpersist()
            assert sorted(got.values()) == list(range(N_KEYS))
            assert got == want
    finally:
        gt.unpersist()
        spark.conf.set("spark.sql.adaptive.enabled", prev)
