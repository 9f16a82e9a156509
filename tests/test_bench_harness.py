"""The contract bench's bookkeeping: the detail file it writes, the
fit-once registry it resets per query, and the Spark counters it reports
per query (bench.py)."""

import json

import bench
from perfbench.spans import COUNTERS

E = bench.E


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_detail_written_to_first_free_file(tmp_path):
    taken = tmp_path / "BENCH_DETAIL_run000_c4.json"
    taken.write_text("{}")
    per_query = {
        "q": {"median_s": 1.5, "cold_s": 2.0, "cold_jobs": 3,
              **dict.fromkeys(COUNTERS, 1)},
    }
    detail, summary = bench.report(per_query, 0.01, 4, 3, str(tmp_path))
    path = tmp_path / "BENCH_DETAIL_run001_c4.json"
    assert summary["queries_file"] == str(path)
    assert json.loads(path.read_text()) == detail
    assert taken.read_text() == "{}", "an existing detail file was overwritten"
    assert detail["queries_counters"]["q"]["cold_jobs"] == 3
    assert summary["n_queries"] == 1 and summary["value"] == 1.5


def test_fitted_builds_once_and_reset_releases(spark):
    E.reset_fitted()
    before = _persistent_ids(spark)
    builds = []

    def cached():
        builds.append("cached")
        df = spark.range(200).selectExpr("id", "id % 7 AS k").persist()
        df.count()
        return df

    def checkpointed():
        builds.append("checkpointed")
        return spark.range(50).selectExpr("id * 2 AS v").localCheckpoint()

    a = E._fitted(spark, "sf", "cached", cached)
    assert E._fitted(spark, "sf", "cached", cached) is a
    E._fitted(spark, "sf", "checkpointed", checkpointed)
    E._fitted(spark, "sf", "checkpointed", checkpointed)
    assert builds == ["cached", "checkpointed"]
    assert _persistent_ids(spark) - before, "the builds persisted nothing"

    E.reset_fitted()
    assert _persistent_ids(spark) - before == set(), "reset left RDDs persisted"
    E._fitted(spark, "sf", "cached", cached)
    assert builds == ["cached", "checkpointed", "cached"], "reset did not forget"
    E.reset_fitted()


def _plain(spark, sf_dir):
    return spark.range(1000).selectExpr("id % 5 AS k").groupBy("k").count()


def _registered(spark, sf_dir):
    def build():
        df = spark.range(500).selectExpr("id", "id % 3 AS k").persist()
        df.count()
        return df

    return E._fitted(spark, sf_dir, "fake", build).groupBy("k").count()


def test_bench_pass_reports_counters(spark):
    qs = {"plain": _plain, "registered": _registered}
    out = bench.run_queries(spark, "sf", qs, repeats=2)
    assert list(out) == ["plain", "registered"]
    for name, entry in out.items():
        assert set(COUNTERS) <= set(entry), name
        assert entry["jobs"] >= 1, name
        assert entry["median_s"] > 0 and entry["cold_s"] > 0, name
    # the scrub resets the registry, so the cold repeat pays the build job
    assert out["registered"]["cold_jobs"] > out["registered"]["jobs"]
    assert E._FITTED == {}, "the bench left fit-once state behind"
