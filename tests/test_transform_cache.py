"""Pin how ``SparkEntityMatching.transform`` evaluates the names side: lazily,
once, inside one cached relation that lives until the next transform or
``unpersist()`` (plan-shape style, see test_plan_shape.py)."""

import pytest

from entitymatchingmodel_spark import SparkEntityMatching

GT = [
    ("Tzu Sun B.V.", 1), ("Müller Holding GmbH", 2), ("Acme Trading Ltd", 3),
    ("Ωmega Shipping", 4), ("Nordic Fish A.S.", 5), ("Blue Sky Bank N.V.", 6),
    ("Green Energy Group", 7), ("Delta Logistics Inc", 8),
]
NAMES = [
    ("Tzu Sun BV", 1), ("Muller Holding G.m.b.H.", 2), ("Acme Trading Limited", 3),
    ("Omega Shiping", 4), ("Nordic Fish AS", 5), ("Blue Sky Bank", 6),
    ("Green Energi Group", 7), ("Delta Logistic", 8), ("Unknown Corp", 9),
]


@pytest.fixture(scope="module")
def fitted(spark):
    """(model fitted on GT, names, persistent RDD ids before the fit)."""
    before_fit = _persistent_ids(spark)
    em = SparkEntityMatching().fit(spark.createDataFrame(GT, "name string, id long"))
    yield em, spark.createDataFrame(NAMES, "name string, id long"), before_fit
    em.unpersist()


def _persistent_ids(spark):
    """Ids of the SparkContext's persistent RDDs.  Tests compare id sets,
    not counts: frames other tests cached and dropped leave this map at an
    unpredictable JVM GC, which would shift a plain count."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _children(node):
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _python_evals(plan):
    """ArrowEvalPython nodes of an executed plan: the count outside any
    cached relation, and per cached relation (keyed by the id of its
    cached plan) its output columns and its own count."""
    outside = 0
    cached: dict = {}

    def walk(node, owner):
        nonlocal outside
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan(), owner)
        if name.endswith("QueryStageExec"):
            return walk(node.plan(), owner)
        if name == "InMemoryTableScanExec":
            rel = node.relation()
            inner = rel.cacheBuilder().cachedPlan()
            if inner.id() not in cached:
                out = rel.output()
                cached[inner.id()] = [
                    [out.apply(i).name() for i in range(out.size())], 0
                ]
                walk(inner, inner.id())
            return
        if name == "ArrowEvalPythonExec":
            if owner is None:
                outside += 1
            else:
                cached[owner][1] += 1
        for child in _children(node):
            walk(child, owner)

    walk(plan, None)
    return outside, list(cached.values())


def test_transform_is_lazy_and_names_evaluated_once_in_one_cache(spark, fitted):
    em, names, _ = fitted
    sc = spark.sparkContext
    group = "names-cache-lazy"
    sc.setJobGroup(group, "building transform must be lazy")
    try:
        out = em.transform(names)
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], (
        "building transform() ran a Spark job"
    )
    rows = out.collect()
    assert {r["name"] for r in rows} == {n for n, _ in NAMES}
    outside, cached = _python_evals(out._jdf.queryExecution().executedPlan())
    assert outside == 0, "names-side Python UDF evaluated outside the cache"
    names_side = [(cols, n) for cols, n in cached if n and "uid" in cols]
    # one cached relation, whose plan holds the one pandas UDF (the NFKD
    # fallback) once
    assert [n for _, n in names_side] == [1], names_side


def test_names_cache_rotates_and_unpersist_releases_it(spark, fitted):
    em, names, before_fit = fitted

    def since_fit():
        return _persistent_ids(spark) - before_fit

    em.transform(names).collect()
    after_one = since_fit()
    assert after_one
    em.transform(names.limit(5)).collect()
    assert len(since_fit()) == len(after_one), "a second transform grew the cache"
    em.unpersist()
    assert since_fit() == set(), "unpersist() left cached frames behind"
