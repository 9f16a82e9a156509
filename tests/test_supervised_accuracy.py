"""Supervised model quality parity (VERDICT r2 item 9).

Mirrors the reference's README-example quality gate
(tests/integration/test_readme_example.py: every test name gets a best
match and n_correct > 1600/1800 ~ 89% precision@1, 'number depends
slightly on version of xgboost').  Here: GT = the example ground truth,
train/test = independently-seeded noised copies, GBT classifier; the
thresholds sit under the deterministic observed values (precision@1
0.867, AUC 0.989) by a safety margin analogous to the reference's.
"""

import numpy as np
import pytest

from entitymatchingmodel_spark import SparkEntityMatching
from entitymatchingmodel_spark.sources.example_data import (
    example_ground_truth,
    example_names_to_match,
)


@pytest.fixture(scope="module")
def scored(spark):
    gt = example_ground_truth(spark)
    train = example_names_to_match(spark, noise_level=0.5, seed=1)
    test = example_names_to_match(spark, noise_level=0.5, seed=2)
    m = SparkEntityMatching(
        {
            "name_only": True,
            "entity_id_col": "id",
            "name_col": "name",
            "indexers": [
                {"type": "cosine_similarity", "tokenizer": "characters",
                 "ngram": 2, "num_candidates": 10, "cos_sim_lower_bound": 0.2},
                {"type": "sni", "window_length": 3},
            ],
            "supervised_on": True,
        }
    )
    m.fit(gt)
    m.fit_classifier(train, create_negative_sample_fraction=0.5, max_iter=10)
    return test.count(), m.transform(test).toPandas()


def test_best_match_coverage_and_precision(scored):
    n_test, out = scored
    best = out[out["best_match"]]
    assert len(best) >= 0.9 * n_test, f"coverage {len(best)}/{n_test}"
    correct = (best["gt_entity_id"] == best["entity_id"]).sum()
    assert correct / len(best) >= 0.8, f"precision@1 {correct}/{len(best)}"


def test_candidate_ranking_auc(scored):
    _, out = scored
    lab = (out["gt_entity_id"] == out["entity_id"]).astype(int).to_numpy()
    s = out["nm_score"].fillna(0).to_numpy()
    order = np.argsort(s, kind="stable")
    r = np.empty(len(s))
    r[order] = np.arange(1, len(s) + 1)
    pos = lab.sum()
    neg = len(lab) - pos
    assert pos > 0 and neg > 0
    auc = (r[lab == 1].sum() - pos * (pos + 1) / 2) / (pos * neg)
    assert auc >= 0.95, f"AUC {auc:.4f}"


def test_supervised_quality_contract_row_thresholds(spark):
    """The driver-artifact quality witness must itself clear the gates:
    the contract-scale GBT separates true from near-miss candidates
    (prec@1 and AUC high, both classes present).  This is the row that
    caught the positives-only training bug (constant score, AUC 0.5)."""
    import importlib.util

    from pathlib import Path

    entry = Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location("entry_quality", str(entry))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    row = mod.queries()["supervised_quality"](spark, "/root/testdata/sf0.001").head()
    assert row["n_queries"] > 0
    assert row["n_pos"] > 0 and row["n_neg"] > 0, "both classes must exist"
    assert row["prec_at_1"] >= 0.95, row
    assert row["auc"] is not None and row["auc"] >= 0.95, row
