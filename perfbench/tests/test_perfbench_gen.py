"""Generator and reference-twin tests for the benchmark (no Spark needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import gen  # noqa: E402
import reference as ref  # noqa: E402

SPEC = gen.Spec(n_gt=300, n_names=500)


def test_same_seed_gives_identical_inputs():
    a, b = gen.generate(SPEC, 7), gen.generate(SPEC, 7)
    assert a.gt == b.gt
    assert a.names == b.names


def test_other_seed_gives_other_inputs():
    assert gen.generate(SPEC, 7).names != gen.generate(SPEC, 8).names


def test_properties_follow_the_spec():
    data = gen.generate(SPEC, 7)
    props = gen.properties(data)
    assert len(data.gt) == SPEC.n_gt and len(data.names) == SPEC.n_names
    assert len({" ".join(gen.norm_tokens(n)) for n, _ in data.gt}) == SPEC.n_gt
    assert abs(props["noised_share"] - gen.NOISED_SHARE) < 0.08
    assert abs(props["miss_share"] - gen.MISS_SHARE) < 0.08
    assert 1.0 < props["names_per_account"] <= gen.MAX_ACCOUNT
    gt_ids = {i for _, i in data.gt}
    for name, eid, account, freq, noised in data.names:
        assert eid is None or eid in gt_ids
        assert freq >= 1


def test_split_keeps_accounts_whole():
    data = gen.generate(SPEC, 7)
    first, second = gen.split(data, [200, 300])
    assert first + second == data.names[: len(first) + len(second)]
    assert not {r[2] for r in first} & {r[2] for r in second}


def test_sni_pairs_window_and_skew_cap():
    # sorted keys: a(gt 1) b(name 10) c(gt 2, gt 3) d(name 11)
    pairs = ref.sni_pairs({10: "b", 11: "d"}, [(1, "a"), (3, "c"), (2, "c")], w=1,
                          topn_per_key=1)
    assert pairs == {(10, 1): -1, (10, 2): 1, (11, 2): -1}


def test_cosine_twin_top_k_is_tie_aware():
    gt = [(1, "alpha beta"), (2, "alpha beta"), (3, "alpha gamma"), (4, "delta")]
    twin = ref.CosineTwin(gt, ref.word_tokens, k=1, lower_bound=0.01)
    scores = twin.scores("alpha beta")
    assert scores[1] == scores[2] > scores[3]
    assert twin.check("alpha beta", {1: scores[1]}) is None
    assert twin.check("alpha beta", {2: scores[2]}) is None
    assert twin.check("alpha beta", {3: scores[3]}) is not None
    assert twin.check("alpha beta", {1: 1.5}) is not None
