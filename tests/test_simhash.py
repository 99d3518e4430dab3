"""SimHash near-dup pairs against their definition: every pair of
fingerprints within `max_hamming` bits, each pair once, computed by
brute force over `simhash(docs)`."""

from __future__ import annotations

import random
import re

import pytest

from monzo_data_pipeline_spark.ext.dedup_fuzzy import simhash, simhash_near_dup_pairs

VOCAB = [f"w{i}" for i in range(300)]


def _planted_docs(seed: int = 7, n_templates: int = 20, per_template: int = 12):
    """Template families whose members differ from the template in
    0..per_template-1 substituted tokens, so pair distances spread from
    0 up past 10 bits; plus exact copies and a few one-token docs."""
    rng = random.Random(seed)
    docs = []
    for _ in range(n_templates):
        base = [rng.choice(VOCAB) for _ in range(rng.randint(30, 60))]
        for m in range(per_template):
            words = list(base)
            for i in rng.sample(range(len(words)), m):
                words[i] = rng.choice(VOCAB)
            docs.append(" ".join(words))
        docs.append(" ".join(base))
    docs += ["w1", "w1", "w2"]
    return list(enumerate(docs))


@pytest.fixture(scope="module")
def planted(spark):
    return spark.createDataFrame(_planted_docs(), "doc_id long, text string")


@pytest.fixture(scope="module", params=["xxhash", "poly"])
def family_fingerprints(request, planted):
    fam = request.param
    fps = sorted((r["doc_id"], r["simhash"]) for r in simhash(planted, hash_family=fam).collect())
    return fam, fps


def _brute_force(fps, max_hamming):
    out = set()
    for i, (da, sa) in enumerate(fps):
        for db, sb in fps[i + 1:]:
            d = bin((sa ^ sb) & (2**64 - 1)).count("1")
            if d <= max_hamming:
                out.add((da, db, d))
    return out


@pytest.mark.parametrize("max_hamming", [0, 3, 4, 6, 10])
def test_pairs_equal_brute_force(planted, family_fingerprints, max_hamming):
    fam, fps = family_fingerprints
    want = _brute_force(fps, max_hamming)
    # the corpus reaches the threshold itself, where 16-bit blocking
    # misses pairs from max_hamming = 4 on
    assert any(d == max_hamming for _, _, d in want)
    rows = simhash_near_dup_pairs(planted, max_hamming=max_hamming, hash_family=fam).collect()
    got = [(r["doc_a"], r["doc_b"], r["hamming"]) for r in rows]
    assert len(got) == len(set(got))  # each pair once
    assert set(got) == want


@pytest.mark.parametrize("max_hamming", [-1, 64])
def test_max_hamming_outside_pigeonhole_range_raises(planted, max_hamming):
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_dup_pairs(planted, max_hamming=max_hamming)


def test_fingerprint_aggregate_runs_once(planted):
    # both self-join sides read one exchange of the chunk rows, so the
    # executed plan holds a single final-mode fingerprint aggregate
    df = simhash_near_dup_pairs(planted)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    aggs = re.findall(r"HashAggregate\(keys=\[doc_id#\d+L?\], functions=\[(\w+)", final)
    assert [f for f in aggs if not f.startswith("partial_")] == ["sum"]
