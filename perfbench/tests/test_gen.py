"""The generator is a pure function of the seed."""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

FAMILIES = {
    "tpch": lambda seed: gen.tpch(seed, 1),
    "corpus": lambda seed: gen.corpus(seed, 200, 200),
    "changes": lambda seed: {
        f"b{i}": t for i, t in enumerate(gen.changes(seed, 400, 3, 100))
    },
    "merge_source": lambda seed: {"m": gen.merge_source(seed, 400)},
}


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_same_seed_same_rows(family):
    a, b = FAMILIES[family](11), FAMILIES[family](11)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_other_seed_other_rows_same_counts(family):
    a, b = FAMILIES[family](11), FAMILIES[family](12)
    assert {k: t.num_rows for k, t in a.items()} == {k: t.num_rows for k, t in b.items()}
    varying = [k for k in a if not a[k].equals(b[k])]
    # region and nation are fixed dimension tables; everything else moves
    assert set(a) - set(varying) <= {"region", "nation"}


def test_seed_moves_the_behaviour_properties():
    props = [gen.properties(s) for s in range(20)]
    for key in props[0]:
        assert len({p[key] for p in props}) > 10, key


def test_changes_shape():
    batches = gen.changes(3, 400, 3, 100)
    first = batches[0].to_pydict()
    assert sorted(first["id"]) == list(range(400))
    assert not any(first["is_delete"])
    seqs = np.concatenate([b.column("seq").to_numpy() for b in batches])
    assert (np.diff(seqs) == 1).all()
    later = np.concatenate([b.column("is_delete").to_numpy() for b in batches[1:]])
    assert 0 < later.mean() < 0.5


def test_corpus_near_duplicates_sit_where_minhash_is_exact():
    """Every document's closest neighbour is either unrelated (3-word
    shingle Jaccard < 0.3) or a near-duplicate at J >= 0.95, and the
    seeded share of near-duplicates is present."""
    docs = gen.corpus(5, 400, 10)["documents"].column("text").to_pylist()
    shingles = [set(zip(t.split(), t.split()[1:], t.split()[2:])) for t in docs]
    best = np.array([
        max(
            len(s & shingles[j]) / len(s | shingles[j])
            for j in range(len(docs))
            if j != i
        )
        for i, s in enumerate(shingles)
    ])
    assert ((best < 0.3) | (best >= 0.95)).all()
    assert 0.05 <= np.mean(best >= 0.95) <= 0.6
