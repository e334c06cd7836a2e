"""Input-generator determinism: the same seed gives the same inputs and
fingerprint, a different seed different ones.

    python3 perfbench/test_inputs.py      (or: pytest perfbench/)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402


def _all_inputs(seed: int):
    cols = inputs.corpus(seed, 2_000)
    gen = inputs.RequestGen(seed, cols, "search")
    return (cols, gen.block(), gen.disk_mix(), inputs.delta(seed, 0, 100))


def test_same_seed_same_fingerprint():
    assert inputs.fingerprint(*_all_inputs(7)) == inputs.fingerprint(*_all_inputs(7))


def test_different_seed_different_fingerprint():
    assert inputs.fingerprint(*_all_inputs(7)) != inputs.fingerprint(*_all_inputs(8))


def test_corpus_shape():
    cols = inputs.corpus(3, 1_234)
    assert all(len(v) == 1_234 for v in cols.values())
    keys = list(zip(cols["conv_id"], cols["turn_idx"]))
    assert keys == sorted(keys) and len(set(keys)) == len(keys)
    # every delta conversation sorts after the corpus and earlier rounds
    d0, d1 = inputs.delta(3, 0, 50)["conv_id"], inputs.delta(3, 1, 50)["conv_id"]
    assert max(cols["conv_id"]) < min(d0) and max(d0) < min(d1)


def test_block_composition_is_seed_independent():
    def kinds(seed):
        cols = inputs.corpus(seed, 500)
        return [(f, k) for f, k, _ in inputs.RequestGen(seed, cols, "s").block()]

    assert kinds(1) == kinds(2)


if __name__ == "__main__":
    for name, fn in sorted(globals().items()):
        if name.startswith("test_"):
            fn()
            print("ok", name)
