"""Benchmark-local test: the input generator is a pure function of the seed.

Run from the repository root:

    python3 -m pytest perfbench/test_gen.py -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

SMALL = {
    "etm": lambda root, seed: gen.gen_etm(root, seed, pages=4, candidates=60),
    "corpus": lambda root, seed: gen.gen_corpus(root, seed, docs=60),
}


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _generate(tmp_path, tag: str, seed: int) -> dict[str, str]:
    root = str(tmp_path / tag)
    for name, fn in SMALL.items():
        fn(os.path.join(root, name), seed)
    return _digest(root)


def test_same_seed_gives_identical_bytes(tmp_path):
    a = _generate(tmp_path, "a", 7)
    b = _generate(tmp_path, "b", 7)
    assert a and a == b


def test_other_seed_gives_other_inputs(tmp_path):
    a = _generate(tmp_path, "a", 7)
    c = _generate(tmp_path, "c", 8)
    assert set(a) == set(c)
    # Every input file and every truth file changes with the seed; the
    # fixed office table is the one file that does not depend on it.
    changed = {k for k in a if a[k] != c[k]}
    assert changed == set(a) - {os.path.join("etm", "vsdb", "office.csv")}


def test_truth_files_sit_beside_inputs(tmp_path):
    files = _generate(tmp_path, "a", 3)
    for name in SMALL:
        assert os.path.join(name, "truth.csv") in files
