"""Generator contract: a seed fixes the inputs; a new seed keeps their shape.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import itertools
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402

BANDS, ROWS = 16, 4


def _files(root: Path) -> dict[str, bytes]:
    return {
        str(p.relative_to(root)): p.read_bytes()
        for p in sorted(root.rglob("*"))
        if p.is_file()
    }


def _texts(root: Path) -> list[str]:
    return pq.read_table(root / "documents.parquet").column("text").to_pylist()


def _shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    words = text.split()
    return {tuple(words[i : i + n]) for i in range(len(words) - n + 1)}


def _band_keys(text: str) -> set[str]:
    """MinHash band keys of a document's word 3-shingles."""
    sh = [" ".join(s) for s in _shingles(text)]
    sig = [
        min(int(hashlib.md5(f"{k}:{s}".encode()).hexdigest()[:8], 16) for s in sh)
        for k in range(BANDS * ROWS)
    ]
    return {f"{b}:{sig[b * ROWS:(b + 1) * ROWS]}" for b in range(BANDS)}


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    root = tmp_path_factory.mktemp("inputs")
    return {
        "a": (root / "a", gen.generate(root / "a", 7)),
        "a2": (root / "a2", gen.generate(root / "a2", 7)),
        "b": (root / "b", gen.generate(root / "b", 8)),
    }


def test_same_seed_gives_identical_files(generated):
    (a, rows_a), (a2, rows_a2) = generated["a"], generated["a2"]
    assert rows_a == rows_a2
    assert _files(a) == _files(a2)


def test_new_seed_keeps_row_counts(generated):
    (a, rows_a), (b, rows_b) = generated["a"], generated["b"]
    assert rows_a == rows_b
    for path in (a / "lineitem.parquet", a / "listings" / "day1" / "av.parquet"):
        other = b / path.relative_to(a)
        assert pq.read_table(path).num_rows == pq.read_table(other).num_rows


def test_new_seed_changes_minhash_band_keys_but_not_similarity(generated):
    ta, tb = _texts(generated["a"][0]), _texts(generated["b"][0])
    assert [len(t) for t in ta] == [len(t) for t in tb]
    keys_a = set().union(*(_band_keys(t) for t in ta[:50]))
    keys_b = set().union(*(_band_keys(t) for t in tb[:50]))
    assert keys_a != keys_b
    for i, j in itertools.combinations(range(20), 2):
        sa, sb = (_shingles(ta[i]), _shingles(ta[j])), (_shingles(tb[i]), _shingles(tb[j]))
        ja = len(sa[0] & sa[1]) / max(1, len(sa[0] | sa[1]))
        jb = len(sb[0] & sb[1]) / max(1, len(sb[0] | sb[1]))
        assert ja == jb


def test_vocabulary_map_keeps_length_and_stop_words():
    import numpy as np

    texts = ["the quick brown fox", "and lazy dogs with tails"]
    mapping = gen.vocabulary_map(texts, np.random.default_rng(0))
    assert all(len(k) == len(v) for k, v in mapping.items())
    assert not gen.KEEP_WORDS & set(mapping)
    assert sorted(mapping) == sorted(mapping.values())
