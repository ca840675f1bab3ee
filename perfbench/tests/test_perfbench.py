"""Benchmark self-tests (no Spark): seeded generators are deterministic,
the correctness gate can fail, and each workload keeps its property.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402

SMALL_LINK = dict(n_auth=80, n_mentions=600, n_chains=3, chain_len=8)


def input_fingerprint(path: str) -> str:
    """Digest of every file a generator wrote under ``path``."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            with open(os.path.join(root, name), "rb") as f:
                h.update(name.encode())
                h.update(f.read())
    return h.hexdigest()


def _convert(tmp_path, name, seed, unique, n_pages=60):
    return gen.make_convert(seed, unique, str(tmp_path / name), n_pages=n_pages)


def test_convert_inputs_follow_the_seed(tmp_path):
    for unique in (False, True):
        a = _convert(tmp_path, f"a{unique}", 7, unique)
        b = _convert(tmp_path, f"b{unique}", 7, unique)
        c = _convert(tmp_path, f"c{unique}", 8, unique)
        assert input_fingerprint(a.pages_dir) == input_fingerprint(b.pages_dir)
        assert a.fp == b.fp
        assert input_fingerprint(a.pages_dir) != input_fingerprint(c.pages_dir)
        assert a.fp != c.fp


def test_link_inputs_follow_the_seed(tmp_path):
    a = gen.make_link(7, str(tmp_path / "a"), **SMALL_LINK)
    b = gen.make_link(7, str(tmp_path / "b"), **SMALL_LINK)
    c = gen.make_link(8, str(tmp_path / "c"), **SMALL_LINK)
    for d in ("triples_dir", "authorities_dir", "aliases_dir"):
        assert input_fingerprint(getattr(a, d)) == input_fingerprint(getattr(b, d))
        assert input_fingerprint(getattr(a, d)) != input_fingerprint(getattr(c, d))
    assert a.truth == b.truth


def test_gate_rejects_a_corrupted_expected_set(tmp_path):
    inp = _convert(tmp_path, "p", 3, False)
    assert gen.gate(gen.fingerprint(inp.expected), inp.fp)
    bad = gen.fingerprint(gen.corrupted(inp.expected))
    assert bad[0] == inp.fp[0]  # same size: only the hash sum can catch it
    assert not gen.gate(inp.fp, bad)
    # a duplicate or a missing triple fails on the count
    assert not gen.gate((inp.fp[0] + 1, inp.fp[1]), inp.fp)


def test_union_find_labels_components_by_smallest_member():
    comp = gen.components([("c", "b"), ("b", "d"), ("x", "y"), ("a", "d")])
    assert comp == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}
    triples = [("c", "p", "y", True, None, None), ("d", "p", "y", False, None, None)]
    assert gen.canonical(triples, comp) == {
        ("a", "p", "x", True, None, None),
        ("a", "p", "y", False, None, None),
    }


def test_convert_workloads_keep_their_duplicate_share(tmp_path):
    shared = _convert(tmp_path, "s", 1, False, n_pages=200)
    unique = _convert(tmp_path, "u", 1, True, n_pages=200)
    assert shared.cross_record_dup_frac >= 0.3
    assert unique.cross_record_dup_frac <= 0.05


def test_link_workload_has_a_hot_block(tmp_path):
    inp = gen.make_link(1, str(tmp_path / "l"))
    assert inp.head_exact >= gen.HOT_BLOCK_MIN
    assert len(inp.truth) == int(gen.N_MENTIONS * gen.TRUE_SHARE)
