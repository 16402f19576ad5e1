"""The seeded input generator: determinism, seed sensitivity, the
planted near-duplicate share, and key consistency."""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq
import pytest

from perfbench import gen

BASE = "/root/testdata/sf0.01"
pytestmark = pytest.mark.skipif(not os.path.isdir(BASE), reason="testdata not present")


def digests(out_dir: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(out_dir):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, out_dir)] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", ["sql_analytics", "doc_curation", "lake_incremental"])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    a = digests_of(tmp_path / "a", workload, 7)
    b = digests_of(tmp_path / "b", workload, 7)
    c = digests_of(tmp_path / "c", workload, 8)
    assert a == b
    assert a.keys() == c.keys()
    changed = [k for k in a if a[k] != c[k]]
    # region and nation are copied verbatim; every other file changes.
    assert changed and all(k in changed for k in a if not k.startswith(("region", "nation")))


def digests_of(path, workload: str, seed: int) -> dict[str, str]:
    gen.generate(str(path), workload, seed, base_dir=BASE)
    return digests(str(path))


def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    toks = text.split(" ")
    return {tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_planted_share_and_pairs(tmp_path):
    m = gen.generate(str(tmp_path), "doc_curation", 3, base_dir=BASE)
    docs = pq.read_table(tmp_path / "documents.parquet").to_pydict()
    n = len(docs["doc_id"])
    assert len(m["planted"]) == round(gen.NEAR_DUP_SHARE * n)
    text = dict(zip(docs["doc_id"], docs["text"]))
    for a, b in m["planted"]:
        sa, sb = shingles(text[a]), shingles(text[b])
        assert text[a] != text[b]
        assert 2 * len(sa & sb) >= len(sa | sb), (a, b)
    assert docs["n_chars"] == [len(t) for t in docs["text"]]
    assert len(set(docs["doc_id"])) == n
    assert max(docs["doc_id"]) < 2**30


def test_tpch_copies_keep_foreign_keys(tmp_path):
    src = pq.read_table(os.path.join(BASE, "lineitem.parquet"))
    scaled = gen.scale_table(src, "lineitem", 3, seed=5)
    assert scaled.num_rows == 3 * src.num_rows
    orders = gen.scale_table(pq.read_table(os.path.join(BASE, "orders.parquet")), "orders", 3, seed=5)
    assert set(scaled.column("l_orderkey").to_pylist()) <= set(orders.column("o_orderkey").to_pylist())
    # Resampled non-key values stay inside the source column's domain.
    assert set(scaled.column("l_returnflag").to_pylist()) <= set(src.column("l_returnflag").to_pylist())
    assert scaled.schema == src.schema


def test_customer_names_follow_their_key(tmp_path):
    src = pq.read_table(os.path.join(BASE, "customer.parquet"))
    scaled = gen.scale_table(src, "customer", 2, seed=1).to_pydict()
    for key, name in zip(scaled["c_custkey"], scaled["c_name"]):
        assert int(name.split("#")[1]) == key
