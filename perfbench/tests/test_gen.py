"""The workload generators are seeded and deterministic: the same seed
gives byte-identical inputs, another seed gives other inputs."""

from __future__ import annotations

import hashlib
import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

SF = 0.002


def _digest(out_dir: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(out_dir, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(out_dir))
    }


def _write_all(seed: int, out_dir: str) -> dict[str, str]:
    gen.write_tables(gen.tpch_tables(seed, SF), out_dir)
    c = gen.corpus(seed, 200, 60)
    gen.write_tables({"documents": c.documents, "embeddings": c.embeddings}, out_dir)
    return _digest(out_dir)


def _sql(seed: int) -> list:
    rows = {t: n.num_rows for t, n in gen.tpch_tables(seed, SF).items()}
    return list(itertools.islice(gen.sql_stream(seed, rows), 48))


def test_same_seed_byte_identical(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(7, str(tmp_path / "b"))
    assert a == b
    assert _sql(7) == _sql(7)
    assert gen.corpus(7, 200, 60).dup_pairs == gen.corpus(7, 200, 60).dup_pairs


def test_workload_inputs_from_child_process(tmp_path):
    """The files a run hands the program, written by a child process, are
    the same for the same seed, and the metadata describes them."""
    a = gen.inputs("llm_curation", 7, str(tmp_path / "a"))
    b = gen.inputs("llm_curation", 7, str(tmp_path / "b"))
    assert _digest(os.path.dirname(a["paths"]["documents"])) == \
        _digest(os.path.dirname(b["paths"]["documents"]))
    assert a["dup_pairs"] == b["dup_pairs"]
    c = gen.corpus(7, gen.N_DOCS, gen.N_VECS, gen.DUP_SHARE)
    assert {tuple(p) for p in a["dup_pairs"]} == c.dup_pairs


def test_other_seed_other_inputs(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(8, str(tmp_path / "b"))
    assert all(a[name] != b[name] for name in a if name not in ("region.parquet", "nation.parquet"))
    assert [q.sql for q in _sql(7)] != [q.sql for q in _sql(8)]


def test_stream_mix_is_seed_independent():
    """Only parameters depend on the seed; the template order does not."""
    assert [q.name for q in _sql(1)] == [q.name for q in _sql(2)]
    kinds = [q.kind for q in _sql(1)]
    assert kinds.count("lookup") == kinds.count("analytic")


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_planted_duplicates_keep_the_similarity_gap(seed):
    """Planted pairs have 3-word-shingle Jaccard >= 0.9; sampled
    unrelated pairs stay below 0.4."""
    c = gen.corpus(seed, 300, 60)
    texts = c.documents.column("text").to_pylist()

    def shingles(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(max(1, len(w) - 2))}

    def jac(a, b):
        sa, sb = shingles(texts[a]), shingles(texts[b])
        return len(sa & sb) / len(sa | sb)

    assert len(c.dup_pairs) == 30
    assert all(jac(a, b) >= 0.9 for a, b in c.dup_pairs)
    noise = [(a, a + 1) for a in range(0, 299, 2) if (a, a + 1) not in c.dup_pairs]
    assert max(jac(a, b) for a, b in noise) < 0.4
