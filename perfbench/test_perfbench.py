"""Tests for the benchmark itself (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import release  # noqa: E402
from workloads import tail_percentile  # noqa: E402

TINY_RELEASE = dict(pcg=300, noncoding=40, models=97, depmap_genes=40,
                    edges=800, tissues=3, xlsx_rows=30)
TINY_CORPUS = dict(base_docs=120, exact_dups=10, near_dups=15,
                   low_quality=10, vocab=300)
TINY_MIX = dict(sessions=3, changes_per_batch=10, batches=3)


@pytest.mark.parametrize("kind", ["corpus", "serving"])
def test_same_seed_gives_byte_identical_inputs(tmp_path, kind):
    make = {
        "corpus": lambda out, s: gen.gen_corpus(out, s, TINY_CORPUS),
        "serving": lambda out, s: gen.gen_serving(out, s, TINY_MIX, TINY_RELEASE),
    }[kind]
    digests = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        out = tmp_path / name
        out.mkdir()
        make(str(out), seed)
        digests.append(gen.tree_digest(str(out)))
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(list(range(100)))[0] == 90.0
    assert tail_percentile(list(range(1000)))[0] == 99.0
    assert tail_percentile(list(range(20))) == (50.0, 9)
    assert tail_percentile(list(range(15))) is None
    p, v = tail_percentile([float(x) for x in range(200)])
    assert p == 95.0 and sum(1 for x in range(200) if x > v) >= 10


# ---------------------------------------------------------------------------
# every checker flags a deliberately wrong answer
# ---------------------------------------------------------------------------


def _write(path, rows, names):
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in names]
    pq.write_table(pa.table({n: list(c) for n, c in zip(names, cols)}),
                   os.path.join(path, "part-0.parquet"))


def test_release_checker_flags_a_wrong_table(tmp_path):
    import duckdb

    raw = tmp_path / "raw"
    raw.mkdir()
    gen.gen_release(str(raw), 3, TINY_RELEASE)
    out = {}
    con = duckdb.connect()
    for name, sql in release.oracle_sql(str(raw)).items():
        path = str(tmp_path / "silver" / name)
        os.makedirs(path)
        con.execute(f"COPY ({sql}) TO '{path}/part-0.parquet' (FORMAT parquet)")
        out[name] = path
    con.close()
    assert release.check_release(str(raw), out) == []
    # drop one row of gene_ids: count and digest must disagree
    t = pq.read_table(f"{out['gene_ids']}/part-0.parquet")
    pq.write_table(t.slice(1), f"{out['gene_ids']}/part-0.parquet")
    bad = release.check_release(str(raw), out)
    assert len(bad) == 1 and bad[0].startswith("gene_ids")


def test_multiset_digest_is_order_insensitive_and_value_sensitive():
    a = [("x", 1.0, None), ("y", 2.5, "z")]
    assert release.multiset_digest(a) == release.multiset_digest(a[::-1])
    assert release.multiset_digest(a) == release.multiset_digest([("x", 1, None), ("y", 2.5, "z")])
    assert release.multiset_digest(a) != release.multiset_digest([("x", 1.0, None), ("y", 2.4, "z")])


def _curation_case(tmp_path):
    inputs = tmp_path / "corpus"
    inputs.mkdir()
    truth = gen.gen_corpus(str(inputs), 5, TINY_CORPUS)
    corpus = pq.read_table(f"{inputs}/corpus.parquet").to_pydict()
    text = dict(zip(corpus["doc_id"], corpus["text"]))
    pairs = []
    for a, b, _ in truth["near_pairs"]:
        j = gen.jaccard(text[a], text[b])
        if j >= checks.THRESHOLD:
            pairs.append((min(a, b), max(a, b), round(j, 4)))
    dropped = {b for _, b, _ in pairs} | {b for _, b in truth["exact_pairs"]}
    dropped |= set(truth["low_quality"])
    kept = [(d, text[d]) for d in corpus["doc_id"] if d not in dropped]
    return inputs, truth, pairs, kept


def test_curation_checker_accepts_the_right_answer(tmp_path):
    inputs, truth, pairs, kept = _curation_case(tmp_path)
    out = tmp_path / "out"
    _write(str(out / "near_dup_pairs"), pairs, ["doc_a", "doc_b", "jaccard"])
    _write(str(out / "curated"), kept, ["doc_id", "clean_text"])
    res = checks.check_curation(str(inputs), truth, str(out))
    assert res["mismatches"] == []
    assert res["dedup_recall"] == 1.0


def test_curation_checker_flags_wrong_jaccard_and_kept_duplicates(tmp_path):
    inputs, truth, pairs, kept = _curation_case(tmp_path)
    a, b, j = pairs[0]
    wrong = [(a, b, round(j - 0.2, 4))] + pairs[1:]
    x, y = truth["exact_pairs"][0]
    corpus = pq.read_table(f"{inputs}/corpus.parquet").to_pydict()
    text = dict(zip(corpus["doc_id"], corpus["text"]))
    out = tmp_path / "out"
    _write(str(out / "near_dup_pairs"), wrong, ["doc_a", "doc_b", "jaccard"])
    _write(str(out / "curated"), kept + [(y, text[y])], ["doc_id", "clean_text"])
    bad = checks.check_curation(str(inputs), truth, str(out))["mismatches"]
    assert any(m.startswith(f"pair ({a},{b})") for m in bad)
    assert any(m.startswith(f"exact duplicate ({x},{y})") for m in bad)


def test_serving_checker_flags_a_wrong_read(tmp_path):
    path = str(tmp_path / "constraint_scores")
    _write(path, [("G1", 0.5), ("G2", 1.5)], ["hgnc_gene_symbol", "LOEUF"])
    base = {"constraint_scores": f"SELECT * FROM read_parquet('{path}/*.parquet')"}
    batches = [[{"hgnc_gene_symbol": "G1", "LOEUF": 0.9, "version": 0, "op": "upsert"},
                {"hgnc_gene_symbol": "G2", "LOEUF": 0.1, "version": 1, "op": "delete"}]]
    sql = "SELECT hgnc_gene_symbol, LOEUF FROM constraint_scores"
    right = [(0, sql, [("G1", 0.5), ("G2", 1.5)]), (1, sql, [("G1", 0.9)])]
    assert checks.check_serving(base, batches, right) == []
    wrong = [(1, sql, [("G1", 0.5), ("G2", 1.5)])]  # read missed the refresh
    assert len(checks.check_serving(base, batches, wrong)) == 1
    # a float summed in another order is not a wrong answer
    avg = "SELECT avg(LOEUF) FROM constraint_scores"
    assert checks.check_serving(base, batches, [(0, avg, [(1.0000000000000002,)])]) == []
    assert len(checks.check_serving(base, batches, [(0, avg, [(1.001,)])])) == 1
