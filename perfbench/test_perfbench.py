"""Tests of the benchmark's own parts: the seeded generator and the
output checks. No Spark. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from checks import Exhaustive, Tally, analyze, same_results  # noqa: E402
from inputs import Sizes, doc_terms, generate, properties, word  # noqa: E402

SMALL = Sizes(docs=300, vocab=200, query_pool=50, upsert_docs=40)


def test_same_seed_gives_identical_bytes():
    assert generate(7, SMALL).digest() == generate(7, SMALL).digest()


def test_new_seed_new_corpus_same_properties():
    a, b = generate(7), generate(8)
    assert a.digest() != b.digest()
    pa_, pb = properties(a), properties(b)
    for key in ("docs", "upsert_docs"):
        assert pa_[key] == pb[key]
    for key in ("tokens", "distinct_terms", "max_df", "postings"):
        assert abs(pa_[key] - pb[key]) <= 0.2 * pa_[key], key
    for qa, qb in zip(pa_["doc_len_quartiles"], pb["doc_len_quartiles"]):
        assert abs(qa - qb) <= 0.15 * qa


def test_inputs_shape():
    inp = generate(3, SMALL)
    vocab = {word(r) for r in range(SMALL.vocab)}
    assert len(vocab) == SMALL.vocab  # word() is injective
    corpus_terms = set().union(*(doc_terms(c) for c in inp.corpus["content"]))
    assert corpus_terms <= vocab
    oov = [q for q, _ in inp.pool if set(q.split()) - vocab]
    assert len(oov) == SMALL.query_pool // 10
    assert {k for _, k in inp.pool} == {10, 100}
    assert set(inp.stream) <= set(inp.pool)
    keys = set(zip(inp.corpus["repo"], inp.corpus["path"]))
    rewrites = sum((r, p) in keys for r, p in zip(inp.upsert["repo"],
                                                   inp.upsert["path"]))
    assert rewrites == round(SMALL.upsert_docs * SMALL.upsert_rewrite_frac)
    assert len(set(inp.stream)) < len(inp.stream)  # popular queries repeat


def test_analyze_matches_engine_analyzer():
    from documentindex_spark.functions.tokenize import query_terms

    for q in ["Foo  bar-BAZ foo", "", "a1 b2_c3", "zeta alpha"]:
        assert analyze(q) == query_terms(q)


def _write_index(tmp_path, postings: dict[str, dict[int, float]]) -> str:
    """A stored postings table holding the given term → {doc: impact}."""
    from documentindex_spark.operators.codec import encode_segment
    from documentindex_spark.operators.postings import term_bucket

    root = tmp_path / "postings"
    for term, plist in postings.items():
        docs = np.array(sorted(plist), dtype=np.int64)
        seg = encode_segment(term, len(docs), docs, np.ones(len(docs)),
                             np.array([plist[d] for d in docs]))
        row = {
            "term": term, "df": seg.df, "seg_idx": 0,
            "n_postings": seg.n_postings, "min_doc_id": seg.min_doc_id,
            "max_doc_id": seg.max_doc_id, "doc_blob": seg.doc_blob,
            "tf_blob": seg.tf_blob, "impact_blob": seg.impact_blob,
            "block_n": seg.block_n.tolist(),
            "block_max_doc": seg.block_max_doc.tolist(),
            "block_max_impact": seg.block_max_impact.tolist(),
            "block_doc_off": seg.block_doc_off.tolist(),
            "block_tf_off": seg.block_tf_off.tolist(),
        }
        d = root / f"bucket={term_bucket(term)}"
        d.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.Table.from_pylist([row]), d / f"{term}.parquet")
    return str(root)


def test_exhaustive_scorer_matches_bmw(tmp_path):
    from documentindex_spark.operators.bmw import bmw_topk_local
    from documentindex_spark.operators.postings import row_to_segment

    rng = np.random.default_rng(0)
    postings = {
        t: {int(d): float(rng.random() * 3) for d in
            rng.choice(400, size=n, replace=False)}
        for t, n in (("alpha", 300), ("beta", 150), ("gamma", 20))
    }
    path = _write_index(tmp_path, postings)
    deleted = {int(d) for d in list(postings["gamma"])[:5]}
    exh = Exhaustive(path, deleted)
    rows = pq.read_table(path).to_pylist()
    for q in ["alpha", "gamma beta", "beta alpha gamma", "alpha nothere"]:
        terms = analyze(q)
        by_term = {t: [row_to_segment(r) for r in rows if r["term"] == t]
                   for t in terms}
        want = bmw_topk_local({t: s for t, s in by_term.items() if s}, 10,
                              exclude=deleted)
        assert same_results(exh.topk(q, 10), want), q
        # brute force, ascending-term float64 sum
        acc: dict[int, float] = {}
        for t in terms:
            for d, s in sorted(postings.get(t, {}).items()):
                if d not in deleted:
                    acc[d] = acc.get(d, 0.0) + s
        assert exh.scores(q) == acc
        th = exh.rank_score(q, 7)
        assert exh.at_or_above(q, th) == {d: s for d, s in acc.items() if s >= th}


def test_a_wrong_result_is_counted():
    t = Tally()
    good = [(1, 2.5), (3, 1.25)]
    t.check(same_results(good, list(good)), "equal")
    t.check(same_results(good, [(1, 2.5), (3, np.nextafter(1.25, 0))]), "ulp")
    t.check(same_results(good, [(3, 1.25), (1, 2.5)]), "order")
    assert (t.attempted, t.failed) == (3, 2)
    assert t.messages == ["ulp", "order"]


def test_run_refuses_a_directory_without_the_program(tmp_path, monkeypatch):
    import run

    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "serve", "--seed", "1"]) == 2


def test_benchmark_json_names_what_run_prints():
    import json

    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
