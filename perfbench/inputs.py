"""Seeded inputs for the benchmark: corpus, query stream, upsert batch.

Everything here is a pure function of the seed and the sizes, so the
same seed always gives byte-identical inputs and the program under test
sees only what this module writes. Pure numpy/pandas: no Spark.

Text model: document lengths are lognormal; tokens are drawn Zipf
(s = ``ZIPF_S``) over a vocabulary capped at ``vocab`` ranks. Words are
synthesized from their rank, so the vocabulary itself is fixed and only
the draws depend on the seed. Query popularity is Zipf too, which makes
the query stream repeat (the result cache sees hits).
"""

from __future__ import annotations

import hashlib
import io
import json
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

ZIPF_S = 1.1
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]  # 70
_LANGS = ["python", "java", "go", "js", "md"]


def word(rank: int) -> str:
    """Deterministic pseudo-word for a vocabulary rank (one token under
    the engine's ``[^a-z0-9]+`` split: lower-case letters only)."""
    n = rank + len(_SYLLABLES)  # every word has at least two syllables
    out = []
    while n:
        n, r = divmod(n, len(_SYLLABLES))
        out.append(_SYLLABLES[r])
    return "".join(reversed(out))


def _zipf_p(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


@dataclass
class Sizes:
    docs: int = 800
    vocab: int = 400
    len_mu: float = 4.4  # lognormal doc length: median e^4.4 ≈ 81 tokens
    len_sigma: float = 0.7
    query_pool: int = 200
    upsert_docs: int = 150
    upsert_rewrite_frac: float = 0.2
    topics: int = 2


@dataclass
class Inputs:
    corpus: pd.DataFrame  # repo, path, commit, lang, content, content_sha
    pool: list[tuple[str, int]]  # distinct queries: (text, k)
    stream: list[tuple[str, int]]  # Zipf-popular draws from the pool
    upsert: pd.DataFrame  # same columns as corpus, no doc_id
    topics: list[str]  # extract_all topics
    sizes: Sizes = field(default_factory=Sizes)

    def digest(self) -> str:
        """sha256 over every byte the program is given."""
        h = hashlib.sha256()
        for df in (self.corpus, self.upsert):
            buf = io.BytesIO()
            df.to_parquet(buf, index=False)
            h.update(buf.getvalue())
        h.update(json.dumps([self.pool, self.stream, self.topics]).encode())
        return h.hexdigest()


def _docs(rng, n: int, sizes: Sizes, p: np.ndarray) -> list[str]:
    lens = np.clip(
        rng.lognormal(sizes.len_mu, sizes.len_sigma, n).astype(np.int64),
        3, 5000,
    )
    toks = rng.choice(sizes.vocab, size=int(lens.sum()), p=p)
    vocab = np.array([word(r) for r in range(sizes.vocab)], dtype=object)
    offs = np.concatenate([[0], np.cumsum(lens)])
    return [" ".join(vocab[toks[offs[i]:offs[i + 1]]]) for i in range(n)]


def _frame(repos, paths, contents, langs) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "repo": repos,
            "path": paths,
            "commit": "c0",
            "lang": langs,
            "content": contents,
            "content_sha": [
                hashlib.sha256(c.encode()).hexdigest() for c in contents
            ],
        }
    )


def generate(seed: int, sizes: Sizes | None = None) -> Inputs:
    sizes = sizes or Sizes()
    rng = np.random.default_rng(seed)
    p = _zipf_p(sizes.vocab)
    n = sizes.docs
    corpus = _frame(
        [f"repo{i % 40:02d}" for i in range(n)],
        [f"src/mod{i:06d}.py" for i in range(n)],
        _docs(rng, n, sizes, p),
        [_LANGS[i % len(_LANGS)] for i in range(n)],
    )

    # query pool: query i has 1 + i % 3 in-vocabulary terms drawn Zipf;
    # every tenth swaps its last term for an out-of-vocabulary one
    # (ranks past the cap never occur in the corpus) and another tenth
    # asks for k=100. The shape is the same for every seed; only the
    # terms change. The stream draws pool entries Zipf, so popular
    # queries repeat.
    #
    # Term ranks are drawn by Latin-hypercube sampling of the Zipf CDF:
    # each term slot's uniforms are stratified over the queries that have
    # the slot. Which stratum a pool position gets is the same for every
    # seed (a fixed permutation); the seed picks the point inside it. A
    # run times only the first few pool queries on the slow lanes, so
    # each position then has nearly the same df for every seed and
    # per-query latency medians do not swing with the seed.
    n_q = sizes.query_pool
    ranks = np.zeros((n_q, 3), dtype=np.int64)
    cdf = np.cumsum(p)
    for slot in range(3):
        rows = np.flatnonzero(np.arange(n_q) % 3 >= slot)
        strata = np.random.default_rng(slot).permutation(len(rows))
        u = (strata + rng.random(len(rows))) / len(rows)
        ranks[rows, slot] = np.minimum(np.searchsorted(cdf, u), sizes.vocab - 1)
    pool: list[tuple[str, int]] = []
    for i in range(n_q):
        terms = [word(int(r)) for r in ranks[i, :1 + i % 3]]
        if i % 10 == 9:
            terms[-1] = word(sizes.vocab + int(rng.integers(0, 10_000)))
        pool.append((" ".join(terms), 100 if i % 10 == 4 else 10))
    picks = rng.choice(sizes.query_pool, size=4000, p=_zipf_p(sizes.query_pool))
    stream = [pool[int(i)] for i in picks]

    # upsert batch: ~80% new keys, ~20% rewrites of existing (repo, path)
    n_up = sizes.upsert_docs
    n_rw = int(round(n_up * sizes.upsert_rewrite_frac))
    rw = np.sort(rng.choice(n, size=n_rw, replace=False))
    new_ids = np.arange(n, n + n_up - n_rw)
    upsert = _frame(
        [corpus["repo"].iat[i] for i in rw]
        + [f"repo{i % 40:02d}" for i in new_ids],
        [corpus["path"].iat[i] for i in rw]
        + [f"src/mod{i:06d}.py" for i in new_ids],
        _docs(rng, n_up, sizes, p),
        [_LANGS[i % len(_LANGS)] for i in range(n_up)],
    )

    # extract_all topics: 2-3 mid-frequency terms (ranks 10..200), so a
    # threshold at a fixed rank returns tens to hundreds of rows
    topics = [
        " ".join(word(int(r)) for r in rng.choice(
            np.arange(10, min(200, sizes.vocab)),
            size=int(rng.integers(2, 4)), replace=False))
        for _ in range(sizes.topics)
    ]
    return Inputs(corpus, pool, stream, upsert, topics, sizes)


def doc_terms(content: str) -> set[str]:
    """Distinct terms of generated text (already lower-case, one space
    between tokens, so the engine's tokenizer splits it the same way)."""
    return set(content.split())


def properties(inp: Inputs) -> dict:
    """Input shape printed with every run."""
    term_sets = [doc_terms(c) for c in inp.corpus["content"]]
    lens = np.array([len(c.split()) for c in inp.corpus["content"]])
    df: dict[str, int] = {}
    for ts in term_sets:
        for t in ts:
            df[t] = df.get(t, 0) + 1
    q_df = [df.get(t, 0) for q, _ in inp.pool for t in q.split()]
    q50 = [float(x) for x in np.percentile(lens, [25, 50, 75])]
    return {
        "docs": len(inp.corpus),
        "tokens": int(lens.sum()),
        "distinct_terms": len(df),
        "max_df": max(df.values()),
        "doc_len_quartiles": q50,
        "query_term_df_quartiles": [
            float(x) for x in np.percentile(q_df, [25, 50, 75])
        ],
        "postings": sum(len(ts) for ts in term_sets),
        "upsert_docs": len(inp.upsert),
        "distinct_queries": len(set(inp.pool)),
    }
