"""Seeded benchmark inputs: the corpus and the query stream.

Everything here is a pure function of the seed, so the same seed gives
byte-identical inputs and a different seed a different corpus and query
stream. No Spark: the program under test receives only the parquet files
and query dicts made here.

The corpus has the shape properties of `cantine_spark.corpus` that the
engine's tiers depend on: hot keywords in nearly every document (the
cluster-kernel and block-max pruning load), zipf-drawn identifiers (a
heavy head that repeats and a long tail that misses caches), one-document
`uniqterm`s (the rare-lookup tier), tokens of 40 bytes or more (the
tokenizer must drop them) and license phrases (phrase queries).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

# Code keywords; nearly every document holds most of them.
HOT_TERMS = [
    "def", "return", "if", "else", "import", "for", "while", "class",
    "fn", "let", "mut", "pub", "void", "int", "static", "func", "var",
    "const", "self", "none", "true", "false", "struct", "enum", "match",
    "impl", "try", "catch", "throw", "new", "this", "null", "async",
    "await", "yield", "break", "continue", "switch", "case", "package",
]
LANGS = ["python", "rust", "java", "go", "js", "c", "md"]
LANG_P = np.array([0.30, 0.18, 0.15, 0.12, 0.10, 0.09, 0.06])
EXT = {"python": "py", "rust": "rs", "java": "java", "go": "go",
       "js": "js", "c": "c", "md": "md"}
LICENSE_PHRASES = [
    "permission is hereby granted free of charge",
    "the software is provided as is without warranty",
    "redistribution and use in source and binary forms",
]
STEMS = ["parse", "build", "merge", "scan", "token", "index", "query",
         "score", "batch", "shard", "codec", "block", "field", "store"]
VOCAB_SIZE = 10_000
# many_or ORs this many hot keywords: past the batch path's driver limit
# (2^15 postings) at 2000 documents, so batched it takes the cluster kernel
MANY_OR_TERMS = 24
ZIPF_A = 1.3

# Query classes and their share of the search stream. `many_or` (an OR of
# hot keywords) is the costliest class and stays above 10% of the stream;
# much more, and many_or requests meet in one micro-batch often enough
# (each such batch runs the cluster kernel) to congest the open loop.
CLASS_WEIGHTS = {
    "uniq": 0.14, "zipf": 0.16, "hot": 0.10, "hot_page2": 0.06,
    "phrase": 0.08, "must_not": 0.08, "fielded": 0.08,
    "filter_sort": 0.08, "agg": 0.10, "many_or": 0.12,
}


def vocab() -> list[str]:
    """Identifier vocabulary; fixed, so ranks mean the same in every seed."""
    return [f"{STEMS[i % len(STEMS)]}{i:05d}" for i in range(VOCAB_SIZE)]


def uniq_term(doc: int) -> str:
    return f"uniqterm{doc:08d}"


def make_corpus(seed: int, n_docs: int) -> pd.DataFrame:
    """`n_docs` source files: (repo, path, commit, lang, content).
    Document `i` carries `uniqterm{i:08d}`."""
    rng = np.random.default_rng([seed, n_docs])
    voc = vocab()
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P / LANG_P.sum())
    n_lines = rng.integers(10, 50, size=n_docs)
    rows = []
    for i in range(n_docs):
        lang = LANGS[int(langs[i])]
        repo = f"org{i % 7}/proj{i * 2654435761 % 97}"
        path = f"src/module_{i % 97}/file_{i}.{EXT[lang]}"
        commit = hashlib.sha1(f"{seed}:{repo}:{path}".encode()).hexdigest()
        nl = int(n_lines[i])
        n_hot = rng.integers(2, 6, size=nl)
        n_ids = rng.integers(1, 5, size=nl)
        hot = rng.integers(0, len(HOT_TERMS), size=int(n_hot.sum()))
        ids = np.minimum(rng.zipf(ZIPF_A, size=int(n_ids.sum())) - 1,
                         VOCAB_SIZE - 1)
        lines = []
        h = k = 0
        for a, b in zip(n_hot.tolist(), n_ids.tolist()):
            toks = [HOT_TERMS[t] for t in hot[h:h + a].tolist()]
            toks += [voc[t] for t in ids[k:k + b].tolist()]
            h += a
            k += b
            lines.append(" ".join(toks))
        lines.append(uniq_term(i))
        if rng.random() < 0.1:  # tokenizer must drop tokens of >= 40 bytes
            lines.append("x" * int(rng.integers(40, 72)))
        if rng.random() < 0.2:
            lines.append(LICENSE_PHRASES[int(rng.integers(0, 3))])
        if lang == "md":
            lines.insert(0, "# documentation header")
        rows.append((repo, path, commit, lang, "\n".join(lines)))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang",
                                       "content"])


def doc_ids(corpus: pd.DataFrame) -> np.ndarray:
    """The engine's doc_id per row: dense rank over (repo, path), as
    `cantine_spark.corpus.with_doc_ids` assigns it (ASCII keys, so Python
    and Spark string order agree)."""
    keys = list(zip(corpus["repo"], corpus["path"]))
    order = sorted(range(len(corpus)), key=keys.__getitem__)
    out = np.empty(len(corpus), dtype=np.int64)
    out[order] = np.arange(len(corpus))
    return out


def make_query(cls: str, rng, n_docs: int) -> dict:
    """One query of class `cls`. `hot_page2` is returned as its page-1
    query; the caller fetches the cursor before the timed window."""
    hot = HOT_TERMS[int(rng.integers(0, len(HOT_TERMS)))]
    if cls == "uniq":
        return {"fulltext": uniq_term(int(rng.integers(0, n_docs)))}
    if cls == "zipf":
        t = int(min(rng.zipf(ZIPF_A) - 1, VOCAB_SIZE - 1))
        return {"fulltext": vocab()[t]}
    if cls in ("hot", "hot_page2"):
        return {"fulltext": hot, "num_items": 20}
    if cls == "phrase":
        p = LICENSE_PHRASES[int(rng.integers(0, 3))].split()
        s = int(rng.integers(0, len(p) - 2))
        return {"fulltext": '"' + " ".join(p[s:s + 3]) + '"'}
    if cls == "must_not":
        other = HOT_TERMS[int(rng.integers(0, len(HOT_TERMS)))]
        if other == hot:
            other = HOT_TERMS[(HOT_TERMS.index(hot) + 1) % len(HOT_TERMS)]
        return {"fulltext": f"+{hot} -{other}"}
    if cls == "fielded":
        return {"fulltext": f"path:module_{int(rng.integers(0, 97))} {hot}"}
    if cls == "filter_sort":
        lo = int(rng.integers(10, 40))
        return {"fulltext": hot, "filter": {"num_lines": [lo, lo + 10]},
                "sort": "num_tokens"}
    if cls == "agg":
        return {"fulltext": hot,
                "agg": {"num_lines": [[0, 20], [20, 35], [35, 60]]}}
    if cls == "many_or":
        pick = rng.permutation(len(HOT_TERMS))[:MANY_OR_TERMS]
        return {"fulltext": " ".join(HOT_TERMS[t] for t in pick)}
    raise ValueError(f"unknown query class {cls!r}")


def query_stream(seed: int, n: int, n_docs: int, part: int = 0
                 ) -> list[tuple[str, dict]]:
    """`n` (class, query) pairs in seeded order; `part` selects an
    independent stream of the same seed. Class counts follow the weights
    exactly (largest remainder), so seeds vary the queries and their order
    but not the class mix."""
    rng = np.random.default_rng([seed, 7, part])
    names = list(CLASS_WEIGHTS)
    w = np.array([CLASS_WEIGHTS[c] for c in names])
    quota = w / w.sum() * n
    counts = np.floor(quota).astype(int)
    for i in np.argsort(counts - quota)[:n - counts.sum()]:
        counts[i] += 1
    picks = rng.permutation(np.repeat(np.arange(len(names)), counts))
    return [(names[c], make_query(names[c], rng, n_docs))
            for c in picks.tolist()]


def check_queries(seed: int, n_docs: int) -> list[tuple[str, dict]]:
    """One relevance query per class the oracle can answer (no filter,
    sort, agg or cursor): the fixed correctness subset."""
    rng = np.random.default_rng([seed, 11])
    return [(c, make_query(c, rng, n_docs))
            for c in ("uniq", "zipf", "hot", "phrase", "must_not",
                      "fielded", "many_or")]


def closed_orders(seed: int, classes: list[str], rounds: int,
                  clients: int) -> list[list[int]]:
    """`rounds` seeded orders of range(len(classes)) for a closed loop of
    `clients` clients that move in step, so each run of `clients`
    consecutive queries shares one micro-batch. No run holds two
    `many_or`s, and the runs that hold one are drawn by the seed: every
    order then has the same number of cluster-kernel batches."""
    rng = np.random.default_rng([seed, 17])
    heavy = [i for i, c in enumerate(classes) if c == "many_or"]
    light = [i for i, c in enumerate(classes) if c != "many_or"]
    n_runs = -(-len(classes) // clients)
    if len(heavy) > n_runs:
        raise ValueError("more many_or queries than micro-batches")
    out = []
    for _ in range(rounds):
        runs: list[list[int]] = [[] for _ in range(n_runs)]
        for r, i in zip(rng.permutation(n_runs)[:len(heavy)],
                        rng.permutation(heavy)):
            runs[r].append(int(i))
        rest = iter(rng.permutation(light).tolist())
        for run in runs:
            while len(run) < clients:
                nxt = next(rest, None)
                if nxt is None:
                    break
                run.insert(int(rng.integers(0, len(run) + 1)), nxt)
        out.append([i for run in runs for i in run])
    return out


def arrivals(seed: int, rate: float, n: int) -> list[float]:
    """Offsets (s) of `n` Poisson arrivals at `rate` per second."""
    rng = np.random.default_rng([seed, 13])
    return np.cumsum(rng.exponential(1.0 / rate, size=n)).tolist()
