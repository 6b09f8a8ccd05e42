"""Seeded inputs for the benchmark: a code-like corpus, ingest batches and
query streams. Everything here is a pure function of (workload, seed); the
engine only ever sees the parquet files and query strings written here.

Corpus: token draws follow a Zipf law (s ~ 1.07, the shape of identifier
frequencies in source code) over a vocabulary of snake_case identifiers,
with lognormal document lengths. The two workloads differ in vocabulary
size and query mix (see ``SPECS``).
"""

from __future__ import annotations

import hashlib
import os
import re
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Independent restatement of the index analyzer (lowercase, split on
# [^a-z0-9_]+): the expected corpus statistics below are computed with it,
# so the build's counts are checked against something the engine did not make.
_SPLIT = re.compile("[^a-z0-9_]+")

FRAGMENTS = [
    "get", "set", "buf", "idx", "key", "val", "map", "req", "res", "ctx",
    "err", "cfg", "ptr", "len", "str", "num", "tmp", "node", "list", "item",
    "data", "hash", "sort", "scan", "read", "write", "open", "close", "init",
    "run", "load", "save", "parse", "emit", "push", "pop", "iter", "next",
    "user", "file",
]
SEPARATORS = [" ", "(", ") ", ", ", ".", " = ", "\n", ": ", "[", "] "]
LANGS = ["python", "java", "go", "js", "c"]
LANG_P = [0.35, 0.25, 0.2, 0.12, 0.08]
EXT = {"python": "py", "java": "java", "go": "go", "js": "js", "c": "c"}
N_REPOS = 24
K = 10
N_DOCS = 2400  # bulk corpus rows
ZIPF_S = 1.07
INGEST_BATCHES = 2  # an untraced run applies the first only
INGEST_ADDS = 120  # new docs per micro-batch
INGEST_REMOVES = 12  # op='remove' rows per micro-batch
LOG_QUERIES = 32  # search_batch query log
SERVE_QUERIES = 120  # the serve query set: six cycles of SHAPES


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's inputs."""

    vocab: int  # Zipf support (ranks)
    doc_len: float  # lognormal median tokens per doc


SPECS = {
    # many terms with short postings: the merge runs one group per term
    "wide": Spec(1200, 60.0),
    # few terms with long postings: the merge has few, large groups
    "narrow": Spec(300, 120.0),
}


def word(rank: int) -> str:
    """Vocabulary word for a Zipf rank: bijective base-len(FRAGMENTS)
    digits joined by '_' (unique, and short for frequent ranks, like real
    identifiers); every 7th rank carries a digit suffix."""
    n, parts = rank + 1, []
    while n > 0:
        n -= 1
        parts.append(FRAGMENTS[n % len(FRAGMENTS)])
        n //= len(FRAGMENTS)
    w = "_".join(reversed(parts))
    return w + str(rank % 10) if rank % 7 == 6 else w


def tokenize(text: str) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t]


class _Drawer:
    """Seeded Zipf draws over the vocabulary ranks."""

    def __init__(self, spec: Spec, rng: np.random.Generator):
        p = np.arange(1, spec.vocab + 1, dtype=np.float64) ** -ZIPF_S
        self.cdf = np.cumsum(p / p.sum())
        self.rng = rng
        self.spec = spec

    def ranks(self, n: int) -> np.ndarray:
        r = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        return np.minimum(r, self.spec.vocab - 1)

    def docs(self, n: int) -> list[np.ndarray]:
        lens = np.clip(self.rng.lognormal(np.log(self.spec.doc_len), 0.7, n), 3, 2000).astype(int)
        flat = self.ranks(int(lens.sum()))
        return np.split(flat, np.cumsum(lens)[:-1])


def _render(ranks: np.ndarray, words: list[str], rng: np.random.Generator) -> str:
    """Token ranks → code-like text: separators between tokens, and every
    ~12th identifier upper-cased like a constant (the analyzer folds case)."""
    seps = rng.integers(0, len(SEPARATORS), ranks.size)
    upper = rng.random(ranks.size) < 0.08
    out = []
    for r, s, u in zip(ranks, seps, upper):
        w = words[r]
        out.append(w.upper() if u else w)
        out.append(SEPARATORS[s])
    return "".join(out)


def _rows(doc_ranks: list[np.ndarray], words: list[str], rng, seed: int, prefix: str) -> pd.DataFrame:
    n = len(doc_ranks)
    repo_ids = np.minimum(rng.zipf(1.5, n) - 1, N_REPOS - 1)
    langs = rng.choice(len(LANGS), n, p=LANG_P)
    rows = []
    for j, (ranks, ri, li) in enumerate(zip(doc_ranks, repo_ids, langs)):
        lang = LANGS[li]
        content = _render(ranks, words, rng)
        rows.append(
            (
                f"org{ri % 5}/repo{ri}",
                f"{prefix}/d{j % 17}/{words[ranks[0]]}_{j}.{EXT[lang]}",
                hashlib.sha1(f"{seed}:{prefix}:{j}".encode()).hexdigest(),
                lang,
                content,
            )
        )
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


@dataclass
class Inputs:
    """Paths and expectations of one generated input set."""

    corpus_path: str  # bulk corpus (with sha256) — what build_index reads
    oracle_path: str  # same rows + doc_id (key rank) for the BM25 oracle
    batch_paths: list[str]  # ingest micro-batches (op column)
    n_docs: int
    n_tokens: int
    n_terms: int
    n_postings: int
    content_bytes: int
    batch_content_bytes: list[int]
    removed_keys: list[list[tuple[str, str, str]]]  # per batch
    removed_probe: list[list[str]]  # per batch: a term of each removed doc
    stream: list[dict]  # the serve query set, asked in rounds
    log: list[str]  # search_batch log
    singles: list[str]  # [rare term, head-term conjunction]
    ingest_queries: list[str]
    oracle_sample: list[dict]


# Query shapes of the reference set, in a fixed cycle so every run sees the
# same mix (20 queries: 4 single-term, 4 two-term AND, 2 long AND, 3 OR,
# 2 AND NOT, 2 prefix, 2 lang/repo-filtered, 1 with an absent term).
SHAPES = ["one", "and2", "or", "one", "and2", "andnot", "prefix", "filtered", "andn", "or",
          "and2", "one", "absent", "filtered", "andnot", "prefix", "or", "andn", "one", "and2"]


def _queries(drawer: _Drawer, words: list[str], present: np.ndarray, rng, n: int, filters: bool) -> list[dict]:
    """``n`` queries cycling through SHAPES. Half the terms are Zipf draws
    (long postings, WAND) and half uniform over the indexed terms (tail).
    Long ANDs cycle through 4..10 terms and ORs through 2..3, so every seed
    asks the same query lengths."""

    tail = iter(())

    def tail_term() -> str:
        # uniform over indexed terms, without replacement, so the tail
        # terms of a query set are all different
        nonlocal tail
        r = next(tail, None)
        if r is None:
            tail = iter(rng.permutation(present))
            r = next(tail)
        return words[int(r)]

    def term() -> str:
        return words[int(drawer.ranks(1)[0])] if rng.random() < 0.5 else tail_term()

    out = []
    seen: dict[str, int] = {}
    for i in range(n):
        shape = SHAPES[i % len(SHAPES)]
        nth = seen[shape] = seen.get(shape, -1) + 1
        lang = repo = None
        if shape == "one":
            q = term()
        elif shape == "and2":
            q = f"{term()} AND {term()}"
        elif shape == "andn":
            q = " AND ".join(term() for _ in range(4 + nth % 7))
        elif shape == "or":
            q = " OR ".join(term() for _ in range(2 + nth % 2))
        elif shape == "andnot":
            q = f"{term()} AND NOT {term()}"
        elif shape == "prefix":  # a fresh prefix: first fragment plus two letters
            parts = tail_term().split("_")
            q = (f"{parts[0]}_{parts[1][:2]}" if len(parts) > 1 else parts[0][:3]) + "*"
        elif shape == "filtered":
            q = term() if i % 40 < 20 else f"{term()} AND {term()}"
            if filters and i % 3 == 0:
                repo = [f"org{i % 5}/repo{i % 6}"]
            elif filters:
                lang = [LANGS[i % len(LANGS)]]
        else:
            q = f"{term()} AND zq{int(rng.integers(0, 10**6))}x"
        out.append(dict(query=q, lang_filter=lang, repo_filter=repo, k=K, shape=shape))
    return out


def fixed_queries(words: list[str]) -> list[str]:
    """The ingest query set: the SHAPES mix over two sets of fixed Zipf ranks
    (all indexed at every seed), so every run asks the same questions. Two
    sets, so the cold-pass median does not sit on the gap between the
    head-term queries and the rest."""
    out = []
    for ranks in ((0, 1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233),
                  (4, 6, 7, 9, 10, 12, 17, 27, 44, 72, 117, 190, 290)):
        w = [words[r] for r in ranks]
        out += [
            w[0], f"{w[0]} AND {w[6]}", f"{w[1]} OR {w[7]}", w[5], f"{w[3]} AND {w[9]}",
            f"{w[0]} AND NOT {w[1]}", w[2][:3] + "*", w[8], " AND ".join(w[:5]), f"{w[2]} OR {w[10]} OR {w[12]}",
            f"{w[6]} AND {w[11]}", w[10], f"{w[3]} AND zqabsentx", w[12], f"{w[6]} AND NOT {w[7]}",
            w[9][:3] + "*", f"{w[4]} OR {w[11]}", " AND ".join(w[:7]), w[4], f"{w[1]} AND {w[2]}",
        ]
    return out


def generate(workload: str, seed: int, out_dir: str) -> Inputs:
    """Write the workload's inputs under ``out_dir`` and return them."""
    spec = SPECS[workload]
    rng = np.random.default_rng([seed, sorted(SPECS).index(workload)])
    drawer = _Drawer(spec, rng)
    words = [word(r) for r in range(spec.vocab)]
    os.makedirs(out_dir, exist_ok=True)

    doc_ranks = drawer.docs(N_DOCS)
    corpus = _rows(doc_ranks, words, rng, seed, "src")
    corpus["sha256"] = [hashlib.sha256(c.encode()).hexdigest() for c in corpus["content"]]
    corpus_path = os.path.join(out_dir, "corpus.parquet")
    _write(corpus, corpus_path)

    # the oracle's doc_id is the key rank, computed here independently
    order = corpus.sort_values(["repo", "path", "commit"]).index
    with_ids = corpus.drop(columns="sha256").loc[order].reset_index(drop=True)
    with_ids.insert(0, "doc_id", np.arange(len(with_ids), dtype=np.int64))
    oracle_path = os.path.join(out_dir, "corpus_ids.parquet")
    _write(with_ids, oracle_path)

    n_tokens, pairs, term_df = 0, 0, {}
    for c in corpus["content"]:
        toks = tokenize(c)
        n_tokens += len(toks)
        uniq = set(toks)
        pairs += len(uniq)
        for t in uniq:
            term_df[t] = term_df.get(t, 0) + 1
    present = np.array(sorted({int(r) for d in doc_ranks for r in np.unique(d)}))

    batch_paths, batch_bytes, removed_keys, removed_probe = [], [], [], []
    earlier = corpus
    for b in range(INGEST_BATCHES):
        adds = _rows(drawer.docs(INGEST_ADDS), words, rng, seed, f"ingest{b}")
        pick = rng.choice(len(earlier), INGEST_REMOVES, replace=False)
        gone = earlier.iloc[np.sort(pick)]
        rem = gone[["repo", "path", "commit", "lang"]].assign(content="")
        batch = pd.concat([adds.assign(op="add"), rem.assign(op="remove")], ignore_index=True)
        path = os.path.join(out_dir, f"batch_{b}.parquet")
        _write(batch, path)
        batch_paths.append(path)
        batch_bytes.append(sum(len(c.encode()) for c in adds["content"]))
        removed_keys.append([tuple(k) for k in gone[["repo", "path", "commit"]].itertuples(index=False)])
        # the removed doc's rarest base-corpus term: a query that would
        # surely return it (k >= df) if the removal were not applied
        removed_probe.append(
            [min(set(tokenize(c)), key=lambda t: (term_df.get(t, 0), t)) for c in gone["content"]]
        )
        # later batches may remove docs this batch added
        earlier = pd.concat([earlier.drop(earlier.index[pick]), adds], ignore_index=True)

    stream = _queries(drawer, words, present, rng, SERVE_QUERIES, filters=True)
    log = [q["query"] for q in _queries(drawer, words, present, rng, LOG_QUERIES, filters=False)]

    singles = [min(term_df, key=lambda t: (term_df[t], t)), f"{words[0]} AND {words[1]}"]
    # oracle sample: one serve query (filters possible) and one log query
    sample = [stream[int(rng.integers(0, len(stream)))],
              dict(query=log[int(rng.integers(0, len(log)))], lang_filter=None, repo_filter=None, k=K)]

    return Inputs(
        corpus_path=corpus_path,
        oracle_path=oracle_path,
        batch_paths=batch_paths,
        n_docs=len(corpus),
        n_tokens=n_tokens,
        n_terms=len(term_df),
        n_postings=pairs,
        content_bytes=sum(len(c.encode()) for c in corpus["content"]),
        batch_content_bytes=batch_bytes,
        removed_keys=removed_keys,
        removed_probe=removed_probe,
        stream=stream,
        log=log,
        singles=singles,
        ingest_queries=fixed_queries(words),
        oracle_sample=sample,
    )
