"""Seeded benchmark inputs: the code corpus, the query stream and the
refresh write plan.

The corpus follows the FIXTURES.md §1c recipe (camelCase / snake_case
identifiers, acronym runs, keywords, Zipf-distributed stems, langs
{java, py, js, go}, eight collections) and is generated here, not by the
library, so a change to ``lucene_plugin_spark.corpus`` cannot move the
inputs.  Generation is one numpy stream per seed in one process, so a seed
gives the same bytes on any core count.

Collections are named ``repo00`` .. ``repo07``: the facade strips ``-`` from
collection names (``sanitize_collection``), so a ``repo-00`` corpus could
never be reached through ``LuceneFacade.search``.
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pandas as pd

STEMS = [
    "get", "set", "user", "name", "index", "query", "parse", "token", "http",
    "server", "client", "read", "write", "buffer", "stream", "merge", "block",
    "score", "match", "field", "value", "cache", "commit", "search", "doc",
    "term", "list", "hash", "join", "sort", "filter", "count", "batch",
    "shard", "segment", "offset", "byte", "codec", "util", "string",
]
KEYWORDS = ["return", "import", "class", "def", "void", "public", "static",
            "func", "var", "let", "const", "new", "null", "true", "false"]
LANGS = ["java", "py", "js", "go"]
N_REPOS = 8
TOKENS_PER_DOC = (30, 120)
WRITES_PER_CYCLE = 16
DELETES_PER_CYCLE = 4


def repo_name(i: int) -> str:
    return f"repo{i:02d}"


def _zipf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _contents(rng: np.random.Generator, n: int) -> list[str]:
    """n documents of source-code-like text, vectorized over all tokens."""
    nt = rng.integers(TOKENS_PER_DOC[0], TOKENS_PER_DOC[1], size=n)
    total = int(nt.sum())
    stems = np.array(STEMS, dtype=object)
    caps = np.array([s.capitalize() for s in STEMS], dtype=object)
    upper = np.array([s.upper() for s in STEMS], dtype=object)
    a = rng.choice(len(STEMS), size=total, p=_zipf(len(STEMS), 1.1))
    b = rng.choice(len(STEMS), size=total, p=_zipf(len(STEMS), 1.1))
    kw = np.array(KEYWORDS, dtype=object)[
        rng.choice(len(KEYWORDS), size=total, p=_zipf(len(KEYWORDS), 1.3))]
    num = rng.integers(0, 100, size=total).astype(str).astype(object)
    shape = rng.random(total)
    toks = np.where(shape < 0.25, kw,
           np.where(shape < 0.55, stems[a] + caps[b],            # camelCase
           np.where(shape < 0.75, stems[a] + "_" + stems[b],     # snake_case
           np.where(shape < 0.90, stems[a], upper[a] + num))))   # acronym run
    ends = np.cumsum(nt)
    return [" ".join(toks[s:e]) for s, e in zip(ends - nt, ends)]


def corpus_frame(seed: int, n_docs: int) -> pd.DataFrame:
    """docs(repo, path, commit, lang, content) for ``seed``."""
    rng = np.random.default_rng([seed, 0])
    i = np.arange(n_docs)
    lang = np.array(LANGS, dtype=object)[i % len(LANGS)]
    return pd.DataFrame({
        "repo": [repo_name(x % N_REPOS) for x in i],
        "path": [f"src/f{x:05d}.{l}" for x, l in zip(i, lang)],
        "commit": "c0ffee42",
        "lang": lang,
        "content": _contents(rng, n_docs),
    })


def _write_corpus(path: str, seed: int, n_docs: int) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    corpus_frame(seed, n_docs).to_parquet(tmp, index=False)
    os.replace(tmp, path)


def corpus_parquet(cache_dir: str, seed: int, n_docs: int) -> str:
    """Path of the cached parquet corpus for (seed, n_docs), written once.
    A child process generates it, so the caller's memory (and its peak RSS)
    is the same whether or not the corpus was cached."""
    path = os.path.join(cache_dir, f"corpus-s{seed}-n{n_docs}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        subprocess.run([sys.executable, __file__, path, str(seed), str(n_docs)],
                       check=True)
    return path


# ------------------------------------------------------------------ queries
#: query families of the reference's classic parser
FAMILIES = ("term", "or", "and", "not", "phrase", "prefix", "wildcard",
            "fuzzy")
#: the post-commit probes of a refresh cycle: a single term, a conjunction,
#: positions and a term-dictionary expansion, in half the time of a full
#: round
REFRESH_FAMILIES = ("term", "and", "phrase", "prefix")


def _query(rng: np.random.Generator, family: str) -> str:
    s1, s2, s3 = (STEMS[int(j)] for j in rng.choice(len(STEMS), 3,
                                                     replace=False))
    if family == "term":
        r = rng.random()
        if r < 0.5:
            return s1
        if r < 0.7:
            return KEYWORDS[int(rng.integers(len(KEYWORDS)))]
        return f"{s1}{int(rng.integers(100))}"
    if family == "or":
        return f"{s1} {s2}" if rng.random() < 0.5 else f"{s1} {s2} {s3}"
    if family == "and":
        return f"{s1} AND {s2}"
    if family == "not":
        return f"{s1} -{s2}"
    if family == "phrase":
        return f'"{s1} {s2}"'
    if family == "prefix":
        return s1[:max(2, len(s1) - 2)] + "*"
    if family == "wildcard":
        return s1[0] + "*" + s1[-2:] if len(s1) > 3 else s1[0] + "?" + s1[2:]
    return f"{s1}~1"


def query_stream(seed: int, stream: int = 1, families=FAMILIES):
    """Endless (collection, query, k) triples, none repeated, for ``seed``.

    Queries come in rounds with one query of each of ``families``, so every run
    that ends on a round boundary has the same family mix; depth k is 10
    or 255 (the service default, LuceneReaderImpl.java:104), alternating
    within a round and between rounds.  Every query is scoped to one
    collection, as in the reference."""
    rng = np.random.default_rng([seed, stream])
    seen: set[tuple[str, str, int]] = set()
    n = 0
    while True:
        fam = families[n % len(families)]
        k = 10 if (n + n // len(families)) % 2 == 0 else 255
        item = (repo_name(int(rng.integers(N_REPOS))), _query(rng, fam), k)
        if item not in seen:
            seen.add(item)
            n += 1
            yield item


# ------------------------------------------------------------ write plan
def marker(cycle: int) -> str:
    """A token that only the docs written in ``cycle`` contain."""
    return f"rmk{cycle}"


def refresh_cycle(seed: int, cycle: int, base: pd.DataFrame,
                  written: dict[tuple[str, str], tuple[int, str]]) -> dict:
    """Operations of refresh cycle ``cycle`` (1-based) in one collection.

    ``written`` maps every live key this client wrote to (cycle, text), the
    base corpus being cycle 0.  Half the writes are new keys, half update
    base-corpus keys.  The deletes pick keys written before this cycle,
    because the facade only deletes keys it has committed itself.  The
    returned ``deleted_tokens`` (up to two rare acronym-number tokens of
    each deleted doc) make a query whose hits must not include them."""
    rng = np.random.default_rng([seed, 100 + cycle])
    repo = repo_name(int(rng.integers(N_REPOS)))
    half = WRITES_PER_CYCLE // 2
    base_paths = base.loc[base["repo"] == repo, "path"].to_numpy()
    updates = [str(p) for p in rng.choice(base_paths, half, replace=False)]
    new = [f"src/w{cycle:03d}{j:02d}.{LANGS[j % len(LANGS)]}"
           for j in range(half)]
    contents = _contents(rng, WRITES_PER_CYCLE)
    mark = marker(cycle)
    writes = [(repo, path, f"{mark} {text} {mark}")
              for path, text in zip(new + updates, contents)]
    this_cycle = {(r, p) for r, p, _ in writes}
    earlier = sorted(k for k, (c, _) in written.items()
                     if c < cycle and k[0] == repo and k not in this_cycle)
    pick = rng.choice(len(earlier), DELETES_PER_CYCLE, replace=False)
    deletes = [earlier[int(j)] for j in sorted(pick)]
    tokens = sorted({t for k in deletes
                     for t in sorted({t.lower() for t in written[k][1].split()
                                      if t[-1].isdigit() and t[0].isupper()})[:2]})
    return {"repo": repo, "writes": writes, "deletes": deletes,
            "deleted_tokens": tokens}


if __name__ == "__main__":
    # python3 inputs.py <parquet path> <seed> <n_docs>: write one corpus
    _write_corpus(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
