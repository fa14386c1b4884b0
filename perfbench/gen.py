"""Seeded input generators for the benchmark.

Everything here is pure numpy/pandas and never touches Spark, so the same
seed yields byte-identical frames whatever the Spark parallelism. The
package under test receives only these generated inputs.

Three generators, one per workload:

* ``corpus`` / ``query_stream`` feed ``search``: a Zipf-skewed code-like
  corpus with planted needle terms, and a Zipf-popular query stream over
  the full query grammar.
* ``corpus`` / ``add_batches`` / ``tombstone_sample`` feed the index
  stages of ``ingest``:
  a base corpus, delta batches of new paths plus new commits of existing
  paths (each with one needle doc), and tombstone samples drawn from the
  live ids the index reports.
* ``snapshot_pair`` feeds the prep stage of ``ingest``: the previous and
  current snapshot with known new, updated, unchanged and removed counts
  and planted exact and near duplicates.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

# Hot "code stopwords": a fixed share of every document's tokens.
STOPWORDS = ["def", "return", "import", "self", "for", "if", "else", "class"]
STOPWORD_MASS = 0.10
ZIPF_S = 1.07
_ONSETS = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z"]
_VOWELS = ["a", "e", "i", "o", "u"]
# Absent terms: never produced by the vocabulary (it has no 'x' or 'q').
ABSENT = ["qxabsent", "xqmissing", "qqnothere", "xxvoid"]

# Query grammar shapes of query_stream, and the positions of those whose
# query plan differs from plain terms: prefix, fuzzy, wildcard, regexp,
# phrase, phrase with slop, must_not.
N_SHAPES = 14
PLANNED_SHAPES = range(3, 10)

# Streams split one seed into independent generators, so adding a draw to
# one input never shifts another.
_STREAMS = {"vocab": 1, "corpus": 2, "queries": 3, "adds": 4, "tomb": 5,
            "snap": 6, "warm": 7}


def rng_for(seed: int, stream: str, *extra: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), _STREAMS[stream], *extra])


def vocabulary(seed: int, size: int) -> list[str]:
    """``size`` distinct pseudo-words of 2-4 consonant-vowel syllables.
    Many words sit one edit apart, so fuzzy and wildcard clauses expand
    to several terms."""
    rng = rng_for(seed, "vocab")
    syll = [o + v for o in _ONSETS for v in _VOWELS]
    words: list[str] = []
    seen = set(STOPWORDS)
    while len(words) < size:
        n = int(rng.integers(2, 5))
        w = "".join(syll[int(i)] for i in rng.integers(0, len(syll), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_cdf(n: int) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** (-ZIPF_S)
    p = p / p.sum() * (1.0 - STOPWORD_MASS)
    probs = np.concatenate([np.full(len(STOPWORDS), STOPWORD_MASS / len(STOPWORDS)), p])
    return np.cumsum(probs)


def _token_lists(rng: np.random.Generator, vocab: list[str], lengths: np.ndarray) -> list[list[str]]:
    words = np.array(STOPWORDS + vocab, dtype=object)
    cdf = _zipf_cdf(len(vocab))
    u = rng.random(int(lengths.sum()))
    idx = np.minimum(np.searchsorted(cdf, u * cdf[-1], side="right"), len(words) - 1)
    toks = words[idx]
    out, pos = [], 0
    for n in lengths.tolist():
        out.append(toks[pos:pos + n].tolist())
        pos += n
    return out


def _lengths(rng: np.random.Generator, n: int, mean_log: float = 4.5,
             lo: int = 20, hi: int = 600) -> np.ndarray:
    return np.clip(np.exp(rng.normal(mean_log, 0.6, n)), lo, hi).astype(np.int64)


def _render(tokens: list[str]) -> str:
    """Newline every 12 tokens: code-ish lines."""
    return "\n".join(" ".join(tokens[i:i + 12]) for i in range(0, len(tokens), 12))


def _commit(*parts: object) -> str:
    return hashlib.sha256("/".join(map(str, parts)).encode()).hexdigest()[:40]


LANGS = ["python", "java", "go", "js", "rust", "md"]


def corpus(seed: int, n_docs: int, vocab: list[str], tag: str = "c",
           needle_every: int = 25) -> tuple[pd.DataFrame, dict[str, str]]:
    """A corpus frame in the package's source schema (repo, path, commit,
    lang, content). Every ``needle_every``-th doc holds one needle term
    planted 1-3 times. Returns (frame, {needle: path})."""
    rng = rng_for(seed, "corpus", sum(map(ord, tag)))
    toks = _token_lists(rng, vocab, _lengths(rng, n_docs))
    needles: dict[str, str] = {}
    rows = []
    for i, t in enumerate(toks):
        path = f"src/{tag}/mod{i % 31}/file{i}.{LANGS[i % len(LANGS)]}"
        if i % needle_every == 0:
            nd = f"needle{tag}{i}"
            for _ in range(1 + i % 3):
                t[int(rng.integers(0, len(t)))] = nd
            needles[nd] = path
        repo = f"org{i % 5}/repo{i % 17}"
        rows.append((repo, path, _commit(seed, tag, repo, path), LANGS[i % len(LANGS)], _render(t)))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"]), needles


def add_batches(seed: int, base: pd.DataFrame, vocab: list[str], n_batches: int,
                n_new: int, n_recommit: int) -> list[tuple[pd.DataFrame, str]]:
    """Delta batches for ``add_documents``. Each holds ``n_new`` docs on new
    paths and ``n_recommit`` new commits of existing base paths, and the
    first new doc carries one needle. Returns [(frame, needle)]."""
    out = []
    for b in range(n_batches):
        tag = f"a{b}x"
        fresh, needles = corpus(seed, n_new, vocab, tag=tag, needle_every=n_new)
        rng = rng_for(seed, "adds", b)
        pick = np.sort(rng.choice(len(base), n_recommit, replace=False))
        re_rows = base.iloc[pick].copy()
        toks = _token_lists(rng, vocab, _lengths(rng, n_recommit))
        re_rows["content"] = [_render(t) for t in toks]
        re_rows["commit"] = [_commit(seed, "recommit", b, p) for p in re_rows["path"]]
        frame = pd.concat([fresh, re_rows], ignore_index=True)
        out.append((frame, next(iter(needles))))
    return out


def tombstone_sample(seed: int, cycle: int, live_ids: np.ndarray, n: int,
                     protect: set[int]) -> list[int]:
    """``n`` live doc ids to delete, drawn from the ids the index reports
    (sorted first, so the sample does not depend on row order), never one
    in ``protect`` (the needle docs a check still looks up)."""
    ids = np.setdiff1d(np.unique(live_ids), np.fromiter(protect, dtype=np.int64))
    rng = rng_for(seed, "tomb", cycle)
    return sorted(int(x) for x in rng.choice(ids, min(n, ids.size), replace=False))


# ---------------------------------------------------------------- search

def query_stream(seed: int, vocab: list[str], needles: list[str], per_shape: int,
                 n_queries: int, round_size: int,
                 stream: str = "queries") -> tuple[list[tuple[str, object]], list[str]]:
    """A stream of (query, min_should_match) and the pool it draws from.

    The pool holds ``per_shape`` distinct queries of each grammar shape:
    terms, OR/AND, prefix, fuzzy, wildcard, regexp, phrase and slop,
    must_not, boosts, needles and absent terms. Its words come from the
    seed. The stream's *structure* does not: position i always has shape
    ``i % n_shapes`` and picks candidate j of that shape with Zipf
    popularity from a fixed generator, so which positions repeat an
    earlier query (and hit the engine's caches) is the same for every
    seed. Rounds of ``round_size`` queries share one ``min_should_match``
    (a ``topk_batch`` call takes one per batch), in a fixed rotation."""
    rng = rng_for(seed, stream)
    common = vocab[:300]
    mid = vocab[300:1500]

    def w(pool):
        return pool[int(rng.integers(0, len(pool)))]

    def stem(word):
        return word[: max(2, len(word) - 2)]

    shapes = [
        lambda: f"{w(mid)} {w(mid)}",
        lambda: f"{w(common)} {w(mid)} {w(mid)}",
        lambda: f"{w(mid)}",
        lambda: f"{stem(w(mid))}* {w(mid)}",
        lambda: f"{w(mid)}~1 {w(common)}",
        lambda: f"{w(mid)[:2]}?{w(mid)[3:5]}* {w(mid)}",
        lambda: f"/{w(mid)[:3]}.*{_VOWELS[int(rng.integers(0, 5))]}/ {w(mid)}",
        lambda: f'"{w(common)} {w(common)}" {w(mid)}',
        lambda: f'"{w(common)} {w(common)}"~3',
        lambda: f"{w(mid)} {w(mid)} -{w(common)}",
        lambda: f"{w(mid)}^2.5 {w(mid)}",
        lambda: f"{needles[int(rng.integers(0, len(needles)))]} {w(mid)}",
        lambda: f"{w(mid)} {ABSENT[int(rng.integers(0, len(ABSENT)))]}",
        lambda: f"{w(common)} {w(mid)}",
    ]
    assert len(shapes) == N_SHAPES
    pool: list[list[str]] = []
    seen: set[str] = set()
    for make in shapes:
        cands: list[str] = []
        while len(cands) < per_shape:
            q = make()
            if q not in seen:
                seen.add(q)
                cands.append(q)
        pool.append(cands)
    shape_rng = np.random.default_rng([_STREAMS[stream], 2024])
    weights = np.arange(1, per_shape + 1, dtype=np.float64) ** -1.1
    picks = shape_rng.choice(per_shape, n_queries, p=weights / weights.sum())
    msm_cycle: list[object] = [None, 2, None, "all", None]
    out = [(pool[i % len(shapes)][int(picks[i])], msm_cycle[(i // round_size) % len(msm_cycle)])
           for i in range(n_queries)]
    return out, [q for cands in pool for q in cands]


# ------------------------------------------------------------------ prep

def snapshot_pair(seed: int, base: pd.DataFrame, vocab: list[str], *, n_update: int,
                  n_remove: int, n_new: int, n_near: int, n_exact: int) -> dict:
    """The previous and current snapshots for one prep run, keyed by
    ``doc_id``.

    ``cur`` is ``base`` (a corpus frame) plus planted duplicates on new
    paths: a near duplicate is a long base doc plus two appended tokens
    (3-shingle Jaccard near 0.99), an exact duplicate repeats a doc
    verbatim. ``prev`` lacks ``n_new`` base docs and every duplicate, holds
    older content for ``n_update`` docs, and ``n_remove`` docs that are gone
    from ``cur``. Returns cur, prev, the planted change ``counts`` (new,
    updated, unchanged, removed, seen) and the ``near`` and ``exact`` pairs
    as sorted (id_a, id_b) tuples."""
    rng = rng_for(seed, "snap")
    cur = base.copy()
    cur.insert(0, "doc_id", np.arange(len(cur), dtype=np.int64))
    n_tok = cur["content"].str.split().str.len().to_numpy()
    long_ids = np.flatnonzero(n_tok >= 150)
    src = rng.choice(long_ids, n_near + n_exact, replace=False)
    rest = rng.permutation(np.setdiff1d(np.arange(len(cur)), src))
    new_ids, upd_ids = rest[:n_new], rest[n_new:n_new + n_update]
    dups, near, exact = [], [], []
    for j, sid in enumerate(src):
        row = cur.iloc[int(sid)].copy()
        did = len(cur) + j
        row["doc_id"] = did
        row["path"] = f"dup/{did}/{row['path']}"
        row["commit"] = _commit(seed, "dup", did)
        if j < n_near:
            row["content"] = row["content"] + " " + " ".join(
                vocab[int(k)] for k in rng.integers(300, len(vocab), 2))
            near.append((int(sid), did))
        else:
            exact.append((int(sid), did))
        dups.append(row)
    cur = pd.concat([cur, pd.DataFrame(dups)], ignore_index=True)
    prev = cur.loc[~cur["doc_id"].isin(new_ids) & (cur["doc_id"] < len(base)),
                   ["doc_id", "content"]].copy()
    old = _token_lists(rng, vocab, _lengths(rng, n_update))
    prev.loc[prev["doc_id"].isin(upd_ids), "content"] = [
        _render(t) for t in old][: int(prev["doc_id"].isin(upd_ids).sum())]
    gone = _token_lists(rng, vocab, _lengths(rng, n_remove))
    prev = pd.concat([prev, pd.DataFrame({
        "doc_id": np.arange(len(cur), len(cur) + n_remove, dtype=np.int64) + 10**6,
        "content": [_render(t) for t in gone]})], ignore_index=True)
    n_added = n_new + len(dups)
    counts = {"seen": len(prev) + n_added, "new": n_added, "updated": n_update,
              "removed": n_remove, "unchanged": len(base) - n_new - n_update}
    return {"cur": cur, "prev": prev, "counts": counts,
            "near": sorted(near), "exact": sorted(exact)}
