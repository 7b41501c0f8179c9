"""Seeded input generators for the benchmark: corpora and query streams.

Everything here is a pure function of its seed (numpy ``default_rng``), so
the same seed gives byte-identical corpora and query lists and another
seed gives different ones. Nothing is read from disk or the network.

Corpus shape (the ``input_hint`` columns: repo, path, commit, lang,
content). Why each property is there:

- Identifiers are camelCase, snake_case, ACRONYMCase or digit-suffixed
  compounds of 1-3 word parts, so the analysis chain's WordDelimiter
  splits run on every document, as on real source code.
- Identifier choice is Zipf (s=1.1) over the generated identifier list:
  a few terms are in most documents, most terms are rare, so postings
  lengths run from one document to most of the corpus: the skew the
  indexer's tf shuffle and the scoring stage see.
- Stopword-like hot tokens (``import``, ``return``, ``self``, ...) are
  injected per document with fixed probabilities, so some postings lists
  cover most documents (the hot-term path of the build shuffle and of
  scoring).
- File length is log-normal (median ~100 tokens, clipped to 4..3000),
  so documents differ in length by ~3 orders of magnitude and BM25
  length normalisation matters.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

HOT_TOKENS = ("import", "return", "self", "public", "def", "if", "for", "the")
# probability a document contains each hot token (stopword-like skew)
HOT_P = (0.75, 0.7, 0.55, 0.4, 0.45, 0.8, 0.6, 0.5)
LANGS = ("python", "java", "go", "js", "c")
LANG_W = (0.35, 0.25, 0.15, 0.15, 0.10)
EXT = {"python": "py", "java": "java", "go": "go", "js": "js", "c": "c"}
_PUNCT = ("(", ")", " = ", ".", ": ", ", ", "{", "}", ";")
_ONSETS = ("b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "w", "z", "st", "tr", "pl", "qu", "sh", "ch", "gr")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ou", "ea")
_CODAS = ("", "n", "r", "s", "t", "x", "ck", "nd", "rt", "ll")


def word_parts(seed: int, n: int = 3000) -> list[str]:
    """``n`` distinct lowercase word parts (the analysed vocabulary)."""
    rng = np.random.default_rng([seed, 1])
    out: list[str] = []
    seen = set(HOT_TOKENS)
    while len(out) < n:
        k = int(rng.integers(1, 4))
        w = "".join(
            _ONSETS[rng.integers(len(_ONSETS))]
            + _VOWELS[rng.integers(len(_VOWELS))]
            + _CODAS[rng.integers(len(_CODAS))]
            for _ in range(k)
        )
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def identifiers(seed: int, parts: list[str], n: int = 12000) -> list[str]:
    """``n`` source identifiers built from ``parts`` in mixed case styles.
    Parts are drawn Zipf so analysed terms inherit the skew."""
    rng = np.random.default_rng([seed, 2])
    p = 1.0 / np.arange(1, len(parts) + 1) ** 0.9
    p /= p.sum()
    out = []
    for _ in range(n):
        k = int(rng.choice(3, p=(0.3, 0.5, 0.2))) + 1
        ws = [parts[i] for i in rng.choice(len(parts), size=k, p=p)]
        style = int(rng.integers(5))
        if style == 0:
            ident = ws[0] + "".join(w.capitalize() for w in ws[1:])
        elif style == 1:
            ident = "_".join(ws)
        elif style == 2:
            ident = "".join(w.capitalize() for w in ws)
        elif style == 3:
            ident = ws[0].upper() + "".join(w.capitalize() for w in ws[1:])
        else:
            ident = "_".join(ws) + str(int(rng.integers(0, 64)))
        out.append(ident)
    return out


def corpus(vocab_seed: int, seed: int, n_docs: int, first_id: int = 0) -> pd.DataFrame:
    """``n_docs`` synthetic source files; row i is document ``first_id+i``.

    The identifier vocabulary comes from ``vocab_seed`` (one code base),
    the documents from ``seed``. Columns: repo, path, commit, lang,
    content. ``path`` is unique per (seed, document number), so (repo,
    path, commit) is a unique key.
    """
    parts = word_parts(vocab_seed)
    idents = np.array(identifiers(vocab_seed, parts), dtype=object)
    rng = np.random.default_rng([seed, 3, first_id])
    zipf = 1.0 / np.arange(1, len(idents) + 1) ** 1.1
    zipf /= zipf.sum()
    lengths = np.clip(
        np.round(rng.lognormal(np.log(100), 0.85, size=n_docs)), 4, 3000
    ).astype(np.int64)
    draws = idents[rng.choice(len(idents), size=int(lengths.sum()), p=zipf)]
    punct = rng.integers(len(_PUNCT), size=int(lengths.sum()))
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_W)
    hot = rng.random((n_docs, len(HOT_TOKENS))) < np.array(HOT_P)
    rows = []
    off = 0
    for i in range(n_docs):
        n = int(lengths[i])
        toks = list(draws[off: off + n])
        seps = [_PUNCT[j] for j in punct[off: off + n]]
        off += n
        for h in np.flatnonzero(hot[i]):
            at = int(rng.integers(0, n))
            toks[at] = HOT_TOKENS[h]
        # one source line per ~8 tokens
        pieces = []
        for j, t in enumerate(toks):
            pieces.append(t)
            pieces.append("\n" if j % 8 == 7 else seps[j])
        doc = first_id + i
        lang = LANGS[int(langs[i])]
        rows.append(
            (
                f"org{doc % 5}/repo{doc % 23}",
                f"src/s{seed}/m{doc % 17}/f{doc}.{EXT[lang]}",
                hashlib.sha1(f"{seed}:{doc}".encode()).hexdigest(),
                lang,
                "".join(pieces),
            )
        )
    return pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content"]
    )


def digest(*inputs) -> str:
    """sha256 over generated inputs (corpus DataFrames and query lists),
    reported with each run so runs of one seed can be compared."""
    h = hashlib.sha256()
    for x in inputs:
        rows = x.itertuples(index=False) if isinstance(x, pd.DataFrame) else x
        for row in rows:
            h.update(repr(row).encode())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Query stream for the classic parser (MultiSearcher.search).
#
# Queries come in decks of eight, one per class, in a fixed class order;
# the seed draws the terms. A run times whole decks, so every run sees
# the same class mix in the same order and the per-run median compares
# like with like.
#
# The shares are equal (1/8 each) by assumption, not from a measured
# query log: none is available for this engine. The run-time budget sets
# them: at ~2.5 s a query a run holds one deck, so giving one class a
# second slot would push another class out of every run, and a change
# to that class's path would go unmeasured. Real traffic is likely
# heavier in term and OR queries and lighter in ``*:*`` and absent terms;
# ``query_p50_ms`` is the median over one query of each class, not a
# traffic-weighted latency. Why each class is in the deck:
# - term: a Zipf-drawn single term (hot terms included), the most common
#   real query.
# - fq: a single term plus a filter drawn from FILTERS. Three filters x
#   the catalog's segments fit the searcher's 32-entry FilterCache, so a
#   repeated filter is served from the cache, as for a user re-clicking a
#   facet. One seed uses one filter throughout.
# - or: two or three terms under the default OR operator.
# - and: ``+a +b`` of two terms from one document, so it usually matches.
# - phrase: a quoted two-word phrase taken from a document, so it
#   matches; it reads the positions table.
# - prefix: ``abc*`` or ``ab?de*``: the multi-term rewrite against the
#   merged terms dictionary, the slowest class.
# - matchall: ``*:*``, the stored-fields id scan.
# - absent: a term in no document, the empty-result early exit.
# Terms are drawn Zipf over the corpus vocabulary, so terms recur across
# queries the way they do for real users.
# ---------------------------------------------------------------------------

FILTERS = {
    "lang = 'python'": lambda rec: rec["lang"] == "python",
    "lang IN ('go', 'c')": lambda rec: rec["lang"] in ("go", "c"),
    "repo = 'org1/repo6'": lambda rec: rec["repo"] == "org1/repo6",
}

# slow and fast classes alternate, so no class always meets a cold start
DECK = ("term", "matchall", "or", "absent", "and", "fq", "phrase", "prefix")


class QueryVocab:
    """What the query generator draws from: the corpus's analysed terms
    ranked by document frequency, and the token lists (for phrases and
    conjunctions that occur in a document)."""

    def __init__(self, token_lists: list[list[str]]):
        df: dict[str, int] = {}
        for toks in token_lists:
            for t in set(toks):
                df[t] = df.get(t, 0) + 1
        ranked = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
        # query terms: alphabetic, in >= 3 docs, most frequent first
        self.terms = [t for t, d in ranked
                      if t.isalpha() and len(t) > 2 and d >= 3]
        self.token_lists = token_lists

    def zipf_term(self, rng) -> str:
        p = 1.0 / np.arange(1, len(self.terms) + 1) ** 0.8
        p /= p.sum()
        return self.terms[int(rng.choice(len(self.terms), p=p))]


def queries(seed: int, vocab: QueryVocab, n: int) -> list[dict]:
    """``n`` query dicts ``{"cls", "q", "fq", "terms"}``. ``terms`` are the
    analysed terms the query names (for the output checks)."""
    rng = np.random.default_rng([seed, 7])
    fq = sorted(FILTERS)[seed % len(FILTERS)]
    out: list[dict] = []
    while len(out) < n:
        out += [_one_query(rng, vocab, cls, fq) for cls in DECK]
    return out[:n]


def _one_query(rng, vocab: QueryVocab, cls: str, fq: str) -> dict:
    q = {"cls": cls, "fq": None, "terms": []}
    if cls in ("term", "fq"):
        t = vocab.zipf_term(rng)
        q.update(q=t, terms=[t])
        if cls == "fq":
            q["fq"] = fq
    elif cls == "or":
        ts = sorted({vocab.zipf_term(rng) for _ in range(int(rng.integers(2, 4)))})
        q.update(q=" ".join(ts), terms=ts)
    elif cls == "and":
        toks = _doc_with_tokens(rng, vocab, 20)
        a, b = rng.choice(sorted(set(toks)), size=2, replace=False)
        ts = sorted((str(a), str(b)))
        q.update(q=f"+{ts[0]} +{ts[1]}", terms=ts)
    elif cls == "phrase":
        toks = _doc_with_tokens(rng, vocab, 4)
        i = int(rng.integers(0, len(toks) - 1))
        ts = [toks[i], toks[i + 1]]
        q.update(q=f'"{ts[0]} {ts[1]}"', terms=ts)
    elif cls == "prefix":
        t = vocab.zipf_term(rng)
        pat = t[:2] + "?" + t[3:5] + "*" if len(t) >= 5 and rng.random() < 0.5 else t[:3] + "*"
        q.update(q=pat, terms=[pat])
    elif cls == "matchall":
        q.update(q="*:*")
    else:
        assert cls == "absent", cls
        t = "zzq" + "".join(chr(97 + int(c)) for c in rng.integers(0, 26, 6))
        q.update(q=t, terms=[t])
    return q


def _doc_with_tokens(rng, vocab: QueryVocab, min_len: int) -> list[str]:
    while True:
        toks = vocab.token_lists[int(rng.integers(len(vocab.token_lists)))]
        if len(toks) >= min_len and len(set(toks)) >= 2:
            return toks
