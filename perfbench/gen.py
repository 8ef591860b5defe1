"""Seeded generators for everything the benchmark feeds the library:
query streams, request parameters, ingest batches and delete sets.

The corpora are fixed; the seed picks what is asked of them. The same
seed gives the same stream, term for term.

Terms are picked df-stratified: the ``HOT`` most frequent terms form the
hot stratum (the generator's Zipf keywords, present in most documents),
terms with document frequency between 2 and ``RARE_MAX_DF_SHARE`` of the
corpus form the rare stratum (compound identifiers). Within a stratum a
term is drawn Zipf(``ZIPF_A``) over its df rank, so popular terms are
asked for more often, as users do.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import numpy as np

HOT = 64
RARE_MAX_DF_SHARE = 0.02
ZIPF_A = 1.1

SEARCH_SHAPES = (
    "hot", "rare", "and", "or", "not", "lang", "phrase",
    "prefix", "fuzzy", "group", "msm",
)
# shapes pyref evaluates directly; the rest are checked against DuckDB
PYREF_SHAPES = ("hot", "rare", "and", "or", "not", "lang", "phrase")
# plain reads also run on indexes built without positions: no phrases
READ_SHAPES = ("hot", "rare", "and", "or", "not", "lang")
PAGE_KINDS = (
    "facet", "stats", "histogram", "sorted", "sorted_cursor", "collapse", "after_topk",
)
BATCH_SIZE = 16


@dataclass
class Vocab:
    hot: list[str]  # df-descending
    rare: list[str]  # df-descending, alphanumeric or snake_case
    langs: list[str]
    bigrams: list[tuple[str, str]]  # adjacent token pairs, for phrases


def build_vocab(streams: list[list[str]], langs: list[str], n_bigrams: int = 4096) -> Vocab:
    """Strata from the analyzed token streams of a fixed corpus."""
    df: Counter = Counter()
    for toks in streams:
        df.update(set(toks))
    ordered = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))
    hot = [t for t, _ in ordered[:HOT]]
    cap = max(2, int(RARE_MAX_DF_SHARE * len(streams)))
    rare = [t for t, d in ordered[HOT:] if 2 <= d <= cap and len(t) >= 5]
    # bigrams at evenly spaced corpus positions: fixed, seed-independent
    bigrams = []
    step = max(1, len(streams) // n_bigrams)
    for i in range(0, len(streams), step):
        toks = streams[i]
        if len(toks) >= 2:
            j = (i * 7919) % (len(toks) - 1)
            bigrams.append((toks[j], toks[j + 1]))
    return Vocab(hot, rare, sorted(set(langs)), bigrams)


def zipf_pick(rng: np.random.Generator, items: list[str], a: float = ZIPF_A) -> str:
    ranks = np.arange(1, len(items) + 1, dtype=np.float64)
    p = ranks**-a
    return items[int(rng.choice(len(items), p=p / p.sum()))]


def _typo(rng: np.random.Generator, term: str) -> str:
    """One substitution inside ``term``: a Levenshtein-1 neighbour."""
    i = int(rng.integers(1, len(term) - 1))
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    c = alphabet[int(rng.integers(0, 26))]
    if c == term[i]:
        c = alphabet[(alphabet.index(c) + 1) % 26]
    return term[:i] + c + term[i + 1 :]


def search_query(rng: np.random.Generator, v: Vocab, shape: str, n_terms: int | None = None) -> str:
    """One query of ``shape``. An AND or OR query has ``n_terms`` (2-4)
    distinct terms, drawn when not given: one rare term and hot ones for
    AND, rare and hot alternating for OR."""
    hot = lambda: zipf_pick(rng, v.hot)  # noqa: E731
    rare = lambda: zipf_pick(rng, v.rare)  # noqa: E731
    if shape in ("and", "or"):
        n = n_terms or int(rng.integers(2, 5))
        picks = [rare] + [hot] * (n - 1) if shape == "and" else [(rare, hot)[i % 2] for i in range(n)]
        terms: list[str] = []
        for pick in picks:
            t = pick()
            while t in terms:
                t = pick()
            terms.append(t)
        return (" " if shape == "and" else " OR ").join(terms)
    if shape == "hot":
        return hot()
    if shape == "rare":
        return rare()
    if shape == "not":
        # exclude a term from the less frequent half of the hot stratum,
        # so the negation removes some matches, not all
        return f"{rare()} -{v.hot[int(rng.integers(HOT // 2, len(v.hot)))]}"
    if shape == "lang":
        return f"{rare()} lang:{v.langs[int(rng.integers(0, len(v.langs)))]}"
    if shape == "phrase":
        a, b = v.bigrams[int(rng.integers(0, len(v.bigrams)))]
        return f'"{a} {b}"'
    if shape == "prefix":
        t = rare()
        return f"{t[: int(rng.integers(4, min(7, len(t))))]}*"
    if shape == "fuzzy":
        return f"{_typo(rng, rare())}~"
    if shape == "group":
        r1, r2 = rare(), rare()
        while r2 == r1:
            r2 = rare()
        return f"({r1} OR {r2}) {hot()}"
    if shape == "msm":
        terms = list(dict.fromkeys([rare(), rare(), hot()]))
        return " OR ".join(terms) + f" min_match:{min(2, len(terms))}"
    raise ValueError(f"unknown search shape {shape!r}")


PAGE_FORMS = 4


def page_query(rng: np.random.Generator, v: Vocab, form: int) -> str:
    """The query a result page is computed over. The form sets how large
    the match set is (a hot term matches nearly every doc, rare terms a
    few dozen), so it is assigned, not drawn: every run asks the same
    mix of match-set sizes."""
    if form == 0:
        return zipf_pick(rng, v.hot)
    if form == 1:
        return f"{zipf_pick(rng, v.rare)} OR {zipf_pick(rng, v.rare)} OR {zipf_pick(rng, v.hot)}"
    if form == 2:
        return f"{zipf_pick(rng, v.hot)} lang:{v.langs[int(rng.integers(0, len(v.langs)))]}"
    return f"{zipf_pick(rng, v.rare)} OR {zipf_pick(rng, v.rare)}"


def page_request(rng: np.random.Generator, kind: str, query: str) -> dict:
    req = {"kind": kind, "q": query}
    if kind == "histogram":
        req["interval"] = int(rng.choice([500, 1000, 2500]))
    elif kind == "sorted":
        req["ascending"] = bool(rng.integers(0, 2))
        req["offset"] = int(rng.choice([0, 5, 10]))
    elif kind == "collapse":
        req["per_value"] = int(rng.integers(1, 3))
    return req


def query_mix_stream(seed: int, v: Vocab, rounds: int) -> list[dict]:
    """The closed-loop request stream: each round asks every search
    shape once and every page kind once, interleaved, so the family mix
    is the same on every seed and only the terms and parameters vary.
    The 11:7 search-to-page weighting, and equal weights within each
    family, are an assumption: the repository holds no traffic record to
    set them from. The run reports each family's share of the measured
    time, so a later change can set the weights from evidence."""
    rng = np.random.default_rng([seed, 1])
    out: list[dict] = []
    for r in range(rounds):
        pages, sort_q = [], None
        for i, kind in enumerate(PAGE_KINDS):
            # the cursor kinds page on from the sort request before them,
            # so they share its query
            if kind in ("sorted_cursor", "after_topk"):
                q = sort_q
            else:
                q = page_query(rng, v, (i + r) % PAGE_FORMS)
            if kind == "sorted":
                sort_q = q
            pages.append(page_request(rng, kind, q))
        searches = [
            {"family": "search", "shape": s, "q": search_query(rng, v, s)} for s in SEARCH_SHAPES
        ]
        for i, s in enumerate(searches):
            out.append(s)
            if i < len(pages):
                out.append({"family": "page", "round": r, **pages[i]})
    return out


def batches(queries: list[str], size: int = BATCH_SIZE) -> list[list[str]]:
    return [queries[i : i + size] for i in range(0, len(queries), size)]


def read_queries(seed: int, v: Vocab, n: int, salt: int = 2) -> list[str]:
    """Plain top-k reads, cycling over :data:`READ_SHAPES`; AND and OR
    reads cycle over 2, 3 and 4 terms. Every seed asks the same mix of
    shapes and sizes and only the terms vary: with drawn sizes the median
    of a run's code_build reads moved with the seed by up to a third."""
    rng = np.random.default_rng([seed, salt])
    k = len(READ_SHAPES)
    return [search_query(rng, v, READ_SHAPES[i % k], n_terms=2 + (i // k) % 3) for i in range(n)]


@dataclass
class IngestCycle:
    rows: np.ndarray  # pool row of each ingested doc; doc_id = position
    file_bounds: list[int]  # staging files hold rows [b[i], b[i+1])
    deletes: list[list[int]]  # doc_ids tombstoned per delete round


def ingest_cycle(
    seed: int,
    cycle: int,
    pool_size: int,
    n_docs: int,
    n_files: int,
    delete_rounds: int,
    delete_size: tuple[int, int],
) -> IngestCycle:
    """Docs for one ingest cycle, how they split into staging files (and
    so into streaming epochs), and the delete sets that follow. The file
    count is fixed, so every seed streams the same number of epochs; the
    seed picks the docs and the file sizes."""
    rng = np.random.default_rng([seed, 3, cycle])
    rows = rng.choice(pool_size, size=n_docs, replace=False)
    cuts = sorted(rng.choice(np.arange(1, n_docs), size=n_files - 1, replace=False).tolist())
    alive = np.arange(n_docs)
    deletes = []
    for _ in range(delete_rounds):
        k = int(rng.integers(delete_size[0], delete_size[1] + 1))
        d = rng.choice(alive, size=k, replace=False)
        alive = np.setdiff1d(alive, d)
        deletes.append(sorted(int(x) for x in d))
    return IngestCycle(rows, [0] + cuts + [n_docs], deletes)
