"""Independent checks of every timed output.

Searches are checked against ``xsearch_spark.pyref`` where it evaluates
the query shape, and otherwise against the DuckDB twins in
``xsearch_spark.oracles``; result-page requests always go to DuckDB.
Code builds are checked by reads against pyref over the build's own
input, and by a digest of the index rows between builds of one run.
Nothing here runs inside a timed region.
"""

from __future__ import annotations

import hashlib
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from perfbench.gen import PYREF_SHAPES
from xsearch_spark import oracles, pyref
from xsearch_spark.plans.query import ParsedQuery

ROUND = 6
CODE_SLICE = 5000  # docs per unit of work in code_reference
# oracle threads: Spark is idle while the oracles run, and Arrow's string
# kernels release the GIL
THREADS = 4
_INDEX_ORDER = [("bucket", "ascending"), ("term", "ascending"), ("shard", "ascending"),
                ("first_doc_id", "ascending")]


def index_digest(index_dir: str) -> str:
    """SHA-256 over every index row in a canonical order, so two builds
    compare equal exactly when they hold the same rows, whatever the
    file names and file boundaries."""
    table = ds.dataset(index_dir, format="parquet", partitioning="hive").to_table()
    table = table.select(sorted(table.column_names)).sort_by(_INDEX_ORDER)
    h = hashlib.sha256()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table.combine_chunks())
    h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def ranked(rows) -> list[tuple[int, float]]:
    """(doc_id, score) in the frozen paging order, scores rounded."""
    out = [(int(d), round(float(s), ROUND)) for d, s in rows]
    return sorted(out, key=lambda r: (-r[1], r[0]))


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    return [d for d, _ in got] == [d for d, _ in want] and all(
        abs(a[1] - b[1]) <= 1.5 * 10**-ROUND for a, b in zip(got, want)
    )


def pyref_topk(ref: pyref.PyRefIndex, parsed: ParsedQuery, k: int, exclude=frozenset()):
    """pyref top-k, optionally with deleted docs removed from the
    candidates (an index queried between deletes and a full compaction)."""
    hits = pyref.search(ref, parsed, k + len(exclude))
    return ranked([(d, s) for d, s in hits if d not in exclude][:k])


def code_reference(docs: pa.Table, queries: list[ParsedQuery]) -> pyref.PyRefIndex:
    """A pyref index under the code analyzer over ``docs`` (doc_id,
    content, lang) that holds every doc's length but postings only for
    the terms ``queries`` name, so ``pyref.search`` answers those queries
    exactly as on a full ``pyref.build``, at a small part of the cost on
    100 000 files. A doc's tokens are its raw tokens' tokens in order, so
    Arrow splits the raw tokens and ``tokenize_code_py`` runs once per
    distinct raw token instead of once per occurrence."""
    from xsearch_spark.functions.tokenize import _RAW_SPLIT_RE, tokenize_code_py

    if any(p.phrases or p.attrs for p in queries):
        raise ValueError("code_reference keeps no token streams or attributes")
    terms = sorted({t for p in queries for t in (*p.terms, *p.exclude)})
    text = docs["content"].combine_chunks()
    memo: dict[str, tuple[str, ...]] = {}

    def counts(lo: int) -> list[np.ndarray]:
        """Per doc of one slice: its length, then its tf of each term."""
        part = text.slice(lo, CODE_SLICE)
        raws = pc.split_pattern_regex(part, _RAW_SPLIT_RE.pattern)
        doc = pc.list_parent_indices(raws).to_numpy()
        enc = pc.dictionary_encode(pc.list_flatten(raws))
        at = enc.indices.to_numpy()
        toks = [memo[r] if r in memo else memo.setdefault(r, tuple(tokenize_code_py(r)))
                for r in enc.dictionary.to_pylist()]

        def per_doc(per_raw: list[int], doc: np.ndarray, at: np.ndarray) -> np.ndarray:
            w = np.asarray(per_raw, np.float64)[at]
            return np.bincount(doc, weights=w, minlength=len(part)).astype(np.int64)

        out = [per_doc([len(t) for t in toks], doc, at)]
        # the terms' counts only over occurrences of raw tokens holding a term
        hit = np.flatnonzero([any(term in t for term in terms) for t in toks])
        keep = np.isin(at, hit)
        doc, at = doc[keep], at[keep]
        return out + [per_doc([t.count(term) for t in toks], doc, at) for term in terms]

    with ThreadPoolExecutor(THREADS) as ex:
        parts = list(ex.map(counts, range(0, len(text), CODE_SLICE)))
    dl, *tfs = [np.concatenate(col) for col in zip(*parts)] if parts else [np.zeros(0, np.int64)]
    ids = docs["doc_id"].to_numpy().astype(np.int64)
    postings = {}
    for term, tf in zip(terms, tfs):
        hit = np.flatnonzero(tf)
        if len(hit):
            order = hit[np.argsort(ids[hit], kind="stable")]
            postings[term] = (ids[order], tf[order])
    n = len(ids)
    return pyref.PyRefIndex(
        postings, dict(zip(ids.tolist(), dl.tolist())), n, (int(dl.sum()) / n) if n else 0.0,
        dict(zip(ids.tolist(), docs["lang"].to_pylist())),
    )


class DuckOracle:
    """DuckDB over the documents table the index was built from."""

    def __init__(self, docs_parquet: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(f"SET threads={THREADS}")
        self.con.execute(
            f"CREATE TABLE documents AS SELECT * FROM read_parquet('{docs_parquet}')"
        )

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()


def expected(req: dict, parsed: ParsedQuery, ref, duck: DuckOracle, k: int):
    """The oracle's answer to one query_mix request, in the same shape
    :func:`normalize` gives the engine's."""
    kind = req["kind"]
    if kind == "search":
        if req["shape"] in PYREF_SHAPES:
            return pyref_topk(ref, parsed, k)
        return ranked(duck.rows(oracles.bm25_sql(parsed, k)))
    if kind == "facet":
        return sorted((str(v), int(n)) for v, n in duck.rows(oracles.facet_sql(parsed, "lang")))
    if kind == "stats":
        n, lo, hi, s, avg = duck.rows(oracles.stats_sql(parsed, "n_chars"))[0]
        return (int(n), lo, hi, s, None if avg is None else round(float(avg), ROUND))
    if kind == "histogram":
        return sorted(
            (int(b), int(n))
            for b, n in duck.rows(oracles.histogram_sql(parsed, "n_chars", req["interval"]))
        )
    if kind in ("sorted", "sorted_cursor"):
        sql = oracles.sorted_sql(
            parsed, "n_chars", ascending=req["ascending"], k=k,
            offset=req.get("offset", 0), after=req.get("after"),
        )
        return [(int(d), int(v)) for d, v, _s in duck.rows(sql)]
    if kind == "collapse":
        sql = oracles.collapse_sql(parsed, "lang", k=k, per_value=req["per_value"])
        return [(int(d), str(v), round(float(s), ROUND)) for d, v, s in duck.rows(sql)]
    if kind == "after_topk":
        return ranked(duck.rows(oracles.bm25_after_sql(parsed, k, after=req.get("after"))))
    raise ValueError(f"unknown request kind {kind!r}")


def normalize(kind: str, rows) -> object:
    """The engine's collected rows in the oracle's comparison shape."""
    if kind in ("search", "after_topk"):
        return ranked((r["doc_id"], r["score"]) for r in rows)
    if kind == "facet":
        return sorted((str(r["value"]), int(r["n_docs"])) for r in rows)
    if kind == "stats":
        r = rows[0]
        avg = r["avg_value"]
        return (int(r["n_docs"]), r["min_value"], r["max_value"], r["sum_value"],
                None if avg is None else round(float(avg), ROUND))
    if kind == "histogram":
        return sorted((int(r["bucket"]), int(r["n_docs"])) for r in rows)
    if kind in ("sorted", "sorted_cursor"):
        return [(int(r["doc_id"]), int(r["sort_value"])) for r in rows]
    if kind == "collapse":
        return [(int(r["doc_id"]), str(r["value"]), round(float(r["score"]), ROUND)) for r in rows]
    raise ValueError(f"unknown request kind {kind!r}")


def matches(kind: str, got, want) -> bool:
    if kind in ("search", "after_topk"):
        return same_ranking(got, want)
    if kind == "collapse":
        return [g[:2] for g in got] == [w[:2] for w in want] and all(
            abs(g[2] - w[2]) <= 1.5 * 10**-ROUND for g, w in zip(got, want)
        )
    return got == want
