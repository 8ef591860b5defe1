import numpy as np
import pyarrow as pa

from perfbench import oracle
from xsearch_spark import pyref
from xsearch_spark.plans.query import parse

WORDS = ["parseUserId", "user_id", "get", "Get", "HTTPServer", "x2Y", "_init_", "self", "ID", "résumé"]


def _docs(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    texts = []
    for _ in range(n):
        words = rng.choice(WORDS, size=int(rng.integers(0, 12))).tolist()
        seps = rng.choice([" ", ".", "(", ", ", "\n", "->"], size=len(words)).tolist()
        texts.append("".join(w + s for w, s in zip(words, seps)))
    ids = rng.permutation(n) + 100
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "content": texts,
        "lang": rng.choice(["py", "go"], size=n).tolist(),
    })


def test_code_reference_answers_as_a_full_pyref_build():
    docs = _docs(700, 1)
    queries = [parse(q, "code") for q in (
        "user", "parseUserId", "get self", "get OR http", "user -server", "lang:go id",
        "nosuchterm", "server OR nosuchterm", "résumé",
    )]
    full = pyref.build(
        list(zip(docs["doc_id"].to_pylist(), docs["content"].to_pylist())), "code",
        langs=dict(zip(docs["doc_id"].to_pylist(), docs["lang"].to_pylist())),
    )
    oracle.CODE_SLICE, saved = 64, oracle.CODE_SLICE  # several slices, several threads
    try:
        ref = oracle.code_reference(docs, queries)
    finally:
        oracle.CODE_SLICE = saved
    assert ref.n_docs == full.n_docs and ref.avgdl == full.avgdl and ref.dl == full.dl
    for q in queries:
        assert pyref.search(ref, q, 10) == pyref.search(full, q, 10)


def test_code_reference_refuses_what_it_cannot_answer():
    docs = _docs(5, 2)
    try:
        oracle.code_reference(docs, [parse('"user id"', "code")])
    except ValueError:
        return
    raise AssertionError("a phrase query must be refused")
