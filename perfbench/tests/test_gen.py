import numpy as np

from perfbench import gen


def _vocab():
    """200 docs: six hot keywords in every doc, and 100 compound
    identifiers that each occur in exactly two docs."""
    hot = ["def", "return", "class", "import", "while", "yield"]
    idents = [f"parse_{w}" if i % 2 else f"build{w}table" for i, w in enumerate(
        f"{a}{b}" for a in "abcdefghij" for b in "klmnopqrst")]
    streams = [hot[: 3 + d % 4] + [idents[d // 2], "x"] + hot[3:] for d in range(200)]
    return gen.build_vocab(streams, ["py", "go", "js", "py"] * 50)


def test_vocab_strata():
    v = _vocab()
    assert v.hot[0] in ("def", "return", "class", "import", "while", "yield")
    assert v.rare and all(t not in v.hot for t in v.rare)
    assert v.langs == ["go", "js", "py"]
    assert v.bigrams


def test_same_seed_same_stream():
    v = _vocab()
    assert gen.query_mix_stream(7, v, 5) == gen.query_mix_stream(7, v, 5)
    assert gen.read_queries(7, v, 30) == gen.read_queries(7, v, 30)


def test_different_seed_different_stream():
    v = _vocab()
    assert gen.query_mix_stream(7, v, 5) != gen.query_mix_stream(8, v, 5)
    assert gen.read_queries(7, v, 30) != gen.read_queries(8, v, 30)


def test_stream_mix_is_fixed_per_round():
    v = _vocab()
    stream = gen.query_mix_stream(3, v, 4)
    shapes = [r["shape"] for r in stream if r["family"] == "search"]
    kinds = [r["kind"] for r in stream if r["family"] == "page"]
    assert shapes == list(gen.SEARCH_SHAPES) * 4
    assert kinds == list(gen.PAGE_KINDS) * 4


def test_read_sizes_are_fixed_per_slot():
    v = _vocab()

    def sizes(seed):
        return [len(q.replace(" OR ", " ").split()) for q in gen.read_queries(seed, v, 18)]

    assert sizes(7) == sizes(8) == [1, 1, 2, 2, 2, 2] + [1, 1, 3, 3, 2, 2] + [1, 1, 4, 4, 2, 2]


def test_every_query_parses():
    from xsearch_spark.plans.query import parse

    v = _vocab()
    for r in gen.query_mix_stream(11, v, 20):
        parse(r["q"], attr_fields=("lang", "n_chars"))


def test_ingest_cycle_is_seeded_and_consistent():
    a = gen.ingest_cycle(5, 0, 4000, 1500, 20, 2, (2, 4))
    b = gen.ingest_cycle(5, 0, 4000, 1500, 20, 2, (2, 4))
    c = gen.ingest_cycle(6, 0, 4000, 1500, 20, 2, (2, 4))
    assert np.array_equal(a.rows, b.rows) and a.file_bounds == b.file_bounds and a.deletes == b.deletes
    assert not np.array_equal(a.rows, c.rows)
    assert len(set(a.rows.tolist())) == 1500 and a.rows.max() < 4000
    assert a.file_bounds[0] == 0 and a.file_bounds[-1] == 1500
    assert all(x < y for x, y in zip(a.file_bounds, a.file_bounds[1:]))
    assert len(a.file_bounds) - 1 == 20
    flat = [d for ds in a.deletes for d in ds]
    assert len(flat) == len(set(flat)) and all(0 <= d < 1500 for d in flat)
    assert all(2 <= len(ds) <= 4 for ds in a.deletes)


def test_batches():
    assert [len(b) for b in gen.batches(list(range(35)))] == [16, 16, 3]
