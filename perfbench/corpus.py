"""The benchmark's fixed corpora, generated on first use into a cache
directory the benchmark owns. Nothing is downloaded. The directory is
keyed on the source of the generator and of this module, so a change to
either makes new inputs rather than reusing stale ones.

* ``code_files``: the library's own deterministic generator at sf "0.1"
  — 100 000 source files (repo, path, commit, lang, content) with Zipf
  keywords and snake/camel compound identifiers.
* documents-schema slices of it (doc_id, text=content, lang,
  source=repo, n_chars=content length) for the query and ingest
  workloads; ``n_chars`` is derived here, as a numeric attribute to
  sort, filter and aggregate on.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CODE_SF = "0.1"
WARMUP_ROWS = 5_000  # code_build warm-up: the first rows of code_files
QUERY_ROWS = (0, 2000)  # query_mix corpus: rows [lo, hi) of code_files
INGEST_ROWS = (2000, 6000)  # ingest_delete pool


def corpus_dir(cache: str) -> str:
    """This version's directory under ``cache``; those of other versions
    are removed when it is made."""
    from xsearch_spark.sources import datagen

    h = hashlib.sha256()
    for path in (datagen.__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    name = f"corpus-sf{CODE_SF}-{h.hexdigest()[:16]}"
    out = os.path.join(cache, name)
    if not os.path.isdir(out):
        os.makedirs(cache, exist_ok=True)
        for old in os.listdir(cache):
            old = os.path.join(cache, old)
            if os.path.isdir(old):
                shutil.rmtree(old, ignore_errors=True)
            else:
                os.remove(old)
        os.makedirs(out)
    return out


def code_files(cache: str) -> str:
    """Path of the code_files parquet, generating it on first use. The
    generator writes in place, so it writes into a scratch directory
    that is renamed into the cache only when complete."""
    from xsearch_spark.sources.datagen import generate_code_files

    final = os.path.join(cache, f"code_files_sf{CODE_SF}")
    path = os.path.join(final, "code_files.parquet")
    if os.path.exists(path):
        return path
    tmp = final + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    generate_code_files(CODE_SF, tmp)
    os.replace(tmp, final)
    return path


def code_slice(cache: str) -> str:
    """The first ``WARMUP_ROWS`` rows of code_files, same schema."""
    out_dir = os.path.join(cache, "code_files_warmup")
    path = os.path.join(out_dir, "code_files.parquet")
    if os.path.exists(path):
        return path
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    first = next(pq.ParquetFile(code_files(cache)).iter_batches(batch_size=WARMUP_ROWS))
    pq.write_table(pa.Table.from_batches([first]), os.path.join(tmp, "code_files.parquet"))
    os.replace(tmp, out_dir)
    return path


def documents_slice(cache: str, rows: tuple[int, int], name: str) -> str:
    """A documents-schema parquet (inside its own directory, as
    ``read_documents`` expects) over code_files rows [lo, hi)."""
    out_dir = os.path.join(cache, name)
    path = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(path):
        return path
    lo, hi = rows
    src = pq.read_table(code_files(cache), columns=["repo", "lang", "content"]).slice(lo, hi - lo)
    table = pa.table(
        {
            "doc_id": pa.array(range(hi - lo), pa.int64()),
            "text": src["content"],
            "lang": src["lang"],
            "source": src["repo"],
            "n_chars": pc.utf8_length(src["content"]).cast(pa.int64()),
        }
    )
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "documents.parquet"))
    os.replace(tmp, out_dir)
    return path


def text_bytes(column) -> int:
    """UTF-8 bytes of a string column: the input size ratios divide by."""
    return int(pc.sum(pc.binary_length(column.cast(pa.binary()))).as_py() or 0)
