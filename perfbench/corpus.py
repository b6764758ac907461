"""Seeded, cached input corpora.

The text source is ``data/documents_head.parquet``: the first rows
(``doc_id``, ``text``) of the ``documents`` table of the sf0.1 test data,
kept in the benchmark so that a run reads nothing outside its checkout.
To make it again from a copy of that table::

    python3 perfbench/corpus.py PATH/TO/sf0.1/documents.parquet

A corpus takes consecutive rows of the source, one run of rows per family,
so the families get disjoint doc_ids.  The run seed shifts every doc_id by
``seed * ID_STRIDE``.  Every synth rule depends on ``doc_id`` modulo small
numbers, so a contiguous id range keeps the family mix while the seed
changes which text meets which rule (``ID_STRIDE`` is prime).

A corpus is built once per (family mix and sizes, seed, generator) with the
synth builders the ``synthesize_corpus`` stage uses, and kept under the
cache directory as a parquet file in the ``documents_raw`` shape plus a JSON
file holding what the oracles need.  The cache key holds a hash of the
source rows, ``synth.py`` and this file, so a changed generator never
reuses an old corpus.  Building it is the load generator's cost and is
never counted in set-up time.  It runs in this process: a spawned pool
costs more than it saves at these sizes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents_head.parquet")
SOURCE_ROWS = 2000
FORMAT_VERSION = 2
ID_STRIDE = 10_007


def source_rows() -> list[tuple[int, str]]:
    import pyarrow.parquet as pq

    t = pq.read_table(SOURCE, columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def plan(families: list[tuple[str, int]], seed: int) -> list[tuple[int, str, str]]:
    """(doc_id, family, text) per document: family k takes the source rows
    after those of families 0..k-1, each doc_id shifted by the seed."""
    rows = source_rows()
    total = sum(n for _, n in families)
    if total > len(rows):
        raise ValueError(f"corpus of {total} docs exceeds the {len(rows)} source rows")
    shift = (seed % 1_000_000) * ID_STRIDE
    out, i = [], 0
    for fam, n in families:
        for doc_id, text in rows[i : i + n]:
            out.append((doc_id + shift, fam, text or ""))
        i += n
    return out


def generator_hash() -> str:
    from pdfparser_spark import synth

    h = hashlib.sha256()
    for path in (SOURCE, synth.__file__, os.path.abspath(__file__)):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _build(job: tuple[int, str, str]) -> tuple[int, list, int]:
    from pdfparser_spark import synth

    doc_id, fam, text = job
    make = {
        "ascii": synth.build_document,
        "binary": synth.build_document_binary,
        "damaged": synth.build_document_damaged,
    }[fam]
    d = make(doc_id, text)
    rows = [
        {"kind": r["kind"], "text": r["text"], "media_ref": r["media_ref"], "offset": r["offset"]}
        for r in d["span_rows"]
    ]
    return doc_id, rows, len(d["bytes"])


def _arrow_schema():
    import pyarrow as pa

    span = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    return pa.schema([("doc_id", pa.int64()), ("spans", pa.list_(span))])


def ensure(cache_dir: str, families: list[tuple[str, int]], seed: int) -> str:
    """Build (or reuse) the corpus; returns its directory holding
    ``docs.parquet`` and ``meta.json``."""
    mix = "-".join(f"{fam}{n}" for fam, n in families)
    path = os.path.join(cache_dir, f"v{FORMAT_VERSION}-{generator_hash()}-{mix}-seed{seed}")
    if os.path.exists(os.path.join(path, "meta.json")):
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = plan(families, seed)
    built = [_build(d) for d in docs]
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    table = pa.Table.from_pylist(
        [{"doc_id": d, "spans": rows} for d, rows, _ in built], schema=_arrow_schema()
    )
    pq.write_table(table, os.path.join(tmp, "docs.parquet"))
    meta = {
        "seed": seed,
        "doc_ids": [d for d, _, _ in docs],
        "families": [f for _, f, _ in docs],
        "texts": [t for _, _, t in docs],
        "input_bytes": sum(n for _, _, n in built),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def load_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def read_docs(path: str, indices: list[int]) -> list[dict]:
    """In-process rows ``{"doc_id", "spans"}`` at the given positions."""
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(path, "docs.parquet")).take(indices).to_pylist()


def write_source(documents_parquet: str) -> None:
    """Keep the first ``SOURCE_ROWS`` rows (doc_id, text) of a
    ``documents`` table as the corpus source."""
    import pyarrow.parquet as pq

    t = pq.read_table(documents_parquet, columns=["doc_id", "text"]).slice(0, SOURCE_ROWS)
    os.makedirs(os.path.dirname(SOURCE), exist_ok=True)
    pq.write_table(t, SOURCE, compression="zstd")


if __name__ == "__main__":
    write_source(sys.argv[1])
