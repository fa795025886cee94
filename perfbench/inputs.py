"""Input tables for the workloads, read from the committed samples in
perfbench/data (written by perfbench/make_data.py from the engine's
generated test data):

- ``orders``/``lineitem``: 6,000 whole orders of sf0.1. The engine
  derives its analog FileInfo/Phot tables from them, inside the
  cte-pipeline queries and, for results-ingest, in set-up;
- ``documents``/``embeddings``: a row sample of sf0.1 (llm-corpus), or
  a row sample of sf0.01 repeated under remapped ids (clone-corpus).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
FILES_PER_TABLE = 4


def read_sample(name: str, tables: tuple[str, ...]) -> dict[str, pa.Table]:
    return {t: pq.read_table(os.path.join(DATA, name, f"{t}.parquet")) for t in tables}


def tpch_tables() -> dict[str, pa.Table]:
    return read_sample("sf0.1-sample", ("orders", "lineitem"))


def distinct_corpus() -> dict[str, pa.Table]:
    return read_sample("sf0.1-sample", ("documents", "embeddings"))


def clone_corpus(rng: np.random.Generator, doc_copies: int, vec_copies: int) -> dict[str, pa.Table]:
    """The sf0.01 sample repeated ``*_copies`` times: every row is an
    exact copy of a base row, under ids remapped by ``rng``."""
    base = read_sample("sf0.01-sample", ("documents", "embeddings"))
    out = {}
    for name, key, copies in (("documents", "doc_id", doc_copies),
                              ("embeddings", "vec_id", vec_copies)):
        t = base[name]
        n = t.num_rows * copies
        rows = t.take(pa.array(np.tile(np.arange(t.num_rows), copies)))
        ids = pa.array(rng.permutation(n).astype(np.int64))
        out[name] = rows.set_column(rows.schema.get_field_index(key), key, ids)
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Each table as a directory ``<name>.parquet`` of a few part files, as
    a Spark writer leaves it, so scans start with more than one task."""
    for name, table in tables.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d)
        step = -(-table.num_rows // FILES_PER_TABLE)
        for i in range(FILES_PER_TABLE):
            pq.write_table(table.slice(i * step, step), os.path.join(d, f"part-{i:05d}.parquet"))


def facts(tables: dict[str, pa.Table]) -> dict:
    """Input facts printed next to the metrics: row counts and the
    distinct-content share of the corpus tables."""
    out = {f"rows.{k}": v.num_rows for k, v in sorted(tables.items())}
    if "documents" in tables:
        texts = tables["documents"].column("text").to_pylist()
        out["documents.distinct_frac"] = round(len(set(texts)) / len(texts), 4)
    if "embeddings" in tables:
        vecs = tables["embeddings"].column("embedding").to_pylist()
        out["embeddings.distinct_frac"] = round(len({tuple(v) for v in vecs}) / len(vecs), 4)
    return out


def tables_hash(tables: dict[str, pa.Table]) -> str:
    """Digest of the input tables, to tell a changed sample apart from an
    engine output change when a recorded hash stops matching."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]
