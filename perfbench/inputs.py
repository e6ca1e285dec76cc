"""Seeded inputs for the workloads.

Everything the program reads is made here from `--seed`; the program
only ever sees the generated files. The star schema, events, documents
and embeddings come from `tools/gen_bench_data.main(sf, out, seed=seed)`.
The review-domain tables are the fixtures' md5-derived reviews and
labels, which take no seed.
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The event CHECK suite of operators/integrity.event_rules(), restated
# here so the expected target is computed without the program.
EVENT_TYPES_OK = ("click", "view", "purchase", "signup")
VALUE_LO, VALUE_HI = 0.0, 400.0


def _gen_module():
    spec = importlib.util.spec_from_file_location(
        "gen_bench_data", os.path.join(ROOT, "tools", "gen_bench_data.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def corpus(sf: float, out_dir: str, seed: int) -> dict:
    """The seeded star schema + events/documents/embeddings at `sf`.
    Returns the generator's manifest (rows, bytes and sha256 per table)."""
    gen = _gen_module()
    with contextlib.redirect_stdout(sys.stderr):
        gen.main(sf, out_dir, seed=seed)
    with open(os.path.join(out_dir, "manifest.json")) as f:
        return json.load(f)


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def land_events(
    sf_dir: str, landing: str, n_files: int, rows_per_file: int, refetch: float, seed: int
) -> dict:
    """Landing files of the event stream, one per micro-batch. File 0
    holds only new events; every later file re-fetches `refetch` of its
    rows from the file before it (exact copies, as a scraper re-fetching
    the newest page would), the rest are new. Returns sizes and the
    expected target: the distinct keys landed whose rows pass the CHECK
    suite."""
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    rng = np.random.default_rng([seed, 1])
    n_refetch = int(round(rows_per_file * refetch))
    n_new = rows_per_file - n_refetch
    need = rows_per_file + n_new * (n_files - 1)
    if ev.num_rows < need:
        raise ValueError(f"events table has {ev.num_rows} rows, landing needs {need}")
    os.makedirs(landing, exist_ok=True)
    landed_idx: list[int] = []
    prev = np.array([], dtype=np.int64)
    cursor = 0
    nbytes = rows = refetched = 0
    for i in range(n_files):
        take_new = rows_per_file if i == 0 else n_new
        new = np.arange(cursor, cursor + take_new)
        cursor += take_new
        old = rng.choice(prev, n_refetch, replace=False) if i else prev
        idx = np.concatenate([new, old])
        nbytes += _write(ev.take(idx), os.path.join(landing, f"events-{i:04d}.parquet"))
        rows += len(idx)
        refetched += len(old)
        landed_idx.extend(new.tolist())
        prev = idx
    landed = ev.take(np.array(landed_idx))
    ok = pc.and_(
        pc.and_(
            pc.is_in(landed["event_type"], pa.array(EVENT_TYPES_OK)),
            pc.and_(
                pc.greater_equal(landed["value"], VALUE_LO),
                pc.less_equal(landed["value"], VALUE_HI),
            ),
        ),
        pc.and_(pc.is_valid(landed["user_id"]), pc.is_valid(landed["ts"])),
    )
    ok = pc.fill_null(ok, True)  # a CHECK fails only on FALSE
    expected = set(pc.filter(landed["event_id"], ok).to_pylist())
    return {
        "files": n_files,
        "rows": rows,
        "bytes": nbytes,
        "distinct_keys": len(landed_idx),
        "refetch_share": refetched / rows,
        "violator_share": 1 - len(expected) / len(landed_idx),
        "expected_keys": expected,
    }


def land_documents(sf_dir: str, landing: str, n_files: int, docs_per_file: int) -> dict:
    """Landing files of the document stream: the generator's documents
    in doc_id order, which carry its planted near and exact duplicates."""
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    if docs.num_rows < n_files * docs_per_file:
        raise ValueError(f"documents table has {docs.num_rows} rows")
    os.makedirs(landing, exist_ok=True)
    nbytes = 0
    for i in range(n_files):
        part = docs.slice(i * docs_per_file, docs_per_file)
        nbytes += _write(part, os.path.join(landing, f"docs-{i:04d}.parquet"))
    landed = docs.slice(0, n_files * docs_per_file)
    texts = landed["text"].to_pylist()
    return {
        "files": n_files,
        "rows": landed.num_rows,
        "bytes": nbytes,
        "exact_dup_share": 1 - len(set(texts)) / len(texts),
    }


_DUCK_TYPES = {
    "StringType": "VARCHAR", "IntegerType": "INTEGER", "LongType": "BIGINT",
    "DoubleType": "DOUBLE", "TimestampType": "TIMESTAMPTZ",
}


def review_corpus(out_dir: str, n_reviews: int, n_labeled: int) -> dict:
    """The review-domain fact tables at the reference's production size,
    as parquet. They are written by DuckDB from `fixtures.reviews_sql`
    and `fixtures.labels_sql`, the exact SQL twins of
    `generate_reviews` and `generate_labels` (tests/test_reference_views.py
    holds them equal), cast to the declared review-domain schemas."""
    import duckdb

    from data_ingestion_system_spark.fixtures import labels_sql, reviews_sql
    from data_ingestion_system_spark.schemas import REVIEW_DOMAIN_SCHEMAS

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for name, sql in (("reviews", reviews_sql(n_reviews)), ("labels", labels_sql(n_labeled))):
            cols = ", ".join(
                f"CAST({f.name} AS {_DUCK_TYPES[type(f.dataType).__name__]}) AS {f.name}"
                for f in REVIEW_DOMAIN_SCHEMAS[name].fields
            )
            path = os.path.join(out_dir, f"{name}.parquet")
            con.execute(f"COPY (SELECT {cols} FROM ({sql})) TO '{path}' (FORMAT PARQUET)")
    finally:
        con.close()
    return {"reviews": n_reviews, "labeled_reviews": n_labeled}


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total
