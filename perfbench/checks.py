"""Output checks. A failed check counts the operation as failed.

Query results are compared by row count plus an order-insensitive
digest (columns sorted by name, each row rendered to text, rows sorted,
sha256), so engines that return rows in different orders agree. Stores
written by the streaming drains are read back with pyarrow, so a check
starts no Spark job.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import os

import pyarrow.parquet as pq


def _cell(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return format(v, ".10g")
    if isinstance(v, decimal.Decimal):
        return format(float(v), ".10g")
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.strftime("%Y-%m-%d 00:00:00.000000")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "tolist"):  # numpy scalar or array
        return _cell(v.tolist())
    return str(v)


def digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive sha256) of a result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return len(lines), h.hexdigest()


def duck_digest(con, sql: str) -> tuple[int, str]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return digest(cols, cur.fetchall())


def read_store(path: str):
    """A parquet store directory as one pyarrow table (hive partitions,
    e.g. `batch_id=3/`, become columns); None when nothing was written."""
    if not os.path.isdir(path):
        return None
    if not any(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs):
        return None
    return pq.read_table(path)


def check_event_store(paths, expected_keys: set) -> list[str]:
    """INSERT-OR-IGNORE + quarantine invariants of one event drain."""
    errors = []
    target = read_store(paths.target_dir)
    audit = read_store(paths.audit_dir)
    if target is None or audit is None:
        return ["event drain wrote no target or no audit rows"]
    keys = target["event_id"].to_pylist()
    if len(keys) != len(set(keys)):
        errors.append(f"target holds {len(keys) - len(set(keys))} duplicated keys")
    if set(keys) != expected_keys:
        errors.append(
            f"target keys differ from the rule-passing landed keys: "
            f"{len(set(keys) - expected_keys)} extra, {len(expected_keys - set(keys))} missing"
        )
    a = audit.to_pylist()
    for r in a:
        if r["fetched"] != r["inserted"] + r["skipped"] + r["quarantined"]:
            errors.append(f"audit batch {r['batch_id']}: fetched != inserted+skipped+quarantined")
    if len(keys) != sum(r["inserted"] for r in a):
        errors.append(f"target has {len(keys)} rows, audit inserted {sum(r['inserted'] for r in a)}")
    return errors


def check_doc_store(paths) -> list[str]:
    """Near-dup drain invariants: audit reconciles, the target holds
    exactly the inserted rows, and no two accepted texts are identical."""
    errors = []
    target = read_store(paths.target_dir)
    audit = read_store(paths.audit_dir)
    if target is None or audit is None:
        return ["document drain wrote no target or no audit rows"]
    a = audit.to_pylist()
    for r in a:
        if r["fetched"] != r["inserted"] + r["dup_vs_store"] + r["dup_within_batch"]:
            errors.append(f"near-dup audit batch {r['batch_id']} does not reconcile")
    texts = target["text"].to_pylist()
    if len(texts) != sum(r["inserted"] for r in a):
        errors.append(f"accepted {len(texts)} docs, audit inserted {sum(r['inserted'] for r in a)}")
    if len(texts) != len(set(texts)):
        errors.append(f"{len(texts) - len(set(texts))} accepted documents repeat a text")
    return errors


def _rows(path: str) -> list[dict]:
    table = read_store(path)
    return [] if table is None else table.to_pylist()


def audit_totals(ingest_paths, neardup_paths) -> dict:
    """Rows fetched, inserted, skipped and quarantined, summed over the
    audit rows both drains wrote (near-dup skips are the documents
    dropped as near-duplicates of the store or of their batch)."""
    t = {"fetched": 0, "inserted": 0, "skipped": 0, "quarantined": 0}
    for r in _rows(ingest_paths.audit_dir):
        for k in t:
            t[k] += r[k]
    for r in _rows(neardup_paths.audit_dir):
        t["fetched"] += r["fetched"]
        t["inserted"] += r["inserted"]
        t["skipped"] += r["dup_vs_store"] + r["dup_within_batch"]
    return t
