"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload through the command line, untraced and
traced, and check that every metric of BENCHMARK.json is printed with its
unit. The fault-injection tests hand the checks a wrong output and show
that it counts as a failed operation.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from data_ingestion_system_spark.streaming.ingest import IngestPaths  # noqa: E402
from data_ingestion_system_spark.streaming.neardup import NearDupPaths  # noqa: E402
from perfbench import checks, inputs  # noqa: E402
from perfbench.workloads import SF, WORKLOADS, Op, QueryMix  # noqa: E402


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def _declared(kind: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace))
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    want = _declared("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float | int) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] != 0 for v in result["metrics"].values())
    assert lines[-2].startswith("detail: ")


def test_bare_directory_exits_nonzero_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "query_mix", "--seed", "1", "--seconds", "1",
             "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


# --- fault injection ---------------------------------------------------------
def _event_store(root, keys, audit_rows) -> IngestPaths:
    paths = IngestPaths(
        source_dir=str(root / "src"), target_dir=str(root / "target"),
        audit_dir=str(root / "audit"), provenance_dir=str(root / "prov"),
        checkpoint_dir=str(root / "ckpt"), quarantine_dir=str(root / "quar"),
    )
    for d in (paths.target_dir, paths.audit_dir):
        os.makedirs(d)
    pq.write_table(pa.table({"event_id": pa.array(keys, pa.int64())}),
                   os.path.join(paths.target_dir, "part-0.parquet"))
    pq.write_table(pa.Table.from_pylist(audit_rows),
                   os.path.join(paths.audit_dir, "part-0.parquet"))
    return paths


AUDIT = [
    {"batch_id": 0, "fetched": 3, "inserted": 2, "skipped": 0, "quarantined": 1},
    {"batch_id": 1, "fetched": 2, "inserted": 1, "skipped": 1, "quarantined": 0},
]


def test_clean_event_store_passes(tmp_path):
    assert checks.check_event_store(_event_store(tmp_path, [1, 2, 3], AUDIT), {1, 2, 3}) == []


def test_duplicated_target_key_fails(tmp_path):
    errors = checks.check_event_store(_event_store(tmp_path, [1, 2, 2], AUDIT), {1, 2})
    assert any("duplicated keys" in e for e in errors)


def test_unreconciled_audit_row_fails(tmp_path):
    audit = [dict(AUDIT[0], skipped=1), AUDIT[1]]
    errors = checks.check_event_store(_event_store(tmp_path, [1, 2, 3], audit), {1, 2, 3})
    assert any("fetched != inserted+skipped+quarantined" in e for e in errors)


def test_repeated_accepted_text_fails(tmp_path):
    paths = NearDupPaths(
        source_dir=str(tmp_path / "src"), target_dir=str(tmp_path / "docs"),
        bands_dir=str(tmp_path / "bands"), tokens_dir=str(tmp_path / "tokens"),
        audit_dir=str(tmp_path / "audit"), checkpoint_dir=str(tmp_path / "ckpt"),
    )
    os.makedirs(os.path.join(paths.target_dir, "batch_id=0"))
    os.makedirs(paths.audit_dir)
    pq.write_table(pa.table({"doc_id": [1, 2], "text": ["a b c", "a b c"]}),
                   os.path.join(paths.target_dir, "batch_id=0", "part-0.parquet"))
    pq.write_table(pa.Table.from_pylist([{"batch_id": 0, "fetched": 2, "dup_vs_store": 0,
                                          "dup_within_batch": 0, "inserted": 2}]),
                   os.path.join(paths.audit_dir, "part-0.parquet"))
    assert any("repeat a text" in e for e in checks.check_doc_store(paths))


def test_digest_ignores_row_and_column_order():
    rows = [(1, "a", 0.5), (2, "b", None)]
    swapped = [(None, "b", 2), (0.5, "a", 1)]
    assert checks.digest(["k", "s", "x"], rows) == checks.digest(["x", "s", "k"], swapped)


def test_perturbed_query_row_counts_as_failed(tmp_path):
    cols = ["app_id", "review_count"]
    rows = [("com.example.app01", 10), ("com.example.app02", 7)]
    wl = QueryMix(spark=None, tracer=None, work=str(tmp_path), seed=1)
    wl.expected = {"q": checks.digest(cols, rows)}
    op = Op("q", "views", build=lambda: None, oracle="")
    wl.record("q", wl.check(op, (cols, rows)))
    wl.record("q", wl.check(op, (cols, [rows[0], ("com.example.app02", 8)])))
    assert (wl.attempted, wl.failed) == (2, 1)
    assert wl.end_to_end(peak_rss_mb=1.0)["ok_ratio"] == 0.5


def test_same_seed_builds_identical_inputs(tmp_path):
    def sha(seed, d):
        m = inputs.corpus(SF, str(tmp_path / d), seed)
        return {t: v["sha256"] for t, v in m["tables"].items()}

    first = sha(5, "a")
    assert sha(5, "b") == first
    assert sha(6, "c")["events"] != first["events"]


def test_python_worker_cpu_is_counted(tmp_path):
    """CPU burnt in Spark's Python workers, children of the driver JVM,
    counts in a pass's CPU seconds."""
    from pyspark.sql import functions as F

    from perfbench import run
    from perfbench.workloads import _cpu_ticks, _stat, own_cpu_seconds

    env = dict(os.environ)
    run._env(str(tmp_path))
    spark = run._session(str(tmp_path))
    try:
        wl = QueryMix(spark, tracer=None, work=str(tmp_path), seed=1)
        burn = F.udf(lambda x: sum(i * i for i in range(100_000)) % 7 + x, "long")

        def jvm_and_self():  # cpu_now without the JVM's child processes
            jvm = _cpu_ticks(_stat(wl.jvm_pid)) / os.sysconf("SC_CLK_TCK")
            return jvm + own_cpu_seconds() - wl.jit_now()

        counted0, plain0 = wl.cpu_now(), jvm_and_self()
        # summed, so the optimizer cannot prune the UDF away
        got = spark.range(400).repartition(4).select(F.sum(burn("id"))).first()[0]
        workers = (wl.cpu_now() - counted0) - (jvm_and_self() - plain0)
    finally:
        run._stop(spark)
        os.environ.clear()
        os.environ.update(env)
    assert got == 400 * (sum(i * i for i in range(100_000)) % 7) + sum(range(400))
    assert workers > 1.0  # 400 rows of several ms of Python each
