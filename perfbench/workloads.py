"""The two workloads: set-up, the measured loop, and their outputs.

Each workload runs as one client in a closed loop on one SparkSession.
Its unit of work is a *pass*: for `query_mix` one execution of every
query in its list, for `ingest_stream` one drain of the landed backlog
into fresh stores. Passes repeat until the next one would end past
`--seconds`; there is always at least one. In a traced run the passes
alternate untraced and traced, so the run measures its own tracing
overhead.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable

from perfbench import checks, inputs
from perfbench.trace import Span, Tracer

SF = 0.02  # gen_bench_data scale: 20k events, 1000 documents, 400 vectors

# ingest_stream backlog
EVENT_FILES = 3
EVENT_ROWS_PER_FILE = 1000
# each file after the first re-fetches this share of its rows from the
# file before it: the reference scrapes the newest 300 reviews every 4 h,
# so consecutive batches overlap on ~40% of their keys (FIXTURES.md §5)
REFETCH_SHARE = 0.40
DOC_FILES = 1
DOCS_PER_FILE = 500

# query_mix: the reference's production corpus, and the registry queries
N_REVIEWS = 87_381
N_LABELED = 13_107
REGISTRY_QUERIES = (
    "history_lag_zscore",  # operators
    "cdc_apply_state",  # operators
    "dynamic_filter",  # operators
    "dedup_exact_stats",  # dedup
    "token_counts",  # text
    "quality_classifier_scores",  # text
    "ann_topk_bruteforce",  # similarity
)


def layer_of(fn) -> str:
    """'data_ingestion_system_spark.dedup.minhash' → 'dedup'."""
    return fn.__module__.split(".")[1]


@dataclass
class Op:
    name: str
    layer: str
    build: Callable  # () -> DataFrame
    oracle: str  # DuckDB SQL over the same input


@dataclass
class PassResult:
    seconds: float
    cpu_s: float  # CPU seconds, as Workload.cpu_now counts them
    op_seconds: list  # latency of each operation
    traced: bool
    span: Span
    facts: dict = field(default_factory=dict)  # workload-specific figures


def _stat(pid) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, from `state` on;
    None if the process has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None


def _cpu_ticks(fields: list[str]) -> int:
    """utime + stime of the process (all threads) + cutime + cstime of
    the children it has reaped."""
    return sum(int(x) for x in fields[11:15])


def tree_cpu_seconds(pid: int) -> float:
    """CPU seconds of a process and all its live descendants, plus those
    of descendants already reaped. Spark's Python workers are forked by
    the driver JVM's `pyspark.daemon` and live as long as it does, so
    they are counted here and not in the JVM's own figures."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat(entry)
        if fields is None:
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
        ticks[int(entry)] = _cpu_ticks(fields)
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += ticks.get(p, 0)
        todo.extend(children.get(p, ()))
    return total / os.sysconf("SC_CLK_TCK")


def jit_cpu_seconds(jvm_pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads. The session keeps
    them alive for the whole run (-XX:-UseDynamicNumberOfCompilerThreads),
    so none of their time is lost with an exited thread."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                raw = f.read()
        except FileNotFoundError:
            continue
        name, rest = raw[raw.index("(") + 1:].rsplit(")", 1)
        if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = rest.split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def own_cpu_seconds() -> float:
    """CPU seconds of this process since it started, all threads."""
    return _cpu_ticks(_stat("self")) / os.sysconf("SC_CLK_TCK")


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(samples) -> dict | None:
    """The highest percentile with at least 10 samples beyond it."""
    xs = sorted(samples)
    if len(xs) < 11:
        return None
    k = len(xs) - 11  # exactly 10 samples lie above index k
    return {"percentile": 100.0 * (k + 1) / len(xs), "value_s": xs[k], "samples": len(xs)}


class Workload:
    name = ""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.setup_parts: dict[str, float] = {}  # wall seconds per set-up step
        self.setup_cpu_s = 0.0  # CPU seconds from process start to the end of set-up
        self.setup_jit_s = 0.0  # and of the JIT compiler in that time
        self.oracle_cpu_s = 0.0  # CPU seconds of the oracles, left out of set-up
        self.sizes: dict = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.passes: list[PassResult] = []
        self.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid() if spark else None

    def cpu_now(self) -> float:
        """CPU seconds used so far by this process and the driver JVM with
        its children, leaving out the JVM's JIT compiler threads. Unlike
        wall time, CPU time stolen by the hypervisor does not count. JIT
        compilation runs on its own threads beside the queries, and how
        much of it falls in one pass wanders with timing, so it is
        reported apart."""
        return tree_cpu_seconds(self.jvm_pid) + own_cpu_seconds() - self.jit_now()

    def jit_now(self) -> float:
        return jit_cpu_seconds(self.jvm_pid)

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self, traced: bool) -> PassResult:
        raise NotImplementedError

    def build_inputs(self) -> str:
        """Build the seeded corpus; returns its directory."""
        d = os.path.join(self.work, "corpus")
        manifest = self.timed("inputs_s", lambda: inputs.corpus(SF, d, self.seed))
        self.sizes["sf"] = SF
        self.sizes["tables"] = {t: v["rows"] for t, v in manifest["tables"].items()}
        return d

    def timed(self, part: str, fn):
        """Run one set-up step, adding its wall time to `part`."""
        t0 = time.perf_counter()
        with self.tracer.span(part, "setup"):
            out = fn()
        self.setup_parts[part] = self.setup_parts.get(part, 0.0) + time.perf_counter() - t0
        return out

    def record(self, what: str, errors: list[str]) -> None:
        """Count one checked operation; any error fails it."""
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(f"{what}: {e}" for e in errors)

    def measure(self, seconds: float, trace: bool) -> None:
        """Run passes until the next would end past `seconds`, at least
        one. A traced run alternates untraced and traced passes, at least
        three (untraced, traced, untraced), so its overhead compares a
        traced pass with the warm untraced pass after it."""
        t0 = time.perf_counter()
        while True:
            traced = trace and len(self.passes) % 2 == 1
            self.tracer.enabled = traced
            self.passes.append(self.run_pass(traced))
            if trace and len(self.passes) < 3:
                continue
            elapsed = time.perf_counter() - t0
            if elapsed + median([p.seconds for p in self.passes]) > seconds:
                break
        self.tracer.enabled = False

    def plain_passes(self) -> list[PassResult]:
        return [p for p in self.passes if not p.traced]

    def prepare(self) -> None:
        """Set up, then note the CPU seconds spent so far: Python start,
        session start, inputs, landing and warm-up, but not the oracles,
        which are the benchmark's and not the program's."""
        self.setup()
        self.setup_cpu_s = self.cpu_now() - self.oracle_cpu_s
        self.setup_jit_s = self.jit_now()

    def end_to_end(self, peak_rss_mb: float) -> dict:
        return {
            "setup_s": self.setup_cpu_s,
            "pass_cpu_s": median([p.cpu_s for p in self.plain_passes()]),
            "ok_ratio": (self.attempted - self.failed) / self.attempted,
            "peak_rss_mb": peak_rss_mb,
        }

    def detail(self) -> dict:
        """Figures reported beside the gated metrics: wall times, which
        CPU steal on a shared host moves too much to gate, and what only
        one workload has."""
        plain = self.plain_passes()
        ops = [s for p in plain for s in p.op_seconds]
        return {
            "passes": len(plain),
            "pass_s": median([p.seconds for p in plain]),
            "pass_jit_cpu_s": median([p.facts["jit_cpu_s"] for p in plain]),
            "setup_jit_cpu_s": self.setup_jit_s,
            "op_p50_s": median(ops),
            "op_samples": len(ops),
            "op_tail": tail(ops),
            "setup_parts_s": self.setup_parts,
            "sizes": self.sizes,
        }


# ---------------------------------------------------------------------------
class QueryMix(Workload):
    """The read path, one client in a closed loop: the reference's views
    over its production-size review corpus, relational registry queries,
    and LLM-data operators (near-dup detection, quality scoring, ANN
    serving) over the generated tables. Every result is checked against
    its DuckDB oracle, computed in set-up and not timed."""

    name = "query_mix"

    def setup(self) -> None:
        sf_dir = self.build_inputs()
        d = os.path.join(self.work, "reviews")
        self.sizes.update(
            self.timed("land_s", lambda: inputs.review_corpus(d, N_REVIEWS, N_LABELED))
        )
        self.ops = self.build_ops(sf_dir, d)
        cpu0 = self.cpu_now()
        self.expected = self.oracle_digests(sf_dir)
        self.oracle_cpu_s = self.cpu_now() - cpu0
        self.timed("warmup_s", lambda: self.run_pass(False))

    def build_ops(self, sf_dir: str, review_dir: str) -> list[Op]:
        from data_ingestion_system_spark import views
        from data_ingestion_system_spark.fixtures import (
            generate_annotators,
            generate_apps,
            labels_sql,
            reviews_sql,
        )
        from data_ingestion_system_spark.operators import reference_domain
        from data_ingestion_system_spark.registry import load_all
        from data_ingestion_system_spark.schemas import REVIEW_DOMAIN_SCHEMAS

        reg = load_all()

        def table(name):
            return self.spark.read.schema(REVIEW_DOMAIN_SCHEMAS[name]).parquet(
                os.path.join(review_dir, f"{name}.parquet"))

        reviews, labels = table("reviews"), table("labels")
        apps, annotators = generate_apps(self.spark), generate_annotators(self.spark)

        def view_oracle(name: str) -> str:
            # the registry's oracle for the view, re-pointed at this corpus size
            return reg[name].oracle.replace(
                reviews_sql(reference_domain.FIXTURE_ROWS), reviews_sql(N_REVIEWS)
            ).replace(labels_sql(300), labels_sql(N_LABELED))

        ops = [
            Op("v_app_stats", "views", lambda: views.v_app_stats(reviews),
               view_oracle("ref_v_app_stats")),
            Op("v_daily_stats", "views", lambda: views.v_daily_stats(reviews),
               view_oracle("ref_v_daily_stats")),
            Op("v_labeled_reviews", "views",
               lambda: views.v_labeled_reviews(labels, reviews, apps, annotators),
               view_oracle("ref_v_labeled_reviews")),
        ]
        for n in REGISTRY_QUERIES:
            spec = reg[n]
            ops.append(Op(n, layer_of(spec.spark),
                          lambda spec=spec: spec.spark(self.spark, sf_dir), spec.oracle))
        return ops

    def oracle_digests(self, sf_dir: str) -> dict:
        import duckdb

        from data_ingestion_system_spark.tables import TABLE_NAMES

        con = duckdb.connect()
        try:
            for t in TABLE_NAMES:
                p = os.path.join(sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            return {op.name: checks.duck_digest(con, op.oracle) for op in self.ops}
        finally:
            con.close()

    def run_pass(self, traced: bool) -> PassResult:
        from data_ingestion_system_spark.tables import release_session_checkpoints

        results = []  # (op, seconds, call span, (columns, rows) or the exception)
        t_pass, cpu0, jit0 = time.perf_counter(), self.cpu_now(), self.jit_now()
        with self.tracer.span(f"{self.name} pass", "unit") as unit:
            for op in self.ops:
                # free earlier queries' checkpoint blocks, as bench.py does
                release_session_checkpoints(self.spark)
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(op.name, "call", op.layer) as call:
                        df = op.build()
                        out = (df.columns, df.collect())
                except Exception as e:  # a failed query is counted, not fatal
                    out = e
                results.append((op, time.perf_counter() - t0, call, out))
        seconds, cpu_s = time.perf_counter() - t_pass, self.cpu_now() - cpu0
        jit_s = self.jit_now() - jit0
        # digests are taken after the pass, outside its wall time
        for op, _, call, out in results:
            errors = [repr(out)] if isinstance(out, Exception) else self.check(op, out)
            call.failed = bool(errors)
            self.record(op.name, errors)
        return PassResult(seconds, cpu_s, [r[1] for r in results], traced, unit,
                          {"jit_cpu_s": jit_s})

    def check(self, op: Op, out) -> list[str]:
        got, want = checks.digest(*out), self.expected[op.name]
        if got != want:
            return [f"{got[0]} rows, digest {got[1][:12]}; oracle {want[0]} rows, {want[1][:12]}"]
        return []


# ---------------------------------------------------------------------------
class IngestStream(Workload):
    """The write path: a landed backlog of event files drained one file
    per trigger through the CHECK suite (INSERT-OR-IGNORE, audit,
    provenance, quarantine), then document files drained through the
    incremental near-dup filter. A closed drain, as the reference's
    4-hourly `--once` run: throughput at a stated size. There is no
    warm-up drain: a `--once` run starts a fresh process, so the drain
    is measured as that process pays for it, first batch included."""

    name = "ingest_stream"

    def setup(self) -> None:
        sf_dir = self.build_inputs()
        ev_dir = os.path.join(self.work, "landing-events")
        doc_dir = os.path.join(self.work, "landing-docs")

        def land():
            ev = inputs.land_events(sf_dir, ev_dir, EVENT_FILES, EVENT_ROWS_PER_FILE,
                                    REFETCH_SHARE, self.seed)
            return ev, inputs.land_documents(sf_dir, doc_dir, DOC_FILES, DOCS_PER_FILE)

        ev, docs = self.timed("land_s", land)
        self.expected_keys = ev.pop("expected_keys")
        self.sizes.update(events=ev, documents=docs)
        self.landing = (ev_dir, doc_dir)

    def drain(self, name: str, start) -> tuple[Span, list[Span], list[str]]:
        """Run one drain as a streaming call: (call span, micro-batch
        spans, errors). A drain that raises is a failed operation."""
        try:
            with self.tracer.span(name, "call", "streaming") as call:
                query = start()
        except Exception as e:
            return call, [], [repr(e)]
        return call, self.tracer.add_stream(call, query), []

    def run_pass(self, traced: bool) -> PassResult:
        from data_ingestion_system_spark.operators.integrity import event_rules
        from data_ingestion_system_spark.schemas import TESTDATA_SCHEMAS
        from data_ingestion_system_spark.streaming.ingest import IngestPaths, run_file_ingestion
        from data_ingestion_system_spark.streaming.neardup import (
            NearDupPaths,
            run_neardup_ingestion,
        )

        root = os.path.join(self.work, f"store-{len(self.passes)}")
        ip = IngestPaths(
            source_dir=self.landing[0],
            target_dir=os.path.join(root, "target"),
            audit_dir=os.path.join(root, "audit"),
            provenance_dir=os.path.join(root, "provenance"),
            checkpoint_dir=os.path.join(root, "checkpoint"),
            quarantine_dir=os.path.join(root, "quarantine"),
        )
        np_ = NearDupPaths(
            source_dir=self.landing[1],
            target_dir=os.path.join(root, "docs"),
            bands_dir=os.path.join(root, "bands"),
            tokens_dir=os.path.join(root, "tokens"),
            audit_dir=os.path.join(root, "docs-audit"),
            checkpoint_dir=os.path.join(root, "docs-checkpoint"),
        )
        t0, cpu0, jit0 = time.perf_counter(), self.cpu_now(), self.jit_now()
        with self.tracer.span("ingest_stream pass", "unit") as unit:
            ev_call, batches, ev_err = self.drain("run_file_ingestion", lambda: run_file_ingestion(
                self.spark, ip, TESTDATA_SCHEMAS["events"], "event_id",
                max_files_per_trigger=1, rules=event_rules()))
            doc_call, _, doc_err = self.drain("run_neardup_ingestion", lambda: run_neardup_ingestion(
                self.spark, np_, TESTDATA_SCHEMAS["documents"]))
        seconds, cpu_s = time.perf_counter() - t0, self.cpu_now() - cpu0
        jit_s = self.jit_now() - jit0
        self.record("run_file_ingestion", ev_err or checks.check_event_store(ip, self.expected_keys))
        self.record("run_neardup_ingestion", doc_err or checks.check_doc_store(np_))
        facts = {
            "jit_cpu_s": jit_s,
            "events_s": ev_call.seconds,
            "docs_s": doc_call.seconds,
            "state_bytes": sum(inputs.dir_bytes(p)
                               for p in (ip.target_dir, np_.bands_dir, np_.tokens_dir)),
            "stored_bytes": inputs.dir_bytes(root),
            "audit": checks.audit_totals(ip, np_),
        }
        return PassResult(seconds, cpu_s, [b.seconds for b in batches], traced, unit, facts)

    def detail(self) -> dict:
        d = super().detail()
        plain = self.plain_passes()
        ev, docs = self.sizes["events"], self.sizes["documents"]
        d.update({
            "rows_per_s": median([ev["rows"] / p.facts["events_s"] for p in plain]),
            "docs_per_s": median([docs["rows"] / p.facts["docs_s"] for p in plain]),
            "stored_bytes_ratio": median(
                [p.facts["stored_bytes"] / (ev["bytes"] + docs["bytes"]) for p in plain]),
        })
        return d


WORKLOADS = {w.name: w for w in (IngestStream, QueryMix)}
