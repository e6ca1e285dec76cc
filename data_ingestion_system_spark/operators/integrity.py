"""Referential & domain integrity — SURVEY.md §1.2/§1.4.

The reference enforces integrity at the row gate: FK constraints with ON
DELETE CASCADE (reference: src/database/schema.sql:74,116-117,305-306)
and CHECK constraints — rating 1..5 (schema.sql:58), run status enum
(schema.sql:89-90), sentiment/confidence enums (schema.sql:293-299),
queue tier/status (schema.sql:319-321) — with invalid-rating detection
in analysis (reference: src/analysis/data_quality_analyzer.py:138).

A 100-TB parquet engine has no transactional row gate, so integrity is
re-expressed set-based, two ways:

* **audit**: anti-join orphan counts per FK edge (`fk_orphan_counts`)
  and per-rule CHECK-violation profiles (`validation_profile`) — run
  over the store, cheap enough to run per ingest window;
* **enforce**: `validate(df, rules)` splits a batch into (valid,
  quarantined-with-reasons) in ONE predicate pass; the ingest path
  (streaming/ingest.py) uses it to divert violators to a quarantine
  directory and count them in the batch audit record instead of
  poisoning the store.

Scale shape: every check is an anti-join on the FK key (dims broadcast,
big parents shuffle-partitioned — never collected) or a codegen
predicate scan; violation counts aggregate map-side. No windows, no
driver loops.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_system_spark.registry import query
from data_ingestion_system_spark.tables import load_table

# ---------------------------------------------------------------------------
# CHECK-constraint validation: validate(df, rules) -> valid / quarantined
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Rule:
    """One CHECK constraint: `ok` must be TRUE for a row to pass.

    NULL semantics follow SQL CHECK: a NULL predicate result does NOT
    violate (SQLite/ANSI treat unknown as pass) — use `not_null` to
    reject NULLs explicitly."""

    name: str
    ok: Column


def enum_check(col: str, allowed: list[str], name: str | None = None) -> Rule:
    """schema.sql-style `col IN (...)` enum constraint."""
    return Rule(name or f"{col}_enum", F.col(col).isin(allowed))


def range_check(col: str, lo: float, hi: float, name: str | None = None) -> Rule:
    """`col BETWEEN lo AND hi` (rating 1..5, tier 1..4 shape)."""
    return Rule(name or f"{col}_range", F.col(col).between(lo, hi))


def not_null_check(col: str, name: str | None = None) -> Rule:
    return Rule(name or f"{col}_not_null", F.col(col).isNotNull())


def violations_col(rules: list[Rule]) -> Column:
    """array of violated rule names (CHECK fails only on FALSE, not NULL)."""
    return F.array_compact(
        F.array(*[F.when(r.ok.eqNullSafe(F.lit(False)), F.lit(r.name)) for r in rules])
    )


def validate(df: DataFrame, rules: list[Rule]) -> tuple[DataFrame, DataFrame]:
    """Split into (valid, quarantined). Quarantined rows carry a
    `_violations` array naming every failed rule — the reject-with-reason
    record the reference's row gate produces one row at a time. One
    codegen predicate pass; no shuffle."""
    tagged = df.withColumn("_violations", violations_col(rules))
    valid = tagged.filter(F.size("_violations") == 0).drop("_violations")
    quarantined = tagged.filter(F.size("_violations") > 0)
    return valid, quarantined


# The events-table CHECK suite used by the catalog queries and the ingest
# quarantine tests: event_type has a documented enum of user actions
# ('error' rows are collector faults, ~20% of the synthetic feed), value
# is a bounded metric, and identity/time columns must be present.
EVENT_TYPE_ENUM = ["click", "view", "purchase", "signup"]
VALUE_LO, VALUE_HI = 0.0, 400.0


def event_rules() -> list[Rule]:
    return [
        enum_check("event_type", EVENT_TYPE_ENUM),
        range_check("value", VALUE_LO, VALUE_HI),
        not_null_check("user_id"),
        not_null_check("ts"),
    ]


_PROFILE_ORACLE = f"""
WITH v AS (
  SELECT CASE WHEN event_type IN ('click', 'view', 'purchase', 'signup')
              OR event_type IS NULL
              THEN 0 ELSE 1 END AS v_enum,
         CASE WHEN value BETWEEN {VALUE_LO} AND {VALUE_HI} OR value IS NULL
              THEN 0 ELSE 1 END AS v_range,
         CASE WHEN user_id IS NOT NULL THEN 0 ELSE 1 END AS v_user,
         CASE WHEN ts IS NOT NULL THEN 0 ELSE 1 END AS v_ts
  FROM events
)
SELECT rule, n_violations, n_rows,
       ROUND(CAST(n_violations AS DOUBLE) / n_rows * 1000000.0) / 1000000.0
         AS violation_rate
FROM (
  SELECT 'event_type_enum' AS rule, CAST(SUM(v_enum) AS BIGINT) AS n_violations,
         COUNT(*) AS n_rows FROM v
  UNION ALL
  SELECT 'value_range', CAST(SUM(v_range) AS BIGINT), COUNT(*) FROM v
  UNION ALL
  SELECT 'user_id_not_null', CAST(SUM(v_user) AS BIGINT), COUNT(*) FROM v
  UNION ALL
  SELECT 'ts_not_null', CAST(SUM(v_ts) AS BIGINT), COUNT(*) FROM v
  UNION ALL
  SELECT '_any_rule', CAST(SUM(CASE WHEN v_enum + v_range + v_user + v_ts > 0
                                    THEN 1 ELSE 0 END) AS BIGINT), COUNT(*) FROM v
) t
ORDER BY rule
"""


@query("invalid_rows_profile", oracle=_PROFILE_ORACLE, survey="EXT-integrity")
def invalid_rows_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule CHECK-violation profile over events (the reference's
    invalid-rating detection, data_quality_analyzer.py:138, generalized
    to a rule suite): one row per rule plus the `_any_rule` quarantine
    total — exactly the counts the ingest gate writes to its audit
    record.

    Scale shape: ONE codegen scan computes every rule's violation flag;
    the per-rule rollup is a conditional-sum aggregate of width
    len(rules). No shuffle beyond the scalar agg."""
    ev = load_table(spark, sf_dir, "events")
    rules = event_rules()
    flags = ev.select(
        *[r.ok.eqNullSafe(F.lit(False)).cast("long").alias(f"v{i}") for i, r in enumerate(rules)]
    )
    sums = flags.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(f"v{i}").alias(f"s{i}") for i in range(len(rules))],
        F.sum(
            F.when(reduce(lambda a, b: a + b, [F.col(f"v{i}") for i in range(len(rules))]) > 0, 1)
            .otherwise(0)
        ).alias("s_any"),
    )
    rows = [
        F.struct(F.lit(r.name).alias("rule"), F.col(f"s{i}").alias("n_violations"))
        for i, r in enumerate(rules)
    ] + [F.struct(F.lit("_any_rule").alias("rule"), F.col("s_any").alias("n_violations"))]
    return (
        sums.select(F.explode(F.array(*rows)).alias("r"), "n_rows")
        .select(
            F.col("r.rule").alias("rule"),
            F.col("r.n_violations").alias("n_violations"),
            "n_rows",
            F.expr(
                "round(cast(r.n_violations as double) / n_rows * 1000000.0) / 1000000.0"
            ).alias("violation_rate"),
        )
        .orderBy("rule")
    )


_VALIDATED_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value) * 1000000.0) / 1000000.0 AS total_value
FROM events
WHERE (event_type IN ('click', 'view', 'purchase', 'signup') OR event_type IS NULL)
  AND (value BETWEEN {VALUE_LO} AND {VALUE_HI} OR value IS NULL)
  AND user_id IS NOT NULL AND ts IS NOT NULL
GROUP BY event_type
ORDER BY event_type NULLS LAST
"""


@query("validated_events", oracle=_VALIDATED_ORACLE, survey="EXT-integrity")
def validated_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flow-through side of the ingest gate: rows passing every CHECK
    rule, aggregated per type — what lands in the store after
    `validate()` diverts violators to quarantine."""
    ev = load_table(spark, sf_dir, "events")
    valid, _ = validate(ev, event_rules())
    return (
        valid.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("round(sum(value) * 1000000.0) / 1000000.0").alias("total_value"),
        )
        # NULL event_type passes the CHECK gate (SQL semantics), so a
        # NULL group is reachable — pin its position: Spark default is
        # nulls-first, DuckDB's is nulls-last
        .orderBy(F.asc_nulls_last("event_type"))
    )


# ---------------------------------------------------------------------------
# FK / orphan checks (anti-join audits)
# ---------------------------------------------------------------------------


# Above this child-row count the anti-join pre-aggregates per FK value
# (guide §2.3 "aggregate before you shuffle"): the join only needs each
# DISTINCT value once, so the shuffle carries the partial-agg-compacted
# value set instead of every child row — at fact-table scale that is the
# difference between shuffling billions of rows and millions of values.
# Below the floor the extra groupBy is pure fixed cost: interleaved A/B
# at sf0.1 (600k-row lineitem, local[32]) measured the pre-agg arm
# consistently ~0.35 s SLOWER (1.6 -> 2.0 s median) because seven more
# aggregation passes dominate the byte savings there. Floor sits above
# every shipped bench SF and below the first scale where shuffle bytes
# measurably bound the audit (sf1.0 lineitem is 6M rows).
ORPHAN_PREAGG_MIN_ROWS = 2_000_000


def orphan_count(child: DataFrame, fk: str, parent: DataFrame, pk: str,
                 broadcast_parent: bool = False,
                 n_rows: DataFrame | None = None,
                 child_rows: int | None = None) -> DataFrame:
    """1-row (n_rows, n_orphans): child rows whose FK value has no parent.
    NULL FKs are not orphans (SQL FK semantics: NULL never violates).
    The anti-join shuffles on the key for big parents; pass
    ``broadcast_parent`` for dimension-sized ones. Pass a precomputed
    1-row ``n_rows`` when auditing several FK edges of the same child so
    the (possibly 100-TB) table is counted once, not once per edge.
    ``child_rows`` (a footer-statistics count) size-dispatches the
    anti-join input (§4d two-physical-plans): above
    ORPHAN_PREAGG_MIN_ROWS the join consumes per-value counts and the
    orphan count is the sum of unmatched multiplicities — identical
    integers, NULL-FK semantics unchanged (filtered before either arm)."""
    keys = parent.select(F.col(pk).alias(fk)).distinct()
    if broadcast_parent:
        keys = F.broadcast(keys)
    if n_rows is None:
        n_rows = child.agg(F.count(F.lit(1)).alias("n_rows"))
    base = child.filter(F.col(fk).isNotNull())
    if child_rows is not None and child_rows >= ORPHAN_PREAGG_MIN_ROWS:
        vals = base.groupBy(fk).agg(F.count(F.lit(1)).alias("_c"))
        orphans = vals.join(keys, fk, "left_anti").agg(
            F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_orphans")
        )
    else:
        orphans = base.join(keys, fk, "left_anti").agg(
            F.count(F.lit(1)).alias("n_orphans")
        )
    return n_rows.crossJoin(orphans)


_MATRIX_ORACLE = """
SELECT child_table, fk_column, parent_table, n_rows, n_orphans FROM (
  SELECT 'lineitem' AS child_table, 'l_orderkey' AS fk_column, 'orders' AS parent_table,
         (SELECT COUNT(*) FROM lineitem) AS n_rows,
         (SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
  UNION ALL
  SELECT 'lineitem', 'l_partkey', 'part',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
  UNION ALL
  SELECT 'lineitem', 'l_suppkey', 'supplier',
         (SELECT COUNT(*) FROM lineitem),
         (SELECT COUNT(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
  UNION ALL
  SELECT 'orders', 'o_custkey', 'customer',
         (SELECT COUNT(*) FROM orders),
         (SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
  UNION ALL
  SELECT 'customer', 'c_nationkey', 'nation',
         (SELECT COUNT(*) FROM customer),
         (SELECT COUNT(*) FROM customer c WHERE c.c_nationkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
  UNION ALL
  SELECT 'supplier', 's_nationkey', 'nation',
         (SELECT COUNT(*) FROM supplier),
         (SELECT COUNT(*) FROM supplier s WHERE s.s_nationkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
  UNION ALL
  SELECT 'nation', 'n_regionkey', 'region',
         (SELECT COUNT(*) FROM nation),
         (SELECT COUNT(*) FROM nation n WHERE n.n_regionkey IS NOT NULL
            AND NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
) t ORDER BY child_table, fk_column
"""


@query("orphan_check_matrix", oracle=_MATRIX_ORACLE, survey="EXT-integrity")
def orphan_check_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full FK-edge audit over the store — one row per FK edge with
    row and orphan counts (the reference's FK graph, schema.sql:74,
    116-117,305-306, checked set-based instead of per-row). All-zero
    orphans is the PASSING report; tests/test_integrity.py injects
    orphans and watches the count move.

    Scale shape: each edge is one anti-join — dimension parents
    (nation, region) broadcast; fact-fact edges (lineitem→orders)
    shuffle on the key. Edges are independent jobs unioned at the end;
    at 100 TB you run them as one scheduled audit pass per table scan."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    edges = [
        ("lineitem", "l_orderkey", "orders", li, orders, "o_orderkey", False),
        ("lineitem", "l_partkey", "part", li, part, "p_partkey", False),
        ("lineitem", "l_suppkey", "supplier", li, supplier, "s_suppkey", True),
        ("orders", "o_custkey", "customer", orders, customer, "c_custkey", False),
        ("customer", "c_nationkey", "nation", customer, nation, "n_nationkey", True),
        ("supplier", "s_nationkey", "nation", supplier, nation, "n_nationkey", True),
        ("nation", "n_regionkey", "region", nation, region, "r_regionkey", True),
    ]
    # one count per DISTINCT child table (lineitem has three FK edges —
    # at audit scale two redundant full-table count scans would dwarf
    # the anti-joins, which at least prune to the FK column), and ONE
    # scheduled job for all of them (r11; guide §2.4): the r10 shape ran
    # four separate child.count() jobs for the arm pick ON TOP of four
    # in-plan count subtrees for the n_rows column — the union below
    # counts every child once and the collected integers feed BOTH the
    # arm dispatch and the n_rows literals (the 1-row relations keep the
    # crossJoin shape the oracle's scalar subqueries mirror)
    children = {c[0]: c[3] for c in edges}
    counted = reduce(
        lambda a, b: a.unionByName(b),
        [
            child.agg(F.count(F.lit(1)).alias("n_rows")).select(
                F.lit(cname).alias("child"), "n_rows"
            )
            for cname, child in children.items()
        ],
    ).collect()
    footer_rows = {r["child"]: int(r["n_rows"]) for r in counted}
    counts = {
        cname: spark.range(1).select(F.lit(n).cast("long").alias("n_rows"))
        for cname, n in footer_rows.items()
    }
    parts = [
        orphan_count(child, fk, parent, pk, broadcast_parent=bc,
                     n_rows=counts[cname],
                     child_rows=footer_rows[cname]).select(
            F.lit(cname).alias("child_table"),
            F.lit(fk).alias("fk_column"),
            F.lit(pname).alias("parent_table"),
            "n_rows",
            "n_orphans",
        )
        for cname, fk, pname, child, parent, pk, bc in edges
    ]
    return reduce(lambda a, b: a.unionByName(b), parts).orderBy("child_table", "fk_column")


# The labels→parent orphan check with a NON-EMPTY result: annotations
# (derived from events, operators/labeling.py) reference item_ids 0..498,
# but only documents with doc_id < 400 exist as parents here — items
# 400..498 are the orphans an `ON DELETE CASCADE` store would have
# removed, and exactly what a labels ingest must quarantine.
PARENT_BOUND = 400

_ORPHAN_LABELS_ORACLE = f"""
WITH ann AS (
  SELECT item_id, annotator_id, label FROM (
    SELECT event_id % 499 AS item_id,
           user_id % 3 AS annotator_id,
           event_type AS label,
           ROW_NUMBER() OVER (PARTITION BY event_id % 499, user_id % 3
                              ORDER BY event_id DESC) AS rn
    FROM events
  ) t WHERE rn = 1
), parents AS (
  SELECT doc_id FROM documents WHERE doc_id < {PARENT_BOUND}
)
SELECT item_id, COUNT(*) AS n_orphan_labels
FROM ann WHERE NOT EXISTS (SELECT 1 FROM parents p WHERE p.doc_id = ann.item_id)
GROUP BY item_id ORDER BY item_id
"""


@query("orphan_labels", oracle=_ORPHAN_LABELS_ORACLE, survey="EXT-integrity")
def orphan_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labels whose parent row is gone (labels↛reviews,
    schema.sql:305-306): anti-join of the annotation relation against
    the surviving parent set, grouped per orphaned item — the report a
    cascade-less parquet store runs instead of ON DELETE CASCADE."""
    from data_ingestion_system_spark.operators.labeling import annotations

    ann = annotations(spark, sf_dir)
    parents = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < PARENT_BOUND)
        .select(F.col("doc_id").alias("item_id"))
    )
    return (
        ann.join(F.broadcast(parents), "item_id", "left_anti")
        .groupBy("item_id")
        .agg(F.count(F.lit(1)).alias("n_orphan_labels"))
        .orderBy("item_id")
    )


_EDGES = (
    # (child table, child key, parent table, parent key)
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
)


def _edge_sql(child: str, ck: str, parent: str, pk: str) -> str:
    return f"""
SELECT '{child}->{parent}' AS edge,
       CAST((SELECT COUNT(DISTINCT {ck}) FROM {child}) AS BIGINT) AS child_keys,
       CAST((SELECT COUNT(DISTINCT {pk}) FROM {parent}) AS BIGINT) AS parent_keys,
       CAST(SUM(c.n * p.n) AS BIGINT) AS exact_join_rows,
       CAST(MAX(c.n * p.n) AS BIGINT) AS max_key_contribution
FROM (SELECT {ck} AS k, COUNT(*) AS n FROM {child} GROUP BY {ck}) c
JOIN (SELECT {pk} AS k, COUNT(*) AS n FROM {parent} GROUP BY {pk}) p USING (k)
"""


_CARDINALITY_ORACLE = (
    "\nUNION ALL\n".join(_edge_sql(*e) for e in _EDGES) + "\nORDER BY edge"
)


@query("join_cardinality_profile", oracle=_CARDINALITY_ORACLE, survey="EXT-integrity,J1")
def join_cardinality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join sizing for the FK edges: the EXACT output
    cardinality of each equi-join computed from per-key counts
    (sum over shared keys of n_child x n_parent) without running the
    join — plus the single hottest key's contribution, the number that
    predicts shuffle skew before it happens. At 100 TB this is the
    estimate you check before choosing broadcast vs shuffle vs salting
    (the `join_key_skew_profile` query diagnoses one side's
    concentration; this one prices the join itself). Both inputs
    collapse to (key, count) aggregates, so the sizing join is
    aggregate-on-aggregate — never row x row."""
    frames = []
    for child, ck, parent, pk in _EDGES:
        c = (
            load_table(spark, sf_dir, child)
            .groupBy(F.col(ck).alias("k"))
            .agg(F.count("*").alias("cn"))
        )
        p = (
            load_table(spark, sf_dir, parent)
            .groupBy(F.col(pk).alias("k"))
            .agg(F.count("*").alias("pn"))
        )
        contrib = F.col("cn") * F.col("pn")
        frames.append(
            c.join(p, "k").agg(
                F.lit(f"{child}->{parent}").alias("edge"),
                F.sum(contrib).cast("bigint").alias("exact_join_rows"),
                F.max(contrib).cast("bigint").alias("max_key_contribution"),
            ).crossJoin(
                c.agg(F.count("*").cast("bigint").alias("child_keys"))
            ).crossJoin(
                p.agg(F.count("*").cast("bigint").alias("parent_keys"))
            ).select(
                "edge",
                "child_keys",
                "parent_keys",
                "exact_join_rows",
                "max_key_contribution",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("edge")
