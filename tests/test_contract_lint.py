"""Driver-contract lints over the ENTIRE declared inventory.

Two whole-inventory invariants that individual parity rows can't
enforce (each guards a bug class that actually shipped once):

1. No query output column may be array/map/binary — the driver's
   pandas canonicalizer cannot hash them (the convention is
   `array_join(sort_array(...), ',')` strings instead).
2. No oracle output column may be DuckDB HUGEINT/DECIMAL (unless the
   Spark side is decimal too) — the round-2 postmortem: uncast
   SUM(BIGINT) renders as float64 through pandas vs Spark's int64 and
   hash-mismatches even though values are equal. tests/parity.py now
   also rejects this per-query at compare time; this lint catches ALL
   queries in one cheap DuckDB-only pass (17 latent instances escaped
   the per-query gate in round 2 because only ~50 queries/round get
   driver-checked).
"""

from __future__ import annotations

import __spark_entry__ as entry
from tests.conftest import SF_SMOKE
from tests.parity import make_duck

# Real Structured Streaming queries execute a stream when the plan is
# built — their output schemas are covered by the parity battery.
_STREAM_EXEC = {"q_d_foreachbatch_sink", "q_d_checkpoint_resume"}


def test_no_unhashable_output_columns(spark):
    qs = entry.queries()
    bad = {}
    for name, fn in qs.items():
        if name in _STREAM_EXEC:
            continue
        df = fn(spark, SF_SMOKE)
        hits = [
            (f.name, f.dataType.typeName())
            for f in df.schema.fields
            if f.dataType.typeName() in ("array", "map", "binary")
        ]
        if hits:
            bad[name] = hits
    assert not bad, f"driver canonicalizer cannot hash these columns: {bad}"


def test_no_hugeint_or_decimal_oracle_columns():
    ora = entry.oracle_sql()
    con = make_duck(SF_SMOKE)
    bad = {}
    for name, sql in ora.items():
        rel = con.sql(sql)
        hits = [
            (c, str(t))
            for c, t in zip(rel.columns, rel.types)
            if str(t) in ("HUGEINT", "UHUGEINT") or str(t).startswith("DECIMAL")
        ]
        if hits:
            bad[name] = hits
    assert not bad, (
        f"oracle columns the driver canonicalizes as float64: {bad} — "
        f"wrap the final SUM in CAST(... AS BIGINT)"
    )


def test_persist_sites_are_registry_routed():
    """Lint 3 (round 10, VERDICT r9 advisory 2): every .persist() in the
    package must be OWNED by the cache registry — a bare per-call
    persist inside a query function stacks a fresh never-released copy
    per call in a long-lived session.

    Mechanical rule, AST-checked per enclosing function: a function
    that calls .persist() must either (a) call .unpersist() itself (the
    bounded-loop convention, e.g. the BPE trainer's base frame) or
    (b) BE caches.scoped_persist. Every other frame routes through
    caches.scoped_persist(df, spark, sf_dir, tag). And caches.py is the
    only module that keys state by application: ``applicationId``
    appears nowhere else in the package.
    """
    import ast
    import pathlib

    import glaciersgee_spark

    pkg = pathlib.Path(glaciersgee_spark.__file__).parent
    bad: list[str] = []
    app_keyed: list[str] = []
    for py in sorted(pkg.rglob("*.py")):
        text = py.read_text()
        if "applicationId" in text and py.name != "caches.py":
            app_keyed.append(str(py.relative_to(pkg)))
        tree = ast.parse(text, filename=str(py))
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            src_calls = {
                n.func.attr
                for n in ast.walk(node)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
            }
            if "persist" not in src_calls:
                continue
            if node.name == "scoped_persist" and py.name == "caches.py":
                continue
            if "unpersist" not in src_calls:
                bad.append(f"{py.relative_to(pkg)}:{node.lineno} {node.name}")
    assert not bad, (
        "bare per-call .persist() outside the cache registry — route "
        f"through caches.scoped_persist: {bad}"
    )
    assert not app_keyed, (
        "state keyed by applicationId outside caches.py — use "
        f"caches.scoped_persist / caches.scoped_value: {app_keyed}"
    )
