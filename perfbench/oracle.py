"""Expected outputs computed without Spark.

- ``registry_hashes``: the suite registry's own DuckDB oracle SQL over
  the generated tables, hashed with ``scripts/check_oracle.value_hash``
  (the repo's correctness-gate hash), so a Spark pass is checked against
  exactly what the gate would check it against.
- ``replay_tablelog``: the commit script replayed as plain SQL DML on a
  DuckDB table, giving the row count every read must return and the
  value hash of the final snapshot.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# One similarity join (prefix filtering: candidates, then verification)
# beside exact dedup, and one fixpoint loop (frontier BFS). Each query
# costs 1-4 s a pass on local[4], mostly per-job latency, so the rest of
# their families does not fit the benchmark's time budget (README.md).
DEDUP_QUERIES = ("dedup_exact", "dedup_prefix_filter")
GRAPH_QUERIES = ("graph_bfs_hops",)
REGISTRY_TABLES = ("documents", "orders", "lineitem", "customer")


def value_hash_fn():
    """``value_hash`` from scripts/check_oracle.py, loaded by path; the
    script edits sys.path on import, which is undone here."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "perfbench_check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.value_hash


def registry_hashes(data_dir: str, names: tuple[str, ...]) -> dict:
    import duckdb

    from c3dc_etl_spark.suite import REGISTRY

    value_hash = value_hash_fn()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in REGISTRY_TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name in names:
        res = con.execute(REGISTRY[name].oracle)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[name] = {"rows": len(rows), "hash": value_hash(rows, cols)}
    con.close()
    return out


def replay_tablelog(data_dir: str) -> dict:
    """Expected result per script step (keyed by step index) plus the
    number of user rows each change step touched."""
    import duckdb

    value_hash = value_hash_fn()
    with open(os.path.join(data_dir, "script.json"), encoding="utf-8") as fh:
        script = json.load(fh)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, grp VARCHAR, val BIGINT, txt VARCHAR)")

    def scalar(sql: str) -> int:
        return int(con.execute(sql).fetchone()[0])

    def src(step: dict) -> str:
        return f"read_parquet('{os.path.join(data_dir, step['batch'])}')"

    expect: dict[str, dict] = {}
    changed_rows = changed_bytes = 0
    base_count = cdf_rows = 0
    row_bytes = "8 + 8 + strlen(grp) + strlen(txt)"
    for i, step in enumerate(script):
        op = step["op"]
        if op == "append":
            n = scalar(f"SELECT COUNT(*) FROM {src(step)}")
            changed_bytes += scalar(f"SELECT SUM({row_bytes}) FROM {src(step)}")
            con.execute(f"INSERT INTO t SELECT id, grp, val, txt FROM {src(step)}")
            changed_rows += n
            cdf_rows += n
        elif op == "merge_upsert":
            n = scalar(f"SELECT COUNT(*) FROM {src(step)}")
            changed_bytes += scalar(f"SELECT SUM({row_bytes}) FROM {src(step)}")
            con.execute(f"DELETE FROM t WHERE id IN (SELECT id FROM {src(step)})")
            con.execute(f"INSERT INTO t SELECT id, grp, val, txt FROM {src(step)}")
            changed_rows += n
        elif op == "mark_cdf_base":
            base_count = scalar("SELECT COUNT(*) FROM t")
            cdf_rows = 0
        elif op == "update_where_dv":
            pred = step["predicate"]
            n = scalar(f"SELECT COUNT(*) FROM t WHERE {pred}")
            changed_bytes += scalar(f"SELECT COALESCE(SUM({row_bytes}), 0) FROM t WHERE {pred}")
            sets = ", ".join(f"{k} = {v}" for k, v in step["set"].items())
            con.execute(f"UPDATE t SET {sets} WHERE {pred}")
            changed_rows += n
            cdf_rows += 2 * n
        elif op == "delete_where_dv":
            pred = step["predicate"]
            n = scalar(f"SELECT COUNT(*) FROM t WHERE {pred}")
            changed_bytes += scalar(f"SELECT COALESCE(SUM({row_bytes}), 0) FROM t WHERE {pred}")
            con.execute(f"DELETE FROM t WHERE {pred}")
            changed_rows += n
            cdf_rows += n
        elif op == "read_version_at_cdf_base":
            expect[str(i)] = {"rows": base_count}
        elif op == "read_changes_cdf":
            expect[str(i)] = {"rows": cdf_rows}
        elif op == "read_key_range":
            expect[str(i)] = {"rows": scalar(
                f"SELECT COUNT(*) FROM t WHERE id BETWEEN {step['lo']} AND {step['hi']}")}
        elif op == "read_final":
            res = con.execute("SELECT id, grp, val, txt FROM t")
            rows = res.fetchall()
            expect[str(i)] = {"rows": len(rows),
                              "hash": value_hash(rows, ["id", "grp", "val", "txt"])}
    con.close()
    return {"steps": expect, "changed_rows": changed_rows, "changed_bytes": changed_bytes}
