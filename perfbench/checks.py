"""Output checks, computed without Spark (DuckDB and pyarrow over the files
the library wrote).  Each check returns a list of problems; an empty list
means the output is correct."""

from __future__ import annotations

import glob
import hashlib
import os

import duckdb
import pyarrow.parquet as pq

from slice_db_spark.plans.tpch import KEY_EXPRS

# The closure semantics of ``plans.tpch.tpch_schema()`` written as an edge
# relation over single-BIGINT surrogate keys: forward edges (a row pulls the
# parent it references) everywhere, reverse edges (a parent pulls its
# children) on customer->orders->lineitem.  A row reached through an edge
# never walks that edge back; with customer roots that rule never prunes
# anything, because customers are only ever roots here.
_EDGES = """
  SELECT 'nation' AS t1, CAST(n_nationkey AS BIGINT) AS k1,
         'region' AS t2, CAST(n_regionkey AS BIGINT) AS k2 FROM nation
  UNION ALL SELECT 'customer', c_custkey, 'nation', c_nationkey FROM customer
  UNION ALL SELECT 'supplier', s_suppkey, 'nation', s_nationkey FROM supplier
  UNION ALL SELECT 'orders', o_orderkey, 'customer', o_custkey FROM orders
  UNION ALL SELECT 'customer', o_custkey, 'orders', o_orderkey FROM orders
  UNION ALL SELECT 'lineitem', l_orderkey * 8 + l_linenumber, 'orders', l_orderkey FROM lineitem
  UNION ALL SELECT 'orders', l_orderkey, 'lineitem', l_orderkey * 8 + l_linenumber FROM lineitem
  UNION ALL SELECT 'lineitem', l_orderkey * 8 + l_linenumber, 'part', l_partkey FROM lineitem
  UNION ALL SELECT 'lineitem', l_orderkey * 8 + l_linenumber, 'supplier', l_suppkey FROM lineitem
"""

class Oracle:
    """Recursive-CTE closure over the source parquet files, with the FK
    edge relation materialized once."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in KEY_EXPRS:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self.con.execute(f"CREATE TABLE edges AS {_EDGES}")

    def closure(self, custkeys: list[int]) -> dict[str, set[int]]:
        roots = ", ".join(f"('customer', {int(k)})" for k in custkeys)
        rows = self.con.execute(
            f"""
            WITH RECURSIVE roots(t1, k1) AS (VALUES {roots}),
            closure(t1, k1) AS (
              SELECT t1, CAST(k1 AS BIGINT) FROM roots
              UNION
              SELECT e.t2, e.k2 FROM closure c JOIN edges e ON e.t1 = c.t1 AND e.k1 = c.k1
            )
            SELECT t1, k1 FROM closure
            """
        ).fetchall()
        out: dict[str, set[int]] = {}
        for t, k in rows:
            out.setdefault(t, set()).add(int(k))
        return out

    def close(self) -> None:
        self.con.close()


def _parquet_glob(path: str) -> str:
    return os.path.join(path, "**", "*.parquet")


def slice_keys(slice_dir: str) -> dict[str, set[int]]:
    """Surrogate keys of every table written to a slice directory."""
    con = duckdb.connect()
    try:
        out = {}
        for t, expr in KEY_EXPRS.items():
            files = glob.glob(_parquet_glob(os.path.join(slice_dir, t)), recursive=True)
            if files:
                out[t] = {int(r[0]) for r in con.execute(
                    f"SELECT {expr} FROM read_parquet({files!r})").fetchall()}
        return out
    finally:
        con.close()


def check_closure(got: dict[str, set[int]], want: dict[str, set[int]]) -> list[str]:
    problems = []
    for t in sorted(set(got) | set(want)):
        g, w = got.get(t, set()), want.get(t, set())
        if g != w:
            problems.append(f"closure {t}: {len(g - w)} extra, {len(w - g)} missing keys")
    return problems


def check_scrub(slice_dir: str, data_dir: str, columns: dict[str, tuple[str, str]],
                transforms: dict) -> list[str]:
    """Every scrubbed value differs from its source value and equals the
    transform recomputed here with the same pepper, byte for byte.
    ``columns`` maps table -> (key column, scrubbed column)."""
    problems = []
    for table, (key, col) in columns.items():
        src = pq.read_table(f"{data_dir}/{table}.parquet", columns=[key, col]).to_pydict()
        source = dict(zip(src[key], src[col]))
        files = glob.glob(_parquet_glob(os.path.join(slice_dir, table)), recursive=True)
        got = pq.ParquetDataset(files).read(columns=[key, col]).to_pydict() if files else {
            key: [], col: []}
        f = transforms[col]
        for k, v in zip(got[key], got[col]):
            if v == source[k]:
                problems.append(f"scrub {table}.{col}: key {k} kept its source value")
            elif v != f(source[k]):
                problems.append(f"scrub {table}.{col}: key {k} does not repeat for the pepper")
            if len(problems) > 5:
                return problems
    return problems


def check_restore(target_dir: str, manifest: dict, schema) -> list[str]:
    """Restored row counts equal the manifest's, and no restored row
    references a parent row missing from the target."""
    problems = []
    con = duckdb.connect()
    try:
        for t, meta in manifest["tables"].items():
            files = glob.glob(_parquet_glob(os.path.join(target_dir, t)), recursive=True)
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({files!r})")
            n = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            want = sum(s["rowCount"] for s in meta["segments"])
            if n != want:
                problems.append(f"restore {t}: {n} rows, manifest says {want}")
        for ref in schema.references.values():
            on = " AND ".join(
                f"p.{pc} = c.{cc}" for cc, pc in zip(ref.columns, ref.reference_columns)
            )
            dangling = con.execute(
                f"SELECT count(*) FROM {ref.table} c WHERE NOT EXISTS "
                f"(SELECT 1 FROM {ref.reference_table} p WHERE {on})"
            ).fetchone()[0]
            if dangling:
                problems.append(f"restore {ref.id}: {dangling} dangling rows")
    finally:
        con.close()
    return problems


def check_ingest(kind: str, sent: dict[int, bytes], landed_ids: list[int],
                 rejected_ids: list[int], near_ids: list[int],
                 landed_hashes: list) -> list[str]:
    """Row conservation for one drain: every sent row is landed, rejected,
    near-dup dropped or exact-dup dropped, exactly once; an exact-dup drop
    must share its content with a landed or near-dropped row.  No two
    landed rows share content or a content hash (so every planted exact
    copy was dropped)."""
    problems = []
    landed, rejected, near = set(landed_ids), set(rejected_ids), set(near_ids)
    if len(landed) != len(landed_ids):
        problems.append(f"{kind}: a row id landed twice")
    if len(set(landed_hashes)) != len(landed_hashes):
        problems.append(f"{kind}: two landed rows share a content hash")
    for a, b, what in ((landed, rejected, "landed and rejected"),
                       (landed, near, "landed and near-dropped"),
                       (rejected, near, "rejected and near-dropped")):
        if a & b:
            problems.append(f"{kind}: {len(a & b)} rows both {what}")
    stray = (landed | rejected | near) - set(sent)
    if stray:
        problems.append(f"{kind}: {len(stray)} output rows were never sent")
    digest = {i: hashlib.md5(b).hexdigest() for i, b in sent.items()}
    landed &= set(sent)
    if len({digest[i] for i in landed}) != len(landed):
        problems.append(f"{kind}: two landed rows carry identical content")
    kept = {digest[i] for i in landed | (near & set(sent))}
    exact = set(sent) - landed - rejected - near
    unexplained = [i for i in exact if digest[i] not in kept]
    if unexplained:
        problems.append(f"{kind}: {len(unexplained)} rows vanished without a landed twin")
    return problems


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def parquet_rows_files(path: str) -> tuple[int, int]:
    files = glob.glob(_parquet_glob(path), recursive=True)
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files), len(files)
