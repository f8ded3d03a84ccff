"""Output checks, run after the timed region.

* Every checked operation with a `SparkEntry.oracleSql` entry is
  compared against its oracle run by DuckDB on the same generated
  parquet.
* The warehouse table's final state, its current-version read and its
  `VERSION AS OF` states are compared against a DuckDB replay of the
  commits the engine acknowledged, in the order it ran them. A commit
  that threw is replayed as a no-op: a failed commit must leave the
  table as it was.
"""
import math
import os

import duckdb

import workloads

FLOAT_TOL = 1e-9


def _key(row):
    return tuple((v is None, repr(type(v)), v if v is not None else 0) for v in row)


def same_value(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=FLOAT_TOL, abs_tol=FLOAT_TOL)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same_value(x, y) for x, y in zip(a, b))
    return a == b


def compare(got_cols, got_rows, want_cols, want_rows):
    """None when the two results agree (as multisets of rows, columns
    matched by position and name), else a one-line reason."""
    if [c.lower() for c in got_cols] != [c.lower() for c in want_cols]:
        return f"columns {got_cols} != {want_cols}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)}"
    for g, w in zip(sorted(got_rows, key=_key), sorted(want_rows, key=_key)):
        if not all(same_value(x, y) for x, y in zip(g, w)):
            return f"row {g} != {w}"
    return None


def _read(con, path):
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    return rel.columns, rel.fetchall()


def _connect(inputs, tables):
    con = duckdb.connect()
    con.sql(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')")
    return con


class Replay:
    """The versioned table, replayed in DuckDB: `snap[v]` is its state
    at version v."""

    def __init__(self, con, plan, result):
        self.con = con
        con.sql(f"CREATE TABLE wh AS {workloads.WH_INIT_SELECT}")
        v = result["version_base"]
        self.snap = {v: self._copy(v)}
        for rec in result["op_log"]:
            if rec["kind"] != "commit" or not rec["ok"]:
                continue
            op = plan["ops"][rec["idx"]]
            self._apply(op)
            v += 1
            self.snap[v] = self._copy(v)
        self.version = v

    def _copy(self, v):
        self.con.sql(f"CREATE TABLE snap_{v} AS SELECT * FROM wh")
        return f"snap_{v}"

    def _apply(self, op):
        sql = op["sql"].replace("graft.wh", "wh")
        if op["name"] == "merge":
            src = sql.split("USING (", 1)[1].split(") s ON", 1)[0]
            self.con.sql(f"DELETE FROM wh WHERE k IN (SELECT k FROM ({src}))")
            self.con.sql(f"INSERT INTO wh {src}")
        elif op["name"] != "optimize":  # optimize rewrites files, not rows
            self.con.sql(sql)

    def query(self, check):
        if check["name"] == "wh_current":
            return workloads.WH_SQL["wh_current"].replace("graft.wh", self.snap[self.version])
        table = self.snap[check.get("version", self.version)]
        return f"SELECT k, c, p FROM {table} ORDER BY k"


def verify(plan, result):
    """[(check id, reason or None)] for every check the JVM ran."""
    con = _connect(plan["inputs"], plan["tables"])
    replay = None
    out = []
    if plan["version_table"]:
        replay = Replay(con, plan, result)
        if result["version_final"] != replay.version or \
                result["history"][-1] != result["version_final"]:
            out.append(("wh_versions", f"engine at v{result['history'][-1]}, harness counted "
                                       f"v{result['version_final']}, replay v{replay.version}"))
        else:
            out.append(("wh_versions", None))
    for c in result["checks"]:
        if not c["ok"]:
            out.append((c["id"], "threw: " + c.get("error", "")))
            continue
        if "oracle" in c:
            want_sql = c["oracle"]
        elif replay is not None and c["name"].startswith("wh_"):
            want_sql = replay.query(c)
        else:
            continue  # no oracle: nothing to compare with
        try:
            rel = con.sql(want_sql)
            want = (rel.columns, rel.fetchall())
            got = _read(con, c["path"])
            out.append((c["id"], compare(got[0], got[1], want[0], want[1])))
        except duckdb.Error as e:
            out.append((c["id"], f"oracle failed: {e}".splitlines()[0]))
    return out

