"""The three workloads: their operations, the layer each operation is
attributed to, and the outputs that are checked.

An operation's layer is the operator module its registered query calls
(BENCHMARK.json lists the same mapping). Queries that call no operator
module belong to `queries`; statements on the versioned table belong
to `versioned`.
"""
import os

import gen

GRAPH_OPS = [  # SORA's stages, all in graph.GraphOps
    ("g0_overlap", "graph"),
    ("g2_transitive_reduction", "graph"),
    ("g3b_tip_clip", "graph"),
    ("g4b_bubble_removal", "graph"),
    ("g5_unitigs", "graph"),
    ("g6_connected_components", "graph"),
    ("g15_scc", "graph"),
    ("g16_sssp", "graph"),
]

CORPUS_OPS = [
    ("t2_quality_score", "text"),      # TextAnalysis
    ("t3_langid", "text"),             # TextAnalysis
    ("d1_dedup_exact", "dedup"),       # Dedup
    ("d11_fuzzy_clusters", "dedup"),   # Dedup (MinHash, BoundedTopK), GraphOps
    ("t21_bpe_encode", "bpe"),         # Bpe
    ("s2_knn_lsh", "similarity"),      # Similarity, FloatVecDot
]

# star-schema reads: Relational, no operator module, so layer `queries`
WH_QUERIES = ("q1_agg", "q3_join_agg", "q5_multijoin", "q10_topk_pergroup")
WH_TABLE = "graft.wh"
WH_AGG = "SELECT c, count(*) AS n, sum(p) AS sp FROM graft.wh{asof} WHERE c < 200 " \
         "GROUP BY c ORDER BY c"
WH_SQL = {
    "wh_current": WH_AGG.format(asof=""),
    "wh_asof": WH_AGG.format(asof=" VERSION AS OF {v}"),
    "insert": "INSERT INTO graft.wh SELECT k, c, p FROM wh_batches WHERE batch = {batch}",
    "merge": "MERGE INTO graft.wh t USING (SELECT k, c, p FROM wh_batches "
             "WHERE batch = {batch}) s ON t.k = s.k "
             "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    "update": "UPDATE graft.wh SET p = p + {delta} WHERE k % {mod} = {rem}",
    "delete": "DELETE FROM graft.wh WHERE c % {mod} = {rem}",
    "optimize": "CALL graft.optimize('wh', 'k', 8, 4)",
}
WH_INIT_SELECT = f"SELECT o_orderkey AS k, o_custkey AS c, " \
                 f"CAST(round(o_totalprice) AS BIGINT) AS p FROM orders WHERE o_orderkey < {gen.WH_INIT}"
WH_SETUP = [
    "DROP TABLE IF EXISTS graft.wh",
    f"CREATE TABLE graft.wh AS {WH_INIT_SELECT}",
    "ALTER TABLE graft.wh ADD CONSTRAINT p_pos CHECK (p >= 0)",
]


def warehouse_op(op):
    name = op["name"]
    if name in WH_QUERIES:
        return {"name": name, "kind": "read", "layer": "queries", "query": name}
    out = {"name": name, "kind": op["kind"], "layer": "versioned", "sql": WH_SQL[name]}
    if op["kind"] == "commit":
        out["sql"] = out["sql"].format(**op)
    if "back" in op:  # the harness fills in {v}
        out["back"] = op["back"]
    return out


def plan(workload, inputs, work, seconds, trace, cores, setups, stream=None):
    """The plan the JVM harness runs (see harness/src/graftbench/Main.scala)."""
    common = {"workload": workload, "inputs": inputs, "work": work, "seconds": seconds,
              "trace": bool(trace), "cores": cores, "setups": setups,
              "version_table": None, "table_root": None,
              "setup_sql": [], "teardown_sql": []}
    if workload in ("graph_reduce", "corpus_dedup"):
        ops = GRAPH_OPS if workload == "graph_reduce" else CORPUS_OPS
        tables = ["orders", "documents"] if workload == "graph_reduce" else \
            ["documents", "embeddings"]
        return dict(common, tables=tables, cycle=True, pass_len=len(ops), min_passes=1,
                    ops=[{"name": n, "kind": "read", "layer": l, "query": n} for n, l in ops],
                    checks=[{"id": n, "query": n} for n, _ in ops])
    if workload == "warehouse":
        return dict(
            common, tables=["region", "nation", "customer", "supplier", "part", "orders",
                            "lineitem", "wh_batches"],
            version_table=WH_TABLE,
            table_root=os.path.join(work, "warehouse", "graft", "wh"),
            setup_sql=WH_SETUP, teardown_sql=["DROP TABLE IF EXISTS graft.wh"],
            # its passes are short, so three make the medians steady
            cycle=False, pass_len=len(gen.WH_BLOCK) + 1, min_passes=3,
            ops=[warehouse_op(o) for o in stream],
            checks=[{"id": n, "query": n} for n in WH_QUERIES] + [
                {"id": "wh_current", "sql": WH_SQL["wh_current"]},
                {"id": "wh_state", "sql": "SELECT k, c, p FROM graft.wh ORDER BY k"},
                {"id": "wh_state_asof", "versions": True,
                 "sql": "SELECT k, c, p FROM graft.wh VERSION AS OF {v} ORDER BY k"},
            ])
    raise ValueError(workload)
