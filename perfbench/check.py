"""Output checks, run after the timed phase.

Inventory queries go through `tools/compare_oracle.py`, the repository's own
oracle gate: each output against its `SparkEntry.oracleSql` text in DuckDB.
graph_oltp reads are compared per seed in DuckDB: stored-graph reads against
`DerivedGraphSql.cte`, live-graph reads against one batch
`ThreatIntel.fromReports` over the batches pushed before the read, and a
live lookup must return every resource it names (the one after a write names
what that write just sent). Each check returns (name, ok, detail).
"""
import contextlib
import io
import json
import os
import sys

import duckdb

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def inventory(data, out):
    """Each kept inventory output against its DuckDB oracle."""
    sys.path.insert(0, TOOLS)
    import compare_oracle
    inv = f"{out}/inventory"
    log = io.StringIO()
    with contextlib.redirect_stdout(log):
        compare_oracle.main(data, inv)
    checks = []
    for line in log.getvalue().splitlines():
        verdict, _, rest = line.partition(" ")
        if verdict in ("PASS", "FAIL"):
            name = rest.split(" ", 1)[0].rstrip(":")
            checks.append((name, verdict == "PASS", rest[len(name):].strip(" :")))
    missing = set(json.load(open(f"{inv}/oracle_sql.json"))) - {c[0] for c in checks}
    return checks + [(n, False, "not compared") for n in sorted(missing)]


def _tsv(path):
    with open(path) as f:
        return sorted(tuple(l.rstrip("\n").split("\t")) for l in f if l.strip())


def _khop(und, seed, depth):
    hops = [f"h0 AS (SELECT CAST({seed} AS BIGINT) AS id)"]
    for i in range(1, depth + 1):
        hops.append(f"h{i} AS (SELECT DISTINCT b AS id FROM {und} u JOIN h{i-1} "
                    f"ON u.a = h{i-1}.id)")
    union = " UNION ".join(f"SELECT id FROM h{i}" for i in range(depth + 1))
    return ", ".join(hops) + f", ids AS ({union})"


def _quote(s):
    return "'" + s.replace("'", "''") + "'"


def _graphs(con, data, out):
    """Oracle tables: `v`, `e`, `und` for the stored graph, and `v<k>`,
    `e<k>`, `und<k>` for the live snapshot after the first k batches. A
    vertex row is (id, label, name), where a live vertex's name is its key."""
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    cte = open(f"{out}/derived_graph_cte.sql").read()
    for t in ("v", "e", "und"):
        con.execute(f"CREATE TABLE {t} AS {cte} SELECT * FROM {t}")
    live = f"{out}/live"
    for k in sorted(os.listdir(live), key=int):
        con.execute(f"CREATE TABLE v{k} AS SELECT id, label, key AS name, detected_prop "
                    f"FROM '{live}/{k}/vertices/*.parquet'")
        con.execute(f"CREATE TABLE e{k} AS SELECT * FROM '{live}/{k}/edges/*.parquet'")
        con.execute(f"CREATE TABLE und{k} AS SELECT src AS a, dst AS b FROM e{k} "
                    f"UNION SELECT dst, src FROM e{k}")


def _check_read(con, out, op, batches, search_sql):
    """(ok, detail) of one graph_oltp read seen after `batches` batches."""
    i, kind, graph, arg = op["i"], op["kind"], op["graph"], op["arg"]
    sfx = "" if graph == "stored" else str(batches)
    v, e, und = f"v{sfx}", f"e{sfx}", f"und{sfx}"
    seed = arg if graph == "stored" else \
        f"(SELECT id FROM {v} WHERE label || ':' || name = {_quote(arg)})"
    if kind == "ego_json":
        doc = json.load(open(f"{out}/oltp/{i}.json"))["graph"]
        third = "name" if graph == "stored" else "key"
        got_v = sorted((str(x["id"]), x["label"], x[third]) for x in doc["vertices"])
        got_e = sorted((str(x["src"]), str(x["dst"]), x["label"]) for x in doc["edges"])
        base = f"WITH {_khop(und, seed, 4)} "
        want_v = sorted(tuple(map(str, r)) for r in con.sql(
            base + f"SELECT v.id, v.label, v.name FROM {v} v JOIN ids USING (id)").fetchall())
        want_e = sorted(tuple(map(str, r)) for r in con.sql(
            base + f"SELECT src, dst, label FROM {e} WHERE src IN (SELECT id FROM ids) "
                   "AND dst IN (SELECT id FROM ids)").fetchall())
        return (got_v == want_v and got_e == want_e and len(want_v) > 0,
                f"{len(got_v)} vertices, {len(got_e)} edges; oracle {len(want_v)}, {len(want_e)}")
    named = None  # how many vertices a live lookup names
    if kind == "lookup" and graph == "stored":
        sql = f"SELECT id, label, name FROM {v} WHERE id IN ({arg})"
    elif kind == "lookup":
        keys = arg.split(",")
        named = len(keys)
        sql = (f"SELECT id, label, name FROM {v} WHERE label || ':' || name IN "
               f"({', '.join(map(_quote, keys))})")
    elif kind == "search":
        sql = f"SELECT id, label, name FROM {v} WHERE {search_sql[i]}"
    elif kind == "neighbors":
        sql = (f"SELECT id, label, name FROM {v} WHERE id IN ("
               f"SELECT a FROM {und} WHERE a = {seed} "
               f"UNION SELECT b FROM {und} WHERE a = {seed})")
    elif kind == "khop2":
        sql = (f"WITH {_khop(und, seed, 2)} "
               f"SELECT v.id, v.label, v.name FROM {v} v JOIN ids USING (id)")
    else:
        return False, f"unknown op kind {kind}"
    want = sorted(tuple(map(str, r)) for r in con.sql(sql).fetchall())
    got = _tsv(f"{out}/oltp/{i}.tsv")
    return (got == want and (named is None or len(want) == named),
            f"{len(got)} rows, oracle {len(want)}" + (f", {named} named" if named else ""))


def oltp(data, out, ops, search_sql):
    """Per-op checks of graph_oltp reads; ops are the run's op records in
    plan order."""
    con = duckdb.connect()
    _graphs(con, data, out)
    checks = []
    batches = 1  # batch 0 is the snapshot's initial load
    for op in ops:
        if op["write"]:
            batches += 1
        elif op["error"] is None:
            try:
                ok, detail = _check_read(con, out, op, batches, search_sql)
            except (duckdb.Error, OSError) as ex:
                ok, detail = False, f"oracle error: {ex}"
            checks.append((f"{op['graph']}.{op['kind']}#{op['i']}", ok, detail))
    return checks
