"""Correctness checks for one benchmark run, made apart from the program.

  - sql_gates: each gate's output must equal DuckDB running the gate's
    `SparkEntry.oracleSql` over the same parquet: the same column names,
    row count and canonical values, compared with columns sorted by name
    and rows sorted by all columns;
  - flight_tracks: for both track queries, each key's latest snapshot is
    its newest 10 events, its final `ver` is the number of micro-batches
    that held it, and each batch emitted, over the keys in the batch,
    min(10, events seen so far) rows;
  - table_commits: every version's row count and sum(l_quantity) equal
    DuckDB's replay of the same appends, merges and deletes.

Each check also runs a self-test: the same comparison on a copy of a
passing result with one value changed, and with one row dropped, must
fail. `check()` returns the list of problems; empty means correct.
"""
import json
import math
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events"]


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return repr(v)


def compare(got, want):
    """None when two row lists match exactly, else the first difference."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for i, (a, b) in enumerate(zip(got, want)):
        if tuple(map(canon, a)) != tuple(map(canon, b)):
            return f"row {i}: {a} != {b}"
    return None


def perturbed(rows):
    """The two broken copies of `rows` the self-test must reject."""
    rows = [list(r) for r in rows]
    changed = [list(r) for r in rows]
    v = changed[0][-1]
    changed[0][-1] = (v + 1 if isinstance(v, (int, float)) and not isinstance(v, bool)
                      else 0 if v is None else str(v) + "x")
    return {"one value changed": changed, "one row dropped": rows[1:]}


def self_test(name, got, want):
    """Problems if the comparison accepts a perturbed copy of `got`."""
    if len(got) < 2:
        return [f"self-test: {name} has fewer than 2 rows to perturb"]
    return [f"self-test: {name} with {how} was accepted"
            for how, bad in perturbed(got).items()
            if compare(sorted(map(tuple, bad), key=lambda r: tuple(map(canon, r))),
                       want) is None]


def connect(data):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        if (data / f"{t}.parquet").exists():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def check_gates(out, data):
    con = connect(data)
    oracles = json.loads((out / "oracle_sql.json").read_text())
    problems, tested = [], False
    for name, sql in oracles.items():
        try:
            src = f"'{out}/{name}/*.parquet'"
            cols = sorted(con.sql(f"SELECT * FROM {src} LIMIT 0").columns)
            want_cols = sorted(con.sql(f"SELECT * FROM ({sql}) LIMIT 0").columns)
            if cols != want_cols:
                problems.append(f"{name}: columns {cols} != {want_cols}")
                continue
            sel = ", ".join(f'"{c}"' for c in cols)
            got = con.sql(f"SELECT {sel} FROM {src} ORDER BY ALL").fetchall()
            want = con.sql(f"SELECT {sel} FROM ({sql}) ORDER BY ALL").fetchall()
        except Exception as e:  # a missing output or a failing oracle
            problems.append(f"{name}: {e}")
            continue
        diff = compare(got, want)
        if diff:
            problems.append(f"{name}: {diff}")
        elif not tested and len(got) >= 2:
            problems += self_test(name, got, want)
            tested = True
    if not tested:
        problems.append("self-test: no gate output to perturb")
    return problems


def check_tracks(out, data):
    res = json.loads((out / "tracks.json").read_text())
    if not res["consistent"]:
        return ["passes disagree: a later pass emitted other rows than the first"]
    con = connect(data)
    bs, nb = res["batch_size"], res["batches"]
    filters = {"all": "TRUE", "filtered": "event_type <> 'error'"}
    problems = []
    for q, where in filters.items():
        got_q = res["queries"][q]
        ev = f"(SELECT * FROM events WHERE event_id < {bs * nb} AND {where})"
        latest = con.sql(f"""
            SELECT user_id, epoch_us(ts), event_id, event_type, value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                    ORDER BY ts DESC, event_id) AS rn FROM {ev})
            WHERE rn <= 10 ORDER BY ALL""").fetchall()
        got = sorted(tuple(r[:5]) for r in got_q["latest"])
        diff = compare(got, latest)
        if diff:
            problems.append(f"{q} latest snapshots: {diff}")
        elif q == "all":
            problems += self_test(f"{q} latest snapshots", got, latest)
        vers = con.sql(f"""SELECT user_id, count(DISTINCT event_id // {bs})
                           FROM {ev} GROUP BY ALL ORDER BY ALL""").fetchall()
        got_vers = sorted({(r[0], r[5]) for r in got_q["latest"]})
        diff = compare(got_vers, vers)
        if diff:
            problems.append(f"{q} final ver per key: {diff}")
        emitted = con.sql(f"""
            WITH per AS (SELECT user_id, event_id // {bs} AS b, count(*) AS n
                         FROM {ev} GROUP BY ALL),
                 cum AS (SELECT b, sum(n) OVER (PARTITION BY user_id ORDER BY b)
                         AS seen FROM per)
            SELECT b, sum(least(seen, 10))::BIGINT FROM cum
            GROUP BY b ORDER BY b""").fetchall()
        diff = compare(list(enumerate(got_q["emitted"])), emitted)
        if diff:
            problems.append(f"{q} rows emitted per batch: {diff}")
    return problems


def check_commits(out, data):
    res = json.loads((out / "commits.json").read_text())
    con = connect(data)
    slices, max_key = res["slices"], res["max_key"]

    def lo(i):
        return max_key * i // slices

    con.sql("CREATE TABLE t AS SELECT * FROM lineitem LIMIT 0")
    want = {}
    for kind, arg, version in res["commits"]:
        if kind == "append":
            con.sql(f"""INSERT INTO t SELECT * FROM lineitem
                        WHERE l_orderkey >= {lo(arg)} AND l_orderkey < {lo(arg + 1)}""")
        elif kind == "merge":
            i = 2 * arg + 1
            con.sql(f"""CREATE OR REPLACE TEMP TABLE u AS
                        SELECT * REPLACE (l_quantity + {100.0 * (arg + 1)} AS l_quantity)
                        FROM lineitem WHERE l_orderkey >= {lo(i - 1)}
                          AND l_orderkey < {lo(i + 1)} AND l_orderkey % 4 = {arg % 4}""")
            con.sql("""DELETE FROM t WHERE (l_orderkey, l_linenumber) IN
                       (SELECT (l_orderkey, l_linenumber) FROM u)""")
            con.sql("INSERT INTO t SELECT * FROM u")
        elif kind == "delete":
            con.sql(f"DELETE FROM t WHERE l_linenumber = 1 AND l_orderkey % 7 = {arg % 7}")
        else:
            return [f"unknown commit kind {kind}"]
        want[version] = con.sql(
            "SELECT count(*), coalesce(sum(l_quantity), 0.0) FROM t").fetchone()
    expected = sorted((v, n, float(q)) for v, (n, q) in want.items())
    got = sorted((v, n, float(q)) for v, n, q in res["versions"])
    problems = []
    diff = compare(got, expected)
    if diff:
        problems.append(f"version totals: {diff}")
    else:
        problems += self_test("version totals", got, expected)
    diff = compare(sorted((v, n, float(q)) for v, n, q in res["reads"]),
                   sorted((v, *want[v]) for v, _, _ in res["reads"])
                   if all(r[0] in want for r in res["reads"]) else [])
    if diff:
        problems.append(f"snapshot reads after commits: {diff}")
    return problems


CHECKS = {"sql_gates": check_gates, "flight_tracks": check_tracks,
          "table_commits": check_commits}


def check(workload, out, data):
    try:
        return CHECKS[workload](Path(out), Path(data))
    except Exception as e:  # a missing or malformed dump is a failed check
        return [f"checker error: {type(e).__name__}: {e}"]
